WITH seeded AS (
  SELECT doc_id,
    concat_ws(chr(10), text, 'Subscribe to our newsletter',
      CASE WHEN doc_id % 4 = 0
           THEN '(c) example.com all rights reserved' END) AS text,
    lang
  FROM documents),
sp AS (SELECT doc_id, lang, str_split(text, chr(10)) AS ls
       FROM seeded WHERE text IS NOT NULL),
lines AS (
  SELECT doc_id, lang, u.i AS pos, ls[u.i] AS line
  FROM sp, unnest(range(1, len(ls) + 1)) AS u(i)),
hot AS (
  SELECT line FROM (
    SELECT DISTINCT doc_id, line FROM lines WHERE trim(line) <> '')
  GROUP BY line HAVING count(*) > 1)
SELECT l.doc_id,
  string_agg(l.line, chr(10) ORDER BY l.pos) AS text,
  l.lang
FROM lines l
WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.line = l.line)
GROUP BY l.doc_id, l.lang
ORDER BY l.doc_id
