WITH seeded AS (
  SELECT doc_id,
    concat_ws(chr(10), text, 'Subscribe to our newsletter',
      CASE WHEN doc_id % 4 = 0
           THEN '(c) example.com all rights reserved' END) AS text
  FROM documents),
sp AS (SELECT doc_id, str_split(text, chr(10)) AS ls
       FROM seeded WHERE text IS NOT NULL),
lines AS (
  SELECT doc_id, ls[u.i] AS line
  FROM sp, unnest(range(1, len(ls) + 1)) AS u(i))
SELECT line, count(*) AS n_docs FROM (
  SELECT DISTINCT doc_id, line FROM lines WHERE trim(line) <> '')
GROUP BY line HAVING count(*) > 1
ORDER BY n_docs DESC, line
