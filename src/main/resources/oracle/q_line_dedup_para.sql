WITH seeded AS (
  SELECT doc_id,
    concat_ws(chr(10) || chr(10), text, 'Follow us on social media',
      CASE WHEN doc_id % 5 = 0
           THEN 'All rights reserved.' || chr(10) ||
                'Do not redistribute.' END) AS text,
    lang
  FROM documents),
sp AS (SELECT doc_id, lang,
         str_split(text, chr(10) || chr(10)) AS ls
       FROM seeded WHERE text IS NOT NULL),
paras AS (
  SELECT doc_id, lang, u.i AS pos, ls[u.i] AS p
  FROM sp, unnest(range(1, len(ls) + 1)) AS u(i)),
hot AS (
  SELECT p FROM (
    SELECT DISTINCT doc_id, p FROM paras WHERE trim(p) <> '')
  GROUP BY p HAVING count(*) > 1)
SELECT l.doc_id,
  string_agg(l.p, chr(10) || chr(10) ORDER BY l.pos) AS text,
  l.lang
FROM paras l
WHERE NOT EXISTS (SELECT 1 FROM hot h WHERE h.p = l.p)
GROUP BY l.doc_id, l.lang
ORDER BY l.doc_id
