WITH RECURSIVE
e0 AS (
  SELECT a.doc_id AS src, a.doc_id + 1 AS dst
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 10 <> 9
  UNION ALL
  SELECT a.doc_id AS src, a.doc_id - a.doc_id % 100 AS dst
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id - a.doc_id % 100
  WHERE a.doc_id % 20 = 0 AND a.doc_id % 100 <> 0),
e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
reach(id, lbl) AS (
  SELECT src, src FROM e
  UNION
  SELECT e.dst, r.lbl FROM reach r JOIN e ON e.src = r.id
  WHERE r.lbl < e.dst)
SELECT id AS doc_id, min(lbl) AS component
FROM reach GROUP BY id ORDER BY doc_id
