WITH seeded AS (
  SELECT doc_id,
    CASE WHEN doc_id % 9 = 0 THEN repeat('ab', 50)
         WHEN doc_id % 17 = 0 THEN ''
         ELSE text END AS text
  FROM documents),
chars AS (
  SELECT doc_id, unnest(str_split(text, '')) AS ch
  FROM seeded WHERE len(text) > 0),
freq AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch),
tot AS (SELECT doc_id, sum(c) AS n FROM freq GROUP BY doc_id),
e AS (
  SELECT f.doc_id, -sum((c::DOUBLE / n) * log2(c::DOUBLE / n)) AS ent
  FROM freq f JOIN tot USING (doc_id) GROUP BY f.doc_id)
SELECT s.doc_id, round(coalesce(e.ent, 0.0), 6) AS char_entropy
FROM seeded s LEFT JOIN e ON s.doc_id = e.doc_id
ORDER BY s.doc_id
