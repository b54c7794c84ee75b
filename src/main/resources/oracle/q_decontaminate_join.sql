WITH norm AS (
  SELECT doc_id,
    str_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
  FROM documents),
bgrams AS (
  SELECT DISTINCT unnest(list_distinct(
    [array_to_string(tk[i:i+2], ' ')
     for i in range(1, greatest(len(tk)-2, 1)+1)])) AS g
  FROM norm WHERE doc_id % 41 = 0),
cgrams AS (
  SELECT doc_id, unnest(list_distinct(
    [array_to_string(tk[i:i+2], ' ')
     for i in range(1, greatest(len(tk)-2, 1)+1)])) AS g
  FROM norm WHERE doc_id % 41 <> 0),
hits AS (
  SELECT doc_id, count(*) AS n_hits
  FROM cgrams JOIN bgrams USING (g) GROUP BY 1)
SELECT n.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
  coalesce(h.n_hits, 0) >= 2 AS contaminated
FROM norm n LEFT JOIN hits h USING (doc_id)
WHERE n.doc_id % 41 <> 0
ORDER BY n.doc_id
