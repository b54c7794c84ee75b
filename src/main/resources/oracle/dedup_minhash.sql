WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents),
sh AS (
  SELECT doc_id, list_distinct(
    [substr(t, i, 5) for i in range(1, greatest(len(t)-4, 1)+1)]) AS s
  FROM norm),
post AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
    any_value(a.n) AS na, any_value(b.n) AS nb
  FROM post a JOIN post b USING (g)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
losers AS (
  SELECT DISTINCT id_b FROM pairs
  WHERE inter::DOUBLE / (na + nb - inter) >= 0.6)
SELECT doc_id, n_chars FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM losers)
ORDER BY doc_id
