WITH norm AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents),
toks AS (SELECT doc_id, str_split(t, ' ') AS tk FROM norm),
sh AS (
  SELECT doc_id, list_distinct(
    [array_to_string(tk[i:i+3], ' ')
     for i in range(1, greatest(len(tk)-3, 1)+1)]) AS s
  FROM toks),
post AS (SELECT doc_id, len(s) AS n, unnest(s) AS g FROM sh),
kept AS (SELECT g FROM post GROUP BY g HAVING count(*) <= 10000),
cp AS (SELECT doc_id, n, post.g FROM post JOIN kept USING (g)),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
    any_value(a.n) AS na, any_value(b.n) AS nb
  FROM cp a JOIN cp b USING (g)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id_a, id_b,
  round(inter::DOUBLE / (na + nb - inter), 6) AS jaccard
FROM pairs WHERE inter::DOUBLE / (na + nb - inter) >= 0.3
ORDER BY id_a, id_b
