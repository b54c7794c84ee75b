WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id,
  round(CASE WHEN sqrt(list_dot_product(v, v))
               * sqrt(list_dot_product(qv, qv)) = 0 THEN 0
        ELSE list_dot_product(v, qv)
          / (sqrt(list_dot_product(v, v))
             * sqrt(list_dot_product(qv, qv))) END, 6) AS cosine
FROM e, q
ORDER BY cosine DESC, vec_id LIMIT 10
