WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
losers AS (
  SELECT DISTINCT b.vec_id FROM e a JOIN e b ON a.vec_id < b.vec_id
  WHERE CASE WHEN sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v)) = 0 THEN 0
        ELSE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) END >= 0.95)
SELECT vec_id, label FROM embeddings
WHERE vec_id NOT IN (SELECT vec_id FROM losers)
ORDER BY vec_id
