WITH v AS (
  SELECT vec_id,
    list_transform(embedding, x -> x::DOUBLE * (vec_id % 5 + 1)) AS v2
  FROM embeddings),
n AS (
  SELECT vec_id, v2, sqrt(list_reduce(list_prepend(0.0::DOUBLE,
      list_transform(v2, x -> x * x)), (a,b) -> a + b)) AS nrm
  FROM v)
SELECT vec_id, round(nrm, 6) AS vec_norm,
  round(list_reduce(list_prepend(0.0::DOUBLE,
    list_transform(v2, x -> x / nrm)), (a,b) -> a + b), 6) AS unit_sum,
  round(v2[1] / nrm, 6) AS unit_first
FROM n ORDER BY vec_id
