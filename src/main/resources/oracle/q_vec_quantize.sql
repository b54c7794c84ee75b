WITH q AS (
  SELECT vec_id, embedding,
    list_reduce(list_prepend(0.0::DOUBLE,
      list_transform(embedding, x -> abs(x::DOUBLE))),
      (a,b) -> greatest(a,b)) / 127.0 AS scale
  FROM embeddings),
z AS (
  SELECT vec_id, scale,
    list_transform(embedding, x -> round(x::DOUBLE / scale)::BIGINT) AS qv
  FROM q)
SELECT vec_id, round(scale, 6) AS vec_scale,
  list_reduce(list_prepend(0::BIGINT, qv), (a,b) -> a + b) AS q_sum,
  list_aggregate(qv, 'min')::BIGINT AS q_min,
  list_aggregate(qv, 'max')::BIGINT AS q_max
FROM z ORDER BY vec_id
