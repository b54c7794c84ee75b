WITH c AS (SELECT vec_id AS corpus_id, embedding::DOUBLE[] AS cv FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 3),
s AS (
  SELECT query_id, corpus_id,
    round(CASE WHEN sqrt(list_dot_product(cv, cv))
                 * sqrt(list_dot_product(qv, qv)) = 0 THEN 0
          ELSE list_dot_product(cv, qv)
            / (sqrt(list_dot_product(cv, cv))
               * sqrt(list_dot_product(qv, qv))) END, 6) AS cosine
  FROM c, q),
r AS (SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
      FROM s)
SELECT query_id, rank, corpus_id, cosine FROM r
WHERE rank <= 5 ORDER BY query_id, rank
