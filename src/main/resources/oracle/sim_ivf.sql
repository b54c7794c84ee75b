WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cell, v AS cv FROM e WHERE vec_id < 8),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, e.v, c.cell,
    CASE WHEN sqrt(list_dot_product(e.v, e.v))
           * sqrt(list_dot_product(c.cv, c.cv)) = 0 THEN 0
    ELSE list_dot_product(e.v, c.cv)
      / (sqrt(list_dot_product(e.v, e.v))
         * sqrt(list_dot_product(c.cv, c.cv))) END AS sim
  FROM e, cent c),
assigned AS (
  SELECT vec_id, v, cell,
    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cell DESC) AS rn
  FROM scored),
probe AS (
  SELECT cell FROM (
    SELECT c.cell, row_number() OVER (ORDER BY
      CASE WHEN sqrt(list_dot_product(c.cv, c.cv))
             * sqrt(list_dot_product(q.qv, q.qv)) = 0 THEN 0
      ELSE list_dot_product(c.cv, q.qv)
        / (sqrt(list_dot_product(c.cv, c.cv))
           * sqrt(list_dot_product(q.qv, q.qv))) END DESC, c.cell) AS pr
    FROM cent c, q)
  WHERE pr <= 3)
SELECT vec_id,
  round(CASE WHEN sqrt(list_dot_product(v, v))
               * sqrt(list_dot_product(qv, qv)) = 0 THEN 0
        ELSE list_dot_product(v, qv)
          / (sqrt(list_dot_product(v, v))
             * sqrt(list_dot_product(qv, qv))) END, 6) AS cosine
FROM assigned JOIN probe USING (cell), q
WHERE rn = 1 ORDER BY cosine DESC, vec_id LIMIT 10
