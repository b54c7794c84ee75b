WITH s AS (
  SELECT source, quantile_cont(n_chars, 0.25) q1,
    quantile_cont(n_chars, 0.75) q3
  FROM documents GROUP BY source)
SELECT doc_id, source, n_chars
FROM documents JOIN s USING (source)
WHERE n_chars IS NOT NULL
  AND n_chars >= q1 - 1.5 * (q3 - q1)
  AND n_chars <= q3 + 1.5 * (q3 - q1)
ORDER BY doc_id
