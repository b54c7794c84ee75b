SELECT bucket,
  bucket * (25.0::DOUBLE) AS bucket_lo,
  (bucket + 1) * (25.0::DOUBLE) AS bucket_hi,
  count(*)::BIGINT AS n
FROM (
  SELECT least(greatest(floor(value / (25.0::DOUBLE)), 0), 19)::BIGINT AS bucket
  FROM events WHERE value IS NOT NULL)
GROUP BY bucket ORDER BY bucket
