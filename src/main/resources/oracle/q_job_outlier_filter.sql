WITH s AS (
  SELECT event_type, avg(value) m, stddev_samp(value) sd
  FROM events GROUP BY event_type)
SELECT event_id, event_type, value
FROM events JOIN s USING (event_type)
WHERE value IS NOT NULL AND abs(value - m) <= 2.5 * coalesce(sd, 0)
ORDER BY event_id
