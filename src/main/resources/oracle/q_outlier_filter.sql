WITH s AS (SELECT avg(value) m, stddev_samp(value) sd FROM events)
SELECT event_id, event_type, value FROM events, s
WHERE value IS NOT NULL AND abs(value - m) <= 3.0 * coalesce(sd, 0)
ORDER BY event_id
