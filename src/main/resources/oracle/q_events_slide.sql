WITH w AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start,
    event_type, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
    event_type, value FROM events)
SELECT window_start, event_type, count(*)::BIGINT AS n_events,
  sum(round(value * 100)::BIGINT) / 100.0 AS sum_value
FROM w GROUP BY 1, 2 ORDER BY window_start, event_type
