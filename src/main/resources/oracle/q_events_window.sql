SELECT date_trunc('hour', ts)::TIMESTAMP AS window_start, event_type,
  count(*)::BIGINT AS n_events,
  sum(round(value * 100)::BIGINT) / 100.0 AS sum_value
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
