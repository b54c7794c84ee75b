SELECT event_type, count(*)::BIGINT AS n_rows,
  sum(round(value * 100)::BIGINT) / 100.0 AS sum_value
FROM events WHERE event_type <> 'view'
GROUP BY event_type ORDER BY event_type
