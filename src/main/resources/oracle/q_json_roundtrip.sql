SELECT event_type, count(*)::BIGINT AS n_rows,
  sum(round(value * 100)::BIGINT) / 100.0 AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
