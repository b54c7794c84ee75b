SELECT event_id, user_id, cents, next_cents, first_cents, n_th FROM (
  SELECT event_id, user_id, round(value * 100)::BIGINT AS cents,
    lead(round(value * 100)::BIGINT)
      OVER w AS next_cents,
    first_value(round(value * 100)::BIGINT)
      OVER w AS first_cents,
    dense_rank() OVER w AS n_th
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id))
WHERE n_th <= 5 ORDER BY user_id, n_th
