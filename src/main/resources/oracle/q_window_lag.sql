SELECT event_id, user_id, cents, prev_cents, run_cents, n_th FROM (
  SELECT event_id, user_id, round(value * 100)::BIGINT AS cents,
    lag(round(value * 100)::BIGINT)
      OVER (PARTITION BY user_id ORDER BY event_id) AS prev_cents,
    (sum(round(value * 100)::BIGINT)
      OVER (PARTITION BY user_id ORDER BY event_id))::BIGINT AS run_cents,
    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS n_th
  FROM events)
WHERE n_th <= 5 ORDER BY user_id, n_th
