SELECT event_id, user_id, cents, roll_cents, roll_n,
  roll_cents::DOUBLE / roll_n AS roll_avg, n_th FROM (
  SELECT event_id, user_id, round(value * 100)::BIGINT AS cents,
    (sum(round(value * 100)::BIGINT) OVER (
      PARTITION BY user_id ORDER BY event_id
      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))::BIGINT AS roll_cents,
    (count(*) OVER (
      PARTITION BY user_id ORDER BY event_id
      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))::BIGINT AS roll_n,
    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS n_th
  FROM events)
WHERE n_th <= 6 ORDER BY user_id, n_th
