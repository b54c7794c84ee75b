WITH d AS (
  SELECT user_id, ts, round(value * 100)::BIGINT AS cents,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
           <= INTERVAL 12 HOUR THEN 0 ELSE 1 END AS new_s
  FROM events),
i AS (
  SELECT user_id, cents,
    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sid
  FROM d)
SELECT user_id, count(DISTINCT sid)::BIGINT AS n_sessions,
  count(*)::BIGINT AS n_events, sum(cents)::BIGINT AS sum_cents
FROM i GROUP BY user_id ORDER BY user_id
