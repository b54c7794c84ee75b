WITH d AS (
  SELECT user_id, ts, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
           <= INTERVAL 12 HOUR THEN 0 ELSE 1 END AS new_s
  FROM events),
i AS (
  SELECT user_id, ts, value,
    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sid
  FROM d)
SELECT user_id, min(ts) AS session_start,
  max(ts) + INTERVAL 12 HOUR AS session_end,
  count(*)::BIGINT AS n_events,
  sum(round(value * 100)::BIGINT) / 100.0 AS sum_value
FROM i GROUP BY user_id, sid
ORDER BY user_id, session_start
