SELECT c.event_id, c.user_id, c.ts, c.value,
  CASE WHEN c.ts - p.ts <= INTERVAL 1 HOUR THEN p.value END AS p_value,
  CASE WHEN c.ts - p.ts <= INTERVAL 1 HOUR THEN p.ts END AS p_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
ORDER BY c.event_id
