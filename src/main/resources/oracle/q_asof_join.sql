SELECT c.event_id, c.user_id, c.ts, c.value,
       p.value AS p_value, p.ts AS p_ts
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
ORDER BY c.event_id
