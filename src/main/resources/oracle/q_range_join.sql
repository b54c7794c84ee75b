SELECT c.event_id, c.user_id, c.ts, p.w_start, p.w_end, p.purchase_id
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click') c
JOIN (SELECT user_id, ts AS w_start, ts + INTERVAL 1 HOUR AS w_end,
        event_id AS purchase_id
      FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.w_start AND c.ts <= p.w_end
ORDER BY c.event_id, p.purchase_id
