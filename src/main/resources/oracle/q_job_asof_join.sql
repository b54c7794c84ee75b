SELECT c.event_id, c.user_id, epoch_us(c.ts)::BIGINT AS t, p.p_cents
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT user_id, ts, round(value * 100)::BIGINT AS p_cents
      FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
ORDER BY c.event_id
