SELECT c.event_id, c.user_id, epoch_us(c.ts)::BIGINT AS t,
       p.w_start, p.w_end, p.purchase_id
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'click') c
LEFT JOIN (SELECT user_id, epoch_us(ts)::BIGINT AS w_start,
        epoch_us(ts + INTERVAL 1 HOUR)::BIGINT AS w_end,
        event_id AS purchase_id
      FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
  AND epoch_us(c.ts)::BIGINT >= p.w_start
  AND epoch_us(c.ts)::BIGINT <= p.w_end
ORDER BY c.event_id, p.purchase_id
