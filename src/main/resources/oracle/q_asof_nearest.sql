WITH c AS (SELECT * FROM events WHERE event_type = 'click'),
p AS (SELECT * FROM events WHERE event_type = 'purchase'),
b AS (SELECT c.event_id, c.user_id, c.ts, c.value,
             p.value AS bv, p.ts AS bt
      FROM c ASOF LEFT JOIN p
        ON c.user_id = p.user_id AND c.ts >= p.ts),
f AS (SELECT c.event_id, p.value AS fv, p.ts AS ft
      FROM c ASOF LEFT JOIN p
        ON c.user_id = p.user_id AND c.ts <= p.ts)
SELECT b.event_id, b.user_id, b.ts, b.value,
  CASE WHEN bt IS NULL THEN fv WHEN ft IS NULL THEN bv
       WHEN (ft - b.ts) < (b.ts - bt) THEN fv ELSE bv END AS p_value,
  CASE WHEN bt IS NULL THEN ft WHEN ft IS NULL THEN bt
       WHEN (ft - b.ts) < (b.ts - bt) THEN ft ELSE bt END AS p_ts
FROM b JOIN f USING (event_id) ORDER BY b.event_id
