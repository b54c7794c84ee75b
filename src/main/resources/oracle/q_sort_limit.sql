SELECT event_id, user_id, value FROM events
WHERE value > 100
ORDER BY value DESC, event_id LIMIT 20 OFFSET 10
