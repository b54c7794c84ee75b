SELECT prio, count(*)::BIGINT AS n_rows
FROM (SELECT nullif(o_orderpriority, '3-MEDIUM') AS prio FROM orders)
WHERE prio IS NULL OR prio != '1-URGENT'
GROUP BY prio ORDER BY prio NULLS FIRST
