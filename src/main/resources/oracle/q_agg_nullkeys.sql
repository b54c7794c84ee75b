SELECT nullif(o_orderpriority, '1-URGENT') AS prio,
  count(*)::BIGINT AS n_rows,
  count(DISTINCT o_custkey)::BIGINT AS n_custs
FROM orders GROUP BY 1 ORDER BY prio NULLS FIRST
