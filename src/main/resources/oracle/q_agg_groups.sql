SELECT l_returnflag, l_linestatus,
  count(*)::BIGINT AS n_rows,
  round(sum(l_quantity), 2) AS sum_qty,
  min(l_extendedprice) AS min_price,
  max(l_extendedprice) AS max_price,
  median(l_quantity) AS median_qty,
  count(DISTINCT l_partkey)::BIGINT AS n_parts
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
