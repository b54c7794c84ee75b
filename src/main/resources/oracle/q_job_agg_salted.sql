SELECT l_returnflag, count(*)::BIGINT AS n_rows,
  sum(round(l_quantity * 100)::BIGINT) / 100.0 AS sum_qty,
  min(l_extendedprice) AS min_price,
  max(l_extendedprice) AS max_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
