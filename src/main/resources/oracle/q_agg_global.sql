SELECT count(*)::BIGINT AS n_rows,
  count(DISTINCT o_custkey)::BIGINT AS n_custs,
  min(o_totalprice) AS min_price,
  max(o_totalprice) AS max_price
FROM orders
