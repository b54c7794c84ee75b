SELECT c_custkey, count(o_orderkey)::BIGINT AS n_orders,
  count(*)::BIGINT AS n_rows
FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey ORDER BY c_custkey
