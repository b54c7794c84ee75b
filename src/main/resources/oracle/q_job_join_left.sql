SELECT c_custkey, count(o_orderkey)::BIGINT AS n_orders,
  count(*)::BIGINT AS n_rows
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey ORDER BY c_custkey
