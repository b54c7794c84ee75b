SELECT r_name, n_name,
  sum(round(l_extendedprice * (1.0 - l_discount) * 10000)::BIGINT)
    / 10000.0 AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name ORDER BY r_name, n_name
