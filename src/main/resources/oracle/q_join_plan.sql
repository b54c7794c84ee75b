SELECT c_mktsegment,
  sum(round(l_extendedprice * (1.0 - l_discount) * 10000)::BIGINT)
    / 10000.0 AS revenue,
  count(*)::BIGINT AS n_rows
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
