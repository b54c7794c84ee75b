SELECT s_suppkey, s_acctbal,
  CASE WHEN s_suppkey % 3 = 0 THEN s_suppkey ELSE NULL END AS maybe_int
FROM supplier ORDER BY s_suppkey
