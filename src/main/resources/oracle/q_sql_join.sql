SELECT n_name, count(*)::BIGINT AS n_custs,
  sum(round(c_acctbal * 100)::BIGINT) / 100.0 AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
