SELECT n_regionkey::BIGINT AS n_regionkey,
  count(n_nationkey)::BIGINT AS n_nations,
  sum(n_nationkey)::BIGINT AS sum_key
FROM nation GROUP BY 1 ORDER BY 1
