SELECT s_nationkey::BIGINT AS s_nationkey,
  count(DISTINCT s_name)::BIGINT AS n_names,
  count(*)::BIGINT AS n_sups
FROM supplier GROUP BY 1 ORDER BY 1
