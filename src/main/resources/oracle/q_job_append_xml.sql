SELECT n_nationkey::VARCHAR AS n_nationkey, n_name,
  n_regionkey::VARCHAR AS n_regionkey
FROM nation ORDER BY n_nationkey::BIGINT
