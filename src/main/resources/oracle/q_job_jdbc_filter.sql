SELECT n_nationkey::VARCHAR AS n_nationkey, n_name,
  n_regionkey::VARCHAR AS n_regionkey
FROM nation
WHERE n_regionkey <> 4 AND contains(lower(n_name), 'ion_1')
ORDER BY n_nationkey::BIGINT
