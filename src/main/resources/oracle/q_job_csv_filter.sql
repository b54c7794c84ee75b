SELECT l_orderkey::BIGINT::VARCHAR AS l_orderkey,
  l_linenumber::BIGINT::VARCHAR AS l_linenumber,
  l_quantity::BIGINT::VARCHAR AS l_quantity, l_returnflag
FROM lineitem
WHERE l_quantity::BIGINT <= 20
  AND NOT coalesce(l_returnflag = 'A', FALSE)
ORDER BY l_orderkey::BIGINT, l_linenumber::BIGINT
