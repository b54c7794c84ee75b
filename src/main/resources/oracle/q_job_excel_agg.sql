SELECT c_nationkey::BIGINT AS c_nationkey,
  count(c_custkey)::BIGINT AS n_custs,
  min(c_custkey)::BIGINT AS min_cust
FROM customer WHERE c_mktsegment = 'BUILDING'
GROUP BY 1 ORDER BY 1
