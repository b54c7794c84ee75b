SELECT branch, count(*)::BIGINT AS n_rows FROM (
  SELECT l_orderkey, l_linenumber, 'big_qty' AS branch
  FROM lineitem WHERE l_quantity > 45
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'discounted' AS branch
  FROM lineitem WHERE l_discount >= 0.09)
GROUP BY branch ORDER BY branch
