SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_discount
FROM lineitem
WHERE l_quantity <= 20
  AND (l_returnflag = 'R' OR contains(lower(l_linestatus), 'f'))
  AND NOT (l_discount > 0.05)
ORDER BY l_orderkey, l_linenumber
