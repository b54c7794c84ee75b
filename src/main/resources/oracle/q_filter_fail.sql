SELECT l_returnflag, count(*)::BIGINT AS n_rows
FROM lineitem
WHERE NOT (l_quantity <= 20
  AND (l_returnflag = 'R' OR contains(lower(l_linestatus), 'f'))
  AND NOT (l_discount > 0.05))
GROUP BY l_returnflag ORDER BY l_returnflag
