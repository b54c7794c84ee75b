SELECT a.l_returnflag, round(a.sum_qty, 2) AS sum_qty, b.n_rows FROM
  (SELECT l_returnflag, sum(l_quantity) AS sum_qty
   FROM lineitem GROUP BY l_returnflag) a
JOIN
  (SELECT l_returnflag, count(*)::BIGINT AS n_rows
   FROM lineitem GROUP BY l_returnflag) b
ON a.l_returnflag = b.l_returnflag
ORDER BY a.l_returnflag
