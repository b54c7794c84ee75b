SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS n_rows,
  sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS total_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus, o_orderpriority
