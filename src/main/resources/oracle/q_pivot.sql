SELECT o_orderpriority,
  sum(round(o_totalprice * 100)::BIGINT)
    FILTER (WHERE o_orderstatus = 'F') / 100.0 AS total_f,
  sum(round(o_totalprice * 100)::BIGINT)
    FILTER (WHERE o_orderstatus = 'O') / 100.0 AS total_o,
  sum(round(o_totalprice * 100)::BIGINT)
    FILTER (WHERE o_orderstatus = 'P') / 100.0 AS total_p
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
