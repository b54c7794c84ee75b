SELECT o_orderstatus,
  sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS total_price,
  sum(round(o_totalprice * 100)::BIGINT) / 100.0
    / count(*) AS avg_price,
  count(*)::BIGINT AS n_rows
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
