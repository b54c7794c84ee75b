SELECT o_orderstatus, count(*)::BIGINT AS n_orders,
  sum(round(o_totalprice * 100)::BIGINT) / 100.0 AS sum_price
FROM orders WHERE o_totalprice > 150000
GROUP BY 1 ORDER BY 1
