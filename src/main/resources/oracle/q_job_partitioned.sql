SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
  max(o_totalprice) AS max_price
FROM orders WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority ORDER BY o_orderpriority
