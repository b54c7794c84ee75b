SELECT o_orderstatus, count(o_orderkey)::BIGINT AS n_orders
FROM orders WHERE o_orderstatus IN ('F', 'O')
GROUP BY 1 ORDER BY 1
