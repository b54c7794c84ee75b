SELECT c_mktsegment AS segment, count(*)::BIGINT AS n_orders,
  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1 ORDER BY segment
