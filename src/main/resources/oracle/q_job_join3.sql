SELECT o_orderkey AS order_id, c_name AS cust, n_name AS nation,
  o_totalprice AS price
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY order_id
