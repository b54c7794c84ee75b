SELECT o_custkey, o_orderpriority FROM orders WHERE o_orderstatus = 'F'
EXCEPT ALL
SELECT o_custkey, o_orderpriority FROM orders WHERE o_totalprice > 50000
ORDER BY o_custkey, o_orderpriority
