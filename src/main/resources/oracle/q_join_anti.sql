SELECT c_custkey, c_name, c_nationkey FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT')
ORDER BY c_custkey
