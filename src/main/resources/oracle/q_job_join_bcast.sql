SELECT n_name, count(c_custkey) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
