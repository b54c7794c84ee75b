SELECT c_name AS cust, n_name AS nation
FROM customer JOIN nation ON c_nationkey = n_nationkey
ORDER BY cust, nation
