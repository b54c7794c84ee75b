SELECT c_custkey AS cust_id, c_name AS cust_name,
  c_mktsegment AS segment, c_acctbal AS balance
FROM customer ORDER BY cust_id
