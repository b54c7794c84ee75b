SELECT c_custkey::VARCHAR AS cust_id, c_name AS name,
  c_mktsegment AS segment
FROM customer ORDER BY cust_id::BIGINT
