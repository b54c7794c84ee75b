SELECT c_custkey AS cust_id, c_nationkey AS nation_key,
  c_mktsegment AS segment, c_name AS tag0
FROM customer ORDER BY cust_id
