SELECT 'o_custkey' AS col_name, count(*)::BIGINT AS n_rows,
  (count(*) - count(o_custkey))::BIGINT AS n_nulls,
  count(DISTINCT o_custkey)::BIGINT AS n_distinct,
  min(o_custkey)::DOUBLE AS min_num, max(o_custkey)::DOUBLE AS max_num,
  NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str FROM orders
UNION ALL
SELECT 'o_orderkey' AS col_name, count(*)::BIGINT AS n_rows,
  (count(*) - count(o_orderkey))::BIGINT AS n_nulls,
  count(DISTINCT o_orderkey)::BIGINT AS n_distinct,
  min(o_orderkey)::DOUBLE AS min_num, max(o_orderkey)::DOUBLE AS max_num,
  NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str FROM orders
UNION ALL
SELECT 'o_orderpriority' AS col_name, count(*)::BIGINT AS n_rows,
  (count(*) - count(o_orderpriority))::BIGINT AS n_nulls,
  count(DISTINCT o_orderpriority)::BIGINT AS n_distinct,
  NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num,
  min(o_orderpriority)::VARCHAR AS min_str, max(o_orderpriority)::VARCHAR AS max_str FROM orders
UNION ALL
SELECT 'o_orderstatus' AS col_name, count(*)::BIGINT AS n_rows,
  (count(*) - count(o_orderstatus))::BIGINT AS n_nulls,
  count(DISTINCT o_orderstatus)::BIGINT AS n_distinct,
  NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num,
  min(o_orderstatus)::VARCHAR AS min_str, max(o_orderstatus)::VARCHAR AS max_str FROM orders
UNION ALL
SELECT 'o_totalprice' AS col_name, count(*)::BIGINT AS n_rows,
  (count(*) - count(o_totalprice))::BIGINT AS n_nulls,
  count(DISTINCT o_totalprice)::BIGINT AS n_distinct,
  min(o_totalprice)::DOUBLE AS min_num, max(o_totalprice)::DOUBLE AS max_num,
  NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str FROM orders
ORDER BY col_name
