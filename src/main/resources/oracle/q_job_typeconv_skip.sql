SELECT s_suppkey,
  CASE WHEN s_suppkey % 2 = 0 THEN s_suppkey END AS skip_int,
  'v_' || s_suppkey AS skip_str
FROM supplier ORDER BY s_suppkey
