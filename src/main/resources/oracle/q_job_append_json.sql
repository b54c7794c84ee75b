SELECT s_suppkey, s_name FROM supplier ORDER BY s_suppkey
