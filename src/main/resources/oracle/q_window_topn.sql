SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_orderpriority
      ORDER BY o_totalprice DESC, o_orderkey) AS rank
  FROM orders)
WHERE rank <= 3 ORDER BY o_orderpriority, rank
