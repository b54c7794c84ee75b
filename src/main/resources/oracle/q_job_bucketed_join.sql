SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
  sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
