WITH m AS (
  SELECT 'quantity' AS measure, round(l_quantity * 100)::BIGINT AS cents
  FROM lineitem
  UNION ALL
  SELECT 'extendedprice', round(l_extendedprice * 100)::BIGINT FROM lineitem
  UNION ALL
  SELECT 'discount', round(l_discount * 100)::BIGINT FROM lineitem)
SELECT measure, count(*)::BIGINT AS n_cells, sum(cents)::BIGINT AS sum_cents
FROM m GROUP BY measure ORDER BY measure
