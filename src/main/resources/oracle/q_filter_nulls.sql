WITH base AS (
  SELECT o_orderkey, o_orderstatus,
    nullif(o_orderpriority, '3-MEDIUM') AS prio,
    CASE WHEN o_totalprice > 150000 THEN o_totalprice END AS big_price
  FROM orders),
ev AS (
  SELECT *,
    (NOT coalesce(big_price > 200000, FALSE))
      OR coalesce(contains(lower(prio), 'urgent'), FALSE) AS p
  FROM base)
SELECT CASE WHEN p THEN 'pass' ELSE 'fail' END AS port, o_orderstatus,
  count(*)::BIGINT AS n_rows,
  sum(CASE WHEN prio IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_prio
FROM ev GROUP BY 1, 2 ORDER BY port, o_orderstatus
