WITH ups AS (
  SELECT n_nationkey::VARCHAR AS k, n_name AS v, 'nat' AS w
  FROM nation WHERE n_nationkey < 8
  UNION ALL SELECT '9', 'OLD_9', 'seed_9'
)
SELECT k, v, CASE WHEN k::INT < 3 THEN 'UPD' ELSE w END AS w
FROM ups ORDER BY k
