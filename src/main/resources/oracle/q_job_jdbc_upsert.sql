WITH src AS (
  SELECT n_nationkey::VARCHAR AS n_nationkey, n_name
  FROM nation WHERE n_nationkey < 8
), seeds AS (
  SELECT * FROM (VALUES ('90','SEED_90'),('91','SEED_91')) t(n_nationkey, n_name)
), after_upsert AS (
  SELECT * FROM src UNION ALL SELECT * FROM seeds
)
SELECT n_nationkey,
  CASE WHEN n_nationkey::INT < 3 THEN 'UPD' ELSE n_name END AS n_name
FROM after_upsert
ORDER BY n_nationkey::BIGINT
