WITH base AS (
  SELECT event_id,
    regexp_extract(props, '"k": (\d+)', 1) AS k_str,
    regexp_extract(props, '"k": (\d+)', 1) || '.0' AS k_float_str,
    CASE WHEN event_type = 'signup' THEN ' Yes '
         WHEN event_type = 'error' THEN 'F'
         WHEN event_type = 'purchase' THEN '1'
         ELSE 'maybe' END AS flag_str,
    event_type
  FROM events)
SELECT event_id,
  try_cast(k_str AS BIGINT) AS k_int,
  CASE WHEN try_cast(k_float_str AS DOUBLE) = floor(try_cast(k_float_str AS DOUBLE))
       THEN try_cast(k_float_str AS DOUBLE)::BIGINT END AS k_int_from_float,
  try_cast(k_str AS DOUBLE) AS k_float,
  CASE WHEN lower(trim(flag_str)) IN ('true','t','1','yes','y') THEN true
       WHEN lower(trim(flag_str)) IN ('false','f','0','no','n') THEN false
       END AS flag_bool,
  CASE WHEN lower(trim(event_type)) IN ('true','t','1','yes','y') THEN true
       WHEN lower(trim(event_type)) IN ('false','f','0','no','n') THEN false
       END AS flag_skipped,
  CAST(NULL AS DOUBLE) AS nullish
FROM base ORDER BY event_id
