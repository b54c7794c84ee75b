SELECT 'A' AS port, n_nationkey::VARCHAR AS uid, n_name AS uname
FROM nation
UNION ALL
SELECT 'B' AS port, n_nationkey::VARCHAR AS uid, n_name AS uname
FROM nation
ORDER BY port, uid
