SELECT r_regionkey,
  CASE WHEN r_regionkey = 0 THEN 'MODIFIED' ELSE r_name END AS r_name
FROM region ORDER BY r_regionkey
