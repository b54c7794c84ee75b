SELECT c_custkey, c_mktsegment FROM customer
WHERE c_mktsegment = 'BUILDING'
ORDER BY c_custkey LIMIT 50
