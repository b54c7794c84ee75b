SELECT l.lk, l.lname, h.hk, h.hname
FROM (SELECT n_nationkey AS lk, n_name AS lname FROM nation
      WHERE n_nationkey < 15) l
FULL OUTER JOIN
     (SELECT n_nationkey AS hk, n_name AS hname FROM nation
      WHERE n_nationkey >= 10) h
ON l.lk = h.hk
ORDER BY lk NULLS LAST, hk NULLS LAST
