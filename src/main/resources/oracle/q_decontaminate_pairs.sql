WITH norm AS (
  SELECT doc_id,
    str_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
  FROM documents),
bgrams AS (
  SELECT doc_id AS bench_id, unnest(list_distinct(
    [array_to_string(tk[i:i+2], ' ')
     for i in range(1, greatest(len(tk)-2, 1)+1)])) AS g
  FROM norm WHERE doc_id % 41 = 0),
cgrams AS (
  SELECT doc_id AS corpus_id, unnest(list_distinct(
    [array_to_string(tk[i:i+2], ' ')
     for i in range(1, greatest(len(tk)-2, 1)+1)])) AS g
  FROM norm WHERE doc_id % 41 <> 0),
dochits AS (
  SELECT corpus_id, count(*) AS total
  FROM cgrams JOIN (SELECT DISTINCT g FROM bgrams) USING (g)
  GROUP BY 1)
SELECT c.corpus_id, b.bench_id, count(*)::BIGINT AS n_shared
FROM cgrams c JOIN bgrams b USING (g)
JOIN dochits d ON d.corpus_id = c.corpus_id AND d.total >= 2
GROUP BY 1, 2
ORDER BY c.corpus_id, b.bench_id
