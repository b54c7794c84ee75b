WITH seeded AS (
  SELECT doc_id,
    CASE WHEN doc_id % 3 = 0
      THEN text || chr(10) || 'repeat line' || chr(10) || 'repeat line'
      ELSE text || chr(10) || 'repeat line' || chr(10) || 'unique ' || doc_id
    END AS text
  FROM documents),
lines AS (
  SELECT doc_id, list_filter(
    list_transform(str_split(text, chr(10)), x -> trim(x)),
    x -> len(x) > 0) AS ls
  FROM seeded),
dupline AS (
  SELECT doc_id, CASE WHEN len(ls) <= 0 THEN 0.0
    ELSE round((len(ls) - len(list_distinct(ls)))::DOUBLE / len(ls), 6)
  END AS dup_line_ratio
  FROM lines),
toks AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt,
    str_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS tk
  FROM seeded),
grams AS (
  SELECT doc_id, unnest([array_to_string(tk[i:i+1], ' ')
    for i in range(1, greatest(len(tk)-1, 1)+1)]) AS g
  FROM toks),
counts AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
top AS (
  SELECT doc_id, g AS top_gram, c AS top_count FROM (
    SELECT doc_id, g, c, row_number()
      OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
    FROM counts)
  WHERE rn = 1),
agg AS (
  SELECT doc_id, sum(c) AS n_positions,
    coalesce(sum(c) FILTER (WHERE c > 1), 0) AS dup_positions
  FROM counts GROUP BY 1)
SELECT t.doc_id, d.dup_line_ratio, top.top_gram,
  round(CASE WHEN len(t.nt) = 0 THEN 0.0
    ELSE (top.top_count * len(top.top_gram))::DOUBLE / len(t.nt)
  END, 6) AS top_gram_ratio,
  round(CASE WHEN a.n_positions = 0 THEN 0.0
    ELSE a.dup_positions::DOUBLE / a.n_positions
  END, 6) AS dup_gram_ratio
FROM toks t
JOIN dupline d USING (doc_id)
JOIN top USING (doc_id)
JOIN agg a USING (doc_id)
ORDER BY t.doc_id
