WITH sampled AS (
  SELECT text FROM documents
  WHERE ('0x' || substr(md5('r18t:' || doc_id::VARCHAR), 1, 8))::BIGINT
    % 10000 < 5000),
toks AS (
  SELECT list_filter(string_split_regex(lower(text), '\s+'),
    x -> len(x) > 0) AS tk
  FROM sampled),
grams AS (
  SELECT unnest([array_to_string(tk[i:i+1], ' ')
    for i in range(1, len(tk))]) AS gram
  FROM toks WHERE len(tk) >= 2)
SELECT gram, count(*)::BIGINT AS n_occurrences
FROM grams GROUP BY gram
ORDER BY n_occurrences DESC, gram LIMIT 40
