WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '\s+'),
    x -> len(x) > 0) AS tk
  FROM documents),
grams AS (
  SELECT unnest([array_to_string(tk[i:i+1], ' ')
    for i in range(1, len(tk))]) AS gram
  FROM toks WHERE len(tk) >= 2)
SELECT gram, count(*)::BIGINT AS n_occurrences
FROM grams GROUP BY gram
ORDER BY n_occurrences DESC, gram LIMIT 40
