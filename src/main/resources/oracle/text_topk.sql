SELECT token, count(*)::BIGINT AS n_occurrences
FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS token
      FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY n_occurrences DESC, token
LIMIT 50
