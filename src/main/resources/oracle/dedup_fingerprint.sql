WITH toks AS (
  SELECT doc_id, list_sort(list_distinct(
    list_filter(string_split_regex(trim(regexp_replace(lower(text),
      '[^a-z0-9\s]', ' ', 'g')), '\s+'), x -> len(x) > 0))) AS ts,
    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS rawkey
  FROM documents),
fp AS (
  SELECT doc_id, CASE WHEN len(ts) = 0 THEN md5(rawkey)
    ELSE md5(array_to_string(ts, ' ')) END AS fingerprint
  FROM toks)
SELECT fingerprint, count(*)::BIGINT AS n_docs,
  min(doc_id) AS first_doc
FROM fp GROUP BY fingerprint ORDER BY fingerprint
