SELECT doc_id, lang, n_chars,
  floor((rc - coalesce(n_chars, 0)) / (5000.0::DOUBLE))::BIGINT AS unit_id
FROM (
  SELECT doc_id, lang, n_chars,
    sum(coalesce(n_chars, 0))
      OVER (PARTITION BY lang
            ORDER BY md5('pk:' || doc_id::VARCHAR), doc_id) AS rc
  FROM documents)
ORDER BY doc_id
