WITH run AS (
  SELECT doc_id, lang, n_chars,
    sum(coalesce(n_chars, 0))
      OVER (PARTITION BY lang
            ORDER BY md5('mix:' || doc_id::VARCHAR), doc_id) AS rc
  FROM documents)
SELECT doc_id, lang, n_chars FROM run
WHERE rc <= 20000 ORDER BY doc_id
