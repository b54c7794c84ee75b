WITH run AS (
  SELECT doc_id, lang, n_chars,
    sum(coalesce(n_chars, 0))
      OVER (PARTITION BY lang
            ORDER BY md5('m17:' || doc_id::VARCHAR), doc_id) AS rc
  FROM documents
  WHERE lang IN ('de', 'en', 'es', 'fr'))
SELECT doc_id, lang, n_chars FROM run
WHERE rc <= CASE lang WHEN 'de' THEN 8000 WHEN 'en' THEN 20000
  WHEN 'es' THEN 4000 WHEN 'fr' THEN 8000 END
ORDER BY doc_id
