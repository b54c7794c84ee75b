SELECT doc_id, lang, source, n_chars FROM (
  SELECT doc_id, lang, source, n_chars, row_number() OVER (
    PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
    ORDER BY doc_id) AS rn
  FROM documents)
WHERE rn = 1 ORDER BY doc_id
