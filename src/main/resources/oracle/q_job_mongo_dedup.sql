SELECT doc_id, lang FROM (
  SELECT doc_id, lang, row_number() OVER (
    PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
    ORDER BY doc_id) AS rn
  FROM documents)
WHERE rn = 1 ORDER BY doc_id
