WITH seeded AS (
  SELECT doc_id, text, n_chars AS quality FROM documents
  UNION ALL
  SELECT doc_id + 10000, '  ' || upper(text) || ' ', n_chars + 50
  FROM documents),
r AS (
  SELECT doc_id, quality, row_number() OVER (
    PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
    ORDER BY quality DESC, doc_id) AS rn
  FROM seeded)
SELECT doc_id, quality FROM r WHERE rn = 1 ORDER BY doc_id
