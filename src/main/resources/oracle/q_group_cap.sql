WITH r AS (
  SELECT doc_id, source, n_chars,
    row_number() OVER (PARTITION BY source
                       ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents)
SELECT doc_id, source, n_chars FROM r
WHERE rn <= 8 ORDER BY doc_id
