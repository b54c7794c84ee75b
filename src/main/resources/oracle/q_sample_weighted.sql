WITH r AS (
  SELECT doc_id, lang, n_chars,
    CASE WHEN doc_id % 13 = 0 THEN NULL
         ELSE n_chars / 300.0 END AS rate,
    ('0x' || substr(md5('w17:' || doc_id::VARCHAR), 1, 8))::BIGINT
      % 10000 AS bucket
  FROM documents)
SELECT doc_id, lang, n_chars FROM r
WHERE rate IS NOT NULL
  AND bucket < round(greatest(least(rate, 1.0), 0.0) * 10000)
ORDER BY doc_id
