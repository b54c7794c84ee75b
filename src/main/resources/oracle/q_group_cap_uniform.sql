WITH r AS (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang
      ORDER BY md5('quota:' || doc_id::VARCHAR), doc_id) AS rn
  FROM documents)
SELECT doc_id, lang FROM r WHERE rn <= 10 ORDER BY doc_id
