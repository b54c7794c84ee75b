WITH b AS (
  SELECT doc_id, lang,
    ('0x' || substr(md5('r12:' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bucket
  FROM documents),
k AS (
  SELECT doc_id, lang FROM b
  WHERE bucket < CASE lang WHEN 'en' THEN 3000 WHEN 'fr' THEN 10000 ELSE 6000 END)
SELECT lang, count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS sum_ids
FROM k GROUP BY lang ORDER BY lang
