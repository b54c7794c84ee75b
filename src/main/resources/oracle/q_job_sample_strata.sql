WITH staged AS (
  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN NULL ELSE lang END AS lang
  FROM documents),
b AS (
  SELECT doc_id, lang,
    ('0x' || substr(md5('r14:' || doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bucket
  FROM staged),
k AS (
  SELECT doc_id, lang FROM b
  WHERE bucket < CASE lang WHEN 'en' THEN 2500 WHEN 'zh' THEN 10000 ELSE 5000 END)
SELECT lang, count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS sum_ids
FROM k GROUP BY lang ORDER BY lang
