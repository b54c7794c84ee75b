WITH b AS (
  SELECT doc_id,
    ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 10000 AS bucket
  FROM documents),
s AS (
  SELECT doc_id, CASE WHEN bucket < 8000 THEN 'train'
    WHEN bucket < 9000 THEN 'val' ELSE 'test' END AS split
  FROM b)
SELECT split, count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS sum_ids
FROM s GROUP BY split ORDER BY split
