WITH seeded AS (
  SELECT doc_id, text || ' contact u' || doc_id ||
    '@example.com or 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
    '-1234 at 10.0.' || (doc_id % 256)::VARCHAR || '.1' AS text
  FROM documents)
SELECT doc_id,
  len(regexp_extract_all(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
  len(regexp_extract_all(text,
    '(^|[^0-9])(\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4})'))::BIGINT AS n_phones,
  len(regexp_extract_all(text,
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
  regexp_replace(regexp_replace(regexp_replace(text,
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '(^|[^0-9])(\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4})', '\1<PHONE>', 'g'),
    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS text
FROM seeded ORDER BY doc_id
