SELECT doc_id, lang, n_chars, pct, cd, bucket FROM (
  SELECT doc_id, lang, n_chars,
    percent_rank() OVER w AS pct,
    cume_dist() OVER w AS cd,
    ntile(4) OVER w AS bucket
  FROM documents
  WINDOW w AS (PARTITION BY lang ORDER BY n_chars DESC, doc_id))
WHERE pct <= 0.5 ORDER BY doc_id
