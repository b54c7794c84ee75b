SELECT d.doc_id, d.n_chars FROM documents d
WHERE NOT EXISTS (
  SELECT 1 FROM documents r WHERE r.doc_id % 3 = 0
    AND regexp_replace(lower(trim('  ' || upper(r.text) || ' ')),
          '\s+', ' ', 'g')
      = regexp_replace(lower(trim(d.text)), '\s+', ' ', 'g'))
ORDER BY d.doc_id
