WITH t AS (SELECT doc_id, text FROM documents WHERE len(text) > 0)
SELECT doc_id, ((u.s - 1) // 150)::BIGINT AS chunk_index,
  substring(text, u.s, 200) AS chunk_text
FROM t, unnest(range(1, len(text) + 1, 150)) AS u(s)
ORDER BY doc_id, chunk_index
