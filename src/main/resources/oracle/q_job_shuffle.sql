SELECT doc_id, lang, md5('r12s:' || doc_id::VARCHAR) AS shuffle_key
FROM documents ORDER BY shuffle_key
