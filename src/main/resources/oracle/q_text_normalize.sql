SELECT doc_id, trim(regexp_replace(regexp_replace(
    translate(lower(CASE WHEN doc_id % 4 = 0
      THEN 'ÀBÇ déf—Ghi!? ' || text ELSE text END), 'àáâãäåèéêëìíîïòóôõöùúûüçñýÿÀÁÂÃÄÅÈÉÊËÌÍÎÏÒÓÔÕÖÙÚÛÜÇÑÝ', 'aaaaaaeeeeiiiiooooouuuucnyyAAAAAAEEEEIIIIOOOOOUUUUCNY'),
    '[^\p{L}\p{N}\s]', '', 'g'), '\s+', ' ', 'g')) AS text
FROM documents ORDER BY doc_id
