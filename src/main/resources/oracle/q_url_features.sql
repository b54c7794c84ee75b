WITH u AS (
  SELECT doc_id,
    CASE WHEN doc_id % 11 = 0 THEN 'not a url'
         WHEN doc_id % 7 = 0 THEN 'http://user@' || source ||
           '.example.org:8080/a/b?q=' || doc_id::VARCHAR
         ELSE 'https://' || source || '.example.org/docs/' ||
           doc_id::VARCHAR END AS url
  FROM documents),
f AS (
  SELECT doc_id, url,
    nullif(regexp_extract(url,
      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '') AS url_scheme,
    nullif(regexp_extract(url,
      '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)', 1),
      '') AS url_host
  FROM u)
SELECT doc_id, url, url_scheme, url_host,
  nullif(regexp_extract(url_host, '([^.]+\.[^.]+)$', 1), '') AS url_domain,
  nullif(regexp_extract(url,
    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1), '') AS url_path
FROM f ORDER BY doc_id
