WITH toks AS (
  SELECT doc_id,
    CASE WHEN len(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tokens,
    string_split_regex(lower(trim(text)), '\s+') AS t
  FROM documents),
scores AS (
  SELECT doc_id, n_tokens,
    len(list_filter(t, x -> list_contains(['der','die','das','und','nicht','ist','ein','mit'], x))) AS s_de,
    len(list_filter(t, x -> list_contains(['the','and','of','to','is','that','for','with'], x))) AS s_en,
    len(list_filter(t, x -> list_contains(['el','la','los','las','que','de','es','una'], x))) AS s_es,
    len(list_filter(t, x -> list_contains(['le','la','les','des','est','une','que','dans'], x))) AS s_fr,
    len(list_filter(t, x -> list_contains(['的','是','了','在','我','有','和','不'], x))) AS s_zh
  FROM toks),
pred AS (
  SELECT doc_id, n_tokens,
    CASE WHEN greatest(s_de, s_en, s_es, s_fr, s_zh) = 0 THEN 'und'
         WHEN s_zh > greatest(s_de, s_en, s_es, s_fr) THEN 'zh'
         WHEN s_fr > greatest(s_de, s_en, s_es) THEN 'fr'
         WHEN s_es > greatest(s_de, s_en) THEN 'es'
         WHEN s_en > s_de THEN 'en'
         ELSE 'de' END AS lang_pred
  FROM scores)
SELECT lang_pred, count(*)::BIGINT AS n_docs,
  sum(n_tokens)::BIGINT AS sum_tokens
FROM pred WHERE n_tokens > 50
GROUP BY lang_pred ORDER BY lang_pred
