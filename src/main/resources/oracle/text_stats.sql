WITH base AS (
  SELECT doc_id, text,
    CASE WHEN len(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END::BIGINT AS n_tokens,
    len(text) AS n_chars,
    len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct,
    len(regexp_replace(trim(text), '\s+', '', 'g')) AS n_nonspace,
    CASE WHEN len(trim(text)) = 0 THEN 0
         ELSE len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
           x -> list_contains(['the','a','an','and','or','of','to','in','is','it',
             'that','for','on','with','as','at','by','be','this'], x))) END AS n_stops
  FROM documents),
ratios AS (
  SELECT doc_id, n_tokens,
    CASE WHEN n_chars = 0 THEN 0.0
         ELSE n_punct::DOUBLE / n_chars::DOUBLE END AS punct_r,
    CASE WHEN n_tokens = 0 THEN 0.0
         ELSE n_stops::DOUBLE / n_tokens::DOUBLE END AS stop_r,
    CASE WHEN n_tokens = 0 THEN 0.0
         ELSE n_nonspace::DOUBLE / n_tokens::DOUBLE END AS mwl,
    n_chars
  FROM base)
SELECT doc_id, n_tokens,
  round(punct_r, 6) AS punct_ratio,
  round(stop_r, 6) AS stopword_ratio,
  round(mwl, 6) AS mean_word_len,
  round((least(n_chars::DOUBLE / 500.0, 1.0)
    + least(stop_r * 4.0, 1.0)
    + greatest(1.0 - punct_r * 4.0, 0.0)) / 3.0, 6) AS quality
FROM ratios ORDER BY doc_id
