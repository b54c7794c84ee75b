WITH seeded AS (
  SELECT doc_id, concat_ws(chr(10), text,
    CASE WHEN doc_id % 3 = 0 THEN '- bullet one' || chr(10) ||
      '- bullet two' || chr(10) || '- bullet three' END,
    CASE WHEN doc_id % 5 = 0 THEN 'to be continued...' END,
    CASE WHEN doc_id % 7 = 0 THEN '### ## # ####' END) AS text
  FROM documents),
base AS (
  SELECT doc_id, text,
    CASE WHEN len(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n,
    len(regexp_replace(trim(text), '\s+', '', 'g')) AS n_nonspace,
    len(text) - len(replace(text, '#', '')) AS n_hash,
    len(regexp_extract_all(text, '(\.\.\.|…)')) AS n_ell,
    len(str_split(text, chr(10))) AS n_lines,
    len(regexp_extract_all(text, '(?m)^[ \t]*[-*•‣▪]')) AS n_bullet,
    len(regexp_extract_all(text, '(?m)(\.\.\.|…)[ \t]*$')) AS n_ell_end,
    len(list_filter(string_split_regex(trim(text), '\s+'),
      x -> regexp_matches(x, '\p{L}'))) AS n_alpha,
    (SELECT sum(list_contains(string_split_regex(lower(trim(text)), '\s+'), w)::INT)
     FROM unnest(['the','be','to','of','and','that','have','with']) AS u(w)
    ) AS stop_hits
  FROM seeded)
SELECT doc_id,
  (n >= 50 AND n <= 100000) AS g_word_count,
  (n > 0 AND n_nonspace::DOUBLE / n::DOUBLE >= 3.0::DOUBLE
         AND n_nonspace::DOUBLE / n::DOUBLE <= 10.0::DOUBLE)
    AS g_mean_word_len,
  (n > 0 AND (n_hash + n_ell)::DOUBLE <= 0.1::DOUBLE * n)
    AS g_symbol_ratio,
  (n_bullet::DOUBLE <= 0.9::DOUBLE * n_lines) AS g_bullet_lines,
  (n_ell_end::DOUBLE <= 0.3::DOUBLE * n_lines) AS g_ellipsis_lines,
  (n > 0 AND n_alpha::DOUBLE >= 0.8::DOUBLE * n) AS g_alpha_words,
  (stop_hits >= 2) AS g_stopwords,
  ((n >= 50 AND n <= 100000)
   AND (n > 0 AND n_nonspace::DOUBLE / n::DOUBLE >= 3.0::DOUBLE
              AND n_nonspace::DOUBLE / n::DOUBLE <= 10.0::DOUBLE)
   AND (n > 0 AND (n_hash + n_ell)::DOUBLE <= 0.1::DOUBLE * n)
   AND (n_bullet::DOUBLE <= 0.9::DOUBLE * n_lines)
   AND (n_ell_end::DOUBLE <= 0.3::DOUBLE * n_lines)
   AND (n > 0 AND n_alpha::DOUBLE >= 0.8::DOUBLE * n)
   AND (stop_hits >= 2)) AS gopher_pass
FROM base ORDER BY doc_id
