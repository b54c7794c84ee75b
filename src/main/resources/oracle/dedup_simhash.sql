WITH norm AS (
  SELECT doc_id, n_chars,
    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
  FROM documents),
toks AS (SELECT doc_id, list_distinct(str_split(t, ' ')) AS tk FROM norm),
hs AS (
  SELECT doc_id,
    [('0x' || substr(md5(x), 1, 15))::BIGINT for x in tk] AS hh
  FROM toks),
votes AS (
  SELECT doc_id,
    [list_sum([CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END
       for h in hh]) for b in range(0, 60)] AS v
  FROM hs),
blocks AS (
  SELECT doc_id,
    [list_sum([CASE WHEN v[15*i + j + 1] > 0 THEN (1::BIGINT << j)
       ELSE 0 END for j in range(0, 15)]) for i in range(0, 4)] AS blk
  FROM votes),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
    list_sum([bit_count(xor(a.blk[i], b.blk[i])) for i in range(1, 5)]) AS ham
  FROM blocks a JOIN blocks b ON a.doc_id < b.doc_id),
losers AS (SELECT DISTINCT id_b FROM pairs WHERE ham <= 3)
SELECT doc_id, n_chars FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM losers)
ORDER BY doc_id
