WITH ids AS (SELECT range AS media_id FROM range(200)),
hexes AS (
  SELECT media_id,
    substr(repeat(sha256(media_id::VARCHAR), 129), 1, 8192) AS hx
  FROM ids),
bytes AS (
  SELECT media_id,
    [('0x' || substr(hx, 2*i - 1, 2))::BIGINT for i in range(1, 4097)] AS bs
  FROM hexes),
feat AS (
  SELECT media_id,
    [list_sum([bs[m] * m for m in range(1, 4097) if (m - 1) % 16 = j]) % 1000
     for j in range(0, 16)] AS ks
  FROM bytes)
SELECT b.media_id, 'image/fake' AS mime,
  greatest(1, 4096 % 1024)::INT AS width,
  greatest(1, (4096 // 1024) % 1024 + 1)::INT AS height,
  round((list_sum(bs)::DOUBLE / 4096) / 255, 6) AS mean_luma,
  16 AS feature_dim,
  list_sum(ks)::BIGINT AS feature_checksum
FROM bytes b JOIN feat f ON b.media_id = f.media_id
ORDER BY b.media_id
