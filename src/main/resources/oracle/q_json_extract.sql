SELECT k, count(*)::BIGINT AS n_events,
  sum(event_id)::BIGINT AS sum_ids,
  count(m_str)::BIGINT AS n_missing
FROM (
  SELECT event_id,
    json_extract_string(props, '$.k')::BIGINT AS k,
    json_extract_string(props, '$.missing') AS m_str
  FROM events)
GROUP BY k ORDER BY k
