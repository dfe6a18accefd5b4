"""SQL fragments that two or more registry families interpolate into
their oracles.
"""

from __future__ import annotations


_TOKS_CTE = """
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
)
"""


_SIG_CTE = f"""
{_TOKS_CTE.strip()},
sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(generate_series(1, len(toks) - 2),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
  )) AS s
  FROM toks
),
hashed AS (
  SELECT doc_id, md5(s) || md5(s || '#') AS hx FROM sh
),
sig AS (
  SELECT doc_id,
    min(substr(hx,  1, 8)) h0, min(substr(hx,  9, 8)) h1,
    min(substr(hx, 17, 8)) h2, min(substr(hx, 25, 8)) h3,
    min(substr(hx, 33, 8)) h4, min(substr(hx, 41, 8)) h5,
    min(substr(hx, 49, 8)) h6, min(substr(hx, 57, 8)) h7
  FROM hashed GROUP BY doc_id
)
"""


# Twin of pipelines.dedup.lsh_candidate_pairs DEFAULTS: band only the
# min-id representative per distinct text digest (unique_text_first)
# and drop band buckets with >200 members (bucket_cap) before pairing.
_SHINGLE_SIG_CTE = f"""
{_SIG_CTE.strip()},
canon AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
bands_all AS (
  SELECT doc_id, 0 AS band_idx, md5(h0 || '|' || h1) AS band_key
  FROM sig WHERE doc_id IN (SELECT doc_id FROM canon)
  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3)
  FROM sig WHERE doc_id IN (SELECT doc_id FROM canon)
  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5)
  FROM sig WHERE doc_id IN (SELECT doc_id FROM canon)
  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7)
  FROM sig WHERE doc_id IN (SELECT doc_id FROM canon)
),
bands AS (
  SELECT doc_id, band_idx, band_key FROM (
    SELECT doc_id, band_idx, band_key,
           COUNT(*) OVER (PARTITION BY band_idx, band_key) AS m
    FROM bands_all
  ) WHERE m <= 200
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y
    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id
)
"""
