"""DuckDB oracle SQL twins for every entry in ``workload*.py``.

Kept beside the Spark implementations so each pair evolves together. The
driver registers the parquet tables as views named ``region nation customer
supplier part orders lineitem events documents embeddings`` and runs these
verbatim at sf=0.01, comparing row counts, schemas, and order-insensitive
value hashes against the Spark results.

Shared sim-derivation fragment: the CDC envelope from ``events`` —
MUST stay in lockstep with :func:`etl_spark.sources.cdc.envelope_from_events`.
"""

ENVELOPE_CTE = """
env AS (
  SELECT CASE event_type WHEN 'signup' THEN 'INSERT'
                         WHEN 'error' THEN 'DELETE'
                         ELSE 'UPDATE' END AS op,
         'public.users' AS "table",
         CAST(event_id // 10 AS BIGINT) AS commit_lsn,
         CAST(event_id AS BIGINT) AS start_lsn,
         CAST(event_id % 10 AS BIGINT) AS tx_ordinal,
         user_id AS pk,
         value,
         props,
         ts
  FROM events
)
"""

ORACLES: dict[str, str] = {}

ORACLES["cdc_current_state"] = f"""
WITH {ENVELOPE_CTE},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY commit_lsn DESC, tx_ordinal DESC) AS rn
  FROM env
)
SELECT pk, op, commit_lsn, tx_ordinal, value, props
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
"""

ORACLES["cdc_changelog"] = f"""
WITH {ENVELOPE_CTE}
SELECT start_lsn, "table", op AS cdc_operation,
       CAST(CAST(commit_lsn AS DECIMAL(38,0)) * 18446744073709551616 + tx_ordinal AS VARCHAR) AS seq_dec,
       printf('%016x/%016x', commit_lsn, start_lsn) AS seq_hex
FROM env
"""

ORACLES["cdc_replica_identity"] = """
WITH env AS (
  SELECT CASE event_type WHEN 'signup' THEN 'INSERT'
                         WHEN 'error' THEN 'DELETE'
                         ELSE 'UPDATE' END AS op,
         CAST(event_id // 10 AS BIGINT) AS commit_lsn,
         CAST(event_id % 10 AS BIGINT) AS tx_ordinal,
         value,
         CASE WHEN event_type = 'error' THEN NULL
              WHEN event_type = 'purchase' THEN user_id + 1000000
              ELSE user_id END AS new_key,
         CASE WHEN event_type IN ('error', 'purchase') THEN user_id
              ELSE NULL END AS old_key
  FROM events
),
addressed AS (
  -- every event addressed at its destination identity (DELETEs via the
  -- key-only old image), original rows are sub_ordinal 1
  SELECT op, commit_lsn, tx_ordinal, value,
         COALESCE(new_key, old_key) AS user_id, 1 AS sub_ordinal
  FROM env
  UNION ALL
  -- identity-changing updates also emit DELETE(old identity), old-first
  SELECT 'DELETE', commit_lsn, tx_ordinal, value, old_key, 0
  FROM env
  WHERE op = 'UPDATE' AND old_key IS NOT NULL AND old_key <> new_key
),
ranked AS (
  SELECT user_id, op, commit_lsn, tx_ordinal, value,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY commit_lsn DESC, tx_ordinal DESC, sub_ordinal DESC
         ) AS rn
  FROM addressed
)
SELECT user_id, op, commit_lsn, tx_ordinal, value
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
"""

ORACLES["cdc_partition_root"] = f"""
WITH {ENVELOPE_CTE},
routed AS (
  -- leaves route to the published root; detached p3 (pk % 4 = 3) purged;
  -- the ROOT's row filter applies to every routed leaf. DELETEs carry no
  -- after image (value NULL) and pass the filter keyed by identity — a
  -- pk whose last event is a replicated DELETE must vanish from current
  -- state, not survive with its stale pre-delete row
  SELECT 'public.users' AS "table", op, commit_lsn, tx_ordinal, pk, value
  FROM env
  WHERE pk % 4 <> 3 AND (op = 'DELETE' OR value >= 10)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY commit_lsn DESC, tx_ordinal DESC) AS rn
  FROM routed
)
SELECT "table", pk, op, commit_lsn, tx_ordinal, value
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
"""

ORACLES["pg_copy_roundtrip"] = """
-- decode(encode(row)) == row: the oracle just selects the source values
SELECT c_custkey AS custkey,
       c_name || chr(9) || 'q\\z' || c_mktsegment AS payload,
       CASE WHEN c_custkey % 7 <> 0 THEN c_mktsegment END AS segment,
       c_acctbal AS acctbal
FROM customer
"""

ORACLES["pgoutput_decode"] = """
-- the binary encode/decode round trip must land exactly on the logical
-- envelope reconstructible from the source events
SELECT CASE event_type WHEN 'signup' THEN 'INSERT'
                       WHEN 'error' THEN 'DELETE'
                       ELSE 'UPDATE' END AS op,
       CAST(event_id // 10 AS BIGINT) AS commit_lsn,
       CAST(event_id % 10 AS BIGINT) AS tx_ordinal,
       CAST(event_id AS BIGINT) AS start_lsn,
       user_id AS pk,
       CASE WHEN event_type = 'error' THEN NULL
            WHEN event_type IN ('click', 'view') AND event_id % 5 = 0 THEN NULL
            ELSE value END AS value,
       CASE WHEN event_type IN ('error', 'purchase') THEN 'KEY'
            ELSE 'NONE' END AS before_kind
FROM events
"""

# The wire-decode gate lands on the SAME logical envelope: the copy-both
# framing (XLogData wrap, CopyData stream, keepalives, BEGIN-span xid
# recovery) must be invisible in the result.
ORACLES["pgoutput_wire_decode"] = ORACLES["pgoutput_decode"]

# The socket-decode gate (round 12) lands on the SAME logical envelope
# again: a real TCP hop (loopback server, startup handshake, CopyBoth,
# keepalive acks on the wire, FrameFilePump file queue) must also be
# invisible in the result.
ORACLES["pgoutput_socket_decode"] = ORACLES["pgoutput_decode"]
ORACLES["pgoutput_socket_tls_decode"] = ORACLES["pgoutput_decode"]

ORACLES["cdc_tx_metrics"] = f"""
WITH {ENVELOPE_CTE}
SELECT commit_lsn,
       count(*) AS n_events,
       CAST(sum(CASE WHEN op = 'INSERT' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
       CAST(sum(CASE WHEN op = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
       min(tx_ordinal) AS first_ordinal,
       max(tx_ordinal) AS last_ordinal
FROM env GROUP BY commit_lsn
"""

ORACLES["cdc_toast_lww"] = f"""
WITH {ENVELOPE_CTE},
masked AS (
  SELECT op, pk, commit_lsn, tx_ordinal, start_lsn,
         CASE WHEN op = 'UPDATE' AND start_lsn % 3 = 0 THEN NULL ELSE value END AS value
  FROM env
),
resolved AS (
  SELECT op, pk, commit_lsn, tx_ordinal, start_lsn,
         last_value(value IGNORE NULLS) OVER (
           PARTITION BY pk ORDER BY commit_lsn, tx_ordinal
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
  FROM masked
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY commit_lsn DESC, tx_ordinal DESC) AS rn
  FROM resolved
)
SELECT pk, op, start_lsn, value FROM ranked WHERE rn = 1 AND op <> 'DELETE'
"""

ORACLES["cdc_snapshot_handoff"] = f"""
WITH {ENVELOPE_CTE},
snap AS (
  SELECT c_custkey, c_acctbal AS acctbal,
         CAST(0 AS BIGINT) AS commit_lsn, CAST(0 AS BIGINT) AS tx_ordinal,
         'INSERT' AS op
  FROM customer
),
updates AS (
  SELECT pk + 1 AS c_custkey, value AS acctbal, commit_lsn, tx_ordinal, op
  FROM env
  WHERE op = 'UPDATE' AND pk + 1 IN (SELECT c_custkey FROM customer)
),
merged AS (
  SELECT * FROM snap UNION ALL SELECT * FROM updates
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY c_custkey ORDER BY commit_lsn DESC, tx_ordinal DESC) AS rn
  FROM merged
)
SELECT c_custkey, acctbal, commit_lsn, tx_ordinal
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
"""

ORACLES["cdc_schema_asof"] = f"""
WITH {ENVELOPE_CTE},
registry AS (
  SELECT n_nationkey * 100 AS snapshot_lsn, n_name AS schema_version FROM nation
)
SELECT e.start_lsn, e.commit_lsn,
       (SELECT CAST(max(r.snapshot_lsn) AS BIGINT) FROM registry r WHERE r.snapshot_lsn <= e.commit_lsn) AS snapshot_lsn,
       (SELECT r.schema_version FROM registry r WHERE r.snapshot_lsn <= e.commit_lsn
        ORDER BY r.snapshot_lsn DESC LIMIT 1) AS schema_version
FROM env e
"""

ORACLES["cdc_truncate_reset"] = f"""
WITH {ENVELOPE_CTE},
env2 AS (
  SELECT CASE WHEN start_lsn % 500 = 250 THEN 'TRUNCATE' ELSE op END AS op,
         "table", commit_lsn, start_lsn, tx_ordinal, pk, value
  FROM env
),
trunc AS (
  SELECT "table" AS t_table,
         max(CAST(commit_lsn AS DECIMAL(38,0)) * 18446744073709551616 + tx_ordinal) AS trunc_seq
  FROM env2 WHERE op = 'TRUNCATE' GROUP BY "table"
),
alive AS (
  SELECT e.* FROM env2 e LEFT JOIN trunc t ON e."table" = t.t_table
  WHERE t.trunc_seq IS NULL
     OR CAST(e.commit_lsn AS DECIMAL(38,0)) * 18446744073709551616 + e.tx_ordinal > t.trunc_seq
     OR e.op IN ('TRUNCATE', 'RELATION', 'BEGIN', 'COMMIT')
),
rows_only AS (
  SELECT * FROM alive WHERE op IN ('INSERT', 'UPDATE', 'DELETE')
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY commit_lsn DESC, tx_ordinal DESC) AS rn
  FROM rows_only
)
SELECT pk, op, start_lsn, value FROM ranked WHERE rn = 1 AND op <> 'DELETE'
"""

ORACLES["cdc_pk_change"] = f"""
WITH {ENVELOPE_CTE},
env2 AS (
  SELECT *, CASE WHEN op = 'UPDATE' AND start_lsn % 7 = 0 THEN pk - 1 ELSE pk END AS before_pk
  FROM env
),
expanded AS (
  SELECT CASE WHEN v.variant = 0 THEN e.before_pk ELSE e.pk END AS pk,
         CASE WHEN v.variant = 0 THEN 'DELETE' ELSE e.op END AS op,
         e.start_lsn, e.commit_lsn, e.tx_ordinal, e.value,
         v.variant AS sub_ordinal
  FROM env2 e
  CROSS JOIN (SELECT 0 AS variant UNION ALL SELECT 1) v
  WHERE v.variant = 1
     OR (e.op = 'UPDATE' AND e.before_pk IS NOT NULL AND e.before_pk <> e.pk)
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY pk ORDER BY commit_lsn DESC, tx_ordinal DESC, sub_ordinal DESC) AS rn
  FROM expanded
)
SELECT pk, op, start_lsn, sub_ordinal, value FROM ranked WHERE rn = 1 AND op <> 'DELETE'
"""

# ---------------------------------------------------------------------------
# Text / dedup / similarity oracles
# ---------------------------------------------------------------------------

TOKS_CTE = r"""
tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
)
"""

SHINGLE_CTE = r"""
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 3
      THEN list_transform(range(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [] END)) AS shingle
  FROM tok
)
"""

ORACLES["dedup_exact"] = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
       count(*) AS n_docs,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id
FROM documents GROUP BY 1
"""

ORACLES["dedup_minhash_lsh"] = f"""
WITH {TOKS_CTE}, {SHINGLE_CTE},
mh AS (
  SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
  FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) seeds
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // 4 AS band,
         md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
  FROM mh GROUP BY doc_id, seed // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band, band_hash)
  WHERE a.doc_id < b.doc_id
),
ss AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id),
verified AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(sa.s, sb.s)) AS inter,
         len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS union_
  FROM cand c JOIN ss sa ON sa.doc_id = c.id_a JOIN ss sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, round(inter / greatest(union_, 1), 6) AS jaccard
FROM verified WHERE inter / greatest(union_, 1) >= 0.3
"""

ORACLES["dedup_ngram_jaccard"] = f"""
WITH {TOKS_CTE}, {SHINGLE_CTE},
pairs AS (
  SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b
  FROM documents a WHERE EXISTS (SELECT 1 FROM documents b WHERE b.doc_id = a.doc_id + 1)
),
ss AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id)
SELECT p.id_a, p.id_b,
       len(list_intersect(sa.s, sb.s)) AS inter,
       len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS union_,
       round(len(list_intersect(sa.s, sb.s)) /
             greatest(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 1), 6) AS jaccard
FROM pairs p JOIN ss sa ON sa.doc_id = p.id_a JOIN ss sb ON sb.doc_id = p.id_b
"""

SIMHASH_CTE = f"""
{TOKS_CTE},
tokd AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM tok),
th AS (SELECT doc_id, md5(tok) AS h FROM tokd),
bits AS (SELECT doc_id, h, unnest(range(0, 32)) AS bit FROM th),
votes AS (
  SELECT doc_id, bit,
         CASE WHEN ((instr('0123456789abcdef', substring(h, CAST(bit // 4 AS INT) + 1, 1)) - 1)
                    // CAST(pow(2, bit % 4) AS INT)) % 2 = 1
              THEN 1 ELSE -1 END AS v
  FROM bits
),
sums AS (SELECT doc_id, bit, sum(v) AS s FROM votes GROUP BY doc_id, bit),
fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
  FROM sums GROUP BY doc_id
)
"""

ORACLES["dedup_simhash"] = f"""
WITH {SIMHASH_CTE}
SELECT doc_id, simhash FROM fp
"""

ORACLES["dedup_simhash_pairs"] = f"""
WITH {SIMHASH_CTE},
blocks AS (
  SELECT doc_id, simhash, unnest(range(0, 4)) AS blk FROM fp
),
blocks2 AS (
  SELECT doc_id, simhash, blk, (simhash >> CAST(blk * 8 AS INT)) & 255 AS blk_val FROM blocks
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.simhash AS sh_a, b.simhash AS sh_b
  FROM blocks2 a JOIN blocks2 b USING (blk, blk_val)
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""

ORACLES["dedup_simhash_clusters"] = f"""
-- clique-aggregated simhash: one row per distinct fingerprint; neighbor
-- stats by brute-force fp×fp (distinct-fingerprint-sized — the Spark side
-- uses the pigeonhole join; both compute the same Hamming-≤3 adjacency)
WITH {SIMHASH_CTE},
cliq AS (
  SELECT simhash, CAST(count(*) AS BIGINT) AS n_docs, min(doc_id) AS rep_id
  FROM fp GROUP BY simhash
),
prev AS (
  SELECT simhash,
         array_to_string(
           list_transform(list_slice(list(doc_id ORDER BY doc_id), 1, 5),
                          x -> CAST(x AS VARCHAR)), ',') AS members_preview
  FROM fp GROUP BY simhash
),
nstats AS (
  SELECT a.simhash AS simhash,
         CAST(count(*) AS BIGINT) AS n_neighbor_fps,
         CAST(sum(b.n_docs) AS BIGINT) AS neighbor_docs
  FROM cliq a JOIN cliq b
    ON a.simhash <> b.simhash
   AND bit_count(xor(a.simhash, b.simhash)) <= 3
  GROUP BY a.simhash
)
SELECT c.simhash, c.n_docs,
       CAST(c.n_docs * (c.n_docs - 1) // 2 AS BIGINT) AS intra_pairs,
       c.rep_id, p.members_preview,
       COALESCE(n.n_neighbor_fps, 0) AS n_neighbor_fps,
       COALESCE(n.neighbor_docs, 0) AS neighbor_docs
FROM cliq c JOIN prev p USING (simhash)
LEFT JOIN nstats n ON n.simhash = c.simhash
"""


ORACLES["vocab_topk_coverage"] = r"""
-- vocabulary prep: global token counts, top-200 by (count desc, term
-- asc), cumulative corpus coverage; mirrors TakeOrderedAndProject + the
-- 200-row cumulative window
WITH term AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS term FROM documents
),
cnt AS (
  SELECT term, CAST(count(*) AS BIGINT) AS n FROM term WHERE term <> '' GROUP BY 1
),
total AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM cnt),
ranked AS (
  SELECT term, n, CAST(row_number() OVER (ORDER BY n DESC, term ASC) AS INT) AS rank
  FROM cnt
)
SELECT rank, term, n,
       round(CAST(sum(n) OVER (ORDER BY n DESC, term ASC
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / total.n_total, 6) AS cum_coverage
FROM ranked, total WHERE rank <= 200
"""

ORACLES["docs_length_histogram"] = r"""
-- power-of-two token-length histogram; buckets via integer bit length
-- (length(bin(n)) - 1 == floor(log2)), never float log2
WITH tok AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
n_tok AS (
  SELECT doc_id, CAST(len(list_filter(toks, t -> t <> '')) AS INT) AS n_tokens FROM tok
),
b AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens > 0 THEN CAST(length(bin(n_tokens)) - 1 AS INT)
              ELSE -1 END AS bucket
  FROM n_tok
),
hist AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens
  FROM b GROUP BY bucket
),
total AS (SELECT CAST(sum(n_docs) AS BIGINT) AS all_docs FROM hist)
SELECT bucket,
       CASE WHEN bucket >= 0 THEN CAST(1 AS BIGINT) << bucket ELSE 0 END AS bucket_lo,
       n_docs, total_tokens,
       round(CAST(n_docs AS DOUBLE) / total.all_docs, 6) AS doc_share,
       round(CAST(sum(n_docs) OVER (ORDER BY bucket
                                    ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / total.all_docs, 6) AS cum_doc_share
FROM hist, total
"""


ORACLES["ann_kmeans_step"] = """
-- one Lloyd iteration: per-label decimal-exact centroids, argmin squared
-- L2 (ordered fold), ties by cell ascending
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings),
comp AS (
  SELECT label, unnest(ev) AS v, generate_subscripts(ev, 1) AS pos FROM e
),
centc AS (SELECT label, pos,
                 CAST(sum(CAST(v AS DECIMAL(38,15))) AS DOUBLE) / count(v) AS c
          FROM comp GROUP BY label, pos),
cents AS (SELECT label, list(c ORDER BY pos) AS cvec FROM centc GROUP BY label),
scored AS (
  SELECT e.vec_id, e.label AS cell_prev, ct.label AS cell,
         list_reduce(
           list_prepend(0.0,
             list_transform(list_zip(e.ev, ct.cvec),
                            x -> (x[1] - x[2]) * (x[1] - x[2]))),
           (x, y) -> x + y) AS dist
  FROM e CROSS JOIN cents ct
),
best AS (
  SELECT vec_id, cell_prev, cell, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist ASC, cell ASC) AS rn
  FROM scored
)
SELECT vec_id, cell_prev, cell AS cell_new, round(dist, 6) AS dist,
       (cell_prev <> cell) AS moved
FROM best WHERE rn = 1
"""


ORACLES["docs_bigram_logprob"] = r"""
-- bigram LM with add-one smoothing; decimal-quantized contributions so
-- the per-doc sum is order-independent cross-engine
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ts
  FROM documents
),
big AS (
  SELECT doc_id, unnest(
    list_transform(range(1, greatest(len(ts), 1)),
                   i -> ts[i] || chr(31) || ts[i + 1])) AS bg
  FROM tok
),
tf AS (SELECT doc_id, bg, CAST(count(*) AS BIGINT) AS tf FROM big GROUP BY 1, 2),
cnt AS (SELECT bg, CAST(sum(tf) AS BIGINT) AS cbg FROM tf GROUP BY 1),
ctx AS (
  SELECT string_split(bg, chr(31))[1] AS w1, CAST(sum(cbg) AS BIGINT) AS cw1
  FROM cnt GROUP BY 1
),
vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM cnt),
scored AS (
  SELECT tf.doc_id,
         CAST(sum(tf.tf) AS BIGINT) AS n_bigrams,
         sum(CAST(round(tf.tf * -ln(CAST(cnt.cbg + 1 AS DOUBLE) / (ctx.cw1 + vsize.v)), 6)
                  AS DECIMAL(28,6))) AS neg_logprob_sum
  FROM tf
  JOIN cnt USING (bg)
  JOIN ctx ON ctx.w1 = string_split(tf.bg, chr(31))[1]
  CROSS JOIN vsize
  GROUP BY tf.doc_id
)
SELECT doc_id, n_bigrams,
       round(CAST(neg_logprob_sum AS DOUBLE) / n_bigrams, 6) AS avg_neg_logprob,
       (CAST(neg_logprob_sum AS DOUBLE) / n_bigrams <= 5.0) AS keep_lm
FROM scored
"""


ORACLES["events_anomaly_mad"] = """
-- robust outlier gate: median + MAD per type, 3*1.4826*MAD band;
-- quantile_cont interpolates exactly like Spark's percentile
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
),
mad AS (
  SELECT e.event_type, any_value(m.med) AS med,
         quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type)
  GROUP BY e.event_type
)
SELECT e.event_type,
       count(*) AS n,
       round(any_value(m.med), 6) AS med,
       round(any_value(m.mad), 6) AS mad,
       CAST(sum(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * m.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(CAST(sum(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * m.mad
                           THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS outlier_rate
FROM events e JOIN mad m USING (event_type)
GROUP BY e.event_type
"""

ORACLES["docs_quality_calibration"] = r"""
-- per-language percentile ladder of the heuristic quality score + keep
-- stats at a global 0.5 cutoff (same feature algebra as text_quality)
WITH tok AS (
  SELECT doc_id, lang, text, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
feat AS (
  SELECT lang,
         least(len(toks) / 100.0, 1.0) * 0.4
         + (len(list_filter(toks, t -> t IN ('the','a','and','of','to','in','is')))
            / greatest(len(toks), 1)) * 0.3
         + (1.0 - length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                  / greatest(length(text), 1)) * 0.3 AS q
  FROM tok
)
SELECT lang,
       count(*) AS n_docs,
       round(quantile_cont(q, 0.10), 6) AS p10,
       round(quantile_cont(q, 0.25), 6) AS p25,
       round(quantile_cont(q, 0.50), 6) AS p50,
       round(quantile_cont(q, 0.75), 6) AS p75,
       round(quantile_cont(q, 0.90), 6) AS p90,
       CAST(sum(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       round(CAST(sum(CASE WHEN q >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS keep_rate
FROM feat GROUP BY lang
"""


ORACLES["docs_ngram_novelty"] = f"""
-- novel-shingle fraction per doc: first occurrence = min doc_id over the
-- corpus shingle table (distinct shingles per doc)
WITH {TOKS_CTE}, {SHINGLE_CTE},
first AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       round(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS novelty
FROM sh s JOIN first f USING (shingle)
GROUP BY s.doc_id
"""


ORACLES["docs_boilerplate_coverage"] = f"""
-- boilerplate coverage: token positions covered by 3-gram shingles
-- repeating across >= 3 distinct docs (exact interval union over
-- positions via distinct covered-position count)
WITH {TOKS_CTE},
pos AS (
  SELECT doc_id, i - 1 AS p, md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS dig
  FROM tok, UNNEST(CASE WHEN len(toks) >= 3 THEN range(1, len(toks) - 1)
                        ELSE [] END) AS t(i)
),
spread AS (
  SELECT dig, count(DISTINCT doc_id) AS n_docs FROM pos GROUP BY dig
),
boiler AS (SELECT dig FROM spread WHERE n_docs >= 3),
cov AS (
  SELECT doc_id, CAST(count(DISTINCT p + u) AS BIGINT) AS n_covered
  FROM pos JOIN boiler USING (dig), UNNEST([0, 1, 2]) AS o(u)
  GROUP BY doc_id
),
base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM tok)
SELECT b.doc_id, b.n_tokens,
       COALESCE(c.n_covered, 0) AS n_covered,
       round(COALESCE(c.n_covered, 0) / CAST(b.n_tokens AS DOUBLE), 6) AS covered_frac,
       COALESCE(c.n_covered, 0) / CAST(b.n_tokens AS DOUBLE) < 0.5 AS keep
FROM base b LEFT JOIN cov c USING (doc_id)
"""

ORACLES["events_ks_drift"] = """
-- exact two-sample KS per event type (event_id-parity split): per-value
-- counts, ordered cumulative fractions, max absolute CDF gap
WITH per_val AS (
  SELECT event_type, value,
         CAST(sum(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN event_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_b
  FROM events GROUP BY event_type, value
),
cum AS (
  SELECT event_type,
         CAST(sum(n_a) OVER (PARTITION BY event_type ORDER BY value
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / greatest(sum(n_a) OVER (PARTITION BY event_type), 1) AS f_a,
         CAST(sum(n_b) OVER (PARTITION BY event_type ORDER BY value
                             ROWS UNBOUNDED PRECEDING) AS DOUBLE)
           / greatest(sum(n_b) OVER (PARTITION BY event_type), 1) AS f_b,
         sum(n_a) OVER (PARTITION BY event_type) AS na,
         sum(n_b) OVER (PARTITION BY event_type) AS nb
  FROM per_val
),
ks AS (
  SELECT event_type,
         CAST(any_value(na) AS BIGINT) AS n_a,
         CAST(any_value(nb) AS BIGINT) AS n_b,
         max(abs(f_a - f_b)) AS ks_raw
  FROM cum GROUP BY event_type
)
SELECT event_type, n_a, n_b,
       round(ks_raw, 6) AS ks,
       round(1.36 * sqrt(CAST(n_a + n_b AS DOUBLE) / (n_a * n_b)), 6) AS crit_95,
       (ks_raw > 1.36 * sqrt(CAST(n_a + n_b AS DOUBLE) / (n_a * n_b))) AS drifted
FROM ks
"""


def _langid_scores_sql() -> str:
    from etl_spark.operators.text import LANG_PROFILES
    parts = []
    for lang, words in sorted(LANG_PROFILES.items()):
        lst = ", ".join(f"'{w}'" for w in words)
        parts.append(
            f"len(list_filter(toks, t -> t IN ({lst}))) / greatest(len(toks), 1) AS s_{lang}"
        )
    return ", ".join(parts)

ORACLES["text_langid"] = f"""
WITH {TOKS_CTE},
scored AS (SELECT doc_id, {_langid_scores_sql()} FROM tok),
best AS (SELECT *, greatest(s_de, s_en, s_es, s_fr) AS b FROM scored)
SELECT doc_id,
       CASE WHEN s_de = b THEN 'de' WHEN s_en = b THEN 'en'
            WHEN s_es = b THEN 'es' WHEN s_fr = b THEN 'fr' END AS lang_pred,
       round(s_de, 6) AS score_de, round(s_en, 6) AS score_en,
       round(s_es, 6) AS score_es, round(s_fr, 6) AS score_fr
FROM best
"""

ORACLES["text_quality"] = r"""
WITH tok AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
feat AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         length(text) / greatest(len(toks), 1) AS mean_word_len,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / greatest(length(text), 1) AS punct_ratio,
         len(list_filter(toks, t -> t IN ('the','a','and','of','to','in','is')))
           / greatest(len(toks), 1) AS stopword_ratio
  FROM tok
)
SELECT doc_id, n_tokens,
       round(mean_word_len, 6) AS mean_word_len,
       round(punct_ratio, 6) AS punct_ratio,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(least(n_tokens / 100.0, 1.0) * 0.4 + stopword_ratio * 0.3
             + (1.0 - punct_ratio) * 0.3, 6) AS quality
FROM feat
"""

ORACLES["text_tokens"] = r"""
WITH tok AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
)
SELECT doc_id,
       len(toks) AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]')) AS n_bpe_pieces,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_est
FROM tok
"""

ORACLES["corpus_pack_sequences"] = r"""
WITH tok AS (
  SELECT doc_id, lang, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
),
packed AS (
  SELECT doc_id, lang, CAST(doc_id % 8 AS INT) AS shard, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang, doc_id % 8 ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM tok
)
SELECT doc_id, lang, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id,
       CAST((cum - n_tokens) % 2048 AS BIGINT) AS seq_offset
FROM packed
"""

ORACLES["text_fingerprint"] = r"""
SELECT doc_id, md5(text) AS fp_exact,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp_norm
FROM documents
"""

ORACLES["ann_cosine_topk"] = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.query_id, e.vec_id,
         list_reduce(list_transform(list_zip(e.ev, q.qv), x -> x[1] * x[2]), (x, y) -> x + y) / (sqrt(list_reduce(list_transform(e.ev, v -> v * v), (x, y) -> x + y)) * sqrt(list_reduce(list_transform(q.qv, v -> v * v), (x, y) -> x + y))) AS sim
  FROM (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings) e CROSS JOIN q
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(sim, 6) AS sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""

ORACLES["embed_near_dup"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_reduce(list_transform(list_zip(a.ev, b.ev), x -> x[1] * x[2]), (x, y) -> x + y) / (sqrt(list_reduce(list_transform(a.ev, v -> v * v), (x, y) -> x + y)) * sqrt(list_reduce(list_transform(b.ev, v -> v * v), (x, y) -> x + y))) AS sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(sim, 6) AS sim FROM scored WHERE sim >= 0.35
"""

# ---------------------------------------------------------------------------
# Relational / decode oracles
# ---------------------------------------------------------------------------

_D = "CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))"

ORACLES["q1_pricing_summary"] = f"""
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
         sum(CAST(l_quantity AS DECIMAL(12,2))) AS sum_qty,
         sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS sum_base_price,
         sum({_D}) AS sum_disc_price,
         sum({_D} * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS sum_charge,
         count(*) AS count_order
  FROM lineitem
  WHERE l_shipdate < TIMESTAMP '1998-09-03'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       CAST(sum_qty AS DOUBLE) AS sum_qty,
       CAST(sum_base_price AS DOUBLE) AS sum_base_price,
       CAST(sum_disc_price AS DOUBLE) AS sum_disc_price,
       CAST(sum_charge AS DOUBLE) AS sum_charge,
       CAST(sum_qty AS DOUBLE) / count_order AS avg_qty,
       CAST(sum_base_price AS DOUBLE) / count_order AS avg_price,
       count_order
FROM agg
"""

ORACLES["q3_shipping_priority"] = f"""
WITH base AS (
  SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority, sum({_D}) AS revenue
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '1995-03-15'
    AND l.l_shipdate > TIMESTAMP '1995-03-15'
  GROUP BY 1, 2, 3
  ORDER BY revenue DESC, l_orderkey ASC
  LIMIT 10
)
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_orderpriority,
       CAST(revenue AS DOUBLE) AS revenue
FROM base
"""

ORACLES["q5_local_supplier_volume"] = f"""
SELECT n.n_name, CAST(sum({_D}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders o ON l_orderkey = o.o_orderkey
JOIN supplier s ON l_suppkey = s.s_suppkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE c.c_nationkey = s.s_nationkey
  AND r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1994-01-01'
  AND o.o_orderdate < TIMESTAMP '1995-01-01'
GROUP BY n.n_name
"""

ORACLES["q6_revenue_forecast"] = """
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""

ORACLES["topk_orders_per_customer"] = """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""

ORACLES["sessionize_events"] = """
WITH s AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER w AS prev_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s2 AS (
  SELECT *,
         CASE WHEN prev_ts IS NULL
                OR epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000 THEN 1 ELSE 0 END AS new_session
  FROM s
),
s3 AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM s2
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       count(*) AS n_events,
       min(event_id) AS first_event,
       max(event_id) AS last_event,
       (epoch_ns(max(ts)) - epoch_ns(min(ts))) // 1000000000 AS duration_sec
FROM s3 GROUP BY user_id, session_idx
"""

ORACLES["events_hourly_rollup"] = """
SELECT (epoch_ns(ts) // 1000000000 // 3600) * 3600 AS hour_epoch, event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""

ORACLES["events_gapfill_locf"] = """
WITH roll AS (
  SELECT (epoch_ns(ts) // 1000000000 // 3600) * 3600 AS hour_epoch, event_type,
         count(*) AS n,
         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2
),
rng AS (SELECT min(hour_epoch) AS lo, max(hour_epoch) AS hi FROM roll),
grid AS (
  SELECT t.event_type, g.hour_epoch
  FROM (SELECT DISTINCT event_type FROM roll) t,
       (SELECT unnest(range(rng.lo, rng.hi + 3600, 3600)) AS hour_epoch FROM rng) g
)
SELECT grid.event_type, grid.hour_epoch,
       CAST(coalesce(roll.n, 0) AS BIGINT) AS n,
       last_value(roll.sum_value IGNORE NULLS) OVER (
         PARTITION BY grid.event_type ORDER BY grid.hour_epoch
         ROWS UNBOUNDED PRECEDING) AS sum_value_locf,
       CAST(roll.n IS NULL AS INT) AS is_gap
FROM grid LEFT JOIN roll USING (event_type, hour_epoch)
"""

ORACLES["pg_decode_roundtrip"] = r"""
WITH src AS (SELECT * FROM lineitem WHERE l_linenumber = 1),
rendered AS (
  SELECT l_orderkey, l_quantity, l_linenumber, l_suppkey,
         CASE WHEN l_orderkey % 2 = 0 THEN 't' ELSE 'f' END AS bool_txt,
         CAST(l_partkey AS VARCHAR) AS int_txt,
         CAST(CAST(l_extendedprice AS DECIMAL(18,6)) AS VARCHAR) AS num_txt,
         printf('%016x', l_partkey) AS bytea_hex
  FROM src
)
SELECT l_orderkey,
       bool_txt = 't' AS v_bool,
       CAST(int_txt AS BIGINT) AS v_int,
       l_quantity AS v_float,
       CAST(CAST(num_txt AS DECIMAL(38,9)) AS DOUBLE) AS v_num,
       lower(bytea_hex) AS v_bytea_hex,
       CAST((l_linenumber % 24) AS BIGINT) * 3600000000 + 1800000000
         + CAST((l_suppkey % 60) AS BIGINT) * 1000000 + 500000 AS v_time_micros
FROM rendered
"""

ORACLES["pg_array_roundtrip"] = """
SELECT l_orderkey,
       CAST(l_orderkey AS VARCHAR) || ',' || CAST(l_partkey AS VARCHAR) || ',NULL' AS arr_canonical,
       CAST(3 AS INT) AS arr_len
FROM lineitem WHERE l_linenumber = 1
"""

# ---------------------------------------------------------------------------
# Semi/anti/as-of joins + multi-dim rollup (workload_relational additions)
# ---------------------------------------------------------------------------

ORACLES["q4_order_priority"] = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""

ORACLES["q10_returned_items"] = """
SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

ORACLES["q14_type_revenue_share"] = """
SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'ECONOMY'
                 THEN CAST(l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))
                 ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
       / CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE)
       AS economy_share_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
"""

ORACLES["q18_large_volume_customers"] = """
WITH big AS (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 300
)
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(total_qty AS DOUBLE) AS total_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""

ORACLES["q22_dormant_customers"] = """
SELECT c_custkey, c_name, CAST(c_acctbal AS DOUBLE) AS c_acctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-06-01')
"""

ORACLES["events_rollup_multidim"] = """
SELECT event_type,
       CAST((epoch_ns(ts) // 1000000000 // 86400) * 86400 AS DOUBLE) AS day_epoch,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       CAST(GROUPING(event_type, day_epoch) AS INT) AS gid
FROM events
GROUP BY ROLLUP (event_type, day_epoch)
"""

ORACLES["asof_click_attribution"] = """
WITH p AS (
  SELECT event_id, user_id, ts, CAST(value AS DECIMAL(12,2)) AS purchase_value
  FROM events WHERE event_type = 'purchase'
),
c AS (
  SELECT user_id, ts, event_id AS click_event_id
  FROM events WHERE event_type = 'click'
)
SELECT p.event_id, p.user_id,
       CAST(p.purchase_value AS DOUBLE) AS purchase_value,
       CAST(c.click_event_id AS DOUBLE) AS click_event_id,
       CAST((epoch_ns(p.ts) - epoch_ns(c.ts)) // 1000000000 AS DOUBLE) AS gap_sec
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
"""

# ---------------------------------------------------------------------------
# Multimodal plumbing (workload_mm) — ASCII text ⇒ byte == char, so the
# byte-histogram features mirror exactly via ord(substr(...))
# ---------------------------------------------------------------------------

ORACLES["mm_features"] = """
WITH codes AS (
  SELECT doc_id AS media_id,
         CAST(length(text) AS INT) AS n_bytes,
         md5(text) AS content_hash,
         [ord(substr(text, x, 1)) % 8 for x in range(1, length(text)+1)] AS cs,
         greatest(length(text), 1) AS total
  FROM documents
)
SELECT media_id, n_bytes, content_hash,
       -- round_even = Python round() (banker's): ties like 4/512 must agree
       round_even(len(list_filter(cs, c -> c = 0)) / total, 6) AS f0,
       round_even(len(list_filter(cs, c -> c = 1)) / total, 6) AS f1,
       round_even(len(list_filter(cs, c -> c = 2)) / total, 6) AS f2,
       round_even(len(list_filter(cs, c -> c = 3)) / total, 6) AS f3,
       round_even(len(list_filter(cs, c -> c = 4)) / total, 6) AS f4,
       round_even(len(list_filter(cs, c -> c = 5)) / total, 6) AS f5,
       round_even(len(list_filter(cs, c -> c = 6)) / total, 6) AS f6,
       round_even(len(list_filter(cs, c -> c = 7)) / total, 6) AS f7
FROM codes
"""

ORACLES["mm_frame_plan"] = """
WITH vids AS (
  SELECT doc_id AS media_id,
         greatest(CAST(n_chars * 10 // 1000 AS INT) - 1, 0) AS max_idx
  FROM documents WHERE doc_id % 3 = 2
)
SELECT media_id,
       CAST(u.frame_idx AS INT) AS frame_idx,
       CAST(u.frame_idx * 1000 AS BIGINT) AS frame_ts_ms
FROM vids, unnest(range(0, max_idx + 1)) AS u(frame_idx)
"""

# IVF ANN is deterministic given the data (cells = labels, centroids = cell
# means, fixed nprobe) — same double-widened left-fold cosine as
# ann_cosine_topk, so the "approximate" index has an EXACT oracle.
_COS = (
    "list_reduce(list_transform(list_zip({a}, {b}), x -> x[1] * x[2]), (x, y) -> x + y)"
    " / (sqrt(list_reduce(list_transform({a}, v -> v * v), (x, y) -> x + y))"
    " * sqrt(list_reduce(list_transform({b}, v -> v * v), (x, y) -> x + y)))"
)

ORACLES["ann_ivf_topk"] = f"""
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings),
comp AS (
  SELECT label, i.ord AS ord, avg(ev[i.ord]) AS m
  FROM e, (SELECT unnest(range(1, (SELECT max(len(ev)) FROM e) + 1)) AS ord) i
  GROUP BY label, i.ord
),
cents AS (SELECT label AS cell_id, list(m ORDER BY ord) AS cvec FROM comp GROUP BY label),
q AS (SELECT vec_id AS query_id, ev AS qvec FROM e WHERE vec_id < 10),
probes AS (
  SELECT query_id, cell_id, qvec,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY {_COS.format(a="qvec", b="cvec")} DESC, cell_id ASC) AS pr
  FROM q CROSS JOIN cents
),
scored AS (
  SELECT p.query_id, e.vec_id, {_COS.format(a="e.ev", b="p.qvec")} AS sim
  FROM probes p JOIN e ON e.label = p.cell_id
  WHERE p.pr <= 2
),
ranked AS (
  SELECT query_id, vec_id, sim,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(sim, 6) AS sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""

ORACLES["dedup_keep_list"] = f"""
WITH {TOKS_CTE}, {SHINGLE_CTE},
keepers AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents)
  GROUP BY fp
),
mh AS (
  SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
  FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) seeds
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // 4 AS band,
         md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
  FROM mh GROUP BY doc_id, seed // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band, band_hash)
  WHERE a.doc_id < b.doc_id
),
ss AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id),
near AS (
  SELECT DISTINCT c.id_b AS doc_id
  FROM cand c JOIN ss sa ON sa.doc_id = c.id_a JOIN ss sb ON sb.doc_id = c.id_b
  WHERE len(list_intersect(sa.s, sb.s))
        / greatest(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 1) >= 0.5
)
SELECT doc_id FROM keepers WHERE doc_id NOT IN (SELECT doc_id FROM near)
"""

ORACLES["events_json_props"] = """
SELECT CAST((CAST(props->>'$.k' AS INT)) // 10 AS INT) AS k_decile,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
       CAST(min(CAST(props->>'$.k' AS INT)) AS INT) AS min_k,
       CAST(max(CAST(props->>'$.k' AS INT)) AS INT) AS max_k
FROM events GROUP BY 1
"""

# ---------------------------------------------------------------------------
# TPC-H breadth batch 2 (q7/q8/q13/q15/q17/q19) + windows + set ops
# ---------------------------------------------------------------------------

_DISC = ("CAST(l_extendedprice AS DECIMAL(12,2))"
         " * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))")

ORACLES["q7_volume_shipping"] = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       CAST(sum({_DISC}) AS DOUBLE) AS volume
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""

ORACLES["q8_market_share"] = f"""
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       CAST(sum(CASE WHEN n_name = 'NATION_3' THEN {_DISC}
                     ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
       / CAST(sum({_DISC}) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'PROMO'
GROUP BY 1
"""

ORACLES["q13_customer_distribution"] = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority <> '1-URGENT') o
    ON c_custkey = o.o_custkey
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count
"""

ORACLES["q15_top_supplier"] = f"""
WITH rev AS (
  SELECT l_suppkey, sum({_DISC}) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
),
ranked AS (SELECT *, rank() OVER (ORDER BY total_rev DESC) AS rnk FROM rev)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
FROM ranked JOIN supplier ON l_suppkey = s_suppkey
WHERE rnk = 1
"""

ORACLES["q17_small_quantity_revenue"] = """
WITH cuts AS (
  SELECT l_partkey AS ap_partkey, avg(l_quantity) * 0.2 AS qty_cut
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN cuts ON l_partkey = ap_partkey
WHERE p_brand = 'Brand#1' AND l_quantity < qty_cut
"""

ORACLES["q19_discounted_revenue"] = f"""
SELECT CAST(sum({_DISC}) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""

ORACLES["events_running_total"] = """
SELECT user_id, event_id,
       CAST(sum(CAST(value AS DECIMAL(12,2))) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_value,
       CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w7 AS DOUBLE)
         / count(*) OVER w7 AS mov_avg_7,
       CAST(row_number() OVER (
         PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS seq_in_user
FROM events WHERE event_type = 'purchase'
WINDOW w7 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""

ORACLES["set_ops_customers"] = """
WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
o96 AS (
  SELECT DISTINCT o_custkey AS c_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
)
SELECT 'intersect' AS set_op, count(*) AS n FROM (SELECT * FROM building INTERSECT SELECT * FROM o96)
UNION ALL
SELECT 'except', count(*) FROM (SELECT * FROM building EXCEPT SELECT * FROM o96)
UNION ALL
SELECT 'union', count(*) FROM (SELECT * FROM building UNION SELECT * FROM o96)
"""

ORACLES["q21_waiting_orders"] = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
)
SELECT s_suppkey, s_name, count(*) AS numwait
FROM late l1
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM late l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_suppkey, s_name
"""

ORACLES["dedup_components"] = f"""
WITH RECURSIVE {TOKS_CTE.strip().rstrip()}, {SHINGLE_CTE.strip()},
mh AS (
  SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
  FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) seeds
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // 4 AS band,
         md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
  FROM mh GROUP BY doc_id, seed // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band, band_hash)
  WHERE a.doc_id < b.doc_id
),
ss AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id),
edges AS (
  SELECT c.id_a AS a, c.id_b AS b
  FROM cand c JOIN ss sa ON sa.doc_id = c.id_a JOIN ss sb ON sb.doc_id = c.id_b
  WHERE len(list_intersect(sa.s, sb.s))
        / greatest(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 1) >= 0.5
),
und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.node
)
SELECT node AS doc_id, min(r) AS component FROM reach GROUP BY node
"""

ORACLES["events_pivot_daily"] = """
SELECT (epoch_ns(ts) // 1000000000 // 86400) * 86400 AS day_epoch,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view
FROM events GROUP BY 1
"""

ORACLES["events_error_after_purchase"] = """
SELECT p.user_id, p.event_id AS purchase_id, e.event_id AS error_id,
       (epoch_ns(e.ts) - epoch_ns(p.ts)) // 1000000000 AS lag_sec
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'error') e USING (user_id)
WHERE e.ts > p.ts AND epoch_ns(e.ts) - epoch_ns(p.ts) <= 14400000000000
"""

ORACLES["sketch_distinct_users"] = """
WITH hashed AS (
  SELECT DISTINCT event_type,
         list_sum([(instr('0123456789abcdef', substring(md5(CAST(user_id AS VARCHAR)), x, 1)) - 1)
                   * power(16, 13 - x) for x in range(1, 14)])
           / 4503599627370496.0 AS u
  FROM events
),
topk AS (
  SELECT event_type, u,
         row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
  FROM hashed
),
agg AS (
  SELECT event_type, max(u) AS kth, count(*) AS n_sketch
  FROM topk WHERE rn <= 64 GROUP BY event_type
),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct FROM events GROUP BY event_type
)
SELECT a.event_type,
       round(CASE WHEN n_sketch < 64 THEN CAST(n_sketch AS DOUBLE) ELSE 63 / kth END, 4) AS est_distinct,
       round(kth, 12) AS kth_min_hash,
       n_sketch,
       CAST(exact_distinct AS BIGINT) AS exact_distinct
FROM agg a JOIN exact e ON a.event_type = e.event_type
"""

ORACLES["q9_product_profit"] = f"""
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
       CAST(sum({_D}) AS DOUBLE) AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
"""

ORACLES["q11_important_parts"] = f"""
WITH pv AS (
  SELECT l.l_partkey, sum({_D}) AS v
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_7'
  GROUP BY 1
),
t AS (SELECT CAST(sum(v) AS DOUBLE) AS total, count(*) AS cnt FROM pv)
SELECT l_partkey, CAST(v AS DOUBLE) AS value
FROM pv, t
WHERE CAST(v AS DOUBLE) > 2.0 * total / cnt
"""

ORACLES["q16_supplier_part_count"] = """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT IN ('PROMO') AND p.p_size <= 40
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
GROUP BY 1, 2, 3
"""

ORACLES["q20_excess_suppliers"] = """
WITH qty AS (
  SELECT l_suppkey, CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS q
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%bolt%'
    AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1
),
t AS (SELECT CAST(sum(q) AS DOUBLE) AS total, count(*) AS cnt FROM qty),
big AS (SELECT l_suppkey FROM qty, t WHERE q > total / cnt)
SELECT s.s_name, s.s_acctbal, n.n_name
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (SELECT l_suppkey FROM big)
"""

_U13 = """list_sum([(instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), x, 1)) - 1)
                   * power(16, 13 - x) for x in range(1, 14)]) / 4503599627370496.0"""

ORACLES["corpus_curation"] = f"""
WITH {TOKS_CTE}, {SHINGLE_CTE},
keepers AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents)
  GROUP BY fp
),
mh AS (
  SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
  FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) seeds
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // 4 AS band,
         md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
  FROM mh GROUP BY doc_id, seed // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band, band_hash)
  WHERE a.doc_id < b.doc_id
),
ss AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id),
near AS (
  SELECT DISTINCT c.id_b AS doc_id
  FROM cand c JOIN ss sa ON sa.doc_id = c.id_a JOIN ss sb ON sb.doc_id = c.id_b
  WHERE len(list_intersect(sa.s, sb.s))
        / greatest(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 1) >= 0.5
),
surv AS (SELECT doc_id FROM keepers WHERE doc_id NOT IN (SELECT doc_id FROM near)),
qtok AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS qtoks FROM documents
),
feat AS (
  SELECT doc_id,
         len(qtoks) AS n_tokens,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / greatest(length(text), 1) AS punct_ratio,
         len(list_filter(qtoks, t -> t IN ('the','a','and','of','to','in','is')))
           / greatest(len(qtoks), 1) AS stopword_ratio
  FROM qtok
),
scored AS (
  SELECT doc_id, n_tokens,
         round(least(n_tokens / 100.0, 1.0) * 0.4 + stopword_ratio * 0.3
               + (1.0 - punct_ratio) * 0.3, 6) AS quality
  FROM feat
)
SELECT d.doc_id, d.lang, s.n_tokens, s.quality
FROM surv JOIN documents d USING (doc_id) JOIN scored s USING (doc_id)
WHERE s.quality >= 0.5
  AND {_U13} < CASE d.lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 WHEN 'es' THEN 0.25
                            WHEN 'fr' THEN 0.1 WHEN 'zh' THEN 0.1 END
"""

ORACLES["corpus_token_mixture"] = f"""
WITH tok AS (
  SELECT doc_id, lang,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         {_U13} AS u
  FROM documents
),
ranked AS (
  SELECT doc_id, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY lang, doc_id % 8 ORDER BY u ASC, doc_id ASC
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
  FROM tok
)
SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens
FROM ranked WHERE cum_before < 2500
"""

ORACLES["sample_stratified"] = f"""
SELECT doc_id, lang
FROM documents
WHERE {_U13} < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 WHEN 'es' THEN 0.25
                         WHEN 'fr' THEN 0.1 WHEN 'zh' THEN 0.1 END
"""

ORACLES["docs_top_terms"] = """
WITH term AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM term WHERE term <> '' GROUP BY 1, 2
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df_docs,
         round(tf.tf * (ln((n.n_docs + 1.0) / (df.df_docs + 1.0)) + 1.0), 4) AS tfidf,
         CAST(row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, tf.term ASC) AS INTEGER) AS rank
  FROM tf JOIN df USING (term), n
)
SELECT doc_id, term, tf, df_docs, tfidf, rank FROM ranked WHERE rank <= 3
"""

ORACLES["events_funnel"] = """
WITH su AS (SELECT user_id, min(ts) AS s_ts FROM events WHERE event_type = 'signup' GROUP BY 1),
cl AS (
  SELECT e.user_id, min(e.ts) AS c_ts FROM events e JOIN su USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > su.s_ts GROUP BY 1
),
pu AS (
  SELECT e.user_id, min(e.ts) AS p_ts FROM events e JOIN cl USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > cl.c_ts GROUP BY 1
)
SELECT '1_signup' AS stage, CAST(count(*) AS BIGINT) AS users FROM su
UNION ALL SELECT '2_click_after_signup', CAST(count(*) AS BIGINT) FROM cl
UNION ALL SELECT '3_purchase_after_click', CAST(count(*) AS BIGINT) FROM pu
"""

ORACLES["events_value_percentiles"] = """
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY event_type
"""

ORACLES["stream_stateful_dedup"] = f"""
WITH {ENVELOPE_CTE}
SELECT op, commit_lsn, tx_ordinal, pk, value FROM env WHERE pk IS NOT NULL
"""

ORACLES["events_window_suite"] = """
SELECT user_id, event_id,
       lag(value, 1) OVER w AS prev_value,
       lead(value, 1) OVER w AS next_value,
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       first_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_event,
       last_value(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_event
FROM events
WHERE event_type IN ('purchase', 'view')
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

ORACLES["events_grouping_sets"] = """
SELECT event_type,
       CAST(epoch_ns(ts) // 1000000000 // 86400 * 86400 AS DOUBLE) AS day_epoch,
       CAST(grouping(event_type) AS INTEGER) AS g_type,
       CAST(grouping(epoch_ns(ts) // 1000000000 // 86400 * 86400) AS INTEGER) AS g_day,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY GROUPING SETS ((event_type), (epoch_ns(ts) // 1000000000 // 86400 * 86400), ())
"""

ORACLES["docs_clean"] = """
WITH c AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(regexp_replace(lower(text),
              'https?://[^\\s]+', ' ', 'g'),
              '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', ' ', 'g'),
              '\\s+', ' ', 'g')) AS cleaned
  FROM documents
)
SELECT doc_id,
       CAST(length(cleaned) AS INTEGER) AS clean_len,
       md5(cleaned) AS clean_fp,
       CAST(length(text) - length(cleaned) AS INTEGER) AS removed_chars
FROM c
"""

ORACLES["ann_lsh_topk"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
c AS (SELECT vec_id, ev, (CASE WHEN (ev[1] * -1.0 + ev[2] * 1.0 + ev[3] * 1.0 + ev[4] * 1.0 + ev[5] * 1.0 + ev[6] * 1.0 + ev[7] * -1.0 + ev[8] * 1.0 + ev[9] * 1.0 + ev[10] * 1.0 + ev[11] * -1.0 + ev[12] * -1.0 + ev[13] * -1.0 + ev[14] * -1.0 + ev[15] * -1.0 + ev[16] * 1.0 + ev[17] * 1.0 + ev[18] * -1.0 + ev[19] * 1.0 + ev[20] * -1.0 + ev[21] * -1.0 + ev[22] * 1.0 + ev[23] * -1.0 + ev[24] * -1.0 + ev[25] * 1.0 + ev[26] * 1.0 + ev[27] * 1.0 + ev[28] * -1.0 + ev[29] * 1.0 + ev[30] * 1.0 + ev[31] * -1.0 + ev[32] * -1.0 + ev[33] * 1.0 + ev[34] * -1.0 + ev[35] * -1.0 + ev[36] * 1.0 + ev[37] * -1.0 + ev[38] * -1.0 + ev[39] * -1.0 + ev[40] * 1.0 + ev[41] * 1.0 + ev[42] * -1.0 + ev[43] * 1.0 + ev[44] * 1.0 + ev[45] * 1.0 + ev[46] * 1.0 + ev[47] * -1.0 + ev[48] * 1.0 + ev[49] * 1.0 + ev[50] * -1.0 + ev[51] * 1.0 + ev[52] * 1.0 + ev[53] * 1.0 + ev[54] * -1.0 + ev[55] * 1.0 + ev[56] * -1.0 + ev[57] * -1.0 + ev[58] * 1.0 + ev[59] * 1.0 + ev[60] * 1.0 + ev[61] * 1.0 + ev[62] * 1.0 + ev[63] * 1.0 + ev[64] * -1.0) > 0 THEN 1 ELSE 0 END) + (CASE WHEN (ev[1] * 1.0 + ev[2] * 1.0 + ev[3] * 1.0 + ev[4] * -1.0 + ev[5] * 1.0 + ev[6] * 1.0 + ev[7] * 1.0 + ev[8] * 1.0 + ev[9] * -1.0 + ev[10] * 1.0 + ev[11] * 1.0 + ev[12] * 1.0 + ev[13] * -1.0 + ev[14] * 1.0 + ev[15] * -1.0 + ev[16] * -1.0 + ev[17] * -1.0 + ev[18] * -1.0 + ev[19] * -1.0 + ev[20] * -1.0 + ev[21] * 1.0 + ev[22] * -1.0 + ev[23] * -1.0 + ev[24] * 1.0 + ev[25] * -1.0 + ev[26] * 1.0 + ev[27] * -1.0 + ev[28] * 1.0 + ev[29] * 1.0 + ev[30] * -1.0 + ev[31] * 1.0 + ev[32] * 1.0 + ev[33] * 1.0 + ev[34] * -1.0 + ev[35] * -1.0 + ev[36] * -1.0 + ev[37] * 1.0 + ev[38] * -1.0 + ev[39] * -1.0 + ev[40] * -1.0 + ev[41] * 1.0 + ev[42] * -1.0 + ev[43] * 1.0 + ev[44] * 1.0 + ev[45] * 1.0 + ev[46] * 1.0 + ev[47] * 1.0 + ev[48] * -1.0 + ev[49] * 1.0 + ev[50] * -1.0 + ev[51] * -1.0 + ev[52] * -1.0 + ev[53] * -1.0 + ev[54] * 1.0 + ev[55] * -1.0 + ev[56] * -1.0 + ev[57] * -1.0 + ev[58] * -1.0 + ev[59] * -1.0 + ev[60] * 1.0 + ev[61] * -1.0 + ev[62] * -1.0 + ev[63] * -1.0 + ev[64] * 1.0) > 0 THEN 2 ELSE 0 END) + (CASE WHEN (ev[1] * 1.0 + ev[2] * -1.0 + ev[3] * -1.0 + ev[4] * -1.0 + ev[5] * 1.0 + ev[6] * -1.0 + ev[7] * -1.0 + ev[8] * 1.0 + ev[9] * -1.0 + ev[10] * 1.0 + ev[11] * 1.0 + ev[12] * -1.0 + ev[13] * -1.0 + ev[14] * 1.0 + ev[15] * 1.0 + ev[16] * 1.0 + ev[17] * -1.0 + ev[18] * -1.0 + ev[19] * -1.0 + ev[20] * -1.0 + ev[21] * -1.0 + ev[22] * -1.0 + ev[23] * -1.0 + ev[24] * -1.0 + ev[25] * -1.0 + ev[26] * -1.0 + ev[27] * 1.0 + ev[28] * -1.0 + ev[29] * -1.0 + ev[30] * -1.0 + ev[31] * -1.0 + ev[32] * -1.0 + ev[33] * -1.0 + ev[34] * -1.0 + ev[35] * 1.0 + ev[36] * -1.0 + ev[37] * -1.0 + ev[38] * -1.0 + ev[39] * 1.0 + ev[40] * 1.0 + ev[41] * 1.0 + ev[42] * -1.0 + ev[43] * 1.0 + ev[44] * 1.0 + ev[45] * -1.0 + ev[46] * 1.0 + ev[47] * -1.0 + ev[48] * 1.0 + ev[49] * -1.0 + ev[50] * -1.0 + ev[51] * 1.0 + ev[52] * -1.0 + ev[53] * 1.0 + ev[54] * -1.0 + ev[55] * -1.0 + ev[56] * 1.0 + ev[57] * -1.0 + ev[58] * -1.0 + ev[59] * -1.0 + ev[60] * -1.0 + ev[61] * 1.0 + ev[62] * -1.0 + ev[63] * 1.0 + ev[64] * -1.0) > 0 THEN 4 ELSE 0 END) + (CASE WHEN (ev[1] * 1.0 + ev[2] * -1.0 + ev[3] * -1.0 + ev[4] * 1.0 + ev[5] * -1.0 + ev[6] * -1.0 + ev[7] * -1.0 + ev[8] * -1.0 + ev[9] * 1.0 + ev[10] * 1.0 + ev[11] * 1.0 + ev[12] * 1.0 + ev[13] * 1.0 + ev[14] * 1.0 + ev[15] * -1.0 + ev[16] * 1.0 + ev[17] * -1.0 + ev[18] * -1.0 + ev[19] * 1.0 + ev[20] * 1.0 + ev[21] * -1.0 + ev[22] * 1.0 + ev[23] * 1.0 + ev[24] * -1.0 + ev[25] * -1.0 + ev[26] * 1.0 + ev[27] * 1.0 + ev[28] * -1.0 + ev[29] * 1.0 + ev[30] * -1.0 + ev[31] * 1.0 + ev[32] * -1.0 + ev[33] * -1.0 + ev[34] * 1.0 + ev[35] * -1.0 + ev[36] * 1.0 + ev[37] * 1.0 + ev[38] * -1.0 + ev[39] * 1.0 + ev[40] * 1.0 + ev[41] * 1.0 + ev[42] * 1.0 + ev[43] * -1.0 + ev[44] * 1.0 + ev[45] * -1.0 + ev[46] * -1.0 + ev[47] * -1.0 + ev[48] * 1.0 + ev[49] * -1.0 + ev[50] * -1.0 + ev[51] * 1.0 + ev[52] * -1.0 + ev[53] * 1.0 + ev[54] * 1.0 + ev[55] * -1.0 + ev[56] * -1.0 + ev[57] * 1.0 + ev[58] * 1.0 + ev[59] * -1.0 + ev[60] * 1.0 + ev[61] * 1.0 + ev[62] * 1.0 + ev[63] * -1.0 + ev[64] * 1.0) > 0 THEN 8 ELSE 0 END) + (CASE WHEN (ev[1] * 1.0 + ev[2] * 1.0 + ev[3] * 1.0 + ev[4] * -1.0 + ev[5] * 1.0 + ev[6] * -1.0 + ev[7] * -1.0 + ev[8] * 1.0 + ev[9] * -1.0 + ev[10] * -1.0 + ev[11] * -1.0 + ev[12] * 1.0 + ev[13] * -1.0 + ev[14] * 1.0 + ev[15] * -1.0 + ev[16] * -1.0 + ev[17] * -1.0 + ev[18] * -1.0 + ev[19] * 1.0 + ev[20] * -1.0 + ev[21] * -1.0 + ev[22] * 1.0 + ev[23] * -1.0 + ev[24] * -1.0 + ev[25] * 1.0 + ev[26] * 1.0 + ev[27] * 1.0 + ev[28] * -1.0 + ev[29] * -1.0 + ev[30] * 1.0 + ev[31] * 1.0 + ev[32] * 1.0 + ev[33] * -1.0 + ev[34] * -1.0 + ev[35] * 1.0 + ev[36] * 1.0 + ev[37] * -1.0 + ev[38] * -1.0 + ev[39] * 1.0 + ev[40] * 1.0 + ev[41] * -1.0 + ev[42] * -1.0 + ev[43] * -1.0 + ev[44] * 1.0 + ev[45] * -1.0 + ev[46] * 1.0 + ev[47] * -1.0 + ev[48] * -1.0 + ev[49] * -1.0 + ev[50] * 1.0 + ev[51] * 1.0 + ev[52] * -1.0 + ev[53] * -1.0 + ev[54] * 1.0 + ev[55] * 1.0 + ev[56] * 1.0 + ev[57] * -1.0 + ev[58] * -1.0 + ev[59] * -1.0 + ev[60] * -1.0 + ev[61] * 1.0 + ev[62] * -1.0 + ev[63] * -1.0 + ev[64] * -1.0) > 0 THEN 16 ELSE 0 END) + (CASE WHEN (ev[1] * -1.0 + ev[2] * 1.0 + ev[3] * 1.0 + ev[4] * -1.0 + ev[5] * -1.0 + ev[6] * -1.0 + ev[7] * 1.0 + ev[8] * -1.0 + ev[9] * -1.0 + ev[10] * 1.0 + ev[11] * 1.0 + ev[12] * -1.0 + ev[13] * 1.0 + ev[14] * -1.0 + ev[15] * -1.0 + ev[16] * -1.0 + ev[17] * 1.0 + ev[18] * -1.0 + ev[19] * -1.0 + ev[20] * -1.0 + ev[21] * -1.0 + ev[22] * 1.0 + ev[23] * -1.0 + ev[24] * -1.0 + ev[25] * -1.0 + ev[26] * -1.0 + ev[27] * 1.0 + ev[28] * 1.0 + ev[29] * 1.0 + ev[30] * 1.0 + ev[31] * -1.0 + ev[32] * 1.0 + ev[33] * 1.0 + ev[34] * 1.0 + ev[35] * 1.0 + ev[36] * -1.0 + ev[37] * 1.0 + ev[38] * -1.0 + ev[39] * 1.0 + ev[40] * -1.0 + ev[41] * 1.0 + ev[42] * -1.0 + ev[43] * -1.0 + ev[44] * 1.0 + ev[45] * 1.0 + ev[46] * 1.0 + ev[47] * 1.0 + ev[48] * -1.0 + ev[49] * -1.0 + ev[50] * 1.0 + ev[51] * 1.0 + ev[52] * 1.0 + ev[53] * 1.0 + ev[54] * 1.0 + ev[55] * 1.0 + ev[56] * 1.0 + ev[57] * -1.0 + ev[58] * -1.0 + ev[59] * 1.0 + ev[60] * -1.0 + ev[61] * 1.0 + ev[62] * 1.0 + ev[63] * 1.0 + ev[64] * 1.0) > 0 THEN 32 ELSE 0 END) AS bkt FROM e),
q AS (SELECT vec_id AS query_id, ev AS qv, bkt FROM c WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id,
         list_reduce(list_transform(list_zip(c.ev, q.qv), x -> x[1] * x[2]), (x, y) -> x + y) / (sqrt(list_reduce(list_transform(c.ev, v -> v * v), (x, y) -> x + y)) * sqrt(list_reduce(list_transform(q.qv, v -> v * v), (x, y) -> x + y))) AS sim
  FROM c JOIN q USING (bkt)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, round(sim, 6) AS sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""

ORACLES["events_skew_salted_agg"] = """
SELECT event_type,
       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
       CAST(count(event_id) AS BIGINT) AS n
FROM events GROUP BY event_type
"""

ORACLES["stream_incremental_rollup"] = """
SELECT epoch_ns(ts) // 1000000000 // 3600 * 3600 AS hour_epoch,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(value AS DECIMAL(20,2))) AS DOUBLE) AS sum_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM events
GROUP BY 1, 2
"""

ORACLES["orders_price_tiers"] = """
WITH tiers(tier, lo, hi) AS (VALUES
  ('T1_small', 0.0, 50000.0), ('T2_mid', 50000.0, 150000.0),
  ('T3_large', 150000.0, 300000.0), ('T4_jumbo', 300000.0, 10000000.0))
SELECT tier, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS tier_value
FROM orders JOIN tiers ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY 1, 2
"""

ORACLES["q2_min_cost_supplier"] = """
WITH priced AS (
  SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price
  FROM lineitem WHERE l_quantity > 0
),
mins AS (SELECT l_partkey, min(unit_price) AS min_price FROM priced GROUP BY 1),
arg AS (
  SELECT DISTINCT p.l_partkey, p.l_suppkey, p.unit_price
  FROM priced p JOIN mins m ON p.l_partkey = m.l_partkey AND p.unit_price = m.min_price
)
SELECT a.l_partkey, s.s_name, a.unit_price
FROM arg a JOIN supplier s ON a.l_suppkey = s.s_suppkey
"""

ORACLES["mm_payload_dedup"] = """
SELECT md5(text) AS content_hash,
       CAST(count(*) AS BIGINT) AS n_copies,
       CAST(min(doc_id) AS BIGINT) AS keeper_id
FROM documents
GROUP BY 1
"""

ORACLES["events_retention_cohorts"] = """
WITH cohort AS (
  SELECT user_id,
         min(epoch_ns(ts)) // 1000000000 // 604800 * 604800 AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY 1
),
act AS (
  SELECT DISTINCT user_id,
         epoch_ns(ts) // 1000000000 // 604800 * 604800 AS act_week
  FROM events
)
SELECT c.cohort_week,
       CAST((a.act_week - c.cohort_week) // 604800 AS BIGINT) AS weeks_since,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM act a JOIN cohort c USING (user_id)
WHERE a.act_week >= c.cohort_week
GROUP BY 1, 2
"""


ORACLES["docs_langid_confusion"] = f"""
WITH pred AS ({ORACLES["text_langid"]})
SELECT d.lang AS lang_true, p.lang_pred, CAST(count(*) AS BIGINT) AS n_docs
FROM pred p JOIN documents d USING (doc_id)
GROUP BY 1, 2
"""

ORACLES["q12_priority_shipmix"] = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1
"""

ORACLES["events_value_zscores"] = """
WITH mom AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(CAST(value * 100 AS DECIMAL(20,0))) AS DOUBLE) / 100.0 AS sum_v,
         CAST(sum(CAST(value * 100 AS DECIMAL(20,0)) * CAST(value * 100 AS DECIMAL(20,0))) AS DOUBLE) / 10000.0 AS sum_v2
  FROM events GROUP BY 1
),
stats AS (
  SELECT event_type, n, sum_v / n AS mean,
         sqrt((sum_v2 - sum_v * sum_v / n) / (n - 1)) AS sd
  FROM mom
)
SELECT e.event_id, e.event_type, e.value,
       round((e.value - s.mean) / s.sd, 6) AS z
FROM events e JOIN stats s USING (event_type)
WHERE abs((e.value - s.mean) / s.sd) > 3.0
"""

ORACLES["docs_pii_redact"] = """
WITH a AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199' ELSE '' END
         AS aug
  FROM documents
),
r AS (
  SELECT doc_id, aug,
         regexp_replace(regexp_replace(regexp_replace(aug,
             '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
             '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
             '\\b\\d{3}-\\d{3}-\\d{4}\\b', '<PHONE>', 'g') AS red
  FROM a
)
SELECT doc_id,
       CAST(len(regexp_extract_all(aug, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}')) AS INTEGER) AS n_emails,
       CAST(len(regexp_extract_all(aug, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INTEGER) AS n_ips,
       CAST(len(regexp_extract_all(aug, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS INTEGER) AS n_phones,
       md5(red) AS redacted_fp,
       CAST(length(aug) - length(red) AS INTEGER) AS removed_chars
FROM r
"""

ORACLES["docs_repetition"] = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
u AS (SELECT doc_id, len(ws) AS n, unnest(ws) AS w FROM d),
wc AS (SELECT doc_id, n, w, count(*) AS c FROM u GROUP BY doc_id, n, w),
wagg AS (SELECT doc_id, n, max(c) AS top_c, count(*) AS n_distinct
         FROM wc GROUP BY doc_id, n),
bgu AS (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ws) - 1),
                                     i -> ws[i] || ' ' || ws[i + 1])) AS b
        FROM d WHERE len(ws) >= 2),
bc AS (SELECT doc_id, b, count(*) AS c FROM bgu GROUP BY doc_id, b),
bagg AS (SELECT doc_id, max(c) AS top_bc, sum(c) AS n_bg FROM bc GROUP BY doc_id)
SELECT w.doc_id,
       round(1.0 - CAST(w.n_distinct AS DOUBLE) / w.n, 6) AS dup_word_frac,
       round(CAST(w.top_c AS DOUBLE) / w.n, 6) AS top_word_frac,
       round(coalesce(CAST(b.top_bc AS DOUBLE) / b.n_bg, 0.0), 6) AS top_bigram_frac,
       (CAST(w.top_c AS DOUBLE) / w.n <= 0.20
        AND coalesce(CAST(b.top_bc AS DOUBLE) / b.n_bg, 0.0) <= 0.18) AS gopher_keep
FROM wagg w LEFT JOIN bagg b USING (doc_id)
"""

ORACLES["docs_contamination"] = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
s AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - 3),
                                   i -> md5(array_to_string(ws[i:i+3], ' ')))) AS sh
      FROM d WHERE len(ws) >= 4),
e AS (SELECT DISTINCT doc_id AS eval_doc_id, sh FROM s WHERE doc_id % 97 = 0),
t AS (SELECT DISTINCT doc_id AS train_doc_id, sh FROM s WHERE doc_id % 97 <> 0),
tc AS (SELECT train_doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM t GROUP BY train_doc_id),
ov AS (SELECT train_doc_id, eval_doc_id, CAST(count(*) AS BIGINT) AS n_overlap
       FROM t JOIN e USING (sh) GROUP BY train_doc_id, eval_doc_id)
SELECT ov.train_doc_id, ov.eval_doc_id, ov.n_overlap,
       round(CAST(ov.n_overlap AS DOUBLE) / tc.n_sh, 6) AS overlap_frac
FROM ov JOIN tc USING (train_doc_id)
"""

ORACLES["stream_windowed_watermark"] = """
WITH e AS (SELECT event_id, epoch_us(ts) AS us, event_type, value FROM events),
b AS (SELECT min(us) AS lo, max(us) AS hi FROM e),
kept AS (
  SELECT e.* FROM e, b
  WHERE NOT (e.us >= b.lo + (b.hi - b.lo) // 4
             AND e.us <= b.lo + ((b.hi - b.lo) * 35) // 100
             AND e.event_id % 5 = 0)
)
SELECT (kept.us // 86400000000) * 86400000000 AS window_start_us,
       kept.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(kept.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM kept, b
GROUP BY (kept.us // 86400000000) * 86400000000, kept.event_type, b.hi
HAVING (kept.us // 86400000000) * 86400000000 + 86400000000 <= b.hi - 43200000000
"""

ORACLES["docs_passage_dedup"] = """
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
s AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - 3),
                                   i -> md5(array_to_string(ws[i:i+3], ' ')))) AS sh
      FROM d WHERE len(ws) >= 4),
freq AS (SELECT sh, count(DISTINCT doc_id) AS nd FROM s GROUP BY sh),
j AS (SELECT s.doc_id, freq.nd FROM s JOIN freq USING (sh)),
agg AS (SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_passages,
               CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeated
        FROM j GROUP BY doc_id)
SELECT doc_id, n_passages, n_repeated,
       round(CAST(n_repeated AS DOUBLE) / n_passages, 6) AS repeated_frac,
       (CAST(n_repeated AS DOUBLE) / n_passages <= 0.3) AS keep_passage
FROM agg
"""

ORACLES["docs_bm25_top_terms"] = """
WITH term AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM term WHERE term <> '' GROUP BY 1, 2
),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df_docs FROM tf GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, dl.dl, df.df_docs,
         round(ln((stats.n_docs - df.df_docs + 0.5) / (df.df_docs + 0.5) + 1.0)
               * ((tf.tf * 2.2)
                  / (tf.tf + 1.2 * (0.25 + 0.75 * (dl.dl / (CAST(stats.sum_dl AS DOUBLE) / stats.n_docs))))),
               4) AS bm25,
         CAST(row_number() OVER (PARTITION BY tf.doc_id ORDER BY tf.tf DESC, tf.term ASC) AS INTEGER) AS rank
  FROM tf JOIN dl USING (doc_id) JOIN df USING (term), stats
)
SELECT doc_id, term, tf, dl, df_docs, bm25, rank FROM ranked WHERE rank <= 3
"""

ORACLES["docs_rag_chunks"] = """
WITH d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws FROM documents
),
starts AS (
  SELECT doc_id, ws, unnest(generate_series(1, len(ws), 48)) AS s
  FROM d WHERE len(ws) >= 1
)
SELECT doc_id,
       CAST((s - 1) // 48 AS INTEGER) AS chunk_ord,
       CAST(s AS BIGINT) AS start_token,
       CAST(len(ws[s:s+63]) AS INTEGER) AS n_tokens,
       md5(array_to_string(ws[s:s+63], ' ')) AS chunk_fp
FROM starts
"""

ORACLES["docs_semantic_dedup"] = """
WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_reduce(list_transform(list_zip(a.ev, b.ev), x -> x[1] * x[2]), (x, y) -> x + y) / (sqrt(list_reduce(list_transform(a.ev, v -> v * v), (x, y) -> x + y)) * sqrt(list_reduce(list_transform(b.ev, v -> v * v), (x, y) -> x + y))) AS sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
),
edges AS (SELECT id_a AS a, id_b AS b FROM scored WHERE sim >= 0.35),
und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach(node, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.node
)
SELECT node AS vec_id, min(r) AS component, (node = min(r)) AS is_canonical
FROM reach GROUP BY node
"""

ORACLES["events_promo_range_join"] = """
WITH e AS (SELECT event_id, epoch_ns(ts) AS ts, user_id, event_type, value FROM events),
w AS (
  SELECT event_id AS window_id, ts AS w_start, ts + 7200000000000 AS w_end
  FROM e WHERE event_type = 'purchase'
  ORDER BY value DESC, event_id ASC LIMIT 20
)
SELECT w.window_id,
       count(*) AS n_events,
       count(DISTINCT e.user_id) AS n_users,
       CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM w JOIN e ON e.ts >= w.w_start AND e.ts < w.w_end
GROUP BY w.window_id
"""

ORACLES["stream_click_purchase_join"] = """
WITH e AS (SELECT event_id, epoch_us(ts) AS us, user_id, event_type FROM events),
c AS (SELECT event_id AS click_event_id, user_id, us AS c_us FROM e WHERE event_type = 'click'),
p AS (SELECT event_id AS purchase_event_id, user_id, us AS p_us FROM e WHERE event_type = 'purchase')
SELECT c.user_id, c.click_event_id, p.purchase_event_id, p.p_us - c.c_us AS lag_us
FROM c JOIN p ON c.user_id = p.user_id
WHERE p.p_us >= c.c_us AND p.p_us <= c.c_us + 1800000000
"""

ORACLES["mm_resize"] = """
WITH img AS (
  SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 0
),
r AS (
  SELECT media_id,
         substring(repeat(text, CAST(4096 // greatest(length(text), 1) + 1 AS INT)), 1, 4096) AS p
  FROM img
)
SELECT media_id, md5(p) AS payload_md5, CAST(length(p) AS INTEGER) AS n_bytes,
       CAST(64 AS INTEGER) AS width, CAST(64 AS INTEGER) AS height
FROM r
"""

ORACLES["stream_session_window"] = """
WITH e AS (SELECT event_id, epoch_us(ts) AS us, user_id FROM events),
b AS (SELECT max(us) AS hi FROM e),
s AS (
  SELECT user_id, event_id, us,
         lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_us
  FROM e
),
-- Spark session windows are gap-EXCLUSIVE at the boundary: an event at
-- exactly prev + gap starts a new session (merge requires ts < prev end)
s2 AS (
  SELECT *, CASE WHEN prev_us IS NULL OR us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_session
  FROM s
),
s3 AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM s2
),
sess AS (
  SELECT user_id,
         min(us) AS session_start_us,
         max(us) + 1800000000 AS session_end_us,
         CAST(count(*) AS BIGINT) AS n_events,
         min(event_id) AS first_event,
         max(event_id) AS last_event
  FROM s3 GROUP BY user_id, session_idx
)
SELECT user_id, session_start_us, session_end_us, n_events, first_event, last_event
FROM sess, b
WHERE sess.session_end_us <= b.hi - 43200000000
"""

ORACLES["cdc_scd2_history"] = f"""
WITH {ENVELOPE_CTE},
h AS (
  SELECT pk, op, commit_lsn AS valid_from, tx_ordinal,
         lead(commit_lsn) OVER (PARTITION BY pk ORDER BY commit_lsn, tx_ordinal) AS valid_to,
         value
  FROM env
)
SELECT pk, op, valid_from, tx_ordinal, CAST(valid_to AS DOUBLE) AS valid_to,
       (valid_to IS NULL) AS is_current, value
FROM h WHERE op <> 'DELETE'
"""

ORACLES["cdc_state_asof"] = f"""
WITH {ENVELOPE_CTE},
b AS (SELECT CAST((min(commit_lsn) + max(commit_lsn)) // 2 AS BIGINT) AS asof_lsn FROM env),
ranked AS (
  SELECT env.*, b.asof_lsn,
         row_number() OVER (PARTITION BY pk ORDER BY commit_lsn DESC, tx_ordinal DESC) AS rn
  FROM env, b WHERE commit_lsn <= b.asof_lsn
)
SELECT pk, op, commit_lsn, tx_ordinal, value, asof_lsn
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
"""

ORACLES["docs_unigram_logprob"] = """
WITH term AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM term WHERE term <> '' GROUP BY 1, 2
),
cnt AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
total AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM cnt),
scored AS (
  SELECT tf.doc_id,
         CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         sum(CAST(round(tf.tf * ln(CAST(total.n_total AS DOUBLE) / cnt.cnt), 6) AS DECIMAL(28,6))) AS neg_logprob_sum
  FROM tf JOIN cnt USING (term), total
  GROUP BY tf.doc_id
)
SELECT doc_id, n_tokens,
       round(CAST(neg_logprob_sum AS DOUBLE) / n_tokens, 6) AS avg_neg_logprob,
       (CAST(neg_logprob_sum AS DOUBLE) / n_tokens <= 8.0) AS keep_lm
FROM scored
"""

ORACLES["stream_native_dedup"] = """
SELECT event_id, user_id, event_type, value FROM events
"""

ORACLES["sample_reservoir_per_stratum"] = f"""
WITH u AS (
  SELECT doc_id, lang,
         CAST(list_sum([(instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), x, 1)) - 1)
                        * power(16, 13 - x) for x in range(1, 14)]) AS BIGINT) AS uh
  FROM documents
)
SELECT doc_id, lang,
       CAST(row_number() OVER (PARTITION BY lang ORDER BY uh ASC, doc_id ASC) AS INTEGER) AS rank
FROM u
QUALIFY rank <= 25
"""

ORACLES["docs_exact_jaccard_join"] = r"""
-- exact-threshold oracle: the Spark side's prefix filter is a pure
-- candidate-pruning device (any pair with Jaccard >= t provably shares a
-- prefix token), so the naive share-any-token candidate set + exact
-- verify yields the identical final pair set
WITH tok AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
  FROM documents
),
sets AS (SELECT doc_id, s, len(s) AS n FROM tok),
tokd AS (SELECT doc_id, unnest(s) AS t FROM tok),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM tokd a JOIN tokd b USING (t)
  WHERE a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       len(list_intersect(sa.s, sb.s)) AS inter,
       sa.n + sb.n - len(list_intersect(sa.s, sb.s)) AS union_,
       round(len(list_intersect(sa.s, sb.s)) /
             greatest(sa.n + sb.n - len(list_intersect(sa.s, sb.s)), 1), 6) AS jaccard
FROM cand c
JOIN sets sa ON sa.doc_id = c.id_a
JOIN sets sb ON sb.doc_id = c.id_b
WHERE len(list_intersect(sa.s, sb.s)) /
      greatest(sa.n + sb.n - len(list_intersect(sa.s, sb.s)), 1) >= 0.9
"""

ORACLES["docs_exact_jaccard_clusters"] = r"""
-- clusters twin of docs_exact_jaccard_join: connected components
-- (min reachable doc_id) over the exact Jaccard >= 0.9 pair graph
WITH RECURSIVE tok AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
  FROM documents
),
sets AS (SELECT doc_id, s, len(s) AS n FROM tok),
tokd AS (SELECT doc_id, unnest(s) AS t FROM tok),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM tokd a JOIN tokd b USING (t)
  WHERE a.doc_id < b.doc_id
),
edges AS (
  SELECT c.id_a AS a, c.id_b AS b
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.id_a
  JOIN sets sb ON sb.doc_id = c.id_b
  WHERE len(list_intersect(sa.s, sb.s)) /
        greatest(sa.n + sb.n - len(list_intersect(sa.s, sb.s)), 1) >= 0.9
),
und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.node
)
SELECT node AS doc_id, min(r) AS rep_id FROM reach GROUP BY node
"""

ORACLES["corpus_temperature_mix"] = f"""
-- exact-integer keep decision: m*S*c < N*fs*2^52 in HUGEINT mirrors the
-- Spark side's DECIMAL(38,0) arithmetic digit-for-digit
WITH cnt AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
fsq AS (SELECT lang, c, CAST(floor(sqrt(c)) AS BIGINT) AS fs FROM cnt),
tot AS (SELECT CAST(sum(fs) AS BIGINT) AS s_tot FROM fsq),
u AS (
  SELECT doc_id, lang,
         CAST(list_sum([(instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), x, 1)) - 1)
                        * power(16, 13 - x) for x in range(1, 14)]) AS BIGINT) AS m
  FROM documents
)
SELECT u.doc_id, u.lang
FROM u JOIN fsq USING (lang), tot
WHERE CAST(u.m AS HUGEINT) * s_tot * c < CAST(200 AS HUGEINT) * fs * 4503599627370496
"""

ORACLES["events_zorder_stats"] = """
-- Morton interleave of (user_id & 0xffff, hour & 0xffff); tile = zval
-- without its low 8 interleaved bits (16x16 boxes); per-tile ranges of
-- both dims (the data-skipping box)
WITH z AS (
  SELECT (user_id & 65535) AS u16,
         ((epoch_ns(ts) // 3600000000000) & 65535) AS h16
  FROM events
),
zz AS (
  SELECT u16, h16,
         CAST(list_sum([((u16 >> x) & 1) * power(2, 2 * x)
                        + ((h16 >> x) & 1) * power(2, 2 * x + 1)
                        for x in range(0, 16)]) AS BIGINT) AS zval
  FROM z
)
SELECT zval >> 8 AS z_tile,
       count(*) AS n_events,
       min(u16) AS u_min, max(u16) AS u_max,
       min(h16) AS h_min, max(h16) AS h_max
FROM zz GROUP BY 1
"""

ORACLES["stream_static_enrich"] = """
-- complete-mode stream-static join+agg equals the batch answer exactly
SELECT c.c_mktsegment, e.event_type,
       count(*) AS n_events,
       CAST(sum(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id + 1
GROUP BY 1, 2
"""

ORACLES["cdc_gap_audit"] = f"""
-- exact-integer 5% loss injection on start_lsn (= event_id), then the
-- dense-ordinal audit: any transaction with < 10 rows lost events
WITH env AS (
  SELECT CAST(event_id // 10 AS BIGINT) AS commit_lsn,
         CAST(event_id % 10 AS BIGINT) AS tx_ordinal,
         CAST(event_id AS BIGINT) AS start_lsn
  FROM events
),
kept AS (
  SELECT * FROM env
  WHERE CAST(list_sum([(instr('0123456789abcdef', substring(md5(CAST(start_lsn AS VARCHAR)), x, 1)) - 1)
                       * power(16, 13 - x) for x in range(1, 14)]) AS BIGINT)
        >= {(1 << 52) // 20}
)
SELECT commit_lsn,
       count(*) AS n_received,
       max(tx_ordinal) AS max_ordinal,
       10 - count(*) AS n_missing
FROM kept
GROUP BY commit_lsn
HAVING count(*) < 10
"""

ORACLES["dedup_minhash_incremental"] = f"""
-- same signature/band pipeline as dedup_minhash_lsh; candidates are
-- restricted to pairs with at least one NEW (doc_id % 4 = 0) side --
-- the old x old join the incremental operator never performs
WITH {TOKS_CTE}, {SHINGLE_CTE},
mh AS (
  SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
  FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) seeds
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // 4 AS band,
         md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
  FROM mh GROUP BY doc_id, seed // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band, band_hash)
  WHERE a.doc_id < b.doc_id
    AND (a.doc_id % 4 = 0 OR b.doc_id % 4 = 0)
),
ss AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id),
verified AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(sa.s, sb.s)) AS inter,
         len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS union_
  FROM cand c JOIN ss sa ON sa.doc_id = c.id_a JOIN ss sb ON sb.doc_id = c.id_b
)
SELECT id_a, id_b, round(inter / greatest(union_, 1), 6) AS jaccard
FROM verified WHERE inter / greatest(union_, 1) >= 0.3
"""

ORACLES["cdc_changelog_compact"] = f"""
-- net-effect compaction: one row per (batch, key) with the Flink-style
-- net op; INSERT..DELETE within a batch cancels entirely
WITH {ENVELOPE_CTE},
ranked AS (
  SELECT CAST(commit_lsn // 10 AS BIGINT) AS batch_id, pk, op, value, props, start_lsn,
         row_number() OVER (PARTITION BY commit_lsn // 10, pk ORDER BY start_lsn ASC) AS rn_a,
         row_number() OVER (PARTITION BY commit_lsn // 10, pk ORDER BY start_lsn DESC) AS rn_d
  FROM env
),
agg AS (
  SELECT batch_id, pk,
         max(CASE WHEN rn_a = 1 THEN op END) AS first_op,
         max(CASE WHEN rn_d = 1 THEN op END) AS last_op,
         max(CASE WHEN rn_d = 1 THEN value END) AS last_value,
         max(CASE WHEN rn_d = 1 THEN props END) AS last_props,
         max(start_lsn) AS last_lsn
  FROM ranked GROUP BY batch_id, pk
)
SELECT batch_id, pk,
       CASE WHEN first_op = 'INSERT' THEN 'INSERT'
            WHEN last_op = 'DELETE' THEN 'DELETE'
            ELSE 'UPDATE' END AS net_op,
       CASE WHEN (CASE WHEN first_op = 'INSERT' THEN 'INSERT'
                       WHEN last_op = 'DELETE' THEN 'DELETE'
                       ELSE 'UPDATE' END) <> 'DELETE' THEN last_value END AS value,
       CASE WHEN (CASE WHEN first_op = 'INSERT' THEN 'INSERT'
                       WHEN last_op = 'DELETE' THEN 'DELETE'
                       ELSE 'UPDATE' END) <> 'DELETE' THEN last_props END AS props,
       last_lsn
FROM agg
WHERE NOT (first_op = 'INSERT' AND last_op = 'DELETE')
"""

ORACLES["events_rolling_1h"] = """
-- trailing 1h time-RANGE frame per user; epoch-nanos ordering mirrors
-- the Spark rangeBetween(-1h, current) frame exactly (inclusive ends)
SELECT event_id, user_id, epoch_ns(ts) AS ts,
       count(*) OVER w AS n_1h,
       CAST(sum(CAST(value AS DECIMAL(12,2))) OVER w AS DOUBLE) AS sum_1h
FROM events
WINDOW w AS (
  PARTITION BY user_id ORDER BY epoch_ns(ts)
  RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW
)
"""

ORACLES["corpus_drop_audit"] = f"""
-- per-doc curation verdict, rule order mirroring corpus_curation
WITH {TOKS_CTE}, {SHINGLE_CTE},
keepers AS (
  SELECT min(doc_id) AS doc_id
  FROM (SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents)
  GROUP BY fp
),
mh AS (
  SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
  FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) seeds
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // 4 AS band,
         md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
  FROM mh GROUP BY doc_id, seed // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band, band_hash)
  WHERE a.doc_id < b.doc_id
),
ss AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id),
near AS (
  SELECT DISTINCT c.id_b AS doc_id
  FROM cand c JOIN ss sa ON sa.doc_id = c.id_a JOIN ss sb ON sb.doc_id = c.id_b
  WHERE len(list_intersect(sa.s, sb.s))
        / greatest(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 1) >= 0.5
),
qtok AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS qtoks FROM documents
),
scored AS (
  SELECT doc_id,
         round(least(len(qtoks) / 100.0, 1.0) * 0.4
               + len(list_filter(qtoks, t -> t IN ('the','a','and','of','to','in','is')))
                 / greatest(len(qtoks), 1) * 0.3
               + (1.0 - length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
                        / greatest(length(text), 1)) * 0.3, 6) AS quality
  FROM qtok
)
SELECT d.doc_id, d.lang, s.quality,
       CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM keepers) THEN 'exact_dup'
            WHEN d.doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
            WHEN s.quality < 0.5 THEN 'low_quality'
            WHEN {_U13} >= CASE d.lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25
                                       WHEN 'es' THEN 0.25 WHEN 'fr' THEN 0.1
                                       WHEN 'zh' THEN 0.1 END THEN 'lang_downsample'
            ELSE 'kept' END AS verdict
FROM documents d JOIN scored s USING (doc_id)
"""

ORACLES["ann_pq_codes"] = """
-- PQ encode: per-subspace centroid = component means of the label cells
-- (exact double sums), distances fold in array order (list_reduce ==
-- F.aggregate), argmin ties by code ascending — bit-deterministic
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings),
comp AS (
  SELECT label, unnest(ev) AS v, generate_subscripts(ev, 1) AS pos FROM e
),
centc AS (SELECT label, pos,
                 CAST(sum(CAST(v AS DECIMAL(38,15))) AS DOUBLE) / count(v) AS c
          FROM comp GROUP BY label, pos),
sw AS (SELECT CAST(max(len(ev)) // 4 AS INT) AS s FROM e),
cent AS (
  SELECT label, CAST((pos - 1) // sw.s AS INT) AS sub, list(c ORDER BY pos) AS cvec
  FROM centc, sw GROUP BY 1, 2
),
subs AS (
  SELECT vec_id, m.sub, list_slice(ev, m.sub * sw.s + 1, m.sub * sw.s + sw.s) AS svec
  FROM e CROSS JOIN (SELECT CAST(unnest(range(0, 4)) AS INT) AS sub) m, sw
),
scored AS (
  SELECT s.vec_id, s.sub, c.label AS code,
         list_reduce(
           list_prepend(0.0,
             list_transform(list_zip(s.svec, c.cvec),
                            x -> (x[1] - x[2]) * (x[1] - x[2]))),
           (x, y) -> x + y) AS dist
  FROM subs s JOIN cent c USING (sub)
),
best AS (
  SELECT vec_id, sub, code, dist,
         row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist ASC, code ASC) AS rn
  FROM scored
)
SELECT vec_id,
       max(CASE WHEN sub = 0 THEN code END) AS code_0,
       max(CASE WHEN sub = 1 THEN code END) AS code_1,
       max(CASE WHEN sub = 2 THEN code END) AS code_2,
       max(CASE WHEN sub = 3 THEN code END) AS code_3,
       round(max(CASE WHEN sub = 0 THEN dist END)
             + max(CASE WHEN sub = 1 THEN dist END)
             + max(CASE WHEN sub = 2 THEN dist END)
             + max(CASE WHEN sub = 3 THEN dist END), 6) AS recon_err
FROM best WHERE rn = 1
GROUP BY vec_id
"""

ORACLES["ann_pq_adc_topk"] = """
-- ADC search: corpus as PQ codes, query-side LUT; same centroid/assign
-- CTEs as ann_pq_codes, then approximate distance = fixed-order sum of
-- the 4 LUT entries the vector's codes select
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings),
comp AS (
  SELECT label, unnest(ev) AS v, generate_subscripts(ev, 1) AS pos FROM e
),
centc AS (SELECT label, pos,
                 CAST(sum(CAST(v AS DECIMAL(38,15))) AS DOUBLE) / count(v) AS c
          FROM comp GROUP BY label, pos),
sw AS (SELECT CAST(max(len(ev)) // 4 AS INT) AS s FROM e),
cent AS (
  SELECT label, CAST((pos - 1) // sw.s AS INT) AS sub, list(c ORDER BY pos) AS cvec
  FROM centc, sw GROUP BY 1, 2
),
subs AS (
  SELECT vec_id, m.sub, list_slice(ev, m.sub * sw.s + 1, m.sub * sw.s + sw.s) AS svec
  FROM e CROSS JOIN (SELECT CAST(unnest(range(0, 4)) AS INT) AS sub) m, sw
),
scored AS (
  SELECT s.vec_id, s.sub, c.label AS code,
         list_reduce(
           list_prepend(0.0,
             list_transform(list_zip(s.svec, c.cvec),
                            x -> (x[1] - x[2]) * (x[1] - x[2]))),
           (x, y) -> x + y) AS dist
  FROM subs s JOIN cent c USING (sub)
),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist ASC, code ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
lut AS (
  SELECT s.vec_id AS query_id, s.sub, c.label AS code,
         list_reduce(
           list_prepend(0.0,
             list_transform(list_zip(s.svec, c.cvec),
                            x -> (x[1] - x[2]) * (x[1] - x[2]))),
           (x, y) -> x + y) AS qdist
  FROM subs s JOIN cent c USING (sub)
  WHERE s.vec_id < 10
),
joined AS (
  SELECT l.query_id, k.vec_id, k.sub, l.qdist
  FROM codes k JOIN lut l ON l.sub = k.sub AND l.code = k.code
),
wide AS (
  SELECT query_id, vec_id,
         max(CASE WHEN sub = 0 THEN qdist END)
         + max(CASE WHEN sub = 1 THEN qdist END)
         + max(CASE WHEN sub = 2 THEN qdist END)
         + max(CASE WHEN sub = 3 THEN qdist END) AS adist
  FROM joined GROUP BY query_id, vec_id
),
ranked AS (
  SELECT query_id, vec_id, adist,
         row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rank
  FROM wide
)
SELECT query_id, vec_id, round(adist, 6) AS adist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""

ORACLES["cdc_table_diff"] = f"""
-- current state vs deterministically corrupted destination copy; only
-- differing rows survive
WITH {ENVELOPE_CTE},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY commit_lsn DESC, tx_ordinal DESC) AS rn
  FROM env
),
cur AS (
  SELECT pk, value FROM ranked WHERE rn = 1 AND op <> 'DELETE'
),
u AS (
  SELECT pk, value,
         CAST(list_sum([(instr('0123456789abcdef', substring(md5(CAST(pk AS VARCHAR)), x, 1)) - 1)
                        * power(16, 13 - x) for x in range(1, 14)]) AS BIGINT) AS m
  FROM cur
),
dest AS (
  SELECT pk,
         CASE WHEN m < {(1 << 52) * 30 // 100} THEN value + 1 ELSE value END AS dest_value
  FROM u WHERE m >= {(1 << 52) * 15 // 100}
)
SELECT COALESCE(c.pk, d.pk) AS pk,
       CASE WHEN d.pk IS NULL THEN 'missing_in_dest'
            WHEN c.pk IS NULL THEN 'extra_in_dest'
            WHEN c.value IS DISTINCT FROM d.dest_value THEN 'value_mismatch'
       END AS diff_kind,
       c.value, d.dest_value
FROM cur c FULL OUTER JOIN dest d ON c.pk = d.pk
WHERE CASE WHEN d.pk IS NULL THEN 'missing_in_dest'
           WHEN c.pk IS NULL THEN 'extra_in_dest'
           WHEN c.value IS DISTINCT FROM d.dest_value THEN 'value_mismatch'
      END IS NOT NULL
"""

ORACLES["docs_profile"] = """
-- one stats row per column; exact distincts mirror the Spark side
SELECT 'doc_id' AS "column", count(*) AS n_rows,
       count(*) - count(doc_id) AS n_null, count(DISTINCT doc_id) AS n_distinct,
       CAST(min(doc_id) AS VARCHAR) AS min_val, CAST(max(doc_id) AS VARCHAR) AS max_val,
       round(avg(length(CAST(doc_id AS VARCHAR))), 6) AS avg_len
FROM documents
UNION ALL
SELECT 'text', count(*), count(*) - count(text), count(DISTINCT text),
       CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR),
       round(avg(length(text)), 6)
FROM documents
UNION ALL
SELECT 'lang', count(*), count(*) - count(lang), count(DISTINCT lang),
       min(lang), max(lang), round(avg(length(lang)), 6)
FROM documents
UNION ALL
SELECT 'source', count(*), count(*) - count(source), count(DISTINCT source),
       min(source), max(source), round(avg(length(source)), 6)
FROM documents
UNION ALL
SELECT 'n_chars', count(*), count(*) - count(n_chars), count(DISTINCT n_chars),
       CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR),
       round(avg(length(CAST(n_chars AS VARCHAR))), 6)
FROM documents
"""

ORACLES["events_quality_checks"] = """
WITH agg AS (
  SELECT count(*) - count(DISTINCT event_id) AS pk_dups,
         count(*) FILTER (ts IS NULL) AS ts_nulls,
         count(*) FILTER (value < 0) AS neg_values,
         count(*) FILTER (event_type NOT IN ('click','error','purchase','signup','view')) AS bad_types
  FROM events
),
orph AS (
  SELECT count(*) AS orphan_users
  FROM events e LEFT JOIN customer c ON c.c_custkey = e.user_id + 1
  WHERE c.c_custkey IS NULL
)
SELECT 'pk_unique' AS check_name, CAST(pk_dups AS BIGINT) AS n_violations, pk_dups = 0 AS passed FROM agg
UNION ALL
SELECT 'ts_not_null', CAST(ts_nulls AS BIGINT), ts_nulls = 0 FROM agg
UNION ALL
SELECT 'value_non_negative', CAST(neg_values AS BIGINT), neg_values = 0 FROM agg
UNION ALL
SELECT 'event_type_in_domain', CAST(bad_types AS BIGINT), bad_types = 0 FROM agg
UNION ALL
SELECT 'user_ref_integrity', CAST(orphan_users AS BIGINT), orphan_users = 0 FROM orph
"""

ORACLES["cdc_state_diff"] = f"""
-- LWW states as of the 1/3 and 2/3 LSN points, full-outer diff; only
-- changed keys survive
WITH {ENVELOPE_CTE},
bounds AS (
  SELECT min(commit_lsn) AS lo, max(commit_lsn) AS hi FROM env
),
pts AS (
  SELECT lo + (hi - lo) // 3 AS lsn_a, lo + (hi - lo) * 2 // 3 AS lsn_b FROM bounds
),
sa AS (
  SELECT pk, value FROM (
    SELECT pk, op, value,
           row_number() OVER (PARTITION BY pk ORDER BY commit_lsn DESC, tx_ordinal DESC) AS rn
    FROM env, pts WHERE commit_lsn <= lsn_a
  ) WHERE rn = 1 AND op <> 'DELETE'
),
sb AS (
  SELECT pk, value FROM (
    SELECT pk, op, value,
           row_number() OVER (PARTITION BY pk ORDER BY commit_lsn DESC, tx_ordinal DESC) AS rn
    FROM env, pts WHERE commit_lsn <= lsn_b
  ) WHERE rn = 1 AND op <> 'DELETE'
)
SELECT COALESCE(sa.pk, sb.pk) AS pk,
       CASE WHEN sa.pk IS NULL THEN 'added'
            WHEN sb.pk IS NULL THEN 'removed'
            WHEN sa.value IS DISTINCT FROM sb.value THEN 'changed'
       END AS diff_kind,
       sa.value AS value_a, sb.value AS value_b,
       pts.lsn_a, pts.lsn_b
FROM sa FULL OUTER JOIN sb ON sa.pk = sb.pk, pts
WHERE CASE WHEN sa.pk IS NULL THEN 'added'
           WHEN sb.pk IS NULL THEN 'removed'
           WHEN sa.value IS DISTINCT FROM sb.value THEN 'changed'
      END IS NOT NULL
"""

ORACLES["ann_ivfpq_topk"] = """
-- IVF-PQ: coarse-probe 2 cells per query (full-vector centroid L2),
-- then ADC over codes restricted to probed cells
WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings),
comp AS (
  SELECT label, unnest(ev) AS v, generate_subscripts(ev, 1) AS pos FROM e
),
centc AS (SELECT label, pos,
                 CAST(sum(CAST(v AS DECIMAL(38,15))) AS DOUBLE) / count(v) AS c
          FROM comp GROUP BY label, pos),
sw AS (SELECT CAST(max(len(ev)) // 4 AS INT) AS s FROM e),
coarse AS (SELECT label, list(c ORDER BY pos) AS cvec FROM centc GROUP BY label),
q AS (SELECT vec_id AS query_id, ev AS qv FROM e WHERE vec_id < 10),
probed AS (
  SELECT query_id, label AS cell FROM (
    SELECT q.query_id, co.label,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY list_reduce(
               list_prepend(0.0,
                 list_transform(list_zip(q.qv, co.cvec),
                                x -> (x[1] - x[2]) * (x[1] - x[2]))),
               (x, y) -> x + y) ASC, co.label ASC
           ) AS pr
    FROM q CROSS JOIN coarse co
  ) WHERE pr <= 2
),
cent AS (
  SELECT label, CAST((pos - 1) // sw.s AS INT) AS sub, list(c ORDER BY pos) AS cvec
  FROM centc, sw GROUP BY 1, 2
),
subs AS (
  SELECT vec_id, m.sub, list_slice(ev, m.sub * sw.s + 1, m.sub * sw.s + sw.s) AS svec
  FROM e CROSS JOIN (SELECT CAST(unnest(range(0, 4)) AS INT) AS sub) m, sw
),
scored0 AS (
  SELECT s.vec_id, s.sub, c.label AS code,
         list_reduce(
           list_prepend(0.0,
             list_transform(list_zip(s.svec, c.cvec),
                            x -> (x[1] - x[2]) * (x[1] - x[2]))),
           (x, y) -> x + y) AS dist
  FROM subs s JOIN cent c USING (sub)
),
codes AS (
  SELECT vec_id, sub, code FROM (
    SELECT vec_id, sub, code,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist ASC, code ASC) AS rn
    FROM scored0
  ) WHERE rn = 1
),
lut AS (
  SELECT s.vec_id AS query_id, s.sub, c.label AS code,
         list_reduce(
           list_prepend(0.0,
             list_transform(list_zip(s.svec, c.cvec),
                            x -> (x[1] - x[2]) * (x[1] - x[2]))),
           (x, y) -> x + y) AS qdist
  FROM subs s JOIN cent c USING (sub)
  WHERE s.vec_id < 10
),
joined AS (
  SELECT l.query_id, k.vec_id, k.sub, l.qdist
  FROM codes k
  JOIN e ON e.vec_id = k.vec_id
  JOIN probed p ON p.cell = e.label
  JOIN lut l ON l.query_id = p.query_id AND l.sub = k.sub AND l.code = k.code
),
wide AS (
  SELECT query_id, vec_id,
         max(CASE WHEN sub = 0 THEN qdist END)
         + max(CASE WHEN sub = 1 THEN qdist END)
         + max(CASE WHEN sub = 2 THEN qdist END)
         + max(CASE WHEN sub = 3 THEN qdist END) AS adist
  FROM joined GROUP BY query_id, vec_id
),
ranked AS (
  SELECT query_id, vec_id, adist,
         row_number() OVER (PARTITION BY query_id ORDER BY adist ASC, vec_id ASC) AS rank
  FROM wide
)
SELECT query_id, vec_id, round(adist, 6) AS adist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""

ORACLES["sketch_merge_global"] = """
-- merged per-group KMV == global KMV: the global k smallest distinct
-- hashes are contained in the union of per-group k-minimums
WITH hashed AS (
  SELECT DISTINCT
         list_sum([(instr('0123456789abcdef', substring(md5(CAST(user_id AS VARCHAR)), x, 1)) - 1)
                   * power(16, 13 - x) for x in range(1, 14)])
           / 4503599627370496.0 AS u
  FROM events
),
topk AS (
  SELECT u, row_number() OVER (ORDER BY u) AS rn FROM hashed
),
agg AS (
  SELECT max(u) AS kth, count(*) AS n_sketch FROM topk WHERE rn <= 64
)
SELECT round(CASE WHEN n_sketch < 64 THEN CAST(n_sketch AS DOUBLE)
                  ELSE 63 / kth END, 4) AS est_distinct,
       round(kth, 12) AS kth_min_hash,
       CAST(n_sketch AS BIGINT) AS n_sketch,
       (SELECT count(DISTINCT user_id) FROM events) AS exact_distinct
FROM agg
"""

ORACLES["bloom_prune_probe"] = """
-- k=3, m=4096 Bloom over customer keys; probes alternate present/absent
-- by event parity; a probe passes iff all 3 md5-seeded positions are set
WITH pos AS (
  SELECT DISTINCT
         CAST(list_sum([(instr('0123456789abcdef', substring(md5(s.s || ':' || CAST(c_custkey AS VARCHAR)), x, 1)) - 1)
                        * power(16, 13 - x) for x in range(1, 14)]) AS BIGINT) % 4096 AS bit
  FROM customer CROSS JOIN (SELECT CAST(unnest(range(0, 3)) AS VARCHAR) AS s) s
),
probes AS (
  SELECT event_id,
         CASE WHEN event_id % 2 = 0 THEN user_id + 1 ELSE user_id + 1000000 END AS probe_key,
         event_id % 2 = 0 AS is_present
  FROM events
),
pb AS (
  SELECT p.event_id, p.is_present,
         CAST(list_sum([(instr('0123456789abcdef', substring(md5(s.s || ':' || CAST(p.probe_key AS VARCHAR)), x, 1)) - 1)
                        * power(16, 13 - x) for x in range(1, 14)]) AS BIGINT) % 4096 AS bit
  FROM probes p CROSS JOIN (SELECT CAST(unnest(range(0, 3)) AS VARCHAR) AS s) s
),
per_probe AS (
  SELECT pb.event_id, pb.is_present,
         count(pos.bit) = 3 AS passed
  FROM pb LEFT JOIN pos USING (bit)
  GROUP BY pb.event_id, pb.is_present
)
SELECT count(*) AS n_probes,
       CAST(sum(CASE WHEN passed THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       CAST(sum(CASE WHEN NOT is_present THEN 1 ELSE 0 END) AS BIGINT) AS n_absent,
       CAST(sum(CASE WHEN passed AND NOT is_present THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       CAST(sum(CASE WHEN is_present AND NOT passed THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
       round(sum(CASE WHEN passed AND NOT is_present THEN 1 ELSE 0 END)
             / greatest(sum(CASE WHEN NOT is_present THEN 1 ELSE 0 END), 1), 6) AS fp_rate
FROM per_probe
"""

ORACLES["events_winsorize"] = """
-- clamp to per-type [p05, p95]; quantile_cont matches Spark's exact
-- interpolated percentile; decimal-quantized clamped sum is
-- order-independent
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS p05,
         quantile_cont(value, 0.95) AS p95
  FROM events GROUP BY event_type
),
c AS (
  SELECT e.event_type, b.p05, b.p95, e.value,
         least(greatest(e.value, b.p05), b.p95) AS w
  FROM events e JOIN b USING (event_type)
)
SELECT event_type,
       count(*) AS n,
       round(any_value(p05), 6) AS p05,
       round(any_value(p95), 6) AS p95,
       CAST(sum(CASE WHEN value < p05 OR value > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped,
       round(CAST(sum(CAST(round(w, 6) AS DECIMAL(20,6))) AS DOUBLE), 4) AS wsum,
       round(avg(value), 6) AS raw_mean,
       round(CAST(sum(CAST(round(w, 6) AS DECIMAL(20,6))) AS DOUBLE) / count(*), 6) AS wmean
FROM c GROUP BY event_type
"""

ORACLES["cdc_changed_columns"] = f"""
-- per-UPDATE column diff against the key's previous image (lag over the
-- same total order every LWW materialization uses)
WITH {ENVELOPE_CTE},
with_prev AS (
  SELECT op, pk, start_lsn, value, props,
         lag(value) OVER (PARTITION BY pk ORDER BY commit_lsn, tx_ordinal) AS prev_value,
         lag(props) OVER (PARTITION BY pk ORDER BY commit_lsn, tx_ordinal) AS prev_props
  FROM env
)
SELECT start_lsn, pk,
       value IS DISTINCT FROM prev_value AS value_changed,
       props IS DISTINCT FROM prev_props AS props_changed,
       CAST(value IS DISTINCT FROM prev_value AS INT)
       + CAST(props IS DISTINCT FROM prev_props AS INT) AS n_changed
FROM with_prev
WHERE op = 'UPDATE' AND (prev_value IS NOT NULL OR prev_props IS NOT NULL)
"""


# IVF-PQ + exact rerank (FAISS IndexRefineFlat pattern): reuse the
# ann_ivfpq_topk body verbatim, widen the ADC cut to rank <= 20
# candidates, then re-rank those by TRUE squared L2 (ordered fold) and
# keep the top 5 — derived programmatically so the two oracles can never
# drift apart in their shared coarse-probe/ADC stages.
ORACLES["ann_ivfpq_rerank"] = ORACLES["ann_ivfpq_topk"].replace(
    """SELECT query_id, vec_id, round(adist, 6) AS adist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5""",
    """, cand AS (
  SELECT query_id, vec_id FROM ranked WHERE rank <= 20
),
rr AS (
  SELECT c.query_id, c.vec_id,
         list_reduce(
           list_prepend(0.0,
             list_transform(list_zip(ce.ev, qe.ev),
                            x -> (x[1] - x[2]) * (x[1] - x[2]))),
           (x, y) -> x + y) AS dist
  FROM cand c
  JOIN e ce ON ce.vec_id = c.vec_id
  JOIN e qe ON qe.vec_id = c.query_id
),
rranked AS (
  SELECT query_id, vec_id, dist,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, vec_id ASC) AS rank
  FROM rr
)
SELECT query_id, vec_id, round(dist, 6) AS dist, CAST(rank AS INT) AS rank
FROM rranked WHERE rank <= 5""",
)

# incremental SCD2 destination must equal the one-shot batch window —
# the SAME oracle, so the gate proves incremental == batch maintenance
ORACLES["cdc_scd2_incremental"] = ORACLES["cdc_scd2_history"]

# the incremental sink under mid-stream DDL (RENAME value->amount at the
# 1/3 LSN cut + ADD tier DEFAULT 'standard') must equal the batch LWW
# state with the rename folded in; tier is the default exactly for keys
# whose LAST event predates the DDL (later winners streamed without it)
ORACLES["cdc_schema_evolution"] = f"""
WITH {ENVELOPE_CTE},
bounds AS (SELECT min(commit_lsn) AS lo, max(commit_lsn) AS hi FROM env),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY commit_lsn DESC, tx_ordinal DESC) AS rn
  FROM env
)
SELECT pk, op, commit_lsn, tx_ordinal, value AS amount,
       CASE WHEN commit_lsn <= (SELECT lo + (hi - lo) // 3 FROM bounds)
            THEN 'standard' END AS tier
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
"""

# --- round-6 operators -------------------------------------------------------

ORACLES["lineitem_rollup_metrics"] = """
SELECT l_returnflag, l_linestatus,
       2 * grouping(l_returnflag) + grouping(l_linestatus) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
       CAST(max(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""

ORACLES["events_regression"] = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(regr_slope(value, CAST(event_id AS DOUBLE)), 6) AS slope,
       round(regr_intercept(value, CAST(event_id AS DOUBLE)), 6) AS intercept,
       round(regr_r2(value, CAST(event_id AS DOUBLE)), 6) AS r2
FROM events
GROUP BY event_type
"""

ORACLES["events_markov_transitions"] = """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS next_type
  FROM events
),
pairs AS (
  SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
  FROM seq WHERE next_type IS NOT NULL
  GROUP BY event_type, next_type
),
tot AS (
  SELECT event_type, sum(n) AS t FROM pairs GROUP BY event_type
)
SELECT p.event_type, p.next_type, p.n,
       round(CAST(p.n AS DOUBLE) / t.t, 6) AS p
FROM pairs p JOIN tot t USING (event_type)
"""

ORACLES["orders_decile_bands"] = """
WITH ranked AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice ASC, o_orderkey ASC) AS decile
  FROM orders
)
SELECT CAST(decile AS INTEGER) AS decile,
       CAST(count(*) AS BIGINT) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM ranked GROUP BY decile
"""

ORACLES["customer_fuzzy_name_join"] = """
-- exact quadratic reference for the deletion-neighborhood blocked join:
-- every distance-<=1 pair, found the brute-force way
SELECT a.c_custkey AS k_a, b.c_custkey AS k_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""

ORACLES["docs_char_pair_merge"] = """
WITH words AS (
  SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w FROM documents
),
pairs AS (
  SELECT unnest(list_transform(range(1, length(w)), i -> substring(w, i, 2))) AS pair
  FROM words WHERE length(w) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 20
"""

ORACLES["nation_top_customers_agg"] = """
WITH ranked AS (
  SELECT c_nationkey, c_name,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_name ASC) AS rnk
  FROM customer
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_top,
       string_agg(c_name, ',' ORDER BY rnk) AS top_names
FROM ranked WHERE rnk <= 5
GROUP BY c_nationkey
"""

ORACLES["lineitem_metrics_unpivot"] = """
WITH agg AS (
  SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
         avg(l_discount) AS avg_disc
  FROM lineitem GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, metric, round(value, 6) AS value FROM (
  SELECT l_returnflag, l_linestatus, 'sum_qty' AS metric, sum_qty AS value FROM agg
  UNION ALL
  SELECT l_returnflag, l_linestatus, 'sum_price', sum_price FROM agg
  UNION ALL
  SELECT l_returnflag, l_linestatus, 'avg_disc', avg_disc FROM agg
)
"""

ORACLES["events_time_weighted_value"] = """
WITH gaps AS (
  SELECT user_id, value,
         (epoch_ns(lead(ts) OVER (PARTITION BY user_id ORDER BY event_id))
          - epoch_ns(ts)) // 1000000000 AS gap_sec
  FROM events
),
agg AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_intervals,
         CAST(sum(gap_sec) AS BIGINT) AS held_sec,
         sum(CAST(value AS DECIMAL(18,6)) * gap_sec) AS wsum
  FROM gaps WHERE gap_sec IS NOT NULL
  GROUP BY user_id
)
SELECT user_id, n_intervals, held_sec,
       round(CAST(wsum AS DOUBLE) / held_sec, 6) AS twa
FROM agg WHERE held_sec > 0
"""

ORACLES["stream_stateful_sessions"] = """
WITH e AS (
  SELECT user_id, epoch_ns(ts) // 1000 AS us, value FROM events
),
marked AS (
  SELECT user_id, us, value,
         CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
),
g AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
agg AS (
  SELECT user_id, sid,
         CAST(min(us) AS BIGINT) AS start_us,
         CAST(max(us) AS BIGINT) AS end_us,
         CAST(count(*) AS BIGINT) AS n_events,
         round(max(value), 6) AS max_value
  FROM g GROUP BY user_id, sid
)
SELECT user_id, start_us, end_us, n_events, max_value,
       CASE WHEN sid < max(sid) OVER (PARTITION BY user_id)
            THEN 'gap' ELSE 'timeout' END AS closed_by
FROM agg
"""

# --- round-7 additions -------------------------------------------------

#: DuckDB list-comprehension rendering of the shared 52-bit md5 integer
#: (13 hex digits, exact in BIGINT — the sketch.py _hash52 twin)
_H52 = (
    "list_sum([(instr('0123456789abcdef', substring(md5({expr}), x, 1)) - 1)"
    " * CAST(power(16, 13 - x) AS BIGINT) for x in range(1, 14)])"
)

ORACLES["sketch_hll_users"] = f"""
WITH h AS (
  SELECT event_type,
         CAST({_H52.format(expr="CAST(user_id AS VARCHAR)")} AS BIGINT) AS h52
  FROM events
),
rr AS (
  SELECT event_type, CAST(h52 % 64 AS INT) AS reg, h52 // 64 AS rest FROM h
),
regs AS (
  SELECT event_type, reg,
         max(CASE WHEN rest = 0 THEN 47
                  ELSE 46 - CAST(floor(log2(rest)) AS INT) END) AS rho
  FROM rr GROUP BY event_type, reg
),
allregs AS (
  SELECT * FROM regs
  UNION ALL
  SELECT '__merged__' AS event_type, reg, max(rho) AS rho FROM regs GROUP BY reg
),
agg AS (
  SELECT event_type,
         sum(CAST(1 AS BIGINT) << (47 - rho)) AS s_present,
         count(*) AS n_present
  FROM allregs GROUP BY event_type
),
calc AS (
  SELECT event_type, 64 - n_present AS zeros,
         CAST(0.709 AS DOUBLE) * 64 * 64 * CAST(140737488355328 AS DOUBLE)
           / CAST(CAST(s_present AS HUGEINT)
                  + CAST(64 - n_present AS HUGEINT) * 140737488355328 AS DOUBLE) AS raw
  FROM agg
),
final AS (
  SELECT event_type, zeros,
         CASE WHEN raw <= 160.0 AND zeros > 0
              THEN 64.0 * ln(64.0 / zeros) ELSE raw END AS est
  FROM calc
),
exact AS (
  SELECT event_type, count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
  UNION ALL
  SELECT '__merged__', count(DISTINCT user_id) FROM events
)
SELECT f.event_type, round(f.est, 4) AS est_distinct,
       CAST(f.zeros AS BIGINT) AS n_zero_registers,
       CAST(e.exact_distinct AS BIGINT) AS exact_distinct
FROM final f JOIN exact e USING (event_type)
"""

ORACLES["sketch_count_min_users"] = f"""
WITH rws AS (SELECT unnest(range(4)) AS rw),
cells AS (
  SELECT rws.rw,
         CAST({_H52.format(expr="'s' || rws.rw || ':' || CAST(e.user_id AS VARCHAR)")} % 128 AS INT) AS cell
  FROM events e CROSS JOIN rws
),
sketch AS (SELECT rw, cell, count(*) AS c FROM cells GROUP BY rw, cell),
probes AS (SELECT DISTINCT user_id FROM events WHERE user_id % 7 = 0),
probe_cells AS (
  SELECT p.user_id, rws.rw,
         CAST({_H52.format(expr="'s' || rws.rw || ':' || CAST(p.user_id AS VARCHAR)")} % 128 AS INT) AS cell
  FROM probes p CROSS JOIN rws
),
est AS (
  SELECT pc.user_id, min(s.c) AS cm_est
  FROM probe_cells pc JOIN sketch s USING (rw, cell) GROUP BY pc.user_id
),
exact AS (SELECT user_id, count(*) AS exact_n FROM events GROUP BY user_id)
SELECT est.user_id, CAST(x.exact_n AS BIGINT) AS exact_n,
       CAST(est.cm_est AS BIGINT) AS cm_est
FROM est JOIN exact x USING (user_id)
"""

ORACLES["lineitem_basket_lift"] = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
pc AS (SELECT l_partkey, count(*) AS pc FROM li GROUP BY l_partkey),
co AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS co
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT co.pa, co.pb, CAST(co.co AS BIGINT) AS co,
       round(co.co / n.n_orders, 8) AS support,
       round(co.co / ca.pc, 6) AS confidence,
       round(co.co * n.n_orders / (ca.pc * cb.pc), 6) AS lift
FROM co
CROSS JOIN n
JOIN pc ca ON ca.l_partkey = co.pa
JOIN pc cb ON cb.l_partkey = co.pb
"""

ORACLES["events_cusum_alerts"] = """
WITH mu AS (
  SELECT event_type,
         CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS mu
  FROM events GROUP BY event_type
),
p AS (
  SELECT e.event_type, e.event_id, e.ts,
         sum(e.value - mu.mu - 0.25) OVER (
           PARTITION BY e.event_type ORDER BY e.ts, e.event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
  FROM events e JOIN mu USING (event_type)
),
s AS (
  SELECT event_type, event_id,
         p - least(0.0, min(p) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s
  FROM p
)
SELECT event_type, event_id, round(s, 6) AS cusum
FROM s WHERE s > 1.5
"""

from etl_spark.operators.text import LANG_PROFILES as _LP  # noqa: E402

_STOPLIST = ", ".join(
    f"'{w}'" for w in sorted({w for ws in _LP.values() for w in ws})
)

ORACLES["docs_gopher_rules"] = f"""
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(trim(lower(text)), '\\s+') AS toks,
         string_split(text, chr(10)) AS lines
  FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n_words,
         round(list_sum(list_transform(toks, x -> length(x)))
               / greatest(len(toks), 1), 6) AS mean_word_len,
         round(len(list_filter(toks, x -> list_contains([{_STOPLIST}], x)))
               / greatest(len(toks), 1), 6) AS stop_frac,
         round(((length(text) - length(replace(text, '#', '')))
                + (length(text) - length(replace(text, '...', ''))) / 3)
               / greatest(len(toks), 1), 6) AS symbol_frac,
         round(len(list_filter(lines, x -> regexp_matches(x, '^\\s*[-*•]')))
               / greatest(len(lines), 1), 6) AS bullet_frac
  FROM t
)
SELECT doc_id, CAST(n_words AS INT) AS n_words, mean_word_len, stop_frac,
       symbol_frac, bullet_frac,
       (n_words BETWEEN 50 AND 100000)
         AND (mean_word_len BETWEEN 3 AND 10)
         AND stop_frac > 0.02 AND symbol_frac < 0.1
         AND bullet_frac < 0.9 AS keep
FROM m
"""

ORACLES["order_graph_pagerank"] = """
WITH e0 AS (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
und AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src),
r0 AS (SELECT src AS node, CAST(1000000000000 AS BIGINT) AS r FROM deg),
i1 AS (
  SELECT u.dst AS node,
         CAST(150000000000 + (85 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
  FROM und u JOIN deg d ON u.src = d.src JOIN r0 r ON u.src = r.node
  GROUP BY u.dst
),
i2 AS (
  SELECT u.dst AS node,
         CAST(150000000000 + (85 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
  FROM und u JOIN deg d ON u.src = d.src JOIN i1 r ON u.src = r.node
  GROUP BY u.dst
),
i3 AS (
  SELECT u.dst AS node,
         CAST(150000000000 + (85 * sum(r.r // d.deg)) // 100 AS BIGINT) AS r
  FROM und u JOIN deg d ON u.src = d.src JOIN i2 r ON u.src = r.node
  GROUP BY u.dst
)
SELECT node, r AS pagerank FROM i3
"""

ORACLES["lineitem_skyline"] = """
WITH pp AS (
  SELECT l_extendedprice AS price, max(l_quantity) AS quantity
  FROM lineitem GROUP BY l_extendedprice
),
s AS (
  SELECT price, quantity,
         max(quantity) OVER (ORDER BY price
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mq
  FROM pp
)
SELECT price, quantity FROM s WHERE mq IS NULL OR quantity > mq
"""

ORACLES["mm_audio_vad"] = """
WITH audio AS (
  SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 1
),
fidx AS (
  SELECT media_id, text,
         unnest(range(CAST(ceil(length(text) / 20.0) AS BIGINT))) AS frame_idx
  FROM audio
),
frames AS (
  SELECT media_id, frame_idx,
         list_sum([ord(substr(text, CAST(frame_idx * 20 + x AS INT), 1))
                   for x in range(1, CAST(least(20, length(text) - frame_idx * 20) AS INT) + 1)]) AS energy,
         least(20, length(text) - frame_idx * 20) AS flen
  FROM fidx
),
active AS (
  SELECT media_id, frame_idx, energy FROM frames WHERE energy >= 97 * flen
),
segs AS (
  SELECT media_id, frame_idx, energy,
         frame_idx - row_number() OVER (PARTITION BY media_id ORDER BY frame_idx) AS g
  FROM active
)
SELECT media_id,
       CAST(min(frame_idx) AS INT) AS start_frame,
       CAST(max(frame_idx) AS INT) AS end_frame,
       CAST(count(*) AS BIGINT) AS n_frames,
       CAST(sum(energy) AS BIGINT) AS sum_energy,
       CAST(min(frame_idx) * 200 AS BIGINT) AS start_ms
FROM segs GROUP BY media_id, g
"""

ORACLES["events_changepoint"] = """
WITH scored AS (
  SELECT event_type, event_id,
         row_number() OVER w AS k,
         sum(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_k,
         count(*) OVER (PARTITION BY event_type) AS n,
         sum(value) OVER (PARTITION BY event_type) AS s_n
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
),
st AS (
  SELECT event_type, event_id, k, s_k, n, s_n,
         (n / (k * (n - k))) * pow(s_k - k / n * s_n, 2) AS t_stat
  FROM scored WHERE k < n
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY t_stat DESC, k ASC) AS rn
  FROM st
)
SELECT event_type, event_id AS split_event_id, CAST(k AS INT) AS split_idx,
       round(t_stat, 6) AS t_stat,
       round(s_k / k, 6) AS left_mean,
       round((s_n - s_k) / (n - k), 6) AS right_mean
FROM best WHERE rn = 1
"""

ORACLES["docs_winnowing"] = f"""
WITH d AS (
  SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) >= 11
),
grams AS (
  SELECT doc_id, n, unnest(range(n - 7)) AS pos, text FROM d
),
hashed AS (
  SELECT doc_id, n, pos,
         CAST({_H52.format(expr="substr(text, CAST(pos + 1 AS INT), 8)")} AS BIGINT) % 4294967296 AS h
  FROM grams
),
vals AS (
  SELECT doc_id, n, pos, h * 1048576 - pos AS val FROM hashed
),
sel AS (
  SELECT DISTINCT doc_id, n,
         min(val) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS val
  FROM vals QUALIFY pos >= 3
),
dec AS (
  SELECT doc_id, n, val, (val + 1048575) // 1048576 AS h FROM sel
)
SELECT doc_id,
       CAST(any_value(n) - 7 AS BIGINT) AS n_kgrams,
       CAST(count(*) AS BIGINT) AS n_selected,
       CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_fp,
       CAST(sum(DISTINCT h) AS BIGINT) AS fp_checksum
FROM dec GROUP BY doc_id
"""

ORACLES["orders_abc_class"] = """
WITH rev AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT sum(rev) AS tot FROM rev),
cum AS (
  SELECT l_partkey, rev,
         CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS DOUBLE) / CAST(tot.tot AS DOUBLE) AS cum_share
  FROM rev CROSS JOIN tot
)
SELECT l_partkey, CAST(rev AS DOUBLE) AS revenue,
       round(cum_share, 8) AS cum_share,
       CASE WHEN cum_share <= 0.8 THEN 'A'
            WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
FROM cum
"""

ORACLES["docs_train_split"] = f"""
WITH tagged AS (
  SELECT lang, n_chars, doc_id,
         CAST({_H52.format(expr="concat('split', ':', CAST(doc_id AS VARCHAR))")} AS BIGINT) % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
       lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(sum(doc_id) AS BIGINT) AS docid_checksum
FROM tagged GROUP BY 1, 2
"""

ORACLES["corpus_dsir_weights"] = f"""
WITH term AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(trim(text), '\\s+')) AS term
  FROM documents
),
tb AS (
  SELECT doc_id, lang,
         CAST({_H52.format(expr="term")} % 256 AS INT) AS b
  FROM term WHERE term <> ''
),
tf AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS tf FROM tb GROUP BY 1, 2),
raw AS (SELECT b, CAST(count(*) AS BIGINT) AS raw_cnt FROM tb GROUP BY 1),
tgt AS (SELECT b, CAST(count(*) AS BIGINT) AS tgt_cnt FROM tb WHERE lang = 'en' GROUP BY 1),
tots AS (
  SELECT CAST(count(*) AS BIGINT) AS raw_tot,
         CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tgt_tot
  FROM tb
),
ratio AS (
  SELECT raw.b,
         round(ln((coalesce(tgt.tgt_cnt, 0) + 1) / CAST(tots.tgt_tot + 256 AS DOUBLE))
               - ln((raw.raw_cnt + 1) / CAST(tots.raw_tot + 256 AS DOUBLE)), 6) AS loglam
  FROM raw LEFT JOIN tgt USING (b) CROSS JOIN tots
),
scored AS (
  SELECT tf.doc_id,
         CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
         sum(CAST(round(tf.tf * ratio.loglam, 6) AS DECIMAL(28,6))) AS lw
  FROM tf JOIN ratio USING (b) GROUP BY 1
)
SELECT doc_id, n_tokens,
       round(CAST(lw AS DOUBLE), 6) AS logweight,
       round(CAST(lw AS DOUBLE) / n_tokens, 6) AS logweight_per_token
FROM scored
"""

ORACLES["events_feature_mi"] = """
WITH cells AS (
  SELECT event_type, (epoch_ns(ts) // 1000000000 // 3600) % 24 AS hr, CAST(count(*) AS BIGINT) AS n_xy
  FROM events GROUP BY 1, 2
),
px AS (SELECT event_type, CAST(sum(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY 1),
py AS (SELECT hr, CAST(sum(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY 1),
tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM cells),
j AS (
  SELECT c.event_type, c.n_xy, px.n_x, py.n_y, tot.n,
         CAST(px.n_x AS DOUBLE) * py.n_y / tot.n AS expd
  FROM cells c JOIN px USING (event_type) JOIN py USING (hr) CROSS JOIN tot
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_hours,
       CAST(sum(n_xy) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(round((CAST(n_xy AS DOUBLE) / n)
                 * ln(n_xy * CAST(n AS DOUBLE) / (CAST(n_x AS DOUBLE) * n_y)), 12)
             AS DECIMAL(28,12))) AS DOUBLE), 10) AS mi_contrib,
       round(CAST(sum(CAST(round((n_xy - expd) * (n_xy - expd) / expd, 12)
             AS DECIMAL(28,12))) AS DOUBLE), 8) AS chi2_contrib
FROM j GROUP BY event_type
"""

ORACLES["customer_balance_gini"] = """
WITH ranked AS (
  SELECT c_mktsegment,
         CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY CAST(c_acctbal AS DECIMAL(18,2)) ASC,
                                     c_custkey ASC) AS i
  FROM customer
),
g AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n_customers,
         sum(bal) AS sum_bal,
         sum(i * bal) AS sum_ibal
  FROM ranked GROUP BY 1
)
SELECT c_mktsegment, n_customers,
       CAST(sum_bal AS DOUBLE) AS sum_bal,
       round((2 * CAST(sum_ibal AS DOUBLE) - (n_customers + 1) * CAST(sum_bal AS DOUBLE))
             / (n_customers * CAST(sum_bal AS DOUBLE)), 9) AS gini
FROM g
"""

ORACLES["parts_triangle_count"] = """
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
),
deg AS (
  SELECT x, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT u AS x FROM edges UNION ALL SELECT v AS x FROM edges
  ) GROUP BY 1
),
tri AS (
  SELECT e1.u AS p1, e1.v AS p2, e2.v AS p3
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
part_tri AS (
  SELECT pk, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT p1 AS pk FROM tri UNION ALL
    SELECT p2 AS pk FROM tri UNION ALL
    SELECT p3 AS pk FROM tri
  ) GROUP BY 1
)
SELECT part_tri.pk AS l_partkey, deg.d AS degree, part_tri.n_triangles
FROM part_tri JOIN deg ON deg.x = part_tri.pk
"""

ORACLES["events_sax_daily"] = """
WITH daily AS (
  SELECT event_type, epoch_ns(ts) // 1000000000 // 86400 AS day,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(CAST(round(m, 9) AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS mu,
         sqrt(CAST(sum(CAST(round(m * m, 9) AS DECIMAL(38,9))) AS DOUBLE) / count(*)
              - (CAST(sum(CAST(round(m, 9) AS DECIMAL(28,9))) AS DOUBLE) / count(*))
                * (CAST(sum(CAST(round(m, 9) AS DECIMAL(28,9))) AS DOUBLE) / count(*))) AS sd
  FROM daily GROUP BY 1
),
tagged AS (
  SELECT d.event_type, s.n_days, d.day,
         CASE WHEN (round(d.m, 9) - s.mu) / s.sd < -0.6745 THEN 'a'
              WHEN (round(d.m, 9) - s.mu) / s.sd < 0.0 THEN 'b'
              WHEN (round(d.m, 9) - s.mu) / s.sd < 0.6745 THEN 'c'
              ELSE 'd' END AS sym
  FROM daily d JOIN stats s USING (event_type)
)
SELECT event_type, any_value(n_days) AS n_days,
       string_agg(sym, '' ORDER BY day) AS sax
FROM tagged GROUP BY event_type
"""

ORACLES["orders_rfm_segments"] = """
WITH anchor AS (SELECT max(o_orderdate) AS a FROM orders),
cust AS (
  SELECT o_custkey,
         min(date_diff('day', CAST(o_orderdate AS DATE), CAST(anchor.a AS DATE))) AS r_days,
         CAST(count(*) AS BIGINT) AS freq,
         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
  FROM orders CROSS JOIN anchor GROUP BY o_custkey, anchor.a
),
banded AS (
  SELECT o_custkey, monetary,
         ntile(5) OVER (ORDER BY r_days ASC, o_custkey ASC) AS r_band,
         ntile(5) OVER (ORDER BY freq DESC, o_custkey ASC) AS f_band,
         ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS m_band
  FROM cust
)
SELECT CAST(r_band AS INTEGER) AS r_band,
       CAST(f_band AS INTEGER) AS f_band,
       CAST(m_band AS INTEGER) AS m_band,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(monetary) AS DOUBLE) AS monetary_total
FROM banded GROUP BY 1, 2, 3
"""

ORACLES["events_lag_autocorr"] = """
WITH daily AS (
  SELECT event_type, epoch_ns(ts) // 1000000000 // 86400 AS day,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*) AS m
  FROM events GROUP BY 1, 2
),
mu_t AS (
  SELECT event_type,
         CAST(sum(CAST(round(m, 9) AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS mu
  FROM daily GROUP BY 1
),
led AS (
  SELECT event_type, m,
         lead(m, 1) OVER (PARTITION BY event_type ORDER BY day) AS m1,
         lead(m, 2) OVER (PARTITION BY event_type ORDER BY day) AS m2,
         lead(m, 3) OVER (PARTITION BY event_type ORDER BY day) AS m3
  FROM daily
),
lagged AS (
  SELECT event_type, m, 1 AS lag, m1 AS mk FROM led WHERE m1 IS NOT NULL
  UNION ALL
  SELECT event_type, m, 2 AS lag, m2 AS mk FROM led WHERE m2 IS NOT NULL
  UNION ALL
  SELECT event_type, m, 3 AS lag, m3 AS mk FROM led WHERE m3 IS NOT NULL
),
num AS (
  SELECT l.event_type, l.lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         sum(CAST(round((l.m - mu_t.mu) * (l.mk - mu_t.mu), 9) AS DECIMAL(38,9))) AS num
  FROM lagged l JOIN mu_t USING (event_type) GROUP BY 1, 2
),
den AS (
  SELECT d.event_type,
         sum(CAST(round((d.m - mu_t.mu) * (d.m - mu_t.mu), 9) AS DECIMAL(38,9))) AS den
  FROM daily d JOIN mu_t USING (event_type) GROUP BY 1
)
SELECT num.event_type, CAST(num.lag AS INTEGER) AS lag, num.n_pairs,
       round(CAST(num.num AS DOUBLE) / CAST(den.den AS DOUBLE), 9) AS acf
FROM num JOIN den USING (event_type)
"""

ORACLES["events_kanon_audit"] = """
WITH classes AS (
  SELECT event_type, (epoch_ns(ts) // 1000000000 // 3600) % 24 AS hr,
         user_id % 100 AS cohort, CAST(count(*) AS BIGINT) AS k
  FROM events GROUP BY 1, 2, 3
),
tot AS (SELECT CAST(sum(k) AS BIGINT) AS n_rows_total FROM classes)
SELECT CASE WHEN k = 1 THEN '1' WHEN k <= 4 THEN '2-4'
            WHEN k <= 9 THEN '5-9' ELSE '10+' END AS k_bucket,
       CAST(count(*) AS BIGINT) AS n_classes,
       CAST(sum(k) AS BIGINT) AS n_rows,
       CAST(min(k) AS BIGINT) AS k_min,
       round(CAST(sum(k) AS DOUBLE) / any_value(tot.n_rows_total), 9) AS row_share
FROM classes CROSS JOIN tot GROUP BY 1
"""

ORACLES["embeddings_covariance"] = """
WITH pr AS (
  SELECT unnest(flatten(list_transform(embedding, (x, i) ->
           list_transform(embedding[i:], (y, j) ->
             {'i': i - 1, 'j': i + j - 2,
              'p': round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 9)})))) AS u
  FROM embeddings
),
sxy AS (
  SELECT u.i AS i, u.j AS j, sum(CAST(u.p AS DECIMAL(38,9))) AS sxy
  FROM pr GROUP BY 1, 2
),
dims AS (
  SELECT u.i - 1 AS i,
         sum(CAST(round(u.x, 9) AS DECIMAL(28,9))) AS sx,
         CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT unnest(list_transform(embedding, (x, i) ->
             {'i': i, 'x': CAST(x AS DOUBLE)})) AS u
    FROM embeddings
  ) GROUP BY 1
)
SELECT CAST(sxy.i AS INTEGER) AS i, CAST(sxy.j AS INTEGER) AS j,
       round(CAST(sxy.sxy AS DOUBLE) / di.n
             - (CAST(di.sx AS DOUBLE) / di.n) * (CAST(dj.sx AS DOUBLE) / dj.n), 9) AS cov
FROM sxy JOIN dims di ON di.i = sxy.i JOIN dims dj ON dj.i = sxy.j
"""

ORACLES["stream_sliding_topk"] = """
WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
b AS (SELECT max(us) AS hi FROM e),
wins AS (
  SELECT unnest([ (us // 43200000000) * 43200000000 - 43200000000,
                  (us // 43200000000) * 43200000000 ]) AS window_start_us,
         event_type
  FROM e
),
agg AS (
  SELECT wins.window_start_us, wins.event_type,
         CAST(count(*) AS BIGINT) AS n_events
  FROM wins, b
  GROUP BY 1, 2, b.hi
  HAVING wins.window_start_us + 86400000000 <= b.hi - 43200000000
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY window_start_us
                               ORDER BY n_events DESC, event_type ASC) AS rnk
  FROM agg
)
SELECT window_start_us, event_type, n_events, CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= 3
"""

ORACLES["orders_cohort_ltv"] = """
WITH o AS (
  SELECT o_custkey, o_totalprice,
         year(o_orderdate) * 12 + month(o_orderdate) - 1 AS om
  FROM orders
),
cohort AS (SELECT o_custkey, min(om) AS cm FROM o GROUP BY 1)
SELECT CAST(cm AS BIGINT) AS cohort_month,
       CAST(om - cm AS BIGINT) AS age_months,
       CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM o JOIN cohort USING (o_custkey)
GROUP BY 1, 2
"""

ORACLES["embeddings_quantize_int8"] = """
WITH elems AS (
  SELECT u.i - 1 AS i, CAST(u.x AS DOUBLE) AS x
  FROM (
    SELECT unnest(list_transform(embedding, (x, i) -> {'i': i, 'x': x})) AS u
    FROM embeddings
  )
),
scales AS (
  SELECT i, max(abs(x)) / 127.0 AS scale, CAST(count(*) AS BIGINT) AS n
  FROM elems GROUP BY 1
),
q AS (
  SELECT e.i, e.x, s.scale, s.n,
         greatest(-127, least(127, CAST(round(e.x / s.scale) AS INTEGER))) AS qv
  FROM elems e JOIN scales s USING (i)
)
SELECT CAST(i AS INTEGER) AS i,
       round(any_value(scale), 9) AS scale,
       round(CAST(sum(CAST(round((x - qv * scale) * (x - qv * scale), 12)
                           AS DECIMAL(28,12))) AS DOUBLE) / any_value(n), 12) AS mse,
       CAST(sum(CASE WHEN abs(qv) = 127 THEN 1 ELSE 0 END) AS BIGINT) AS n_saturated
FROM q GROUP BY i
"""

ORACLES["lineitem_benford_audit"] = """
WITH li AS (
  SELECT l_returnflag,
         CAST(substring(CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS d
  FROM lineitem
),
cells AS (SELECT l_returnflag, d, CAST(count(*) AS BIGINT) AS n_d FROM li GROUP BY 1, 2),
tot AS (SELECT l_returnflag, CAST(sum(n_d) AS BIGINT) AS n FROM cells GROUP BY 1),
j AS (
  SELECT c.l_returnflag, c.d, c.n_d, t.n,
         (ln((c.d + 1.0) / c.d) / ln(10.0)) * t.n AS expn
  FROM cells c JOIN tot t USING (l_returnflag)
)
SELECT l_returnflag,
       any_value(n) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_digits,
       round(CAST(sum(CAST(round((n_d - expn) * (n_d - expn) / expn, 10)
                           AS DECIMAL(28,10))) AS DOUBLE), 8) AS chi2
FROM j GROUP BY l_returnflag
"""

ORACLES["supplier_share_hhi"] = """
WITH rev AS (
  SELECT s.s_nationkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
  FROM lineitem JOIN supplier s ON s.s_suppkey = l_suppkey
  GROUP BY l_suppkey, s.s_nationkey
),
nat AS (
  SELECT s_nationkey, sum(rev) AS nat_rev, CAST(count(*) AS BIGINT) AS n_suppliers
  FROM rev GROUP BY 1
)
SELECT rev.s_nationkey,
       any_value(nat.n_suppliers) AS n_suppliers,
       round(CAST(sum(CAST(round((CAST(rev.rev AS DOUBLE) / CAST(nat.nat_rev AS DOUBLE))
                                 * (CAST(rev.rev AS DOUBLE) / CAST(nat.nat_rev AS DOUBLE)), 12)
                           AS DECIMAL(28,12))) AS DOUBLE), 10) AS hhi
FROM rev JOIN nat USING (s_nationkey)
GROUP BY rev.s_nationkey
"""

ORACLES["orders_tail_index_hill"] = """
WITH top AS (
  SELECT o_totalprice,
         row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
  FROM orders QUALIFY rnk <= 501
),
thr AS (SELECT o_totalprice AS x_k1 FROM top WHERE rnk = 501),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         sum(CAST(round(ln(top.o_totalprice / thr.x_k1), 9) AS DECIMAL(28,9))) AS logsum
  FROM top CROSS JOIN thr WHERE top.rnk <= 500
)
SELECT k,
       round(CAST(logsum AS DOUBLE), 6) AS log_ratio_sum,
       round(k / CAST(logsum AS DOUBLE), 6) AS hill_alpha
FROM s
"""

ORACLES["docs_zipf_slope"] = """
WITH term AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS term FROM documents
),
cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM term WHERE term <> '' GROUP BY 1),
top AS (
  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rnk
  FROM cnt QUALIFY rnk <= 500
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_terms,
         sum(CAST(round(ln(CAST(rnk AS DOUBLE)), 9) AS DECIMAL(28,9))) AS sx,
         sum(CAST(round(ln(CAST(cnt AS DOUBLE)), 9) AS DECIMAL(28,9))) AS sy,
         sum(CAST(round(round(ln(CAST(rnk AS DOUBLE)), 9) * round(ln(CAST(rnk AS DOUBLE)), 9), 9) AS DECIMAL(38,9))) AS sxx,
         sum(CAST(round(round(ln(CAST(rnk AS DOUBLE)), 9) * round(ln(CAST(cnt AS DOUBLE)), 9), 9) AS DECIMAL(38,9))) AS sxy
  FROM top
)
SELECT n_terms,
       round((n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n_terms * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS zipf_slope,
       round((CAST(sy AS DOUBLE)
              - ((n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n_terms * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                * CAST(sx AS DOUBLE)) / n_terms, 6) AS intercept
FROM m
"""

ORACLES["events_welch_ttest"] = """
WITH stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(value AS DECIMAL(18,6))) AS s1,
         sum(CAST(round(value * value, 9) AS DECIMAL(38,9))) AS s2
  FROM events GROUP BY 1
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.n AS na, b.n AS nb,
         CAST(a.s1 AS DOUBLE) / a.n AS ma, CAST(b.s1 AS DOUBLE) / b.n AS mb,
         (CAST(a.s2 AS DOUBLE) - a.n * (CAST(a.s1 AS DOUBLE) / a.n) * (CAST(a.s1 AS DOUBLE) / a.n)) / (a.n - 1) AS va,
         (CAST(b.s2 AS DOUBLE) - b.n * (CAST(b.s1 AS DOUBLE) / b.n) * (CAST(b.s1 AS DOUBLE) / b.n)) / (b.n - 1) AS vb
  FROM stats a CROSS JOIN stats b WHERE a.event_type < b.event_type
)
SELECT type_a, type_b, na, nb,
       round((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
       round((va / na + vb / nb) * (va / na + vb / nb)
             / ((va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)), 4) AS welch_df
FROM pairs
"""

ORACLES["events_burstiness"] = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type
                                                ORDER BY epoch_us(ts), event_id) AS gap
  FROM events QUALIFY gap IS NOT NULL
),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_gaps,
         sum(CAST(gap AS DECIMAL(38,0))) AS s1,
         sum(CAST(gap AS DECIMAL(19,0)) * CAST(gap AS DECIMAL(19,0))) AS s2
  FROM gaps GROUP BY 1
)
SELECT event_type, n_gaps,
       round(CAST(s1 AS DOUBLE) / n_gaps, 4) AS mean_gap_us,
       round((sqrt(CAST(s2 AS DOUBLE) / n_gaps
                   - (CAST(s1 AS DOUBLE) / n_gaps) * (CAST(s1 AS DOUBLE) / n_gaps))
              - CAST(s1 AS DOUBLE) / n_gaps)
             / (sqrt(CAST(s2 AS DOUBLE) / n_gaps
                     - (CAST(s1 AS DOUBLE) / n_gaps) * (CAST(s1 AS DOUBLE) / n_gaps))
                + CAST(s1 AS DOUBLE) / n_gaps), 9) AS burstiness
FROM m
"""

ORACLES["orders_survival_km"] = """
WITH anchor AS (SELECT max(o_orderdate) AS a FROM orders),
spans0 AS (
  SELECT CASE WHEN nxt IS NOT NULL
              THEN date_diff('day', CAST(o_orderdate AS DATE), CAST(nxt AS DATE))
              ELSE date_diff('day', CAST(o_orderdate AS DATE), CAST(anchor.a AS DATE)) END AS t,
         nxt IS NOT NULL AS event
  FROM (
    SELECT o_custkey, o_orderdate,
           lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS nxt
    FROM orders
  ) CROSS JOIN anchor
),
spans AS (SELECT * FROM spans0 WHERE t > 0),
per_t AS (
  SELECT t,
         CAST(sum(CASE WHEN event THEN 1 ELSE 0 END) AS BIGINT) AS d,
         CAST(sum(CASE WHEN event THEN 0 ELSE 1 END) AS BIGINT) AS c
  FROM spans GROUP BY 1
),
total AS (SELECT CAST(sum(d + c) AS BIGINT) AS N FROM per_t),
at_risk AS (
  SELECT per_t.*, total.N,
         total.N - coalesce(sum(d + c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_t
  FROM per_t CROSS JOIN total
),
km AS (
  SELECT t, d, c, n_t,
         sum(CAST(CASE WHEN d < n_t
                       THEN round(ln(1.0 - CAST(d AS DOUBLE) / n_t), 9)
                       ELSE -999.0 END AS DECIMAL(28,9)))
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lnS
  FROM at_risk
)
SELECT t, d, c, CAST(n_t AS BIGINT) AS n_t,
       round(exp(CAST(lnS AS DOUBLE)), 9) AS survival
FROM km WHERE d > 0
"""

ORACLES["docs_pmi_pairs"] = """
WITH d AS (SELECT string_split_regex(trim(text), '\\s+') AS tks FROM documents),
pairs AS (
  SELECT u.x AS x, u.y AS y FROM (
    SELECT unnest(list_transform(range(1, len(tks)),
                                 i -> {'x': tks[i], 'y': tks[i + 1]})) AS u
    FROM d WHERE len(tks) >= 2
  )
),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cw FROM (
    SELECT unnest(tks) AS w FROM d
  ) WHERE w <> '' GROUP BY 1
),
big AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS cxy
  FROM pairs WHERE x <> '' AND y <> ''
  GROUP BY 1, 2 HAVING count(*) >= 5
),
n AS (SELECT CAST(sum(cw) AS BIGINT) AS n_tokens FROM uni)
SELECT big.x, big.y, big.cxy,
       round(ln(big.cxy * CAST(n.n_tokens AS DOUBLE)
                / (CAST(ux.cw AS DOUBLE) * uy.cw)), 6) AS pmi
FROM big JOIN uni ux ON ux.w = big.x JOIN uni uy ON uy.w = big.y
CROSS JOIN n
"""

ORACLES["events_gapfill_interp"] = """
WITH roll AS (
  SELECT (epoch_ns(ts) // 1000000000 // 3600) * 3600 AS hour_epoch, event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS mean_value
  FROM events GROUP BY 1, 2
),
rng AS (SELECT min(hour_epoch) AS lo, max(hour_epoch) AS hi FROM roll),
grid AS (
  SELECT t.event_type, g.h AS hour_epoch
  FROM (SELECT DISTINCT event_type FROM roll) t
  CROSS JOIN (SELECT unnest(range(rng.lo, rng.hi + 3600, 3600)) AS h FROM rng) g
),
j AS (
  SELECT grid.event_type, grid.hour_epoch, roll.n, roll.mean_value,
         last_value(roll.mean_value IGNORE NULLS) OVER (
           PARTITION BY grid.event_type ORDER BY grid.hour_epoch
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         last_value(CASE WHEN roll.n IS NOT NULL THEN grid.hour_epoch END IGNORE NULLS) OVER (
           PARTITION BY grid.event_type ORDER BY grid.hour_epoch
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_h,
         first_value(roll.mean_value IGNORE NULLS) OVER (
           PARTITION BY grid.event_type ORDER BY grid.hour_epoch
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN roll.n IS NOT NULL THEN grid.hour_epoch END IGNORE NULLS) OVER (
           PARTITION BY grid.event_type ORDER BY grid.hour_epoch
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_h
  FROM grid LEFT JOIN roll USING (event_type, hour_epoch)
)
SELECT event_type, hour_epoch,
       CAST(coalesce(n, 0) AS BIGINT) AS n,
       round(CASE WHEN n IS NOT NULL THEN mean_value
                  WHEN prev_h IS NOT NULL AND next_h IS NOT NULL
                  THEN prev_v + (next_v - prev_v) * (hour_epoch - prev_h)
                       / (next_h - prev_h)
                  END, 6) AS mean_interp,
       CAST(CASE WHEN n IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap
FROM j
"""

ORACLES["nation_revenue_yoy"] = """
WITH rev AS (
  SELECT s.s_nationkey AS nationkey, year(l_shipdate) AS yr,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS rev
  FROM lineitem JOIN supplier s ON s.s_suppkey = l_suppkey
  GROUP BY 1, 2
)
SELECT CAST(nationkey AS INTEGER) AS nationkey, CAST(yr AS BIGINT) AS yr,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(rev - lag(rev) OVER (PARTITION BY nationkey ORDER BY yr) AS DOUBLE) AS yoy_delta,
       round(CAST(rev - lag(rev) OVER (PARTITION BY nationkey ORDER BY yr) AS DOUBLE)
             / CAST(lag(rev) OVER (PARTITION BY nationkey ORDER BY yr) AS DOUBLE), 6) AS yoy_growth
FROM rev
"""

ORACLES["docs_readability_fk"] = """
WITH d AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), w -> w <> '')) AS INT) AS n_words0,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS INT) AS n_words,
         greatest(CAST(len(regexp_extract_all(text, '[.!?]+')) AS INT), 1) AS n_sentences,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT) AS n_syll0
  FROM documents
)
SELECT doc_id, n_words, n_sentences,
       greatest(n_syll0, n_words) AS n_syllables,
       round(0.39 * CAST(n_words AS DOUBLE) / n_sentences
             + 11.8 * CAST(greatest(n_syll0, n_words) AS DOUBLE) / n_words
             - 15.59, 4) AS fk_grade
FROM d WHERE n_words > 0
"""


ORACLES["cdc_hot_keys"] = f"""
WITH {ENVELOPE_CTE},
per_key AS (
  SELECT "table", pk,
         CAST(count(*) AS BIGINT) AS n_changes,
         CAST(sum(CASE WHEN op = 'UPDATE' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
         CAST(sum(CASE WHEN op = 'DELETE' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
         min(start_lsn) AS first_lsn,
         max(start_lsn) AS last_lsn
  FROM env GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY "table"
                               ORDER BY n_changes DESC, pk ASC) AS rnk
  FROM per_key
)
SELECT "table", pk, n_changes, n_updates, n_deletes,
       CAST(last_lsn - first_lsn AS BIGINT) AS lsn_span,
       CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= 10
"""

ORACLES["ann_recall_eval"] = f"""
WITH exact AS (SELECT query_id, vec_id FROM ({ORACLES['ann_cosine_topk']})),
approx AS (SELECT query_id, vec_id FROM ({ORACLES['ann_lsh_topk']})),
hits AS (
  SELECT e.query_id, e.vec_id,
         (a.vec_id IS NOT NULL) AS hit
  FROM exact e LEFT JOIN approx a
    ON a.query_id = e.query_id AND a.vec_id = e.vec_id
)
SELECT query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       round(sum(CASE WHEN hit THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM hits GROUP BY query_id
"""

ORACLES["events_forecast_backtest"] = """
WITH roll AS (
  SELECT event_type, (epoch_ns(ts) // 1000000000 // 3600) * 3600 AS hour_epoch,
         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS m
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT a.event_type, a.m AS y, l.m AS yhat
  FROM roll a JOIN roll l
    ON l.event_type = a.event_type
   AND l.hour_epoch + 168 * 3600 = a.hour_epoch
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_hours,
       round(CAST(sum(CAST(round(abs(y - yhat) / abs(y), 9) AS DECIMAL(28,9))) AS DOUBLE)
             / count(*), 6) AS mape,
       round(CAST(sum(CAST(round(2.0 * abs(y - yhat) / (abs(y) + abs(yhat)), 9) AS DECIMAL(28,9))) AS DOUBLE)
             / count(*), 6) AS smape,
       round(CAST(sum(CAST(round(yhat - y, 9) AS DECIMAL(28,9))) AS DOUBLE)
             / count(*), 6) AS bias
FROM j GROUP BY event_type
"""

ORACLES["lineitem_latency_quantiles"] = """
WITH li AS (
  SELECT l_returnflag,
         date_diff('day', CAST(date_trunc('month', l_shipdate) AS DATE),
                   CAST(l_shipdate AS DATE)) AS lat
  FROM lineitem
),
hist AS (SELECT l_returnflag, lat, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY 1, 2),
tot AS (SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1),
cum AS (
  SELECT hist.*, tot.n,
         sum(c) OVER (PARTITION BY hist.l_returnflag ORDER BY lat
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist JOIN tot USING (l_returnflag)
)
SELECT l_returnflag, any_value(n) AS n_rows,
       CAST(min(CASE WHEN cum >= ceil(0.5 * n) THEN lat END) AS INTEGER) AS p50,
       CAST(min(CASE WHEN cum >= ceil(0.9 * n) THEN lat END) AS INTEGER) AS p90,
       CAST(min(CASE WHEN cum >= ceil(0.99 * n) THEN lat END) AS INTEGER) AS p99
FROM cum GROUP BY l_returnflag
"""

ORACLES["events_dau_mau"] = """
WITH presence AS (
  SELECT DISTINCT epoch_ns(ts) // 1000000000 // 86400 AS d, user_id AS u
  FROM events
),
bounds AS (SELECT max(d) AS dmax FROM presence),
fan AS (
  SELECT u, d, unnest(range(d, d + 28)) AS obs_day FROM presence
),
per AS (
  SELECT obs_day, u,
         max(CASE WHEN obs_day = d THEN 1 ELSE 0 END) AS dau_u,
         max(CASE WHEN obs_day - d < 7 THEN 1 ELSE 0 END) AS wau_u
  FROM fan GROUP BY 1, 2
),
agg AS (
  SELECT obs_day,
         CAST(sum(dau_u) AS BIGINT) AS dau,
         CAST(sum(wau_u) AS BIGINT) AS wau,
         CAST(count(*) AS BIGINT) AS mau
  FROM per GROUP BY 1
)
SELECT obs_day AS day, dau, wau, mau,
       round(dau / CAST(mau AS DOUBLE), 6) AS stickiness
FROM agg CROSS JOIN bounds WHERE obs_day <= dmax
"""


# Deterministic-sample quantile sketch: the keep decision and the
# rank-based (type-1) selection are byte-stable on both engines, so the
# sketch estimates hash-match exactly (the t-digest analog is
# engine-internal and unverifiable, like the built-in HLLs).
ORACLES["events_quantile_sketch"] = f"""
WITH base AS (
  SELECT event_type, value, event_id,
         CAST({_H52.format(expr="CAST(event_id AS VARCHAR)")} AS BIGINT)
           < 281474976710656 AS in_sample
  FROM events
),
ranked_exact AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS r,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM base 
),
agg_exact AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n_exact,
         max(CASE WHEN r = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS exact_p50,
         max(CASE WHEN r = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS exact_p90,
         max(CASE WHEN r = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS exact_p99
  FROM ranked_exact GROUP BY event_type
),
ranked_sketch AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS r,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM base WHERE in_sample
),
agg_sketch AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n_sketch,
         max(CASE WHEN r = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS sketch_p50,
         max(CASE WHEN r = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS sketch_p90,
         max(CASE WHEN r = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS sketch_p99
  FROM ranked_sketch GROUP BY event_type
)
SELECT e.event_type, e.n_exact AS n, s.n_sketch AS n_sample,
       s.sketch_p50, s.sketch_p90, s.sketch_p99,
       e.exact_p50, e.exact_p90, e.exact_p99
FROM agg_exact e JOIN agg_sketch s USING (event_type)
"""

# The HLL swap-in must land on the identical estimates: the register
# tables are bit-identical on both engines (shared 52-bit md5 domain,
# exact-integer harmonic sum), and window merging is max-per-register.
ORACLES["events_dau_mau_hll"] = f"""
WITH pres AS (
  SELECT epoch_ns(ts) // 1000000000 // 86400 AS d, user_id AS u FROM events
),
h AS (
  SELECT d, CAST({_H52.format(expr="CAST(u AS VARCHAR)")} AS BIGINT) AS h52
  FROM pres
),
regs AS (
  SELECT d, CAST(h52 % 64 AS INT) AS reg,
         max(CASE WHEN h52 // 64 = 0 THEN 47
                  ELSE 46 - CAST(floor(log2(h52 // 64)) AS INT) END) AS rho
  FROM h GROUP BY 1, 2
),
bounds AS (SELECT max(d) AS dmax FROM regs),
fan AS (SELECT reg, rho, d, unnest(range(d, d + 28)) AS obs_day FROM regs),
dau_r AS (SELECT d AS obs_day, reg, rho FROM regs),
wau_r AS (SELECT obs_day, reg, max(rho) AS rho FROM fan
          WHERE obs_day - d < 7 GROUP BY 1, 2),
mau_r AS (SELECT obs_day, reg, max(rho) AS rho FROM fan GROUP BY 1, 2),
dau_est_agg AS (
  SELECT obs_day,
         sum(CAST(1 AS BIGINT) << (47 - rho)) AS s_present,
         count(*) AS n_present
  FROM dau_r GROUP BY obs_day
),
dau_est_c AS (
  SELECT obs_day, 64 - n_present AS zeros,
         CAST(0.709 AS DOUBLE) * 64 * 64 * CAST(140737488355328 AS DOUBLE)
           / CAST(CAST(s_present AS HUGEINT)
                  + CAST(64 - n_present AS HUGEINT) * 140737488355328 AS DOUBLE) AS raw
  FROM dau_est_agg
),
dau_est_e AS (
  SELECT obs_day,
         round(CASE WHEN raw <= 160.0 AND zeros > 0
                    THEN 64.0 * ln(64.0 / zeros) ELSE raw END, 4) AS dau_est
  FROM dau_est_c
),
wau_est_agg AS (
  SELECT obs_day,
         sum(CAST(1 AS BIGINT) << (47 - rho)) AS s_present,
         count(*) AS n_present
  FROM wau_r GROUP BY obs_day
),
wau_est_c AS (
  SELECT obs_day, 64 - n_present AS zeros,
         CAST(0.709 AS DOUBLE) * 64 * 64 * CAST(140737488355328 AS DOUBLE)
           / CAST(CAST(s_present AS HUGEINT)
                  + CAST(64 - n_present AS HUGEINT) * 140737488355328 AS DOUBLE) AS raw
  FROM wau_est_agg
),
wau_est_e AS (
  SELECT obs_day,
         round(CASE WHEN raw <= 160.0 AND zeros > 0
                    THEN 64.0 * ln(64.0 / zeros) ELSE raw END, 4) AS wau_est
  FROM wau_est_c
),
mau_est_agg AS (
  SELECT obs_day,
         sum(CAST(1 AS BIGINT) << (47 - rho)) AS s_present,
         count(*) AS n_present
  FROM mau_r GROUP BY obs_day
),
mau_est_c AS (
  SELECT obs_day, 64 - n_present AS zeros,
         CAST(0.709 AS DOUBLE) * 64 * 64 * CAST(140737488355328 AS DOUBLE)
           / CAST(CAST(s_present AS HUGEINT)
                  + CAST(64 - n_present AS HUGEINT) * 140737488355328 AS DOUBLE) AS raw
  FROM mau_est_agg
),
mau_est_e AS (
  SELECT obs_day,
         round(CASE WHEN raw <= 160.0 AND zeros > 0
                    THEN 64.0 * ln(64.0 / zeros) ELSE raw END, 4) AS mau_est
  FROM mau_est_c
)
SELECT d.obs_day AS day, d.dau_est, w.wau_est, m.mau_est,
       round(d.dau_est / m.mau_est, 6) AS stickiness_est
FROM dau_est_e d JOIN wau_est_e w USING (obs_day)
JOIN mau_est_e m USING (obs_day) CROSS JOIN bounds
WHERE d.obs_day <= dmax
"""


ORACLES["docs_profile_hll"] = f"""
WITH melted AS (
  SELECT 'doc_id' AS "column", CAST(doc_id AS VARCHAR) AS val FROM documents
  UNION ALL SELECT 'text', CAST(text AS VARCHAR) FROM documents
  UNION ALL SELECT 'lang', CAST(lang AS VARCHAR) FROM documents
  UNION ALL SELECT 'source', CAST(source AS VARCHAR) FROM documents
  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
),
counts AS (
  SELECT "column", CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
  FROM melted GROUP BY 1
),
h AS (
  SELECT "column", CAST({_H52.format(expr="val")} AS BIGINT) AS h52
  FROM melted WHERE val IS NOT NULL
),
regs AS (
  SELECT "column", CAST(h52 % 64 AS INT) AS reg,
         max(CASE WHEN h52 // 64 = 0 THEN 47
                  ELSE 46 - CAST(floor(log2(h52 // 64)) AS INT) END) AS rho
  FROM h GROUP BY 1, 2
),
agg AS (
  SELECT "column",
         sum(CAST(1 AS BIGINT) << (47 - rho)) AS s_present,
         count(*) AS n_present
  FROM regs GROUP BY 1
),
calc AS (
  SELECT "column", 64 - n_present AS zeros,
         CAST(0.709 AS DOUBLE) * 64 * 64 * CAST(140737488355328 AS DOUBLE)
           / CAST(CAST(s_present AS HUGEINT)
                  + CAST(64 - n_present AS HUGEINT) * 140737488355328 AS DOUBLE) AS raw
  FROM agg
)
SELECT c."column", c.n_rows, c.n_null,
       round(CASE WHEN raw <= 160.0 AND zeros > 0
                  THEN 64.0 * ln(64.0 / zeros) ELSE raw END, 4) AS est_distinct,
       CAST(zeros AS BIGINT) AS n_zero_registers
FROM counts c JOIN calc USING ("column")
"""

ORACLES["lineitem_metric_correlations"] = """
WITH ints AS (
  SELECT l_returnflag,
         CAST(round(l_quantity) AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
         CAST(round(l_discount * 100) AS BIGINT) AS c
  FROM lineitem
),
m AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS DECIMAL(38,0)) AS s_qty,
         CAST(sum(p) AS DECIMAL(38,0)) AS s_price,
         CAST(sum(c) AS DECIMAL(38,0)) AS s_disc,
         CAST(sum(q * q) AS DECIMAL(38,0)) AS s_qty_qty,
         CAST(sum(p * q) AS DECIMAL(38,0)) AS s_price_qty,
         CAST(sum(c * q) AS DECIMAL(38,0)) AS s_disc_qty,
         CAST(sum(p * p) AS DECIMAL(38,0)) AS s_price_price,
         CAST(sum(c * p) AS DECIMAL(38,0)) AS s_disc_price,
         CAST(sum(c * c) AS DECIMAL(38,0)) AS s_disc_disc
  FROM ints GROUP BY 1
)
SELECT l_returnflag, n AS n_rows,
       round((n * CAST(s_price_qty AS DOUBLE) - CAST(s_qty AS DOUBLE) * CAST(s_price AS DOUBLE))
             / sqrt((n * CAST(s_qty_qty AS DOUBLE) - CAST(s_qty AS DOUBLE) * CAST(s_qty AS DOUBLE))
                    * (n * CAST(s_price_price AS DOUBLE) - CAST(s_price AS DOUBLE) * CAST(s_price AS DOUBLE))), 8) AS corr_qty_price,
       round((n * CAST(s_disc_qty AS DOUBLE) - CAST(s_qty AS DOUBLE) * CAST(s_disc AS DOUBLE))
             / sqrt((n * CAST(s_qty_qty AS DOUBLE) - CAST(s_qty AS DOUBLE) * CAST(s_qty AS DOUBLE))
                    * (n * CAST(s_disc_disc AS DOUBLE) - CAST(s_disc AS DOUBLE) * CAST(s_disc AS DOUBLE))), 8) AS corr_qty_disc,
       round((n * CAST(s_disc_price AS DOUBLE) - CAST(s_price AS DOUBLE) * CAST(s_disc AS DOUBLE))
             / sqrt((n * CAST(s_price_price AS DOUBLE) - CAST(s_price AS DOUBLE) * CAST(s_price AS DOUBLE))
                    * (n * CAST(s_disc_disc AS DOUBLE) - CAST(s_disc AS DOUBLE) * CAST(s_disc AS DOUBLE))), 8) AS corr_price_disc
FROM m
"""

ORACLES["mm_image_tiles"] = """
WITH img AS (
  SELECT doc_id AS media_id, text, length(text) AS n
  FROM documents WHERE doc_id % 3 = 0 AND length(text) > 0
),
px AS (
  SELECT media_id,
         (k.k // 40) // 10 AS tile_r,
         (k.k % 40) // 10 AS tile_c,
         unicode(substr(text, CAST(k.k % n AS INTEGER) + 1, 1)) AS code
  FROM img CROSS JOIN (SELECT unnest(range(0, 1600)) AS k) k
),
tiles AS (
  SELECT media_id, CAST(tile_r AS INTEGER) AS tile_r, CAST(tile_c AS INTEGER) AS tile_c,
         CAST(sum(code) AS BIGINT) AS s, CAST(sum(code * code) AS BIGINT) AS s2,
         CAST(count(*) AS BIGINT) AS n_px
  FROM px GROUP BY 1, 2, 3
)
SELECT media_id, tile_r, tile_c,
       round(s / CAST(n_px AS DOUBLE), 6) AS mean_luma,
       round(s2 / CAST(n_px AS DOUBLE) - (s / CAST(n_px AS DOUBLE)) * (s / CAST(n_px AS DOUBLE)), 6) AS var_luma,
       (s2 / CAST(n_px AS DOUBLE) - (s / CAST(n_px AS DOUBLE)) * (s / CAST(n_px AS DOUBLE))) < 1.0 AS is_flat
FROM tiles
"""

ORACLES["mm_video_scene_cuts"] = """
WITH video AS (
  SELECT doc_id AS media_id, text FROM documents
  WHERE doc_id % 3 = 2 AND length(text) > 0
),
fidx AS (
  SELECT media_id, text,
         unnest(range(CAST(ceil(length(text) / 40.0) AS BIGINT))) AS frame_idx
  FROM video
),
frames AS (
  SELECT media_id, frame_idx,
         list_sum([ord(substr(text, CAST(frame_idx * 40 + x AS INT), 1))
                   for x in range(1, CAST(least(40, length(text) - frame_idx * 40) AS INT) + 1)]) AS energy,
         least(40, length(text) - frame_idx * 40) AS flen
  FROM fidx
),
cur AS (
  SELECT media_id, frame_idx, energy, flen,
         energy / CAST(flen AS DOUBLE) AS m,
         lag(energy / CAST(flen AS DOUBLE)) OVER (PARTITION BY media_id ORDER BY frame_idx) AS prev_m
  FROM frames
),
scenes AS (
  SELECT *, sum(CASE WHEN prev_m IS NOT NULL AND abs(m - prev_m) >= 2.0
                     THEN 1 ELSE 0 END)
            OVER (PARTITION BY media_id ORDER BY frame_idx
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS scene_id
  FROM cur
)
SELECT media_id, CAST(scene_id AS INTEGER) AS scene_id,
       CAST(min(frame_idx) AS INT) AS start_frame,
       CAST(max(frame_idx) AS INT) AS end_frame,
       CAST(count(*) AS BIGINT) AS n_frames,
       round(sum(energy) / CAST(sum(flen) AS DOUBLE), 6) AS mean_energy
FROM scenes GROUP BY media_id, scene_id
"""

ORACLES["cdc_rebucket_migration"] = ORACLES["cdc_current_state"]

ORACLES["events_haar_wavelet"] = """
WITH daily AS (
  SELECT event_type, epoch_ns(ts) // 1000000000 // 86400 AS d,
         CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS a
  FROM events GROUP BY 1, 2
),
l0 AS (
  SELECT event_type,
         row_number() OVER (PARTITION BY event_type ORDER BY d) - 1 AS i, a
  FROM daily
),
p1 AS (
  SELECT event_type, i // 2 AS i, count(*) AS np,
         sum(CASE WHEN i % 2 = 0 THEN a END) AS a0,
         sum(CASE WHEN i % 2 = 1 THEN a END) AS a1
  FROM l0 GROUP BY event_type, i // 2
),
l1 AS (
  SELECT event_type, i,
         CASE WHEN np = 2 THEN (a0 + a1) / 2.0 ELSE a0 END AS a,
         CASE WHEN np = 2 THEN (a0 - a1) / 2.0 ELSE 0.0 END AS dcoef
  FROM p1
),
p2 AS (
  SELECT event_type, i // 2 AS i, count(*) AS np,
         sum(CASE WHEN i % 2 = 0 THEN a END) AS a0,
         sum(CASE WHEN i % 2 = 1 THEN a END) AS a1
  FROM l1 GROUP BY event_type, i // 2
),
l2 AS (
  SELECT event_type, i,
         CASE WHEN np = 2 THEN (a0 + a1) / 2.0 ELSE a0 END AS a,
         CASE WHEN np = 2 THEN (a0 - a1) / 2.0 ELSE 0.0 END AS dcoef
  FROM p2
),
p3 AS (
  SELECT event_type, i // 2 AS i, count(*) AS np,
         sum(CASE WHEN i % 2 = 0 THEN a END) AS a0,
         sum(CASE WHEN i % 2 = 1 THEN a END) AS a1
  FROM l2 GROUP BY event_type, i // 2
),
l3 AS (
  SELECT event_type, i,
         CASE WHEN np = 2 THEN (a0 + a1) / 2.0 ELSE a0 END AS a,
         CASE WHEN np = 2 THEN (a0 - a1) / 2.0 ELSE 0.0 END AS dcoef
  FROM p3
),
e AS (
  SELECT event_type, 1 AS level, CAST(count(*) AS BIGINT) AS n_coeffs,
         sum(CAST(round(dcoef * dcoef, 9) AS DECIMAL(38,9))) AS de,
         sum(CAST(round(a * a, 9) AS DECIMAL(38,9))) AS ae
  FROM l1 GROUP BY 1
  UNION ALL
  SELECT event_type, 2, CAST(count(*) AS BIGINT),
         sum(CAST(round(dcoef * dcoef, 9) AS DECIMAL(38,9))),
         sum(CAST(round(a * a, 9) AS DECIMAL(38,9)))
  FROM l2 GROUP BY 1
  UNION ALL
  SELECT event_type, 3, CAST(count(*) AS BIGINT),
         sum(CAST(round(dcoef * dcoef, 9) AS DECIMAL(38,9))),
         sum(CAST(round(a * a, 9) AS DECIMAL(38,9)))
  FROM l3 GROUP BY 1
)
SELECT event_type, CAST(level AS INTEGER) AS level, n_coeffs,
       round(CAST(de AS DOUBLE), 6) AS detail_energy,
       round(CAST(ae AS DOUBLE), 6) AS approx_energy
FROM e
"""

ORACLES["customer_feature_store"] = """
WITH anchor AS (SELECT max(o_orderdate) AS a FROM orders),
gaps AS (
  SELECT o_custkey, o_totalprice, o_orderdate,
         date_diff('day',
                   CAST(lag(o_orderdate) OVER (PARTITION BY o_custkey
                                               ORDER BY o_orderdate) AS DATE),
                   CAST(o_orderdate AS DATE)) AS gap_days
  FROM orders
),
feats AS (
  SELECT o_custkey,
         min(date_diff('day', CAST(o_orderdate AS DATE), CAST(anchor.a AS DATE))) AS recency_days,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
         CAST(max(CAST(o_totalprice AS DECIMAL(18,2)))
              - min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend_spread,
         round(avg(CAST(gap_days AS DOUBLE)), 6) AS avg_gap_days
  FROM gaps CROSS JOIN anchor GROUP BY o_custkey, anchor.a
)
SELECT c_custkey, c_mktsegment, c_nationkey,
       round(c_acctbal, 2) AS acctbal,
       recency_days, n_orders, total_spend, spend_spread, avg_gap_days
FROM customer LEFT JOIN feats ON o_custkey = c_custkey
"""

ORACLES["orders_backlog_curve"] = """
WITH spans AS (
  SELECT CAST(o.o_orderdate AS DATE) AS open_day,
         CAST(li.close_date AS DATE) AS close_day
  FROM orders o
  JOIN (SELECT l_orderkey, max(l_shipdate) AS close_date
        FROM lineitem GROUP BY 1) li
    ON li.l_orderkey = o.o_orderkey
),
deltas AS (
  SELECT day, CAST(sum(opens) AS BIGINT) AS opens,
         CAST(sum(closes) AS BIGINT) AS closes
  FROM (
    SELECT open_day AS day, 1 AS opens, 0 AS closes FROM spans
    UNION ALL
    SELECT close_day + INTERVAL 1 DAY, 0, 1 FROM spans
  ) GROUP BY day
)
SELECT strftime(day, '%Y-%m-%d') AS day, opens, closes,
       CAST(sum(opens - closes) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS open_orders
FROM deltas
"""

ORACLES["corpus_heaps_law"] = """
WITH term AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
  FROM documents
),
t AS (SELECT doc_id, term FROM term WHERE term <> ''),
per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM t GROUP BY 1),
firsts AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new_terms FROM (
    SELECT term, min(doc_id) AS doc_id FROM t GROUP BY 1
  ) GROUP BY 1
),
curve AS (
  SELECT p.doc_id, p.n_tokens, coalesce(f.n_new_terms, 0) AS n_new_terms,
         sum(p.n_tokens) OVER (ORDER BY p.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens,
         sum(coalesce(f.n_new_terms, 0)) OVER (ORDER BY p.doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_vocab
  FROM per_doc p LEFT JOIN firsts f USING (doc_id)
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(max(cum_tokens) AS BIGINT) AS total_tokens,
         CAST(max(cum_vocab) AS BIGINT) AS vocab_size,
         sum(CAST(round(ln(CAST(cum_tokens AS DOUBLE)), 9) AS DECIMAL(28,9))) AS sx,
         sum(CAST(round(ln(CAST(cum_vocab AS DOUBLE)), 9) AS DECIMAL(28,9))) AS sy,
         sum(CAST(round(round(ln(CAST(cum_tokens AS DOUBLE)), 9)
                        * round(ln(CAST(cum_tokens AS DOUBLE)), 9), 9) AS DECIMAL(38,9))) AS sxx,
         sum(CAST(round(round(ln(CAST(cum_tokens AS DOUBLE)), 9)
                        * round(ln(CAST(cum_vocab AS DOUBLE)), 9), 9) AS DECIMAL(38,9))) AS sxy
  FROM curve
)
SELECT n_docs, total_tokens, vocab_size,
       round((n_docs * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (n_docs * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS heaps_beta,
       round(exp((CAST(sy AS DOUBLE)
                  - ((n_docs * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (n_docs * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                    * CAST(sx AS DOUBLE)) / n_docs), 6) AS heaps_k
FROM m
"""

ORACLES["events_entropy_rate"] = """
WITH pairs AS (
  SELECT event_type AS s,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_ns(ts), event_id) AS t
  FROM events QUALIFY t IS NOT NULL
),
cells AS (SELECT s, t, CAST(count(*) AS BIGINT) AS c_st FROM pairs GROUP BY 1, 2),
per_s AS (SELECT s, CAST(sum(c_st) AS BIGINT) AS c_s FROM cells GROUP BY 1),
tot AS (SELECT CAST(sum(c_s) AS BIGINT) AS n FROM per_s),
hs AS (
  SELECT cells.s,
         any_value(per_s.c_s) AS n_transitions,
         CAST(count(*) AS BIGINT) AS n_successors,
         sum(CAST(round(-(CAST(cells.c_st AS DOUBLE) / per_s.c_s)
                        * ln(CAST(cells.c_st AS DOUBLE) / per_s.c_s), 9)
                  AS DECIMAL(28,9))) AS h_d
  FROM cells JOIN per_s USING (s) GROUP BY cells.s
)
SELECT s AS state, n_transitions, n_successors,
       round(CAST(h_d AS DOUBLE), 6) AS entropy_nats,
       round(CAST(h_d AS DOUBLE) * (n_transitions / CAST(tot.n AS DOUBLE)), 6) AS rate_contribution
FROM hs CROSS JOIN tot
"""

ORACLES["embeddings_centroid_separation"] = """
WITH e AS (
  SELECT label, u.i - 1 AS pos, CAST(u.x AS DOUBLE) AS v FROM (
    SELECT label,
           unnest(list_transform(embedding, (x, i) -> {'i': i, 'x': x})) AS u
    FROM embeddings
  )
),
cent AS (
  SELECT label, pos,
         CAST(sum(CAST(round(v, 9) AS DECIMAL(28,9))) AS DOUBLE) / count(*) AS mu
  FROM e GROUP BY 1, 2
),
pairs AS (
  SELECT a.label AS label_a, b.label AS label_b,
         CAST(round((a.mu - b.mu) * (a.mu - b.mu), 9) AS DECIMAL(38,9)) AS d2
  FROM cent a JOIN cent b ON a.pos = b.pos AND a.label < b.label
)
SELECT label_a, label_b,
       round(CAST(sum(d2) AS DOUBLE), 6) AS dist_sq,
       round(sqrt(CAST(sum(d2) AS DOUBLE)), 6) AS dist
FROM pairs GROUP BY 1, 2
"""

# --- round-8 additions -------------------------------------------------

# DDL (key + value rename, defaulted add) composed with rebucket,
# compaction, expiry, and a replayed batch must land on exactly the
# one-shot batch LWW state with the renames folded in.
ORACLES["cdc_ddl_rebucket_compact"] = f"""
WITH {ENVELOPE_CTE},
bounds AS (SELECT min(commit_lsn) AS lo, max(commit_lsn) AS hi FROM env),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY commit_lsn DESC, tx_ordinal DESC) AS rn
  FROM env
)
SELECT pk AS id, op, commit_lsn, tx_ordinal, value AS amount,
       CASE WHEN commit_lsn <= (SELECT lo + (hi - lo) // 3 FROM bounds)
            THEN 'standard' END AS tier
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
"""

# SCD2 destination under mid-stream DDL: the batch SCD2 window with the
# rename folded in; version rows OPENED at or before the DDL cut read the
# lazily-backfilled default, later versions carry NULL.
ORACLES["cdc_scd2_schema_evolution"] = f"""
WITH {ENVELOPE_CTE},
bounds AS (SELECT min(commit_lsn) AS lo, max(commit_lsn) AS hi FROM env),
h AS (
  SELECT pk, op, commit_lsn AS valid_from, tx_ordinal,
         lead(commit_lsn) OVER (PARTITION BY pk ORDER BY commit_lsn, tx_ordinal) AS valid_to,
         value
  FROM env
)
SELECT pk, op, valid_from, tx_ordinal, CAST(valid_to AS DOUBLE) AS valid_to,
       (valid_to IS NULL) AS is_current, value AS amount,
       CASE WHEN valid_from <= (SELECT lo + (hi - lo) // 3 FROM bounds)
            THEN 'standard' END AS tier
FROM h WHERE op <> 'DELETE'
"""

# DOULION p=1/2 sampled triangles: deterministic md5 edge sampling makes
# the sampled count and the p^-3 estimate exactly mirrorable.
ORACLES["parts_triangle_sample"] = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
    AND {_H52.format(expr="CAST(a.l_partkey AS VARCHAR) || ':' || CAST(b.l_partkey AS VARCHAR)")} % 2 = 0
),
tri AS (
  SELECT count(*) AS t
  FROM edges e1
  JOIN edges e2 ON e1.v = e2.u
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_sampled_edges,
       CAST(tri.t AS BIGINT) AS sampled_triangles,
       CAST(tri.t * 8 AS DOUBLE) AS est_triangles
FROM tri
"""

# DuckDB warehouse destination (staging-merge + applied-batches dedup)
# must land on exactly the batch LWW state.
ORACLES["cdc_duckdb_current_state"] = f"""
WITH {ENVELOPE_CTE},
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY commit_lsn DESC, tx_ordinal DESC) AS rn
  FROM env
)
SELECT pk, value, props
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
"""

# Crash-replay across two in-batch DDLs (X155): the final current-state
# table equals the batch LWW over the four pgoutput transactions with the
# drop + rename folded in. Winner per pk = max event_id (commit_lsn rises
# by range; tx_ordinal = in-range event rank). Integer cuts mirror the
# Spark harness's // arithmetic exactly.
ORACLES["cdc_crash_replay_ddl"] = """
WITH b AS (SELECT min(event_id) AS lo, max(event_id) AS hi FROM events),
c AS (SELECT lo, hi,
        lo + (hi - lo) // 4 AS q1,
        lo + (hi - lo) // 2 AS q2,
        lo + (hi - lo) * 3 // 4 AS q3 FROM b),
env AS (
  SELECT e.user_id AS pk,
         CASE WHEN e.event_type = 'error' THEN 'DELETE'
              WHEN e.event_id <= c.q1 THEN 'INSERT'
              ELSE 'UPDATE' END AS op,
         CAST(CASE WHEN e.event_id <= c.q1 THEN c.q1 * 10 + 5
                   WHEN e.event_id <= c.q2 THEN c.q2 * 10 + 5
                   WHEN e.event_id <= c.q3 THEN c.q3 * 10 + 5
                   ELSE c.hi * 10 + 5 END AS BIGINT) AS commit_lsn,
         CAST(row_number() OVER (
             PARTITION BY CASE WHEN e.event_id <= c.q1 THEN 1
                               WHEN e.event_id <= c.q2 THEN 2
                               WHEN e.event_id <= c.q3 THEN 3 ELSE 4 END
             ORDER BY e.event_id) - 1 AS BIGINT) AS tx_ordinal,
         CAST(e.value AS DOUBLE) AS amount,
         e.event_id
  FROM events e CROSS JOIN c
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY event_id DESC) AS rn
  FROM env
)
SELECT pk, op, commit_lsn, tx_ordinal, amount
FROM ranked WHERE rn = 1 AND op <> 'DELETE'
"""

# SCD2 at the SQL warehouse (X156): the version table equals the batch
# SCD2 window over the envelope — the cdc_scd2_history derivation with
# value only (the sink stores exactly the staged payload columns).
ORACLES["cdc_duckdb_scd2"] = f"""
WITH {ENVELOPE_CTE},
h AS (
  SELECT pk, op, commit_lsn AS valid_from, tx_ordinal,
         lead(commit_lsn) OVER (PARTITION BY pk ORDER BY commit_lsn, tx_ordinal) AS valid_to,
         value
  FROM env
)
SELECT pk, op, valid_from, tx_ordinal, CAST(valid_to AS DOUBLE) AS valid_to,
       (valid_to IS NULL) AS is_current, value
FROM h WHERE op <> 'DELETE'
"""

# Changelog fidelity at the SQL warehouse (X157): every envelope event
# exactly once, replays (whole-batch and partial) absorbed.
ORACLES["cdc_duckdb_changelog"] = f"""
WITH {ENVELOPE_CTE}
SELECT op, commit_lsn, tx_ordinal, pk, value FROM env
"""

ORACLES["docs_source_caps"] = r"""
WITH tok AS (
  SELECT doc_id, source, text,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
feat AS (
  SELECT doc_id, source,
         len(toks) AS n_tokens,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g'))
           / greatest(length(text), 1) AS punct_ratio,
         len(list_filter(toks, t -> t IN ('the','a','and','of','to','in','is')))
           / greatest(len(toks), 1) AS stopword_ratio
  FROM tok
),
scored AS (
  SELECT source, doc_id,
         round(least(n_tokens / 100.0, 1.0) * 0.4 + stopword_ratio * 0.3
               + (1.0 - punct_ratio) * 0.3, 6) AS quality
  FROM feat
),
ranked AS (
  SELECT source, doc_id, quality,
         row_number() OVER (PARTITION BY source
                            ORDER BY quality DESC, doc_id ASC) AS rank
  FROM scored
)
SELECT source, doc_id, quality, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""

ORACLES["docs_source_js_divergence"] = r"""
WITH toks AS (
  SELECT source, t.tok
  FROM documents,
       LATERAL unnest(regexp_split_to_array(trim(text), '\s+')) AS t(tok)
  WHERE length(t.tok) > 0
),
per AS (
  SELECT source, tok, count(*) AS n FROM toks GROUP BY source, tok
),
gtab AS (
  SELECT tok, count(*) AS gn FROM toks GROUP BY tok
),
src_tot AS (
  SELECT source, sum(n) AS sn FROM per GROUP BY source
),
g_total AS (
  SELECT count(*) AS gt FROM toks
),
j AS (
  SELECT per.source,
         per.n / src_tot.sn AS p,
         gtab.gn / (SELECT CAST(gt AS DOUBLE) FROM g_total) AS q
  FROM per
  JOIN gtab USING (tok)
  JOIN src_tot USING (source)
),
terms AS (
  SELECT source,
         CAST(round(0.5 * p * ln(2.0 * p / (p + q))
                    + 0.5 * q * ln(2.0 * q / (p + q)), 9)
              AS DECIMAL(38,9)) AS dec,
         CAST(round(q, 9) AS DECIMAL(38,9)) AS qdec
  FROM j
),
agg AS (
  SELECT source,
         sum(dec) AS present_sum,
         sum(qdec) AS q_present
  FROM terms GROUP BY source
)
SELECT a.source,
       CAST(s.sn AS BIGINT) AS n_tokens_source,
       round(CAST(a.present_sum AS DOUBLE)
             + 0.5 * ln(2.0) * (1.0 - CAST(a.q_present AS DOUBLE)), 6)
         AS js_div
FROM agg a JOIN src_tot s ON a.source = s.source
"""

ORACLES["docs_dup_rate_by_source"] = r"""
WITH per AS (
  SELECT source, md5(text) AS dig, count(*) AS n
  FROM documents GROUP BY source, md5(text)
),
spread AS (
  SELECT dig, count(*) AS n_src FROM per GROUP BY dig
),
agg AS (
  SELECT per.source,
         sum(per.n) AS n_docs,
         sum(per.n) - count(*) AS n_dup_within,
         sum(CASE WHEN spread.n_src > 1 THEN per.n ELSE 0 END) AS n_cross_source
  FROM per JOIN spread USING (dig)
  GROUP BY per.source
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_dup_within AS BIGINT) AS n_dup_within,
       CAST(n_cross_source AS BIGINT) AS n_cross_source,
       round(CAST(n_dup_within AS DOUBLE) / n_docs, 6) AS dup_rate
FROM agg
"""

ORACLES["events_session_paths"] = """
-- sessionize by the 30-min gap (same CTE as sessionize_events), then
-- the first-5-event-type path per session, counted per path
WITH s AS (
  SELECT user_id, event_id, ts, event_type,
         lag(ts) OVER w AS prev_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s2 AS (
  SELECT *,
         CASE WHEN prev_ts IS NULL
                OR epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000 THEN 1 ELSE 0 END AS new_session
  FROM s
),
s3 AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM s2
),
per_sess AS (
  SELECT user_id, session_idx,
         list(event_type ORDER BY ts, event_id) AS evs,
         count(*) AS n_events
  FROM s3 GROUP BY user_id, session_idx
)
SELECT array_to_string(evs[1:5], '>') AS path,
       count(*) AS n_sessions,
       round(avg(n_events), 6) AS avg_session_events,
       max(n_events) AS max_session_events
FROM per_sess GROUP BY 1
"""

ORACLES["orders_seasonal_decompose"] = """
-- additive decomposition on the monthly revenue series: centered
-- 13-month MA trend (full windows only), per-calendar-month seasonal
-- index over detrended values, residual = value - trend - seasonal
WITH m AS (
  SELECT date_trunc('month', o_orderdate) AS month,
         sum(o_totalprice) AS revenue
  FROM orders GROUP BY 1
),
t AS (
  SELECT month, revenue,
         CASE WHEN count(*) OVER w = 13 THEN avg(revenue) OVER w END AS trend,
         month(month) AS moy
  FROM m
  WINDOW w AS (ORDER BY month ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)
),
s AS (
  SELECT moy, avg(revenue - trend) AS seasonal
  FROM t WHERE trend IS NOT NULL GROUP BY moy
)
SELECT strftime(t.month, '%Y-%m') AS month,
       round(t.revenue, 4) AS revenue,
       round(t.trend, 4) AS trend,
       round(s.seasonal, 4) AS seasonal,
       round(t.revenue - t.trend - s.seasonal, 4) AS residual
FROM t LEFT JOIN s USING (moy)
"""

ORACLES["docs_containment_dedup"] = r"""
-- exact-threshold oracle (same argument as docs_exact_jaccard_join: the
-- one-sided prefix filter is pure candidate pruning, so naive
-- share-any-token candidates + exact verify give the identical pair set;
-- directional: containment(A in B) = |A∩B| / |A|)
WITH tok AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
  FROM documents
),
sets AS (SELECT doc_id, s, len(s) AS n FROM tok),
tokd AS (SELECT doc_id, unnest(s) AS t FROM tok),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM tokd a JOIN tokd b USING (t)
  WHERE a.doc_id <> b.doc_id
)
SELECT c.id_a, c.id_b,
       len(list_intersect(sa.s, sb.s)) AS inter,
       sa.n AS n_a,
       round(len(list_intersect(sa.s, sb.s)) * 1.0 / sa.n, 6) AS containment
FROM cand c
JOIN sets sa ON sa.doc_id = c.id_a
JOIN sets sb ON sb.doc_id = c.id_b
WHERE len(list_intersect(sa.s, sb.s)) * 1.0 / sa.n >= 0.98
"""

ORACLES["corpus_dedup_best_quality"] = r"""
-- exact Jaccard >= 0.9 clusters (recursive min-reachable CC, as in
-- docs_exact_jaccard_clusters) + quality scores; keeper per cluster =
-- highest rounded quality, ties to the lowest doc_id
WITH RECURSIVE tok AS (
  SELECT doc_id, text, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
  FROM documents
),
sets AS (SELECT doc_id, s, len(s) AS n FROM tok),
tokd AS (SELECT doc_id, unnest(s) AS t FROM tok),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM tokd a JOIN tokd b USING (t)
  WHERE a.doc_id < b.doc_id
),
edges AS (
  SELECT c.id_a AS a, c.id_b AS b
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.id_a
  JOIN sets sb ON sb.doc_id = c.id_b
  WHERE len(list_intersect(sa.s, sb.s)) /
        greatest(sa.n + sb.n - len(list_intersect(sa.s, sb.s)), 1) >= 0.9
),
und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT u.b, reach.r FROM reach JOIN und u ON u.a = reach.node
),
comp AS (SELECT node AS doc_id, min(r) AS rep_id FROM reach GROUP BY node),
toks2 AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
feat AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) / greatest(length(text), 1) AS punct_ratio,
         len(list_filter(toks, t -> t IN ('the','a','and','of','to','in','is')))
           / greatest(len(toks), 1) AS stopword_ratio
  FROM toks2
),
q AS (
  SELECT doc_id,
         round(least(n_tokens / 100.0, 1.0) * 0.4 + stopword_ratio * 0.3
               + (1.0 - punct_ratio) * 0.3, 6) AS quality
  FROM feat
),
j AS (SELECT comp.doc_id, comp.rep_id, q.quality FROM comp JOIN q USING (doc_id)),
best AS (
  SELECT rep_id, first(doc_id ORDER BY quality DESC, doc_id ASC) AS keep_id
  FROM j GROUP BY rep_id
)
SELECT j.doc_id, j.rep_id, j.quality, j.doc_id = b.keep_id AS keep
FROM j JOIN best b USING (rep_id)
"""

ORACLES["cdc_socket_copy_sync"] = r"""
WITH snap AS (
  SELECT c_custkey AS pk,
         CASE WHEN c_custkey % 7 = 0 THEN NULL
              ELSE CAST(c_acctbal AS DOUBLE) END AS bal,
         c_name || chr(9) || 'q\z' AS name,
         0 AS seq
  FROM customer WHERE c_custkey % 5 <> 0
),
wal AS (
  SELECT c_custkey AS pk,
         CASE WHEN c_custkey % 5 = 0 THEN CAST(c_acctbal AS DOUBLE)
              ELSE CAST(c_acctbal AS DOUBLE) + 100 END AS bal,
         CASE WHEN c_custkey % 5 = 0 THEN c_name ELSE c_name || '!' END AS name,
         1 AS seq
  FROM customer WHERE c_custkey % 5 = 0 OR c_custkey % 3 = 0
),
merged AS (SELECT * FROM snap UNION ALL SELECT * FROM wal),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pk ORDER BY seq DESC) AS rn
  FROM merged
)
SELECT pk, bal, name FROM ranked WHERE rn = 1
"""

ORACLES["lineitem_theil_index"] = f"""
WITH sup AS (
  SELECT l_suppkey, sum({_D}) AS rev FROM lineitem GROUP BY 1
),
stats AS (SELECT sum(rev) AS total, count(*) AS n FROM sup),
terms AS (
  SELECT s.n,
         CAST(round((CAST(rev AS DOUBLE) / (CAST(total AS DOUBLE) / n))
              * ln(CAST(rev AS DOUBLE) / (CAST(total AS DOUBLE) / n)), 9)
              AS DECIMAL(38,9)) AS t_term,
         CAST(round(ln((CAST(total AS DOUBLE) / n) / CAST(rev AS DOUBLE)), 9)
              AS DECIMAL(38,9)) AS l_term
  FROM sup, stats s
)
SELECT n AS n_suppliers,
       round(CAST(sum(t_term) AS DOUBLE) / n, 6) AS theil_t,
       round(CAST(sum(l_term) AS DOUBLE) / n, 6) AS theil_l
FROM terms GROUP BY n
"""

ORACLES["orders_runs_test"] = """
WITH daily AS (
  SELECT o_orderdate,
         sum(CAST(o_totalprice AS DECIMAL(12,2))) AS rev
  FROM orders GROUP BY 1
),
d AS (
  SELECT o_orderdate, rev - lag(rev) OVER (ORDER BY o_orderdate) AS delta
  FROM daily
),
signed AS (
  SELECT o_orderdate, CASE WHEN delta > 0 THEN 1 ELSE -1 END AS sign
  FROM d WHERE delta IS NOT NULL AND delta <> 0
),
flagged AS (
  SELECT sign,
         CASE WHEN lag(sign) OVER (ORDER BY o_orderdate) IS NULL
                OR sign <> lag(sign) OVER (ORDER BY o_orderdate)
              THEN 1 ELSE 0 END AS new_run
  FROM signed
),
agg AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN sign = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(sum(CASE WHEN sign = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
         CAST(sum(new_run) AS BIGINT) AS runs
  FROM flagged
)
SELECT n AS n_deltas, n_pos, n_neg, runs,
       round(2.0 * n_pos * n_neg / n + 1.0, 6) AS expected_runs,
       round((runs - (2.0 * n_pos * n_neg / n + 1.0))
             / sqrt((2.0 * n_pos * n_neg * (2.0 * n_pos * n_neg - n))
                    / (CAST(n AS DOUBLE) * n * (n - 1.0))), 6) AS z_score
FROM agg
"""

ORACLES["docs_simpson_diversity"] = """
WITH term AS (
  SELECT source, unnest(string_split_regex(trim(text), '\\s+')) AS term
  FROM documents
),
tf AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS f
  FROM term WHERE term <> '' GROUP BY 1, 2
)
SELECT source,
       CAST(sum(f) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS vocab,
       round(CAST(sum(f * (f - 1)) AS DOUBLE)
             / (CAST(sum(f) AS DOUBLE) * (CAST(sum(f) AS DOUBLE) - 1.0)),
             9) AS simpson_d
FROM tf GROUP BY source
"""

ORACLES["docs_containment_audit"] = r"""
-- linear audit over the exact directional-containment pairs (same
-- naive-candidates + exact-verify oracle argument as
-- docs_containment_dedup), EXCLUDING identical sets (same-set twins):
-- per contained doc, container-doc count, max containment, and the
-- smallest container id at that maximum
WITH tok AS (
  SELECT doc_id, list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
  FROM documents
),
sets AS (SELECT doc_id, s, list_sort(s) AS key, len(s) AS n FROM tok),
tokd AS (SELECT doc_id, unnest(s) AS t FROM tok),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM tokd a JOIN tokd b USING (t)
  WHERE a.doc_id <> b.doc_id
),
pairs AS (
  SELECT c.id_a, c.id_b, sa.n AS n_a,
         len(list_intersect(sa.s, sb.s)) * 1.0 / sa.n AS containment
  FROM cand c
  JOIN sets sa ON sa.doc_id = c.id_a
  JOIN sets sb ON sb.doc_id = c.id_b
  WHERE sa.key <> sb.key
    AND len(list_intersect(sa.s, sb.s)) * 1.0 / sa.n >= 0.98
),
ranked AS (
  SELECT id_a, n_a, containment, id_b,
         row_number() OVER (PARTITION BY id_a
                            ORDER BY containment DESC, id_b ASC) AS rn,
         count(*) OVER (PARTITION BY id_a) AS n_containers
  FROM pairs
)
SELECT id_a AS doc_id, n_a, CAST(n_containers AS BIGINT) AS n_containers,
       round(containment, 6) AS best_containment, id_b AS container_id
FROM ranked WHERE rn = 1
"""

ORACLES["events_chisq_independence"] = """
WITH cells AS (
  SELECT event_type,
         ((epoch_ns(ts) // 1000000000 // 86400) + 4) % 7 AS dow,
         count(*) AS obs
  FROM events GROUP BY 1, 2
),
rows_m AS (SELECT event_type, sum(obs) AS row_n FROM cells GROUP BY 1),
cols_m AS (SELECT dow, sum(obs) AS col_n FROM cells GROUP BY 1),
tot AS (SELECT sum(obs) AS n, count(DISTINCT event_type) AS r,
               count(DISTINCT dow) AS c FROM cells),
grid AS (SELECT * FROM rows_m CROSS JOIN cols_m),
j AS (
  SELECT g.row_n, g.col_n, coalesce(ce.obs, 0) AS obs, t.n, t.r, t.c
  FROM grid g
  LEFT JOIN cells ce ON g.event_type = ce.event_type AND g.dow = ce.dow
  CROSS JOIN tot t
),
terms AS (
  SELECT n, r, c,
         CAST(round((obs - CAST(row_n AS DOUBLE) * col_n / n)
                    * (obs - CAST(row_n AS DOUBLE) * col_n / n)
                    / (CAST(row_n AS DOUBLE) * col_n / n), 9)
              AS DECIMAL(38,9)) AS term
  FROM j
)
SELECT CAST(n AS BIGINT) AS n_events,
       CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
       round(CAST(sum(term) AS DOUBLE), 6) AS chi2
FROM terms GROUP BY n, r, c
"""

ORACLES["orders_mann_whitney"] = """
WITH o AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END AS hi
  FROM orders
),
vals AS (SELECT v, sum(hi) AS c1, sum(1 - hi) AS c2 FROM o GROUP BY 1),
ranked AS (
  SELECT c1, c2, c1 + c2 AS t,
         2 * coalesce(sum(c1 + c2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (c1 + c2) + 1 AS r2
  FROM vals
),
agg AS (
  SELECT sum(c1) AS n1, sum(c2) AS n2,
         sum(CAST(c1 AS DECIMAL(19,0)) * CAST(r2 AS DECIMAL(19,0))) AS rs2,
         sum(CAST(t AS DECIMAL(19,0)) * t * t - t) AS ties
  FROM ranked
)
SELECT CAST(n1 AS BIGINT) AS n_hi, CAST(n2 AS BIGINT) AS n_lo,
  round((CAST(rs2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1)) / 2, 1) AS u_stat,
  round(((CAST(rs2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) + 1)) / 2
          - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2)
        / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
               * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1)
                  - CAST(ties AS DOUBLE)
                    / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                       * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1)))), 6) AS z_score
FROM agg
"""

ORACLES["lineitem_spearman_correlations"] = """
WITH cells3 AS (
  SELECT l_quantity AS q, l_discount AS d, l_tax AS tx, count(*) AS cnt
  FROM lineitem GROUP BY 1, 2, 3
),
mq AS (SELECT q, sum(cnt) AS t FROM cells3 GROUP BY 1),
rq AS (SELECT q, 2 * coalesce(sum(t) OVER (ORDER BY q
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2q
       FROM mq),
md AS (SELECT d, sum(cnt) AS t FROM cells3 GROUP BY 1),
rd AS (SELECT d, 2 * coalesce(sum(t) OVER (ORDER BY d
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2d
       FROM md),
mt AS (SELECT tx, sum(cnt) AS t FROM cells3 GROUP BY 1),
rt AS (SELECT tx, 2 * coalesce(sum(t) OVER (ORDER BY tx
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2t
       FROM mt),
j AS (
  SELECT c.cnt, rq.r2q, rd.r2d, rt.r2t
  FROM cells3 c
  JOIN rq ON c.q = rq.q JOIN rd ON c.d = rd.d JOIN rt ON c.tx = rt.tx
),
agg AS (
  SELECT sum(cnt) AS n,
    sum(CAST(cnt AS DECIMAL(38,0)) * CAST(r2q AS DECIMAL(19,0))) AS sq,
    sum(CAST(cnt AS DECIMAL(38,0)) * CAST(r2d AS DECIMAL(19,0))) AS sd,
    sum(CAST(cnt AS DECIMAL(38,0)) * CAST(r2t AS DECIMAL(19,0))) AS st,
    sum(CAST(cnt AS DECIMAL(38,0)) * CAST(r2q AS DECIMAL(19,0)) * CAST(r2d AS DECIMAL(19,0))) AS sqd,
    sum(CAST(cnt AS DECIMAL(38,0)) * CAST(r2q AS DECIMAL(19,0)) * CAST(r2t AS DECIMAL(19,0))) AS sqt,
    sum(CAST(cnt AS DECIMAL(38,0)) * CAST(r2d AS DECIMAL(19,0)) * CAST(r2t AS DECIMAL(19,0))) AS sdt,
    sum(CAST(cnt AS DECIMAL(38,0)) * CAST(r2q AS DECIMAL(19,0)) * CAST(r2q AS DECIMAL(19,0))) AS sq2,
    sum(CAST(cnt AS DECIMAL(38,0)) * CAST(r2d AS DECIMAL(19,0)) * CAST(r2d AS DECIMAL(19,0))) AS sd2,
    sum(CAST(cnt AS DECIMAL(38,0)) * CAST(r2t AS DECIMAL(19,0)) * CAST(r2t AS DECIMAL(19,0))) AS st2
  FROM j
)
SELECT CAST(n AS BIGINT) AS n_rows,
  round((CAST(n AS DOUBLE) * CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(sd2 AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))), 6) AS rho_qty_discount,
  round((CAST(n AS DOUBLE) * CAST(sqt AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(st AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE) * CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(st2 AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))), 6) AS rho_qty_tax,
  round((CAST(n AS DOUBLE) * CAST(sdt AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(st AS DOUBLE))
        / sqrt((CAST(n AS DOUBLE) * CAST(sd2 AS DOUBLE) - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(st2 AS DOUBLE) - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))), 6) AS rho_discount_tax
FROM agg
"""

ORACLES["events_heavy_hitters_mg"] = """
WITH tot AS (SELECT count(*) AS n FROM events)
SELECT user_id, count(*) AS freq,
       round(CAST(count(*) AS DOUBLE) / n, 6) AS share
FROM events CROSS JOIN tot
GROUP BY user_id, n
HAVING count(*) * 128 > n
"""

ORACLES["dedup_minhash_accuracy"] = f"""
WITH {TOKS_CTE}, {SHINGLE_CTE},
mh AS (
  SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
  FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) seeds
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // 4 AS band,
         md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
  FROM mh GROUP BY doc_id, seed // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band, band_hash)
  WHERE a.doc_id < b.doc_id
),
estm AS (
  SELECT c.id_a, c.id_b,
         sum(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) AS matches
  FROM cand c
  JOIN mh ma ON ma.doc_id = c.id_a
  JOIN mh mb ON mb.doc_id = c.id_b AND mb.seed = ma.seed
  GROUP BY 1, 2
),
ss AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id),
verified AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(sa.s, sb.s)) AS inter,
         len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS union_
  FROM cand c JOIN ss sa ON sa.doc_id = c.id_a JOIN ss sb ON sb.doc_id = c.id_b
),
j AS (
  SELECT v.id_a, v.id_b,
         v.inter / greatest(v.union_, 1) AS jac,
         e.matches / 16.0 AS estv
  FROM verified v JOIN estm e ON e.id_a = v.id_a AND e.id_b = v.id_b
),
terms AS (
  SELECT CAST(floor(jac * 10) AS INT) AS jaccard_decile,
         CAST(round(estv, 9) AS DECIMAL(38,9)) AS t_est,
         CAST(round(jac, 9) AS DECIMAL(38,9)) AS t_jac,
         CAST(round(abs(estv - jac), 9) AS DECIMAL(38,9)) AS t_err
  FROM j
)
SELECT jaccard_decile, count(*) AS n_pairs,
       round(CAST(sum(t_est) AS DOUBLE) / count(*), 6) AS mean_est,
       round(CAST(sum(t_jac) AS DOUBLE) / count(*), 6) AS mean_exact,
       round(CAST(sum(t_err) AS DOUBLE) / count(*), 6) AS mean_abs_err
FROM terms GROUP BY 1
"""

ORACLES["corpus_dedup_threshold_curve"] = f"""
WITH {TOKS_CTE}, {SHINGLE_CTE},
mh AS (
  SELECT doc_id, seed, min(md5(seed || ':' || shingle)) AS minhash
  FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS seed) seeds
  GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // 4 AS band,
         md5(string_agg(minhash, ',' ORDER BY seed)) AS band_hash
  FROM mh GROUP BY doc_id, seed // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (band, band_hash)
  WHERE a.doc_id < b.doc_id
),
ss AS (SELECT doc_id, list(shingle) AS s FROM sh GROUP BY doc_id),
verified AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(sa.s, sb.s))
           / greatest(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)), 1)
           AS jaccard
  FROM cand c JOIN ss sa ON sa.doc_id = c.id_a JOIN ss sb ON sb.doc_id = c.id_b
),
ths AS (SELECT unnest(range(30, 91, 10)) AS t),
tall AS (
  SELECT v.id_a, v.id_b, v.jaccard, ths.t
  FROM verified v CROSS JOIN ths
  WHERE v.jaccard * 100 >= ths.t
),
per_t AS (
  SELECT t, count(*) AS n_pairs,
         sum(CAST(round(jaccard, 9) AS DECIMAL(38,9))) AS sj
  FROM tall GROUP BY 1
),
ids AS (SELECT t, unnest([id_a, id_b]) AS doc FROM tall),
docs_t AS (SELECT t, count(DISTINCT doc) AS n_dup_docs FROM ids GROUP BY 1)
SELECT ths.t / 100.0 AS threshold,
       CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(d.n_dup_docs, 0) AS BIGINT) AS n_dup_docs,
       round(CAST(p.sj AS DOUBLE) / coalesce(p.n_pairs, 0), 6) AS mean_jaccard
FROM ths LEFT JOIN per_t p USING (t) LEFT JOIN docs_t d USING (t)
"""

ORACLES["lineitem_kendall_tau"] = """
WITH cells AS (
  SELECT l_quantity AS q, l_discount AS d, count(*) AS w
  FROM lineitem GROUP BY 1, 2
),
cd AS (
  SELECT
    sum(CASE WHEN a.d < b.d
         THEN CAST(a.w AS DECIMAL(19,0)) * CAST(b.w AS DECIMAL(19,0))
         ELSE CAST(0 AS DECIMAL(38,0)) END) AS conc,
    sum(CASE WHEN a.d > b.d
         THEN CAST(a.w AS DECIMAL(19,0)) * CAST(b.w AS DECIMAL(19,0))
         ELSE CAST(0 AS DECIMAL(38,0)) END) AS disc
  FROM cells a JOIN cells b ON a.q < b.q AND a.d <> b.d
),
tq AS (SELECT q, sum(w) AS t FROM cells GROUP BY 1),
td AS (SELECT d, sum(w) AS t FROM cells GROUP BY 1),
n1 AS (SELECT sum(CAST(t AS DECIMAL(19,0)) * (CAST(t AS DECIMAL(19,0)) - 1)) AS n1x2,
              sum(t) AS n FROM tq),
n2 AS (SELECT sum(CAST(t AS DECIMAL(19,0)) * (CAST(t AS DECIMAL(19,0)) - 1)) AS n2x2 FROM td)
SELECT CAST(n AS BIGINT) AS n_rows,
       CAST(conc AS DOUBLE) AS concordant,
       CAST(disc AS DOUBLE) AS discordant,
       round((CAST(conc AS DOUBLE) - CAST(disc AS DOUBLE))
             / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) / 2
                     - CAST(n1x2 AS DOUBLE) / 2)
                    * (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1) / 2
                       - CAST(n2x2 AS DOUBLE) / 2)), 6) AS tau_b
FROM cd, n1, n2
"""

ORACLES["docs_source_vocab_overlap"] = r"""
WITH tokv AS (
  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
  FROM documents
),
vocab AS (SELECT DISTINCT source, tok FROM tokv WHERE len(tok) > 0),
sizes AS (SELECT source, count(*) AS vsize FROM vocab GROUP BY 1),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
  FROM vocab a JOIN vocab b USING (tok)
  WHERE a.source < b.source
  GROUP BY 1, 2
)
SELECT i.src_a, i.src_b,
       CAST(sa.vsize AS BIGINT) AS vocab_a,
       CAST(sb.vsize AS BIGINT) AS vocab_b,
       CAST(i.inter AS BIGINT) AS inter,
       round(i.inter / (sa.vsize + sb.vsize - i.inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.source = i.src_a
JOIN sizes sb ON sb.source = i.src_b
"""

# the pool must be invisible: identical result contract to the serial gate
ORACLES["cdc_socket_parallel_sync"] = ORACLES["cdc_socket_copy_sync"]
