"""Catalog entries: corpus-curation operators beyond the reference —
line-level boilerplate dedup, substring-duplication analysis, greedy
sequence packing, temperature source-mixing, feature-hashing text
embeddings and distributed quantized k-means. All deterministic with
exact DuckDB oracles (md5 hashing, integer accumulation and IEEE
sqrt/division replay bit-for-bit across engines; windowed sums and
counts are integer math).

The synthetic documents carry no newlines, so the line-dedup entry
synthesizes line structure deterministically on BOTH sides (every 8
whitespace tokens = one line); with the corpus's small vocabulary these
lines repeat across documents, making the cross-document line-frequency
cut non-trivial.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stream2segment_spark.functions.packing import chunk_summary, pack_greedy
from stream2segment_spark.operators.clustering import kmeans_quantized
from stream2segment_spark.operators.similarity import semantic_dedup
from stream2segment_spark.functions.sampling import (
    BUCKETS, temperature_rates, temperature_sample, token_budget_mix)
from stream2segment_spark.functions.url import (
    ASCII_LOWER as U_ASCII_LO, ASCII_UPPER as U_ASCII_UP)
from stream2segment_spark.functions import text as TXQ
from stream2segment_spark.operators import dedup as DD
from stream2segment_spark.queries_catalog import register
from stream2segment_spark.queries_text import _WORDS_SQL
from stream2segment_spark.schema import load_table

# DuckDB twin of functions.sampling.hash_bucket (documented there)
_BUCKET_SQL = ("CAST('0x' || substr(md5('{seed}:' || CAST(doc_id AS VARCHAR)),"
               " 1, 15) AS BIGINT) % 10000")

# 8-token synthetic 'lines' (see module docstring) — Spark + DuckDB twins
_LINES_EXPR = ("transform(sequence(0, int(ceil(size(__toks)/8.0)) - 1), "
               "i -> array_join(slice(__toks, i*8+1, 8), ' '))")
_LINES_SQL = """
    t AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS w
          FROM documents),
    l AS (SELECT doc_id, i.i AS pos,
                 array_to_string(w[i.i*8+1 : i.i*8+8], ' ') AS ln
          FROM t, LATERAL (SELECT unnest(range(0,
                 CAST(ceil(len(w)/8.0) AS BIGINT))) AS i) i)"""


@register(
    "corpus_longest_dup",
    # r7 rotation: driver-green r4-r6 (freshest possible row); slot
    # freed for an entry whose module changed after its last gate row
    # (tools/rotation_check.py selection)
    f"""WITH t AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
       win AS (SELECT doc_id,
                 CAST(l.L AS INTEGER) AS L,
                 array_to_string(w[p.pos+1 : p.pos+l.L], ' ') AS txt
               FROM t,
                 LATERAL (SELECT unnest(range(2, len(w) + 1)) AS L) l,
                 LATERAL (SELECT unnest(range(0,
                      greatest(len(w) - l.L + 1, 0))) AS pos) p),
       dup AS (SELECT L, txt, count(DISTINCT doc_id) AS n_docs,
                 CAST(count(*) AS BIGINT) AS n_occ
               FROM win GROUP BY L, txt
               HAVING count(DISTINCT doc_id) > 1),
       m AS (SELECT max(L) AS L FROM dup)
       SELECT d.L AS length, d.txt AS text, d.n_docs, d.n_occ
       FROM dup d JOIN m ON d.L = m.L"""
)
def corpus_longest_dup(spark, sf_dir):
    """EXACT longest duplicated token substring(s) across the corpus
    (operators/dedup.longest_duplicated_substring): the suffix-array
    question answered by binary search on length over md5 window-hash
    aggregates — O(log maxlen) probe jobs shipping 16-byte hashes, then
    one text-grouped reporting pass at the winning length (collision
    free). The oracle brute-forces EVERY (length, position) window in
    SQL and picks the max duplicated length — exact value parity, no
    sampling. Complements corpus_substring_dup (per-doc duplication
    mass) with corpus-level duplication depth."""
    # parallel=False (r9 opt, interleaved A/B sf0.1: 1.90 s off vs
    # 2.25 s on): the length sweep is many small jobs; the input
    # exchange is per-job overhead, not per-row win
    docs = load_table(spark, sf_dir, "documents", parallel=False)
    toked = docs.select("doc_id",
                        DD.word_tokens(F.col("text")).alias("__t"))
    return DD.longest_duplicated_substring(
        toked, "doc_id", "__t", max_df=1, min_len=2)


@register(
    "corpus_line_dedup",
    f"""WITH {_LINES_SQL},
       f AS (SELECT ln, count(DISTINCT doc_id) AS line_df FROM l GROUP BY ln)
       SELECT l.doc_id, count(*) AS n_lines,
              CAST(sum(CASE WHEN f.line_df <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_kept,
              md5(coalesce(array_to_string(list(l.ln ORDER BY l.pos)
                  FILTER (f.line_df <= 2), chr(10)), '')) AS kept_md5
       FROM l JOIN f USING (ln)
       GROUP BY l.doc_id"""
    # r9 rotation: gated
)
def corpus_line_dedup(spark, sf_dir):
    """CCNet/RefinedWeb-style line-level boilerplate removal
    (operators/dedup.line_dedup): drop every line occurring in >2
    distinct documents, reassemble survivors in order. Beyond-reference
    LLM-pipeline capability; no counterpart in the reference engine.
    Three keyed shuffles (line-df aggregate, line join-back with AQE
    skew-split on hot boilerplate lines, doc regroup) — no all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    lined = (docs
             .select("doc_id",
                     F.split(F.coalesce("text", F.lit("")), " ")
                      .alias("__toks"))
             .select("doc_id", F.expr(_LINES_EXPR).alias("__lines")))
    out = DD.line_dedup(lined, "doc_id", "__lines", max_df=2)
    return out.select("doc_id", "n_lines", "n_kept",
                      F.md5("cleaned_text").alias("kept_md5"))


@register(
    "corpus_pack_chunks",
    # r7 rotation: driver-green r4-r6 (freshest possible row); slot
    # freed for an entry whose module changed after its last gate row
    # (tools/rotation_check.py selection)
    f"""WITH d AS (SELECT doc_id,
                len(string_split(coalesce(text, ''), ' ')) AS n_tok
              FROM documents),
       s AS (SELECT doc_id, n_tok,
                CAST({_BUCKET_SQL.format(seed='pack')} AS INTEGER) % 8 AS shard
             FROM d),
       c AS (SELECT shard, n_tok,
                sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum,
                doc_id
             FROM s)
       SELECT shard, CAST(floor((cum - n_tok) / 256) AS BIGINT) AS chunk_id,
              count(*) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
              min(doc_id) AS min_id, max(doc_id) AS max_id
       FROM c GROUP BY shard, chunk_id"""
)
def corpus_pack_chunks(spark, sf_dir):
    """Greedy sequence packing into fixed-token-budget training chunks
    (functions/packing.pack_greedy): md5-sharded, id-ordered start-offset
    assignment — deterministic bin packing with ONE keyed shuffle (the
    shard window) and no global sort. Beyond-reference LLM-pipeline
    capability. Gate uses budget=256, n_shards=8; at 100 TB n_shards
    scales to the cluster (shards are md5-uniform, skew-free)."""
    docs = load_table(spark, sf_dir, "documents", parallel=False)
    d = docs.select(
        "doc_id",
        F.size(F.split(F.coalesce("text", F.lit("")), " ")).alias("n_tok"))
    packed = pack_greedy(d, "doc_id", "n_tok", budget=256, n_shards=8,
                         seed="pack")
    return chunk_summary(packed, "doc_id", "n_tok")


@register(
    "corpus_substring_dup",
    # r7 rotation: driver-green r4-r6 (freshest possible row); slot
    # freed for an entry whose module changed after its last gate row
    # (tools/rotation_check.py selection)
    f"""WITH t AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
       e AS (SELECT doc_id, len(w) AS n_tokens, p.pos,
                md5(array_to_string(w[p.pos+1 : p.pos+8], ' ')) AS wh
             FROM t, LATERAL (SELECT unnest(range(0,
                  greatest(len(w) - 7, 0))) AS pos) p),
       f AS (SELECT wh, count(DISTINCT doc_id) AS wdf FROM e GROUP BY wh),
       d AS (SELECT e.doc_id, e.pos FROM e JOIN f USING (wh)
             WHERE f.wdf > 1),
       i AS (SELECT doc_id, pos,
                sum(CASE WHEN prev_end IS NULL OR pos > prev_end
                         THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS isl
             FROM (SELECT *, max(pos + 8) OVER (PARTITION BY doc_id
                        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS prev_end FROM d)),
       s AS (SELECT doc_id, isl, min(pos) AS s, max(pos) + 8 AS e,
                count(*) AS n_w
             FROM i GROUP BY doc_id, isl),
       p AS (SELECT doc_id, CAST(sum(n_w) AS BIGINT) AS n_dup_windows,
                count(*) AS n_spans,
                CAST(sum(e - s) AS BIGINT) AS dup_tokens
             FROM s GROUP BY doc_id)
       SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
              coalesce(p.n_dup_windows, 0) AS n_dup_windows,
              coalesce(p.n_spans, 0) AS n_spans,
              coalesce(p.dup_tokens, 0) AS dup_tokens,
              round(coalesce(p.dup_tokens, 0)
                    / greatest(len(t.w), 1), 6) AS dup_frac
       FROM t LEFT JOIN p USING (doc_id)"""
)
def corpus_substring_dup(spark, sf_dir):
    """Exact substring-duplication analysis (operators/dedup
    .duplicated_spans, k=8 windows): every 8-token window occurring in
    >1 distinct documents is a duplicated window; overlapping ones merge
    into spans (gaps-and-islands over positions) and each doc reports
    its duplicated-token fraction — the substring-level dedup signal of
    C4/Pile-style pipelines, beyond both line-level and whole-doc
    near-dup. Shuffles ship 16-byte window hashes, never text; the span
    merge is a per-doc window, no all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", DD.word_tokens(F.col("text")).alias("__toks"))
    out = DD.duplicated_spans(staged, "doc_id", "__toks", k=8, max_df=1)
    return out.withColumn("n_tokens", F.col("n_tokens").cast("long"))


@register(
    "corpus_substring_cut",
    # r7 rotation: driver-green r4-r6 (freshest possible row); slot
    # freed for an entry whose module changed after its last gate row
    # (tools/rotation_check.py selection)
    f"""WITH t AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
       e AS (SELECT doc_id, p.pos,
                md5(array_to_string(w[p.pos+1 : p.pos+8], ' ')) AS wh
             FROM t, LATERAL (SELECT unnest(range(0,
                  greatest(len(w) - 7, 0))) AS pos) p),
       f AS (SELECT wh, count(DISTINCT doc_id) AS wdf FROM e GROUP BY wh),
       d AS (SELECT e.doc_id, e.pos FROM e JOIN f USING (wh)
             WHERE f.wdf > 1),
       i AS (SELECT doc_id, pos,
                sum(CASE WHEN prev_end IS NULL OR pos > prev_end
                         THEN 1 ELSE 0 END)
                    OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS UNBOUNDED PRECEDING) AS isl
             FROM (SELECT *, max(pos + 8) OVER (PARTITION BY doc_id
                        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING) AS prev_end FROM d)),
       s AS (SELECT doc_id, isl, min(pos) AS s, max(pos) + 8 AS e
             FROM i GROUP BY doc_id, isl),
       tok AS (SELECT doc_id, unnest(w) AS tk,
                  unnest(range(0, len(w))) AS ix FROM t),
       kept AS (SELECT tok.doc_id, tok.ix, tok.tk FROM tok
                WHERE NOT EXISTS (SELECT 1 FROM s
                      WHERE s.doc_id = tok.doc_id
                        AND tok.ix >= s.s AND tok.ix < s.e)),
       agg AS (SELECT doc_id, count(*) AS n_kept,
                  md5(array_to_string(list(tk ORDER BY ix), ' '))
                      AS cleaned_md5
               FROM kept GROUP BY doc_id)
       SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
              CAST(len(t.w) - coalesce(agg.n_kept, 0) AS BIGINT)
                  AS n_removed,
              coalesce(agg.cleaned_md5, md5('')) AS cleaned_md5
       FROM t LEFT JOIN agg USING (doc_id)"""
)
def corpus_substring_cut(spark, sf_dir):
    """Exact substring REMOVAL (operators/dedup.cut_duplicated_spans,
    Lee et al. ExactSubstr semantics): every merged duplicated span from
    corpus_substring_dup's detection is CUT from every document carrying
    it; per doc the oracle rebuilds the surviving token sequence in
    order and md5-compares it. Registered past the checked window (the
    50 slots are taken by the r4 rotation); mirror-checked + benched."""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", DD.word_tokens(F.col("text")).alias("__toks"))
    out = DD.cut_duplicated_spans(staged, "doc_id", "__toks", k=8,
                                  max_df=1)
    return out.select("doc_id", F.col("n_tokens").cast("long"),
                      "n_removed",
                      F.md5("cleaned_text").alias("cleaned_md5"))


@register(
    "corpus_token_rarity",
    # r7 rotation: driver-green r4-r6 (freshest possible row); slot
    # freed for an entry whose module changed after its last gate row
    # (tools/rotation_check.py selection)
    f"""WITH w AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
       t AS (SELECT DISTINCT doc_id, unnest(w) AS tok FROM w),
       f AS (SELECT tok, count(*) AS df FROM t GROUP BY tok)
       SELECT t.doc_id, count(*) AS n_distinct,
              CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_hapax,
              round(CAST(sum(f.df) AS DOUBLE) / count(*), 6) AS mean_df
       FROM t JOIN f USING (tok) GROUP BY t.doc_id"""
)
def corpus_token_rarity(spark, sf_dir):
    """Token-rarity quality signal (functions/text.token_rarity): per
    document, distinct-token count, hapax count and mean document
    frequency of its vocabulary — low mean_df flags noise/gibberish,
    high mean_df with few distinct tokens flags boilerplate; the df
    table is what IDF weighting consumes. Integer aggregates + one
    division, engine-exact."""
    from stream2segment_spark.functions.text import token_rarity
    docs = load_table(spark, sf_dir, "documents")
    return token_rarity(docs, "text", "doc_id")


_EMB_PIVOT = ", ".join(
    f"coalesce(max(CASE WHEN b = {i} THEN v END), 0) AS v{i}"
    for i in range(6))
_EMB_COMPS = ", ".join(
    f"round(CASE WHEN n.norm > 0 THEN p.v{i} / n.norm ELSE 0.0 END, 6) "
    f"AS e{i}" for i in range(6))


@register(
    "text_hash_embedding",
    # r7 rotation: driver-green r4-r6 (freshest possible row); slot
    # freed for an entry whose module changed after its last gate row
    # (tools/rotation_check.py selection)
    f"""WITH t AS (SELECT doc_id,
              trim(regexp_replace(lower(regexp_replace(
                     coalesce(text, ''), '[^\\x00-\\x7F]+', ' ', 'g')),
                   '[^a-z0-9]+', ' ', 'g')) AS s
            FROM documents),
       pd AS (SELECT doc_id,
              CASE WHEN s = '' THEN '' ELSE ' ' || s || ' ' END AS s
            FROM t),
       g AS (SELECT doc_id, substr(s, i.i + 1, 3) AS gram
             FROM pd, LATERAL (SELECT unnest(range(0,
                  greatest(len(s) - 2, 0))) AS i) i),
       h AS (SELECT doc_id,
              -- bucket+sign use only bits 0-6 of the 8-byte big-endian
              -- hash, i.e. the LOW 4 bytes = hex chars 9-16 (a '0x'
              -- string of 16 hex chars would overflow BIGINT)
              CAST('0x' || substr(md5('emb:' || gram), 9, 8) AS BIGINT)
                  AS hv
             FROM g),
       acc AS (SELECT doc_id, CAST((hv // 2) % 64 AS INT) AS b,
                CAST(sum(CASE WHEN hv % 2 = 1 THEN 1 ELSE -1 END)
                     AS BIGINT) AS v
               FROM h GROUP BY doc_id, b),
       n AS (SELECT doc_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS norm,
                CAST(count(*) FILTER (v <> 0) AS BIGINT) AS nnz
             FROM acc GROUP BY doc_id),
       p AS (SELECT doc_id, {_EMB_PIVOT} FROM acc GROUP BY doc_id)
       SELECT t.doc_id, coalesce(n.nnz, 0) AS nnz, {_EMB_COMPS}
       FROM t LEFT JOIN n USING (doc_id) LEFT JOIN p USING (doc_id)"""
)
def text_hash_embedding(spark, sf_dir):
    """Feature-hashing text embeddings (functions/embeddings
    .hashed_ngram_embeddings): char-3-grams -> md5 signed buckets ->
    exact integer accumulation -> L2 normalize. Makes the whole
    similarity stack (ANN/LSH/k-means) applicable to raw text with no
    external model; bit-replayable because the only float ops are one
    IEEE division and one IEEE sqrt over exact integer sums. Gate checks
    the non-zero count and the first 6 normalized components of every
    document against a full DuckDB replay. Map-only Arrow stage —
    no shuffle on the engine side."""
    from stream2segment_spark.functions.embeddings import (
        hashed_ngram_embeddings)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = hashed_ngram_embeddings(docs, "text", "doc_id")
    e = F.col("embedding")
    return emb.select(
        "doc_id",
        F.size(F.filter(e, lambda x: x != 0.0)).cast("long").alias("nnz"),
        *[F.round(F.element_at(e, i + 1), 6).alias(f"e{i}")
          for i in range(6)])


# One Lloyd iteration as a DuckDB CTE chain: assignment (cross join k x n,
# exact integer distances), argmin with (dist, cid) tie-break, centroid
# re-quantization with empty-cluster fallback to the previous centroid.
_KM_ITER_SQL = """
   a{n} AS (SELECT q.vec_id, c.cid,
              CAST(list_sum(list_transform(range(1, len(q.v) + 1),
                   i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i]))) AS BIGINT)
                  AS d2
            FROM q CROSS JOIN c{p} c),
   m{n} AS (SELECT vec_id, cid, d2 FROM
              (SELECT *, row_number() OVER (PARTITION BY vec_id
                         ORDER BY d2, cid) AS rn FROM a{n})
            WHERE rn = 1),
   u{n} AS (SELECT m.cid, p.pos,
              CAST(round(CAST(sum(q.v[p.pos]) AS DOUBLE) / count(*), 0)
                   AS BIGINT) AS cv
            FROM m{n} m JOIN q USING (vec_id),
                 LATERAL (SELECT unnest(range(1, len(q.v) + 1)) AS pos) p
            GROUP BY m.cid, p.pos),
   c{n} AS (SELECT cp.cid, list(coalesce(u.cv, cp.cv0) ORDER BY cp.pos)
                   AS c
            FROM (SELECT c.cid, p.pos, c.c[p.pos] AS cv0
                  FROM c{p} c, LATERAL (SELECT unnest(range(1,
                       len(c.c) + 1)) AS pos) p) cp
            LEFT JOIN u{n} u ON u.cid = cp.cid AND u.pos = cp.pos
            GROUP BY cp.cid)"""


# the final k-means assignment CTE chain (two unrolled Lloyd iterations
# + argmin with d2) — the SINGLE source for both cluster_kmeans and
# sim_semantic_dedup oracles
_KM_ASSIGN_SQL = f"""q AS (SELECT vec_id,
              list_transform(embedding, x -> CAST(round(
                  CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS v
            FROM embeddings),
       seeds AS (SELECT vec_id, v,
              row_number() OVER (ORDER BY
                  {_BUCKET_SQL.format(seed='km').replace('doc_id', 'vec_id')},
                  vec_id) - 1 AS cid
            FROM q),
       c0 AS (SELECT cid, v AS c FROM seeds WHERE cid < 8),
       {_KM_ITER_SQL.format(n=1, p=0)},
       {_KM_ITER_SQL.format(n=2, p=1)},
       a3 AS (SELECT q.vec_id, c.cid,
              CAST(list_sum(list_transform(range(1, len(q.v) + 1),
                   i -> (q.v[i] - c.c[i]) * (q.v[i] - c.c[i]))) AS BIGINT)
                  AS d2
            FROM q CROSS JOIN c2 c),
       asn AS (SELECT vec_id, cid, d2 FROM
             (SELECT *, row_number() OVER (PARTITION BY vec_id
                        ORDER BY d2, cid) AS rn FROM a3)
           WHERE rn = 1)"""


@register(
    "cluster_kmeans",
    f"""WITH {_KM_ASSIGN_SQL}
       SELECT vec_id, CAST(cid AS INTEGER) AS cluster_id, d2 AS dist2
       FROM asn""", gate=False,
    # r9 rotation: deferred
)
def cluster_kmeans(spark, sf_dir):
    """Distributed Lloyd k-means over the embedding column
    (operators/clustering.kmeans_quantized, k=8, 2 iterations):
    semantic clustering for domain discovery / cluster-balanced corpus
    sampling. Integer-quantized grid makes every distance, argmin and
    centroid update bit-replayable in DuckDB (module docstring); the
    oracle replays both Lloyd iterations as unrolled CTEs. Spark plan:
    assignment is scan-stage expressions over a broadcast centroid
    literal; one map-side-combined (cluster, dim) shuffle per iteration;
    only k x dim longs ever reach the driver."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, _ = kmeans_quantized(emb, "vec_id", "embedding",
                                   k=8, iters=2, seed="km")
    return assigned


@register(
    "sim_semantic_dedup",
    # r7 rotation: driver-green r4-r6 (freshest possible row); slot
    # freed for an entry whose module changed after its last gate row
    # (tools/rotation_check.py selection)
    f"""WITH {_KM_ASSIGN_SQL},
       vv AS (SELECT q.vec_id, q.v, asn.cid,
              list_sum(list_transform(q.v, x -> x * x)) AS n2
            FROM q JOIN asn USING (vec_id)),
       p AS (SELECT a.vec_id,
              max(CAST(list_sum(list_transform(range(1, len(a.v) + 1),
                      i -> a.v[i] * b.v[i])) AS DOUBLE)
                  / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE))))
                  AS ms
            FROM vv a JOIN vv b ON a.cid = b.cid AND b.vec_id < a.vec_id
                 AND a.n2 > 0 AND b.n2 > 0
            GROUP BY a.vec_id)
       SELECT vv.vec_id, CAST(vv.cid AS INTEGER) AS cluster_id,
              round(p.ms, 6) AS max_sim_prev,
              coalesce(p.ms >= 0.35, FALSE) AS is_dup
       FROM vv LEFT JOIN p USING (vec_id)""", gate=False
)
def sim_semantic_dedup(spark, sf_dir):
    """SemDeDup (operators/similarity.semantic_dedup; Abbas et al. 2023):
    k-means clusters the embedding space, then each document is flagged a
    semantic duplicate iff its max cosine to a LOWER-id member of its own
    cluster reaches the threshold (keep-first). Pair cosines live on the
    same integer grid as the clustering, so the oracle replays the ENTIRE
    pipeline — both Lloyd iterations, the assignment, and every
    within-cluster cosine — bit-for-bit in SQL. Threshold 0.35 (not a
    production 0.95) so the synthetic corpus, which plants no true
    near-dups, still exercises both flag branches. Spark plan: scan-stage
    closure-UDF assignment, ONE cluster_id shuffle, per-cluster blocked
    gram matmul; O(sum n_c^2) pair work bounded by k ~ n/cluster_size at
    scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = semantic_dedup(emb, "vec_id", "embedding",
                         k=8, iters=2, seed="km", threshold=0.35)
    return out.select("vec_id", "cluster_id",
                      F.round("max_sim_prev", 6).alias("max_sim_prev"),
                      "is_dup")


@register(
    "corpus_temperature_mix",
    # r7 rotation: driver-green r4-r6 (freshest possible row); slot
    # freed for an entry whose module changed after its last gate row
    # (tools/rotation_check.py selection)
    f"""WITH c AS (SELECT source, count(*) AS n_total FROM documents
              GROUP BY source),
       m AS (SELECT min(n_total) AS n_min FROM c),
       r AS (SELECT source, n_total,
                sqrt(CAST(n_min AS DOUBLE) / n_total) AS rate FROM c, m),
       k AS (SELECT d.source, count(*) AS n_kept
             FROM documents d JOIN r USING (source)
             WHERE CAST({_BUCKET_SQL.format(seed='temp')} AS DOUBLE)
                   < rate * {BUCKETS}
             GROUP BY d.source)
       SELECT r.source, r.n_total, round(r.rate, 6) AS rate,
              coalesce(k.n_kept, 0) AS n_kept
       FROM r LEFT JOIN k USING (source)""", gate=False
    # r9 rotation: deferred
)
def corpus_temperature_mix(spark, sf_dir):
    """Temperature source-rebalancing (functions/sampling
    .temperature_sample, alpha=0.5): kept counts become proportional to
    sqrt(n_source), the multilingual upsampling rule, via deterministic
    md5-bucket thresholds — reproducible across runs/engines/
    partitionings. The rates dim is broadcast; the corpus side sees only
    a scan-stage filter. Beyond-reference LLM-pipeline capability."""
    docs = load_table(spark, sf_dir, "documents", parallel=False)
    rates = temperature_rates(docs, "source", alpha=0.5).persist()
    kept = (temperature_sample(docs, "doc_id", "source", seed="temp",
                               rates=rates)
            .groupBy("source").agg(F.count("*").alias("n_kept")))
    return (rates.join(F.broadcast(kept), "source", "left")
            .select("source", "n_total",
                    F.round("rate", 6).alias("rate"),
                    F.coalesce("n_kept", F.lit(0).cast("long"))
                     .alias("n_kept")))


def _bpe_round_sql(r: int) -> str:
    """One unrolled BPE merge round: corpus-weighted pair counts over
    s{r-1}, scalar argmax pick (ties -> lexicographic), then the greedy
    left-to-right rewrite as gaps-and-islands SQL — overlapping matches
    only exist for left==right runs, where the even-offset positions of
    each consecutive-match island are exactly the pairs reference BPE
    merges. The CTEs are MATERIALIZED: DuckDB otherwise inlines a CTE at
    every reference, and each round reads the previous one three times,
    so four inlined rounds would re-run the base ~4^4 times."""
    p = r - 1
    return f"""
   pc{r} AS MATERIALIZED (SELECT s.syms[p.i] AS lft, s.syms[p.i + 1] AS rgt,
                sum(s.freq) AS cnt
             FROM s{p} s, LATERAL (SELECT unnest(range(1, len(s.syms)))
                                   AS i) p
             GROUP BY lft, rgt),
   pk{r} AS MATERIALIZED (SELECT lft, rgt FROM pc{r}
             ORDER BY cnt DESC, lft, rgt LIMIT 1),
   e{r} AS MATERIALIZED (SELECT s.word, s.freq, p.i AS pos, s.syms[p.i] AS sym
            FROM s{p} s, LATERAL (SELECT unnest(range(1, len(s.syms) + 1))
                                  AS i) p),
   m{r} AS MATERIALIZED (SELECT s.word, p.i AS pos
            FROM s{p} s, LATERAL (SELECT unnest(range(1, len(s.syms)))
                                  AS i) p, pk{r}
            WHERE s.syms[p.i] = pk{r}.lft
              AND s.syms[p.i + 1] = pk{r}.rgt),
   g{r} AS MATERIALIZED (SELECT word, pos,
              pos - row_number() OVER (PARTITION BY word ORDER BY pos)
                  AS grp
            FROM m{r}),
   k{r} AS MATERIALIZED (SELECT word, pos FROM (
              SELECT word, pos,
                     pos - min(pos) OVER (PARTITION BY word, grp) AS off
              FROM g{r})
            WHERE off % 2 = 0),
   s{r} AS MATERIALIZED (SELECT e.word, min(e.freq) AS freq,
              list(CASE WHEN k1.pos IS NOT NULL THEN e.sym || nxt.sym
                        ELSE e.sym END ORDER BY e.pos) AS syms
            FROM e{r} e
            LEFT JOIN k{r} k1 ON k1.word = e.word AND k1.pos = e.pos
            LEFT JOIN k{r} k2 ON k2.word = e.word AND k2.pos = e.pos - 1
            LEFT JOIN e{r} nxt ON nxt.word = e.word AND nxt.pos = e.pos + 1
            WHERE k2.pos IS NULL
            GROUP BY e.word)"""


@register(
    "corpus_bpe",
    # r7 rotation: driver-green r4-r6 (freshest possible row); slot
    # freed for an entry whose module changed after its last gate row
    # (tools/rotation_check.py selection)
    f"""WITH w AS MATERIALIZED (SELECT unnest({_WORDS_SQL}) AS word FROM documents),
       s0 AS MATERIALIZED (SELECT word, count(*) AS freq,
                regexp_extract_all(word, '.') AS syms
              FROM w GROUP BY word),
       {_bpe_round_sql(1)},
       {_bpe_round_sql(2)},
       {_bpe_round_sql(3)},
       {_bpe_round_sql(4)}
       SELECT word, freq, CAST(len(syms) AS INTEGER) AS n_syms,
              array_to_string(syms, ' ') AS segmentation
       FROM s4"""
)
def corpus_bpe(spark, sf_dir):
    """Distributed BPE tokenizer training (functions/bpe.bpe_train,
    Sennrich et al. 2016): 4 corpus-weighted most-frequent-pair merges
    from character symbols, greedy left-to-right application as a pure
    JVM fold. The oracle unrolls all four rounds in SQL — pair counts,
    deterministic argmax (ties lexicographic) and the gaps-and-islands
    greedy rewrite — so every round's pick AND its application are
    hash-verified through the final segmentation of every vocabulary
    word. Plan: one corpus pass builds the distinct-word table (all
    rounds run over the vocabulary x frequency, never the corpus); per
    round one map-side-combined pair-count shuffle; only the single
    best pair crosses the driver per round. Beyond-reference
    LLM-pipeline capability (tokenizer training)."""
    from stream2segment_spark.functions.bpe import bpe_train
    docs = load_table(spark, sf_dir, "documents", parallel=False)
    # persist=True (r9 opt round): the pinned words frame is
    # VOCABULARY-sized (distinct words x freq x syms — KBs, scale-safe),
    # while persist=False recomputed round R's full R-deep lineage from
    # the corpus on every action; the bench/driver clear the session
    # cache between entries (curate_corpus gate-entry precedent)
    _, words = bpe_train(docs, "text", 4, persist=True)
    return words.select(
        "word", "freq",
        F.size("syms").cast("int").alias("n_syms"),
        F.array_join("syms", " ").alias("segmentation"))


@register(
    "corpus_pack_bpe",
    # r7: new entry, gated (never-green outranks stale-green refresh;
    # sim_lsh_neardup deferred to free the slot). The oracle replays BPE
    # training (the corpus_bpe round chain), joins each document's words
    # against the trained segmentation lengths, and re-runs the
    # start-offset pack replay from corpus_pack_chunks on the BPE counts.
    f"""WITH w AS MATERIALIZED (SELECT unnest({_WORDS_SQL}) AS word FROM documents),
       s0 AS MATERIALIZED (SELECT word, count(*) AS freq,
                regexp_extract_all(word, '.') AS syms
              FROM w GROUP BY word),
       {_bpe_round_sql(1)},
       {_bpe_round_sql(2)},
       {_bpe_round_sql(3)},
       {_bpe_round_sql(4)},
       vocab AS MATERIALIZED (SELECT word, len(syms) AS n_syms FROM s4),
       dt AS MATERIALIZED (SELECT doc_id, {_WORDS_SQL} AS wlist FROM documents),
       dw AS MATERIALIZED (SELECT doc_id, unnest(wlist) AS word FROM dt),
       tc AS MATERIALIZED (SELECT dw.doc_id, sum(v.n_syms) AS s
              FROM dw JOIN vocab v USING (word) GROUP BY dw.doc_id),
       d AS MATERIALIZED (SELECT dt.doc_id,
                CAST(coalesce(tc.s, 0) AS BIGINT) AS n_tok
             FROM dt LEFT JOIN tc USING (doc_id)),
       sh AS MATERIALIZED (SELECT doc_id, n_tok,
                CAST({_BUCKET_SQL.format(seed='packbpe')} AS INTEGER) % 8
                    AS shard
             FROM d),
       c AS MATERIALIZED (SELECT shard, n_tok,
                sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum,
                doc_id
             FROM sh)
       SELECT shard, CAST(floor((cum - n_tok) / 256) AS BIGINT) AS chunk_id,
              count(*) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
              min(doc_id) AS min_id, max(doc_id) AS max_id
       FROM c GROUP BY shard, chunk_id"""
    # r9 rotation: gated
)
def corpus_pack_bpe(spark, sf_dir):
    """Chunk packing budgeted by TRAINED-TOKENIZER token counts, not
    whitespace words (functions/bpe.bpe_train + functions/packing
    .pack_greedy): pretraining loaders budget in BPE tokens, and the
    whitespace count under- or over-fills chunks wherever the two
    diverge, so the packing stage must count what the tokenizer counts.
    Token counts come from the trained segmentation table — every corpus
    word is in the vocabulary by construction, and training's sequential
    in-order merge application (bpe.apply_merge) is exactly what
    bpe_segment would re-apply per occurrence, so the join is the
    map-only re-encode without re-running 4 interpreted HOF folds per
    word occurrence. Plan: one corpus pass trains (vocabulary-bounded
    rounds, single-pair driver traffic); the count join BROADCASTS the
    vocabulary (bounded like k-means centroids — at web-scale vocabs the
    same join degrades gracefully to a keyed shuffle hash join, never a
    cartesian); doc counts are a map-side-combined groupBy; packing adds
    the one shard-window shuffle corpus_pack_chunks already documents.
    Beyond-reference LLM-pipeline capability."""
    from stream2segment_spark.functions.bpe import bpe_train_collected
    from stream2segment_spark.operators.dedup import word_tokens
    # parallel=False (r9 opt A/B: 2.71 s off vs 3.13 s on): iterative
    # BPE rounds = many small jobs, like corpus_bpe
    docs = load_table(spark, sf_dir, "documents", parallel=False)
    # bpe_train_collected (r9 opt round): HERE training is an
    # ingredient (the gated subject is BPE-budgeted packing; the
    # distributed trainer keeps its own gate, corpus_bpe), so use the
    # production trainer — one distributed corpus pass for the
    # vocabulary, then the merge loop on the collected vocab-bounded
    # table (functions/bpe docstring; pytest pins collected ==
    # distributed merge-for-merge). Drops the 4 per-round job+shuffle
    # round-trips from this entry.
    _, words = bpe_train_collected(docs, "text", 4)
    vocab = words.select(
        "word", F.size("syms").cast("long").alias("n_syms"))
    dw = docs.select(
        "doc_id",
        F.explode_outer(word_tokens(F.coalesce(F.col("text"), F.lit(""))))
         .alias("word"))
    d = (dw.join(F.broadcast(vocab), "word", "left")
         .groupBy("doc_id")
         .agg(F.coalesce(F.sum("n_syms"), F.lit(0)).cast("long")
               .alias("n_tok")))
    packed = pack_greedy(d, "doc_id", "n_tok", budget=256, n_shards=8,
                         seed="packbpe")
    return chunk_summary(packed, "doc_id", "n_tok")




def _pr_round_sql(r: int) -> str:
    """One unrolled fixed-point PageRank round (operators/graph
    .pagerank_quantized update rule, N=nn, scale=1e9, d=85/100): per-edge
    integer contributions, HUGEINT-safe because every round's rank is
    CAST back to BIGINT."""
    p = r - 1
    return f"""
   i{r} AS (SELECT e.dst AS host, sum((r.r * e.w) // o.outw) AS inr
            FROM e JOIN r{p} r ON r.host = e.src
                   JOIN o ON o.src = e.src
            GROUP BY e.dst),
   r{r} AS (SELECT n.host,
              CAST((CAST(1000000000 AS BIGINT) * 15) // (100 * c.nn)
                   + (85 * coalesce(i{r}.inr, 0)) // 100 AS BIGINT) AS r
            FROM n CROSS JOIN c
            LEFT JOIN i{r} ON i{r}.host = n.host)"""


@register(
    "corpus_host_rank",
    # r7: new entry, gated (never-green outranks stale-green refresh;
    # multimodal_probe deferred to free the slot). The oracle replays all
    # three fixed-point iterations as unrolled CTE rounds — integer sums
    # are order-independent, so the ranks are bit-exact cross-engine.
    f"""WITH e0 AS (SELECT CAST(doc_id % 97 AS BIGINT) AS src,
               unnest([CAST((doc_id * 3 + 1) % 97 AS BIGINT),
                       CAST((doc_id * 5 + 2) % 97 AS BIGINT),
                       CAST((doc_id * 7 + 3) % 97 AS BIGINT)]) AS dst
            FROM documents),
       e AS (SELECT src, dst, count(*) AS w FROM e0
             WHERE src != dst GROUP BY src, dst),
       n AS (SELECT DISTINCT h AS host FROM
                (SELECT src AS h FROM e UNION ALL SELECT dst FROM e)),
       c AS (SELECT count(*) AS nn FROM n),
       o AS (SELECT src, sum(w) AS outw FROM e GROUP BY src),
       r0 AS (SELECT host, CAST(CAST(1000000000 AS BIGINT) // nn AS BIGINT) AS r
              FROM n CROSS JOIN c),
       {_pr_round_sql(1)},
       {_pr_round_sql(2)},
       {_pr_round_sql(3)}
       SELECT host, r AS rank_q,
              round(CAST(r AS DOUBLE) / 1e9, 9) AS rank
       FROM r3""", gate=False,
    # r9 rotation: deferred
)
def corpus_host_rank(spark, sf_dir):
    """Link-graph quality propagation for web-corpus curation
    (operators/graph.pagerank_quantized): domain/host centrality is a
    standard corpus-filter signal (rank hosts by weighted in-links,
    drop or downweight the tail), and PageRank is its canonical form.
    Ranks are computed in fixed-point BIGINT arithmetic so the
    order-dependent float summation never enters — bit-exact across
    engines and partitionings (the kmeans_quantized trick). The host
    link graph is synthesized deterministically from doc ids (97 hosts,
    3 out-links per doc, self-links dropped, multiplicity = edge
    weight). Plan: one corpus-sized groupBy builds the host-graph edge
    table; the 3 iterations are host-graph-sized joins keyed on host
    (AQE broadcasts the rank side) + map-side-combined sums; only the
    scalar node count crosses the driver. Beyond-reference LLM-pipeline
    capability (graph signal; complements connected_components)."""
    from stream2segment_spark.operators.graph import pagerank_quantized
    docs = load_table(spark, sf_dir, "documents", parallel=False)
    host = (F.col("doc_id") % 97).cast("long")
    links = F.array(*[((F.col("doc_id") * k + j) % 97).cast("long")
                      for k, j in ((3, 1), (5, 2), (7, 3))])
    e0 = (docs.select(host.alias("src"), F.explode(links).alias("dst"))
          .filter(F.col("src") != F.col("dst")))
    edges = e0.groupBy("src", "dst").agg(F.count("*").alias("w"))
    # persist=False: lazy return (the driver collects) — the
    # persist-hygiene contract, same as corpus_bpe
    ranks = pagerank_quantized(edges, iterations=3, persist=False,
                               id_col="host")
    return ranks.select(
        "host", "rank_q",
        F.round(F.col("rank_q") / F.lit(1e9), 9).alias("rank"))


@register(
    "corpus_bloom_ingest",
    # r7 rotation: driver-green r4-r6 (freshest possible row); slot
    # freed for an entry whose module changed after its last gate row
    # (tools/rotation_check.py selection)
    # the Bloom stage is a pure prefilter: the result is EXACTLY the
    # anti-join, which the oracle states directly
    """SELECT d.doc_id,
              length(coalesce(d.text, '')) AS n_chars
       FROM documents d
       WHERE d.doc_id % 3 = 0
         AND NOT EXISTS (SELECT 1 FROM documents c
                         WHERE c.doc_id % 10 != 0
                           AND c.doc_id = d.doc_id)""",
    gate=False,
)
def corpus_bloom_ingest(spark, sf_dir):
    """Bloom-prefiltered incremental dedup (K3/J6 anti-join semantics,
    re-expressed for 100 TB ingestion — operators/bloom.py): 'corpus' =
    90% of documents, 'arriving batch' = every third document; the
    batch rows not yet in the corpus survive. Bloom NEGATIVES skip the
    join entirely (exact by construction); positives are confirmed via
    two broadcast-hash joins that stream the corpus map-side — the
    corpus key set is NEVER shuffled (plan-asserted: no SortMergeJoin).
    The filter here is deliberately undersized (fpp ~0.3) so the
    false-positive RESCUE path provably carries rows at every SF; the
    output is still bit-identical to the plain anti-join, which is the
    oracle."""
    from stream2segment_spark.operators.bloom import (
        bloom_anti_join, build_bloom)
    docs = load_table(spark, sf_dir, "documents", parallel=False)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    bf = build_bloom(corpus.select("doc_id"), "doc_id", fpp=0.3)
    out = bloom_anti_join(batch, corpus, "doc_id", bf)
    return out.select(
        "doc_id",
        F.length(F.coalesce("text", F.lit(""))).cast("long")
         .alias("n_chars"))


@register(
    "corpus_token_mix",
    f"""WITH d AS (
          SELECT doc_id, source,
                 len(list_filter(string_split_regex(trim(regexp_replace(
                     lower(regexp_replace(coalesce(text, ''),
                           '[^\\x00-\\x7F]+', ' ', 'g')),
                     '[^a-z0-9]+', ' ', 'g')),
                     ' '), x -> len(x) > 0)) AS n_tokens
          FROM documents WHERE source IS NOT NULL),
        w AS (
          -- ONE window replays the engine's distributed prefix sum
          -- exactly: its order (shard, bucket, id) IS the sharded
          -- order, so shard offsets + local cumsums == this cumsum.
          -- CAST AS BIGINT is load-bearing: DuckDB sum(BIGINT) is
          -- HUGEINT, which pandas renders as float64 — rows/schema
          -- still match but any dtype-sensitive value hash diverges
          -- from Spark's int64 (the r5 driver hash_match:false).
          SELECT doc_id, source, n_tokens,
                 CAST(sum(n_tokens) OVER (PARTITION BY source
                     ORDER BY {_BUCKET_SQL.format(seed='mix:shard')} % 64,
                              {_BUCKET_SQL.format(seed='mix')}, doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT)
                   AS mix_start
          FROM d)
        SELECT doc_id, source, n_tokens, mix_start
        FROM w WHERE mix_start < 3000"""
    # r9 rotation: gated
)
def corpus_token_mix(spark, sf_dir):
    """Token-budget source mixing (functions/sampling.token_budget_mix —
    beyond-reference LLM-pipeline): per source, keep documents in
    deterministic md5-bucket order until 3000 TOKENS accumulate (fill
    semantics: the budget-crossing doc is included). Training mixtures
    are specified in tokens per source, not doc counts — the doc-count
    counterpart is corpus_temperature_mix. ONE hash-partitioned window
    per stratum, no global sort; the oracle replays bucket order,
    cumulative token sums and the fill cut exactly (all integers)."""
    docs = load_table(spark, sf_dir, "documents", parallel=False)
    base = docs.select(
        "doc_id", "source",
        F.size(DD.word_tokens(F.coalesce(F.col("text"), F.lit(""))))
         .cast("long").alias("n_tokens"))
    return token_budget_mix(base, "doc_id", "source", "n_tokens", 3000)


@register(
    "corpus_chunking",
    # r7 rotation: driver-green r4-r6 (freshest possible row); slot
    # freed for an entry whose module changed after its last gate row
    # (tools/rotation_check.py selection)
    f"""WITH d AS (SELECT doc_id, coalesce({_WORDS_SQL}, []) AS w
                   FROM documents),
        c AS (SELECT doc_id, w,
                1 + CAST(ceil(greatest(len(w) - 16, 0)::DOUBLE / 12.0)
                    AS INT) AS nc
              FROM d),
        e AS (SELECT doc_id, w, unnest(range(0, nc)) AS i FROM c)
        SELECT doc_id, i::INT AS chunk_idx,
               len(w[i*12+1 : i*12+16])::INT AS n_chunk,
               coalesce(array_to_string(w[i*12+1 : i*12+16], ' '), '')
                 AS chunk_text
        FROM e""",
)
def corpus_chunking(spark, sf_dir):
    """Overlapping token-window chunking (functions/packing.
    chunk_documents — beyond-reference LLM-pipeline): every document
    becomes 16-token training windows starting every 12 tokens (4-token
    overlap, so no boundary span is lost); empty/null docs keep one
    empty chunk. MAP-ONLY: per-row transform over start offsets + one
    explode, zero shuffles (plan-asserted). The oracle replays the
    chunk-count formula and every slice with DuckDB list ranges."""
    from stream2segment_spark.functions.packing import chunk_documents
    docs = load_table(spark, sf_dir, "documents", parallel=False).select(
        "doc_id", DD.word_tokens(F.col("text")).alias("toks"))
    ch = chunk_documents(docs, "doc_id", "toks", window=16, overlap=4)
    return ch.select("doc_id", "chunk_idx", "n_chunk",
                     F.array_join("chunk_toks", " ").alias("chunk_text"))


# Linear-classifier GD unrolled in SQL: the rational fast sigmoid
# s(z) = 0.5 + z/(2(1+|z|)) keeps every op IEEE-exact (no exp), so both
# engines compute identical doubles; gradients are integer sums.
_CLS_SIGMOID = "(0.5 + {z} / (2 * (1 + abs({z}))))"


def _classifier_oracle() -> str:
    s1 = _CLS_SIGMOID.format(z="z")
    return f"""
        WITH q AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(round(
                   CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS v
             FROM embeddings),
        l AS (SELECT vec_id, v,
                CASE WHEN v[1] > 0 THEN 1 ELSE 0 END AS y FROM q),
        n AS (SELECT count(*) AS n FROM l),
        dims AS (SELECT unnest(range(1,
                 (SELECT max(len(v)) FROM l) + 1)) AS pos),
        -- iter 1 from zero weights: z = 0, s = 0.5, residual = 0.5 - y
        g1 AS (SELECT d.pos,
                 sum(CAST(round((0.5 - y) * v[d.pos], 0) AS BIGINT)) AS s
               FROM l, dims d GROUP BY d.pos),
        w1p AS (SELECT pos, CAST(0 - round(
                  0.5 * (CAST(s AS DOUBLE) / n.n), 0) AS BIGINT) AS wv
                FROM g1, n),
        w1 AS (SELECT list(wv ORDER BY pos) AS w FROM w1p),
        -- iter 2: exact integer dot, one division, rational sigmoid
        r2 AS (SELECT vec_id, v, y,
                 {_CLS_SIGMOID.format(
                     z="(CAST(list_sum(list_transform(range(1, len(v) + 1), "
                       "i -> w1.w[i] * v[i])) AS DOUBLE) / 1000000.0)")} - y
                   AS r
               FROM l, w1),
        g2 AS (SELECT d.pos,
                 sum(CAST(round(r * v[d.pos], 0) AS BIGINT)) AS s
               FROM r2, dims d GROUP BY d.pos),
        w2p AS (SELECT g2.pos, CAST(w1p.wv - round(
                  0.5 * (CAST(g2.s AS DOUBLE) / n.n), 0) AS BIGINT) AS wv
                FROM g2 JOIN w1p USING (pos), n),
        w2 AS (SELECT list(wv ORDER BY pos) AS w FROM w2p),
        z3 AS (SELECT l.vec_id, l.y,
                 CAST(list_sum(list_transform(range(1, len(l.v) + 1),
                     i -> w2.w[i] * l.v[i])) AS DOUBLE) / 1000000.0 AS z
               FROM l, w2)
        SELECT vec_id, y, round({s1}, 6) AS score,
               CASE WHEN {s1} >= 0.5 THEN 1 ELSE 0 END AS pred
        FROM z3"""


@register(
    "corpus_quality_classifier", _classifier_oracle(), gate=False,
    # r9 rotation: deferred
)
def corpus_quality_classifier(spark, sf_dir):
    """Distributed linear quality classifier (operators/classifier.py —
    beyond-reference LLM-pipeline; the DCLM/FineWeb-style step where a
    cheap trained model replaces heuristics): two full-batch GD
    iterations over the embeddings table with a deterministic learnable
    target (sign of the first quantized component), scoring every row
    with the final weights. Integer-quantized gradients + the rational
    fast sigmoid make training bit-replayable: the oracle unrolls BOTH
    iterations (per-dimension integer gradient sums, half-away weight
    updates, exact dot products) through to every row's score and
    prediction. One map-side-combined (dim-key) shuffle per iteration;
    dim longs to the driver; the corpus never moves."""
    from stream2segment_spark.operators.classifier import (
        train_linear_classifier)
    emb = load_table(spark, sf_dir, "embeddings")
    lab = emb.select(
        "vec_id", "embedding",
        (F.round(F.element_at(F.col("embedding"), 1).cast("double")
                 * 1000, 0).cast("long") > 0).cast("int").alias("y"))
    scored, _ = train_linear_classifier(lab, "vec_id", "embedding", "y",
                                        iters=2)
    return scored.select("vec_id", "y",
                         F.round("score", 6).alias("score"), "pred")


def _classifier_gate_oracle() -> str:
    """GD unroll over the TRAIN slice (vec_id %% 3 != 0), then pure
    inference on the HOLDOUT slice under the final weights — the
    score_with_weights contract."""
    s1 = _CLS_SIGMOID.format(z="z")
    return f"""
        WITH q AS (SELECT vec_id,
               list_transform(embedding, x -> CAST(round(
                   CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS v
             FROM embeddings),
        l AS (SELECT vec_id, v,
                CASE WHEN v[1] > 0 THEN 1 ELSE 0 END AS y FROM q
              WHERE vec_id % 3 <> 0),
        n AS (SELECT count(*) AS n FROM l),
        dims AS (SELECT unnest(range(1,
                 (SELECT max(len(v)) FROM l) + 1)) AS pos),
        g1 AS (SELECT d.pos,
                 sum(CAST(round((0.5 - y) * v[d.pos], 0) AS BIGINT)) AS s
               FROM l, dims d GROUP BY d.pos),
        w1p AS (SELECT pos, CAST(0 - round(
                  0.5 * (CAST(s AS DOUBLE) / n.n), 0) AS BIGINT) AS wv
                FROM g1, n),
        w1 AS (SELECT list(wv ORDER BY pos) AS w FROM w1p),
        r2 AS (SELECT vec_id, v, y,
                 {_CLS_SIGMOID.format(
                     z="(CAST(list_sum(list_transform(range(1, len(v) + 1), "
                       "i -> w1.w[i] * v[i])) AS DOUBLE) / 1000000.0)")} - y
                   AS r
               FROM l, w1),
        g2 AS (SELECT d.pos,
                 sum(CAST(round(r * v[d.pos], 0) AS BIGINT)) AS s
               FROM r2, dims d GROUP BY d.pos),
        w2p AS (SELECT g2.pos, CAST(w1p.wv - round(
                  0.5 * (CAST(g2.s AS DOUBLE) / n.n), 0) AS BIGINT) AS wv
                FROM g2 JOIN w1p USING (pos), n),
        w2 AS (SELECT list(wv ORDER BY pos) AS w FROM w2p),
        z3 AS (SELECT q.vec_id,
                 CAST(list_sum(list_transform(range(1, len(q.v) + 1),
                     i -> w2.w[i] * q.v[i])) AS DOUBLE) / 1000000.0 AS z
               FROM q, w2 WHERE q.vec_id % 3 = 0)
        SELECT vec_id, round({s1}, 6) AS score,
               CASE WHEN {s1} >= 0.5 THEN 1 ELSE 0 END AS pred
        FROM z3"""


@register(
    "corpus_classifier_gate", _classifier_gate_oracle(), gate=False,
    # r7: new entry for the score_with_weights inference path; window
    # r9 rotation: deferred
)
def corpus_classifier_gate(spark, sf_dir):
    """Train-once / score-elsewhere (operators/classifier
    .score_with_weights — the model-based corpus gate the funnel's
    classifier stage applies): two GD iterations on the vec_id %% 3 != 0
    slice, then PURE INFERENCE on the held-out third under the final
    quantized weights. The oracle unrolls training over the train slice
    only and replays the holdout scoring dot products — so the
    inference path (quantize -> shared scoring UDF) is hash-verified
    end-to-end, separately from training's own scored frame. Inference
    is a map-only Arrow stage: no shuffle, weights ship in the task
    closure."""
    from stream2segment_spark.operators.classifier import (
        score_with_weights, train_linear_classifier)
    emb = load_table(spark, sf_dir, "embeddings")
    lab = (emb.filter(F.col("vec_id") % 3 != 0)
           .select("vec_id", "embedding",
                   (F.round(F.element_at(F.col("embedding"), 1)
                            .cast("double") * 1000, 0)
                    .cast("long") > 0).cast("int").alias("y")))
    _, weights = train_linear_classifier(lab, "vec_id", "embedding", "y",
                                         iters=2)
    hold = emb.filter(F.col("vec_id") % 3 == 0)
    out = score_with_weights(hold, "vec_id", "embedding", weights)
    return out.select("vec_id", F.round("score", 6).alias("score"),
                      "pred")

@register(
    "corpus_weighted_sample",
    # r7: new entry; window full — deferred (mirror-verified; r8
    # rotation candidate). Keep iff md5 bucket < quality * 10000: the
    # quality grid is k/8 so every threshold is an exact integer — no
    # rounding ties cross-engine.
    f"""WITH t AS (
          SELECT doc_id, text, {_WORDS_SQL} AS w,
                 length(regexp_replace(text, '[^!-/:-@\\[-`{{{{-~]', '', 'g'))::DOUBLE
                   / length(text) AS pr
          FROM documents),
        m AS (
          SELECT doc_id,
                 length(text)::DOUBLE AS n,
                 len(list_filter(w, x -> x IN
                     ('the','and','of','to','is','in','that','it','a','for',
                      'on','with','as')))::DOUBLE / len(w) AS sw,
                 list_sum(list_transform(w, x -> len(x)))::DOUBLE / len(w)
                   AS mwl,
                 pr
          FROM t),
        q AS (SELECT doc_id,
                 round((
                   (CASE WHEN n >= 100 AND n <= 20000 THEN 1.0 ELSE 0.5 END) +
                   (CASE WHEN sw >= 0.05 AND sw <= 0.6 THEN 1.0 ELSE 0.5 END) +
                   (CASE WHEN mwl >= 2.0 AND mwl <= 12.0 THEN 1.0 ELSE 0.5 END) +
                   (CASE WHEN pr <= 0.2 THEN 1.0 ELSE 0.5 END)) / 4.0, 4)
                   AS quality,
                 CAST('0x' || substr(md5('wsample:' ||
                      CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000
                   AS bucket
              FROM m)
       SELECT doc_id, quality, bucket FROM q
       WHERE bucket < round(greatest(0.0, least(1.0, quality)) * 10000, 0)"""
)
def corpus_weighted_sample(spark, sf_dir):
    """Score-PROPORTIONAL sampling (functions/sampling.weighted_sample
    — the FineWeb-Edu-style keep rule: keep probability = the quality
    score itself, so better documents survive at higher rates instead
    of a hard floor). Deterministic per-row Bernoulli via the md5
    bucket, reproducible across runs/engines/partitionings; the oracle
    replays the quality heuristic, the bucket and the threshold
    comparison exactly. Pure scan-stage filter: no shuffle, no UDF.
    Beyond-reference LLM-pipeline capability."""
    from stream2segment_spark.functions.plan import opt_barrier
    from stream2segment_spark.functions.sampling import (
        hash_bucket, weighted_sample)
    from stream2segment_spark.operators.dedup import word_tokens
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", "text", word_tokens(F.col("text")).alias("__toks"))
    # opt_barrier (r10): weighted_sample's keep FILTER references
    # quality — pushdown would substitute the full quality expression
    # (and through it the tokenizer, once per fold reference) below the
    # staged projects and evaluate it twice per row; interleaved A/B
    # 1.04 s -> 0.35 s at sf0.1 (functions/plan.py)
    scored = staged.select(
        "doc_id",
        opt_barrier(
            F.round(TXQ.quality_score(F.col("text"), toks=F.col("__toks")),
                    4)).alias("quality"),
        hash_bucket(F.col("doc_id"), "wsample").alias("bucket"))
    return weighted_sample(scored, "doc_id", "quality", seed="wsample") \
        .select("doc_id", "quality", "bucket")

_DIFF_FP = "md5(coalesce(CAST(text AS VARCHAR), ''))"


@register(
    "corpus_version_diff",
    # r7 rotation: driver-green r4-r6 (freshest possible row); slot
    # freed for an entry whose module changed after its last gate row
    # (tools/rotation_check.py selection)
    f"""WITH old_ AS (SELECT doc_id, {_DIFF_FP} AS old_fp
                      FROM documents WHERE doc_id % 7 <> 0),
         new_ AS (SELECT doc_id,
                         md5(coalesce(CAST(CASE WHEN doc_id % 11 = 0
                                                THEN text || ' v2'
                                                ELSE text END
                                           AS VARCHAR), '')) AS new_fp
                  FROM documents WHERE doc_id % 5 <> 0)
       SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
              CASE WHEN o.old_fp IS NULL THEN 'added'
                   WHEN n.new_fp IS NULL THEN 'removed'
                   WHEN o.old_fp = n.new_fp THEN 'unchanged'
                   ELSE 'changed' END AS status,
              o.old_fp, n.new_fp
       FROM old_ o FULL OUTER JOIN new_ n ON o.doc_id = n.doc_id""",
    gate=False,
)
def corpus_version_diff(spark, sf_dir):
    """Snapshot diff between two corpus versions
    (operators/versioning.corpus_diff): every doc classified added /
    removed / changed / unchanged from ONE full-outer join on id
    carrying 16-byte md5 fingerprints — text bytes never shuffle, which
    is the 100 TB dataset-versioning path (with both snapshots bucketed
    on id the join itself is shuffle-free). The two versions derive
    deterministically from `documents`: v_old drops every 7th doc,
    v_new drops every 5th and appends ' v2' to every 11th's text. The
    oracle replays the fingerprints and the classification exactly.
    Beyond-reference capability (the reference mutates a DB in place;
    no snapshot concept)."""
    from stream2segment_spark.operators.versioning import corpus_diff
    docs = load_table(spark, sf_dir, "documents", parallel=False)
    old = docs.where(F.col("doc_id") % 7 != 0)
    new = docs.where(F.col("doc_id") % 5 != 0).withColumn(
        "text", F.when(F.col("doc_id") % 11 == 0,
                       F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")))
    return corpus_diff(old, new, "doc_id", ["text"])


@register(
    "corpus_shuffle_shards",
    # r7 rotation: driver-green r4-r6 (freshest possible row); slot
    # freed for an entry whose module changed after its last gate row
    # (tools/rotation_check.py selection)
    """WITH h AS (SELECT doc_id,
                         CAST('0x' || substr(md5('shuf:' ||
                              CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                           AS h
                  FROM documents),
         a AS (SELECT doc_id, h, h % 16 AS shard_id FROM h)
       SELECT doc_id, shard_id,
              CAST(row_number() OVER (PARTITION BY shard_id
                                      ORDER BY h, doc_id) - 1
                   AS BIGINT) AS shard_pos
       FROM a""", gate=False
)
def corpus_shuffle_shards(spark, sf_dir):
    """Deterministic global training shuffle
    (functions/sampling.shuffle_assignment): every document gets a
    (shard_id, shard_pos) slot that is a pure function of
    md5(seed:doc_id) — the "shuffle the corpus before training"
    delivery step, reproducible across engines, runs and partitionings.
    One shuffle on shard_id; each shard's position window sorts only
    its own rows (size n_shards so a shard fits a task — the same bound
    as the output file). write_shuffled_shards materializes the order
    as exactly n_shards sorted parquet files. The oracle replays hash,
    shard and the tie-broken position window exactly."""
    from stream2segment_spark.functions.sampling import shuffle_assignment
    docs = load_table(spark, sf_dir, "documents", parallel=False)
    out = shuffle_assignment(docs.select("doc_id"), "doc_id", n_shards=16)
    return out.select("doc_id", "shard_id", "shard_pos")


@register(
    "corpus_domain_cap",
    # r7 rotation: driver-green r4-r6 (freshest possible row); slot
    # freed for an entry whose module changed after its last gate row
    # (tools/rotation_check.py selection)
    """WITH h AS (SELECT doc_id, source,
                         CAST('0x' || substr(md5('cap:' ||
                              CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                           AS h
                  FROM documents),
         r AS (SELECT doc_id, source,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY h, doc_id) AS rn
               FROM h)
       SELECT doc_id, source FROM r WHERE rn <= 25""", gate=False,
    # r9 rotation: deferred
)
def corpus_domain_cap(spark, sf_dir):
    """Per-source document cap (functions/sampling.cap_per_group): at
    most 25 docs per source, chosen by deterministic md5(seed:id) order
    — the Common-Crawl-style per-domain anti-spam cap, reproducible
    across engines/runs/partitionings where sample()/limit are not. One
    source-keyed shuffle; the capped domain is the skew axis by
    definition (AQE skew handling; per-partition local-top-cap
    pre-filter is the documented escalation). The oracle replays hash,
    window order and tie-breaks exactly."""
    from stream2segment_spark.functions.sampling import cap_per_group
    docs = load_table(spark, sf_dir, "documents", parallel=False)
    out = cap_per_group(docs.select("doc_id", "source"), "source", 25,
                        id_col="doc_id", seed="cap")
    return out.select("doc_id", "source")


# --- URL canonicalization (functions/url.py) -------------------------------
# Both engines synthesize the same URL corpus from documents (varied
# schemes, www/tracking-param/default-port/two-level-TLD cases), then
# the oracle replays parse + canonicalization with its own regex/list
# engine — proving the Java-regex/RE2 shared-subset claim.

_URL_SYNTH_SQL = """CASE CAST(doc_id % 5 AS INT)
  WHEN 0 THEN 'https://www.' || source || '.example.co.uk:443/p/'
              || CAST(doc_id AS VARCHAR) || '?utm_source=f&b=2&a=1#x'
  WHEN 1 THEN 'http://blog.' || source || '.org:80/post-'
              || CAST(doc_id AS VARCHAR)
  WHEN 2 THEN 'HTTP://API.'
              || translate(source, 'abcdefghijklmnopqrstuvwxyz',
                           'ABCDEFGHIJKLMNOPQRSTUVWXYZ')
              || '.COM:8080/x?gclid=z&z=9&y=1'
  WHEN 3 THEN 'https://' || source || '.example.com/a/b?fbclid=1'
  ELSE 'https://cdn.static.' || source || '.co.jp/img-'
       || CAST(doc_id AS VARCHAR) || '.png?x=1&utm_campaign=c&ref=h'
END"""

_URL_TRACK_RX = "^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)="

_URL_ORACLE = f"""WITH u AS (
    SELECT doc_id, {_URL_SYNTH_SQL} AS url FROM documents),
  parts AS (SELECT doc_id, url,
    translate(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*):', 1),
              'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
              'abcdefghijklmnopqrstuvwxyz')
        AS scheme,
    translate(regexp_extract(url,
        '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^@/?#]*@)?([^:/?#]+)', 1),
              'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
              'abcdefghijklmnopqrstuvwxyz')
        AS host,
    TRY_CAST(regexp_extract(url,
        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*:([0-9]+)', 1) AS INT)
        AS port,
    regexp_extract(url,
        '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
    coalesce(regexp_extract(url, '\\?([^#]*)', 1), '') AS q
    FROM u),
  norm AS (SELECT doc_id, url, scheme, host,
    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
    CASE WHEN len(string_split(
                regexp_replace(host, '^(www\\.)+', ''), '.')) >= 2
         THEN regexp_replace(host, '^(www\\.)+', '')
         ELSE string_split(host, '.')[-2] || '.'
              || string_split(host, '.')[-1] END AS chost,
    CASE WHEN port IS NULL
              OR port IS NOT DISTINCT FROM
                 (CASE scheme WHEN 'http' THEN 80
                              WHEN 'https' THEN 443 END)
         THEN '' ELSE ':' || CAST(port AS VARCHAR) END AS pport,
    coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
        x -> length(x) > 0
             AND NOT regexp_matches(x, '{_URL_TRACK_RX}'))), '&'), '')
        AS cq
    FROM parts),
  dom AS (SELECT *,
    string_split(host, '.') AS ls,
    len(string_split(host, '.')) AS nl
    FROM norm)
SELECT doc_id, url, scheme, host,
  CASE WHEN nl <= 2 THEN host
       WHEN (ls[-2] || '.' || ls[-1]) IN
            ('co.uk','org.uk','ac.uk','gov.uk','co.jp','ne.jp','or.jp',
             'com.au','net.au','org.au','co.in','com.br','com.cn',
             'co.nz','co.za','com.mx','com.ar','com.tr')
            AND nl >= 3
       THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
       ELSE ls[-2] || '.' || ls[-1] END AS domain,
  path,
  scheme || '://' || chost || pport || path
    || (CASE WHEN cq = '' THEN '' ELSE '?' || cq END) AS canonical
FROM dom"""


@register("corpus_url_canonical", _URL_ORACLE)
def corpus_url_canonical(spark, sf_dir):
    """URL parse + canonicalization + registrable domain
    (functions/url.py) over a deterministic synthetic URL corpus
    covering the canonicalization contract's cases: www-strip, default
    ports (explicit :443/:80 dropped, :8080 kept), uppercase
    scheme/host folding, tracking-param removal (utm_*/fbclid/gclid/
    ref), query-param sorting, empty-path -> '/', fragment drop, and
    two-level public suffixes (co.uk/co.jp keep three labels). All
    scan-stage built-ins (regexp_extract + array HOFs, no UDF, no
    shuffle): URL-keyed curation at 100 TB — canonical-URL dedup,
    per-domain caps, blocklist joins — stays at text-scan speed. The
    oracle re-implements the whole contract in DuckDB's regex/list
    engine, pinning the Java-regex/RE2 shared-subset portability
    claim. Beyond-reference (the reference's URLs are fixed FDSN
    endpoints: stream2segment/download/modules/datacenters.py)."""
    from stream2segment_spark.functions import url as U
    from stream2segment_spark.schema import load_table
    # parallel=False: this entry's SCAN-STAGE-ONLY contract (plan_audit
    # invariant) is the point — URL canonicalization must stay a pure
    # scan map; an input exchange would void the claim it gates
    docs = load_table(spark, sf_dir, "documents", parallel=False)
    five = (F.col("doc_id") % 5).cast("int")
    synth = (F.when(five == 0, F.concat(
                 F.lit("https://www."), F.col("source"),
                 F.lit(".example.co.uk:443/p/"),
                 F.col("doc_id").cast("string"),
                 F.lit("?utm_source=f&b=2&a=1#x")))
             .when(five == 1, F.concat(
                 F.lit("http://blog."), F.col("source"),
                 F.lit(".org:80/post-"), F.col("doc_id").cast("string")))
             .when(five == 2, F.concat(
                 # ASCII-only upper (translate): F.upper's full case
                 # mapping diverges from DuckDB on non-ASCII sources
                 F.lit("HTTP://API."),
                 F.translate(F.col("source"), U_ASCII_LO, U_ASCII_UP),
                 F.lit(".COM:8080/x?gclid=z&z=9&y=1")))
             .when(five == 3, F.concat(
                 F.lit("https://"), F.col("source"),
                 F.lit(".example.com/a/b?fbclid=1")))
             .otherwise(F.concat(
                 F.lit("https://cdn.static."), F.col("source"),
                 F.lit(".co.jp/img-"), F.col("doc_id").cast("string"),
                 F.lit(".png?x=1&utm_campaign=c&ref=h"))))
    u = docs.select("doc_id", synth.alias("url"))
    return u.select(
        "doc_id", "url",
        U.url_scheme(F.col("url")).alias("scheme"),
        U.url_host(F.col("url")).alias("host"),
        U.url_registrable_domain(U.url_host(F.col("url")))
         .alias("domain"),
        U.url_path(F.col("url")).alias("path"),
        U.url_canonical(F.col("url")).alias("canonical"))


# ---------------------------------------------------------------------------
# Composed curation funnel (r7): stage-wise green != composition green —
# ordering and interaction bugs (text-rewriting order, id/stratum
# carry-through, filter-before-dedup semantics) live BETWEEN stages, so
# the end-to-end funnel gets its own driver row (VERDICT r6 #5).
# ---------------------------------------------------------------------------

# A stopword-rich constant page assigned to every doc_id % 11 == 5: the
# clones collapse to ONE fingerprint, making the exact-dedup stage
# non-trivial at every SF (the word-soup corpus has no natural exact
# dups after prose derivation). Crafted to pass every upstream filter:
# 5 lines x >= 5 words with terminal '.', >= 50 whitespace words, >= 2
# Gopher stopwords, all-alpha words, 'the' run below the 0.2 cap.
_FUNNEL_CLONE = (
    "The old lighthouse keeper walked along that rocky shore every "
    "morning before dawn.\n"
    "He carried a small lantern and a worn leather journal with notes.\n"
    "Seagulls circled above the waves while fishing boats returned to "
    "harbor slowly.\n"
    "Children played near the pier as merchants opened their shops for "
    "trade.\n"
    "An evening storm was expected and everyone watched the horizon "
    "with care.")


def _funnel_oracle() -> str:
    from stream2segment_spark.functions.text import (
        C4_BAD_WORDS, GOPHER_STOPWORDS)
    from stream2segment_spark.queries_text import (
        _C4_MARKERS, _GOPHER_MARKERS, _lang_case_sql)

    marks = "".join(
        f" || CASE WHEN doc_id % {m} = 0 THEN chr(10) || '{s}' "
        "ELSE '' END" for m, s in
        [(m, s.replace("\n", "' || chr(10) || '")) for m, s in
         list(_C4_MARKERS) + list(_GOPHER_MARKERS)])
    derived = ("replace(coalesce(text, ''), ' table ', '.' || chr(10)) "
               f"|| '.'{marks}")
    clone = _FUNNEL_CLONE.replace("\n", "' || chr(10) || '")
    fold = "lower(regexp_replace({c}, '[^\\x00-\\x7F]+', ' ', 'g'))"
    bad = " OR ".join(
        f"contains({fold.format(c='t')}, '{w}')" for w in C4_BAD_WORDS)
    keep = ("x -> right(rtrim(x), 1) IN ('.', '!', '?', '\"') "
            "AND len(list_filter(regexp_split_to_array(x, '\\s+'), "
            "w -> w != '')) >= 5 "
            f"AND NOT contains({fold.format(c='x')}, 'javascript')")
    words = ("list_filter(string_split_regex(trim(regexp_replace("
             + fold.format(c="t")
             + ", '[^a-z0-9]+', ' ', 'g')), ' '), x -> len(x) > 0)")
    stop_list = "[" + ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS) + "]"
    en_stops = ("('the','and','of','to','is','in','that','it','a','for',"
                "'on','with','as')")
    fingerprint = ("md5(trim(regexp_replace(" + fold.format(c="t")
                   + ", '[^a-z0-9]+', ' ', 'g')))")
    bkt = ("CAST('0x' || substr(md5('{seed}:' || CAST(doc_id AS VARCHAR)),"
           " 1, 15) AS BIGINT) % 10000")
    return f"""
    WITH RECURSIVE
    base AS MATERIALIZED (SELECT doc_id, source,
               CASE WHEN doc_id % 11 = 5
                    THEN '{clone}' ELSE {derived} END AS t
             FROM documents),
    c4 AS MATERIALIZED (SELECT doc_id, source, t,
             list_filter(regexp_split_to_array(t, '\\r?\\n'), {keep})
               AS kept,
             contains({fold.format(c='t')}, 'lorem ipsum') AS has_lorem,
             contains(t, '{{') AS has_brace,
             ({bad}) AS has_bad
           FROM base),
    cleaned AS MATERIALIZED (SELECT doc_id, source,
                  coalesce(array_to_string(kept, chr(10)), '') AS t
                FROM c4
                WHERE len(kept) >= 3 AND NOT has_lorem
                  AND NOT has_brace AND NOT has_bad),
    gsig AS MATERIALIZED (SELECT doc_id,
               list_filter(regexp_split_to_array(t, '\\s+'),
                           w -> w != '') AS gw,
               regexp_split_to_array(t, '\\r?\\n') AS lines,
               len(t) - len(replace(t, '#', '')) AS n_hash,
               (len(t) - len(replace(t, '...', ''))) // 3 AS n_dots,
               len(t) - len(replace(t, '…', '')) AS n_uni,
               {fold.format(c='t')} AS ft
             FROM cleaned),
    gm AS MATERIALIZED (SELECT doc_id,
             len(gw)::BIGINT AS n_words,
             coalesce(list_sum(list_transform(gw, x -> len(x))), 0)
               ::DOUBLE AS sum_len,
             (n_hash + n_dots + n_uni)::DOUBLE AS n_sym,
             len(list_filter(lines,
                 l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE
               AS n_bullet,
             len(list_filter(lines,
                 l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$')))::DOUBLE
               AS n_ell,
             len(list_filter(gw,
                 x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE AS n_alpha,
             len(lines)::DOUBLE AS n_lines,
             len(list_filter({stop_list},
                 st -> list_contains(list_filter(
                     regexp_split_to_array(ft, '\\s+'),
                     x -> x != ''), st)))::BIGINT AS n_stop
           FROM gsig),
    gok AS MATERIALIZED (SELECT doc_id FROM gm
            WHERE n_words BETWEEN 50 AND 100000
              AND (CASE WHEN n_words > 0
                        THEN sum_len / n_words::DOUBLE END) >= 3.0
              AND (CASE WHEN n_words > 0
                        THEN sum_len / n_words::DOUBLE END) <= 10.0
              AND (CASE WHEN n_words > 0
                        THEN n_sym / n_words::DOUBLE END) <= 0.1
              AND n_bullet / n_lines <= 0.9
              AND n_ell / n_lines <= 0.3
              AND (CASE WHEN n_words > 0
                        THEN n_alpha / n_words::DOUBLE END) >= 0.8
              AND n_stop >= 2),
    gdocs AS MATERIALIZED (SELECT c.* FROM cleaned c JOIN gok USING (doc_id)),
    ann AS MATERIALIZED (SELECT doc_id, source, t, {words} AS w,
              length(t)::DOUBLE AS n_chars,
              {fingerprint} AS fingerprint
            FROM gdocs),
    met AS MATERIALIZED (SELECT doc_id, source, t, w, fingerprint,
              len(w) AS n_tokens,
              coalesce((SELECT max(c) FROM
                  (SELECT count(*) AS c FROM unnest(ann.w) AS u(x)
                   GROUP BY x) q), 0) AS max_tok_run,
              round((
                (CASE WHEN n_chars >= 100 AND n_chars <= 20000
                      THEN 1.0 ELSE 0.5 END) +
                (CASE WHEN (CASE WHEN len(w) > 0 THEN
                       len(list_filter(w, x -> x IN {en_stops}))::DOUBLE
                       / len(w) END) >= 0.05
                   AND (CASE WHEN len(w) > 0 THEN
                       len(list_filter(w, x -> x IN {en_stops}))::DOUBLE
                       / len(w) END) <= 0.6
                      THEN 1.0 ELSE 0.5 END) +
                (CASE WHEN (CASE WHEN len(w) > 0 THEN
                       list_sum(list_transform(w, x -> len(x)))::DOUBLE
                       / len(w) END) >= 2.0
                   AND (CASE WHEN len(w) > 0 THEN
                       list_sum(list_transform(w, x -> len(x)))::DOUBLE
                       / len(w) END) <= 12.0
                      THEN 1.0 ELSE 0.5 END) +
                (CASE WHEN length(regexp_replace(t,
                       '[^!-/:-@\\[-`{{-~]', '', 'g'))::DOUBLE
                       / length(t) <= 0.2
                      THEN 1.0 ELSE 0.5 END)) / 4.0, 4) AS quality,
              {_lang_case_sql()} AS lang
            FROM ann),
    filt AS MATERIALIZED (SELECT * FROM met
             WHERE lang = 'en' AND quality >= 0.6
               AND n_tokens BETWEEN 5 AND 100000
               AND max_tok_run <= 0.2 * n_tokens),
    exact AS MATERIALIZED (SELECT * FROM filt
              QUALIFY row_number() OVER
                (PARTITION BY fingerprint ORDER BY doc_id) = 1),
    sh AS MATERIALIZED (SELECT doc_id,
             CASE WHEN len(w) >= 3 THEN
               list_distinct(list_transform(range(1, len(w) - 1),
                 i -> array_to_string(w[i:i+2], ' ')))
             ELSE [array_to_string(w, ' ')] END AS s
           FROM exact),
    inv AS MATERIALIZED (SELECT doc_id, unnest(s) AS shingle FROM sh),
    cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM inv a JOIN inv b
               ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
    pairs AS MATERIALIZED (SELECT id_a, id_b
              FROM cand JOIN sh x ON x.doc_id = id_a
                        JOIN sh y ON y.doc_id = id_b
              WHERE len(list_intersect(x.s, y.s))::DOUBLE
                    / len(list_distinct(list_concat(x.s, y.s))) >= 0.5),
    edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (SELECT a, b FROM edges
                    UNION
                    SELECT r.a, e.b FROM reach r
                    JOIN edges e ON r.b = e.a),
    label AS MATERIALIZED (SELECT a, least(min(b), a) AS cluster_id
              FROM reach GROUP BY a),
    dedup AS MATERIALIZED (SELECT e.* FROM exact e LEFT JOIN label l ON l.a = e.doc_id
              WHERE coalesce(l.cluster_id, e.doc_id) = e.doc_id),
    rates AS MATERIALIZED (SELECT source, count(*) AS n_total FROM dedup
              GROUP BY source),
    rmin AS MATERIALIZED (SELECT min(n_total) AS n_min FROM rates),
    r AS MATERIALIZED (SELECT source, sqrt(CAST(n_min AS DOUBLE) / n_total) AS rate
          FROM rates, rmin),
    mixed AS MATERIALIZED (SELECT d.* FROM dedup d JOIN r USING (source)
              WHERE CAST({bkt.format(seed='temp')} AS DOUBLE)
                    < rate * 10000)
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, quality,
           CASE WHEN {bkt.format(seed='s2s')} < 8000 THEN 'train'
                WHEN {bkt.format(seed='s2s')} < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM mixed"""


@register("corpus_funnel", _funnel_oracle())
def corpus_funnel(spark, sf_dir):
    """The COMPOSED curation funnel end-to-end
    (examples/corpus_pipeline.curate_corpus): C4 line/page cleaning ->
    Gopher doc-quality rules -> annotate (tokens/quality/langid/
    fingerprint in one pass) -> language/quality/token-band/run filters
    -> exact dedup (min-id per fingerprint) -> exact-Jaccard near-dedup
    (inverted-index pairs, connected components, min-id canonical;
    neardup_mode='jaccard' — the deterministic mode a full-funnel
    oracle can replay, LSH being the probabilistic scale path) ->
    deterministic md5 split -> temperature source-mix (alpha=0.5).
    Stage-wise entries are each green on their own; THIS entry pins the
    composition: text-rewriting order (near-dup sees C4-cleaned text),
    stratum carry-through, filter-before-dedup semantics. Input is the
    derived multi-line prose (C4+Gopher markers) plus constant clone
    pages on doc_id % 11 == 5 so the exact-dedup stage is non-trivial.
    The oracle replays all eight stages in one recursive-CTE SQL chain
    over the identical derivation."""
    from stream2segment_spark.examples.corpus_pipeline import curate_corpus
    from stream2segment_spark.queries_text import (
        _C4_MARKERS, _GOPHER_MARKERS)
    docs = load_table(spark, sf_dir, "documents")
    prose = F.concat(
        F.replace(F.coalesce(F.col("text"), F.lit("")),
                  F.lit(" table "), F.lit(".\n")),
        F.lit("."),
        *[F.when(F.col("doc_id") % m == 0, F.lit("\n" + s)).otherwise("")
          for m, s in list(_C4_MARKERS) + list(_GOPHER_MARKERS)])
    t = F.when(F.col("doc_id") % 11 == 5, F.lit(_FUNNEL_CLONE)) \
         .otherwise(prose)
    derived = docs.select("doc_id", "source", t.alias("text"))
    curated, _funnel = curate_corpus(
        derived, c4_rules=True, gopher_rules=True,
        languages=("en",), min_quality=0.6, token_band=(5, 100_000),
        neardup_mode="jaccard", neardup_threshold=0.5,
        mix_strata_col="source", mix_alpha=0.5)
    return curated.select("doc_id", "source",
                          F.col("n_tokens").cast("long").alias("n_tokens"),
                          "quality", "split")


# --- incremental funnel (r8, VERDICT r7 ask #6) -----------------------------
# Constant clone page shared across the old/new halves so BOTH
# incremental paths are non-trivial: exact fingerprints (new clones of
# an existing page) and near-dup clusters spanning the boundary.
_INC_CLONE = "key agg row scan slow fast table value part hash"
_INC_SPLIT = 250   # ids below = the existing corpus; at the sf0.01 gate
                   # this is exactly half the table


def _funnel_incremental_oracle() -> str:
    from stream2segment_spark.queries_text import _lang_case_sql
    fold = "lower(regexp_replace({c}, '[^\\x00-\\x7F]+', ' ', 'g'))"
    words = ("list_filter(string_split_regex(trim(regexp_replace("
             + fold.format(c="t")
             + ", '[^a-z0-9]+', ' ', 'g')), ' '), x -> len(x) > 0)")
    en_stops = ("('the','and','of','to','is','in','that','it','a','for',"
                "'on','with','as')")
    fingerprint = ("md5(trim(regexp_replace(" + fold.format(c="t")
                   + ", '[^a-z0-9]+', ' ', 'g')))")
    bkt = ("CAST('0x' || substr(md5('s2s:' || CAST(doc_id AS VARCHAR)),"
           " 1, 15) AS BIGINT) % 10000")
    return f"""
    WITH RECURSIVE
    base AS MATERIALIZED (SELECT doc_id,
               CASE WHEN doc_id % 11 = 5 THEN '{_INC_CLONE}'
                    ELSE coalesce(text, '') END AS t
             FROM documents),
    ann AS MATERIALIZED (SELECT doc_id, t, {words} AS w,
              length(t)::DOUBLE AS n_chars,
              {fingerprint} AS fingerprint
            FROM base),
    met AS MATERIALIZED (SELECT doc_id, t, w, fingerprint,
              len(w) AS n_tokens,
              coalesce((SELECT max(c) FROM
                  (SELECT count(*) AS c FROM unnest(met0.w) AS u(x)
                   GROUP BY x) q), 0) AS max_tok_run,
              round((
                (CASE WHEN n_chars >= 100 AND n_chars <= 20000
                      THEN 1.0 ELSE 0.5 END) +
                (CASE WHEN (CASE WHEN len(w) > 0 THEN
                       len(list_filter(w, x -> x IN {en_stops}))::DOUBLE
                       / len(w) END) >= 0.05
                   AND (CASE WHEN len(w) > 0 THEN
                       len(list_filter(w, x -> x IN {en_stops}))::DOUBLE
                       / len(w) END) <= 0.6
                      THEN 1.0 ELSE 0.5 END) +
                (CASE WHEN (CASE WHEN len(w) > 0 THEN
                       list_sum(list_transform(w, x -> len(x)))::DOUBLE
                       / len(w) END) >= 2.0
                   AND (CASE WHEN len(w) > 0 THEN
                       list_sum(list_transform(w, x -> len(x)))::DOUBLE
                       / len(w) END) <= 12.0
                      THEN 1.0 ELSE 0.5 END) +
                (CASE WHEN (CASE WHEN length(t) > 0 THEN
                       length(regexp_replace(t,
                         '[^!-/:-@\\[-`{{-~]', '', 'g'))::DOUBLE
                       / length(t) END) <= 0.2
                      THEN 1.0 ELSE 0.5 END)) / 4.0, 4) AS quality,
              {_lang_case_sql()} AS lang
            FROM ann AS met0),
    filt AS MATERIALIZED (SELECT * FROM met
             WHERE lang IN ('en', 'und') AND quality >= 0.6
               AND n_tokens BETWEEN 5 AND 100000
               AND max_tok_run <= 0.2 * n_tokens),
    exact AS MATERIALIZED (SELECT * FROM filt
              QUALIFY row_number() OVER
                (PARTITION BY fingerprint ORDER BY doc_id) = 1),
    sh AS MATERIALIZED (SELECT doc_id,
             CASE WHEN len(w) >= 3 THEN
               list_distinct(list_transform(range(1, len(w) - 1),
                 i -> array_to_string(w[i:i+2], ' ')))
             ELSE [array_to_string(w, ' ')] END AS s
           FROM exact),
    inv AS MATERIALIZED (SELECT doc_id, unnest(s) AS shingle FROM sh),
    cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM inv a JOIN inv b
               ON a.shingle = b.shingle AND a.doc_id < b.doc_id),
    pairs AS MATERIALIZED (SELECT id_a, id_b
              FROM cand JOIN sh x ON x.doc_id = id_a
                        JOIN sh y ON y.doc_id = id_b
              WHERE len(list_intersect(x.s, y.s))::DOUBLE
                    / len(list_distinct(list_concat(x.s, y.s))) >= 0.5),
    edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (SELECT a, b FROM edges
                    UNION
                    SELECT r.a, e.b FROM reach r
                    JOIN edges e ON r.b = e.a),
    label AS MATERIALIZED (SELECT a, least(min(b), a) AS cluster_id
              FROM reach GROUP BY a),
    dedup AS MATERIALIZED (SELECT e.* FROM exact e LEFT JOIN label l ON l.a = e.doc_id
              WHERE coalesce(l.cluster_id, e.doc_id) = e.doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, quality, lang,
           CASE WHEN {bkt} < 8000 THEN 'train'
                WHEN {bkt} < 9000 THEN 'val' ELSE 'test' END AS split
    FROM dedup
    WHERE doc_id >= {_INC_SPLIT}"""


@register("corpus_funnel_incremental", _funnel_incremental_oracle())
def corpus_funnel_incremental(spark, sf_dir):
    """Incremental curation (curate_corpus ``against=`` / 's2s curate
    --against', VERDICT r7 ask #6): the existing half of the corpus is
    curated once, then ONLY the new half runs through the funnel,
    anti-joining exact fingerprints against the existing corpus and
    near-deduping candidate pairs against it (existing docs always win
    their clusters; new-only clusters keep the min new id) — the batch
    analogue of streaming/corpus.py's LSH-vs-history dedup and the
    corpus-scale shape of the reference's append/diff semantics (K3
    sinks/writers.py append anti-join; J5 operators/joins.py
    prepare_for_download, reference download/db/pdsql.py mergeupdate
    family). The ORACLE is a full-corpus funnel replay restricted to
    the new ids — the gate therefore proves the incremental contract:
    new-docs-only curation equals the full rerun on this fixture.
    Scale shape: the existing corpus is never re-deduped against
    itself (one map-only signature/fingerprint pass + keyed joins);
    only new docs shuffle through the verify stage."""
    from stream2segment_spark.examples.corpus_pipeline import curate_corpus
    docs = load_table(spark, sf_dir, "documents")
    t = F.when(F.col("doc_id") % 11 == 5, F.lit(_INC_CLONE)) \
         .otherwise(F.coalesce(F.col("text"), F.lit("")))
    derived = docs.select("doc_id", t.alias("text"))
    cfg = dict(languages=("en", "und"), min_quality=0.6,
               token_band=(5, 100_000), max_top_token_frac=0.2,
               neardup_mode="jaccard", neardup_threshold=0.5)
    old_curated, _ = curate_corpus(
        derived.filter(F.col("doc_id") < _INC_SPLIT), **cfg)
    inc, _ = curate_corpus(
        derived.filter(F.col("doc_id") >= _INC_SPLIT),
        against=old_curated.select("doc_id", "text", "fingerprint"),
        **cfg)
    return inc.select("doc_id",
                      F.col("n_tokens").cast("long").alias("n_tokens"),
                      "quality", "lang", "split")


    # r9 rotation: deferred
    # r9 rotation: gated
@register("corpus_funnel_incr_sigs", _funnel_incremental_oracle())
def corpus_funnel_incr_sigs(spark, sf_dir):
    """The SCALE path of incremental curation (VERDICT r8 ask #1):
    minhash mode with a PERSISTED signature table — the existing
    corpus is signed once at its own curation time (``signatures``
    out-param), then every later batch reuses the stored (doc_id,
    minhash) table via ``against_signatures`` so the old corpus is
    NEVER re-tokenized; the LSH band join structurally requires >= 1
    new side (streaming/corpus.py's __new predicate ported to batch —
    old-old bucket pairs never materialize), and the exact-Jaccard
    verify tokenizes only candidate-touched docs. Batch cost therefore
    tracks |new batch|, not |existing corpus| (the shape the reference
    gets from its J5 semi-join pre-filter,
    download/modules/segments.py:152-160). The ORACLE is the same
    full-corpus funnel replay restricted to the new ids as
    corpus_funnel_incremental — green means the persisted-signature
    fast path returns EXACTLY what a from-scratch full rerun would
    (LSH recall over the fixture's verified pairs is total, as proven
    independently by dedup_minhash_lsh's full-pair-set oracle)."""
    from stream2segment_spark.examples.corpus_pipeline import curate_corpus
    docs = load_table(spark, sf_dir, "documents")
    t = F.when(F.col("doc_id") % 11 == 5, F.lit(_INC_CLONE)) \
         .otherwise(F.coalesce(F.col("text"), F.lit("")))
    derived = docs.select("doc_id", t.alias("text"))
    cfg = dict(languages=("en", "und"), min_quality=0.6,
               token_band=(5, 100_000), max_top_token_frac=0.2,
               neardup_mode="minhash", neardup_threshold=0.5)
    # PRODUCTION SHAPE: the existing corpus and its signature table are
    # persisted parquet (what cmd_curate --write-signatures emits), and
    # the incremental batch reads them back — exactly the deployment
    # contract, and it severs the old corpus's live lineage (its funnel
    # ran once, at ITS curation time; this batch only scans two small
    # parquet tables plus the new docs).
    import shutil
    import tempfile

    old_sigs: list = []
    old_curated, _ = curate_corpus(
        derived.filter(F.col("doc_id") < _INC_SPLIT),
        signatures=old_sigs, **cfg)
    tmp = tempfile.mkdtemp(prefix="s2s-incr-sigs-gate-")
    try:
        old_curated.select("doc_id", "text", "fingerprint") \
            .write.mode("overwrite").parquet(f"{tmp}/curated.parquet")
        old_sigs[0].join(old_curated.select("doc_id"), "doc_id",
                         "left_semi") \
            .write.mode("overwrite").parquet(f"{tmp}/signatures.parquet")
        inc, _ = curate_corpus(
            derived.filter(F.col("doc_id") >= _INC_SPLIT),
            against=spark.read.parquet(f"{tmp}/curated.parquet"),
            against_signatures=spark.read.parquet(
                f"{tmp}/signatures.parquet"),
            **cfg)
        out = inc.select(
            "doc_id", F.col("n_tokens").cast("long").alias("n_tokens"),
            "quality", "lang", "split")
        out = out.localCheckpoint(eager=True)  # materialize before rmtree
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@register(
    "corpus_dsir_select",
    # target multinomial = the English documents, raw pool = everything
    # else; hashed unigram+bigram features (md5 buckets), add-one
    # smoothed integer-quantized ratio scores, top-50 by importance.
    # Every quantity is BIGINT arithmetic both engines replay exactly
    # (functions/dsir.py module docstring for the no-log contract).
    f"""WITH t AS (SELECT doc_id, lang, {_WORDS_SQL} AS w FROM documents),
       g AS (SELECT doc_id, lang, unnest(list_concat(w,
               CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)),
                    i -> w[i] || ' ' || w[i+1]) ELSE [] END)) AS gram
             FROM t),
       b AS (SELECT doc_id, lang,
               CAST('0x' || substr(md5('dsir:' || gram), 1, 15) AS BIGINT)
                 % 4096 AS bucket FROM g),
       tc AS (SELECT bucket, count(*) AS ct FROM b WHERE lang = 'en'
              GROUP BY bucket),
       rc AS (SELECT bucket, count(*) AS cq FROM b WHERE lang <> 'en'
              GROUP BY bucket),
       tn AS (SELECT count(*)::BIGINT AS nt FROM b WHERE lang = 'en'),
       rn AS (SELECT count(*)::BIGINT AS nq FROM b WHERE lang <> 'en'),
       sc AS (SELECT rc.bucket,
               (10000::BIGINT * (coalesce(tc.ct, 0) + 1) * (nq + 4096))
                 // ((rc.cq + 1) * (nt + 4096)) AS bscore
              FROM rc LEFT JOIN tc USING (bucket), tn, rn),
       f AS (SELECT doc_id, bucket, count(*) AS cnt FROM b
             WHERE lang <> 'en' GROUP BY doc_id, bucket),
       s AS (SELECT d.doc_id,
               coalesce(sum(f.cnt * sc.bscore), 0)::BIGINT AS dsir_score
             FROM (SELECT DISTINCT doc_id FROM documents WHERE lang <> 'en') d
             LEFT JOIN f USING (doc_id) LEFT JOIN sc USING (bucket)
             GROUP BY d.doc_id)
       SELECT doc_id, dsir_score FROM s
       ORDER BY dsir_score DESC, doc_id LIMIT 50"""
    # r9 rotation: gated
)
def corpus_dsir_select(spark, sf_dir):
    """DSIR data selection (functions/dsir.dsir_pipeline — Xie et al.
    2023): hashed unigram+bigram multinomials for a TARGET corpus (the
    English docs) and the raw pool (the rest), per-bucket importance as
    the integer-quantized add-one-smoothed probability ratio (no log —
    bit-portable; the monotone per-feature surrogate documented in the
    module), per-doc importance = order-free integer sum of
    count*bucket-score, deterministic top-50. Plan: two map-side-
    combined feature count shuffles, a 4096-row broadcast score table,
    one keyed sum, TakeOrderedAndProject — document text never
    shuffles. Beyond-reference LLM-pipeline capability (model-free
    in-domain data selection; complements the trained classifier
    gate)."""
    from stream2segment_spark.functions.dsir import dsir_pipeline
    docs = load_table(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    raw = docs.filter(F.col("lang") != "en")
    return dsir_pipeline(raw, target, "doc_id", "text", 50)


@register(
    "corpus_pack_bestfit",
    # budget 256 tokens, 8 md5 shards: the recursive CTE replays every
    # best-fit placement — (tok DESC, id) order per shard, candidate
    # bins filtered to remaining >= tok, argmin by (remaining, bin
    # index) via an order-preserving list_reduce, new bin on no fit
    # (oversized docs go negative and never admit a second doc).
    f"""WITH RECURSIVE d0 AS MATERIALIZED (
          SELECT doc_id,
                 coalesce(len({_WORDS_SQL}), 0)::BIGINT AS tok,
                 CAST((CAST('0x' || substr(md5('pack:' ||
                      CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                      % 10000) % 8 AS INTEGER) AS shard
          FROM documents),
        r AS MATERIALIZED (SELECT shard, doc_id, tok,
                row_number() OVER (PARTITION BY shard
                  ORDER BY tok DESC, doc_id) AS rn
              FROM d0),
        st(shard, rn, rem, assigned) AS (
          SELECT shard, 0, []::BIGINT[],
                 []::STRUCT(doc_id BIGINT, tok BIGINT, bin BIGINT)[]
          FROM (SELECT DISTINCT shard FROM r)
          UNION ALL
          SELECT st.shard, st.rn + 1,
            CASE WHEN best.pick IS NOT NULL
              THEN list_transform(range(1, len(st.rem) + 1),
                     k -> CASE WHEN k = best.pick
                          THEN st.rem[k] - r.tok ELSE st.rem[k] END)
              ELSE list_append(st.rem, 256 - r.tok) END,
            list_append(st.assigned, {{'doc_id': r.doc_id, 'tok': r.tok,
              'bin': coalesce(best.pick - 1, len(st.rem))}})
          FROM st
          JOIN r ON r.shard = st.shard AND r.rn = st.rn + 1
          LEFT JOIN LATERAL (
            SELECT list_filter(list_transform(range(1, len(st.rem) + 1),
                jj -> {{'r': st.rem[jj], 'j': jj}}),
                x -> x.r >= r.tok) AS cands
          ) c ON true
          LEFT JOIN LATERAL (
            SELECT CASE WHEN len(c.cands) = 0 THEN NULL
                   ELSE (list_reduce(c.cands,
                     (a, b) -> CASE WHEN b.r < a.r OR
                       (b.r = a.r AND b.j < a.j) THEN b ELSE a END)).j
                   END AS pick
          ) best ON true),
        fin AS MATERIALIZED (SELECT shard, assigned FROM st
                WHERE rn = (SELECT max(rn) FROM r r2
                            WHERE r2.shard = st.shard))
        SELECT u.a.doc_id AS doc_id, fin.shard,
               u.a.tok AS n_tok, u.a.bin AS bin_id
        FROM fin, LATERAL (SELECT unnest(assigned) AS a) u"""
    # r9 rotation: gated
)
def corpus_pack_bestfit(spark, sf_dir):
    """Best-fit-decreasing packing (functions/packing.pack_bestfit —
    Ding et al. 2024): bins never exceed the 256-token budget, unlike
    start-offset packing's bounded overfill, so loaders never truncate.
    Per-md5-shard sequential placement inside applyInPandas (packing is
    inherently order-dependent; sharding is the parallelism), numpy
    first-argmin = the (remaining, bin index) tie rule. The oracle
    replays every placement with a recursive CTE whose state is the
    open-bin remainder list. Beyond-reference LLM-pipeline
    capability."""
    from stream2segment_spark.functions.packing import pack_bestfit
    # parallel=False (r9 opt A/B: 0.63 s off vs 0.77 s on)
    docs = load_table(spark, sf_dir, "documents", parallel=False)
    base = docs.select(
        "doc_id", "text",
        DD.word_tokens(F.col("text")).alias("__toks"))
    sized = base.select(
        "doc_id",
        F.coalesce(TXQ.token_count(F.col("text"), toks=F.col("__toks")),
                   F.lit(0)).cast("long").alias("n_tok"))
    out = pack_bestfit(sized, "doc_id", "n_tok", budget=256, n_shards=8)
    return out.select("doc_id", "shard", "n_tok", "bin_id")


@register(
    "corpus_unimax_sample",
    # budget 400, epochs 2 over the 5-language corpus: every language
    # hits the uniform 80-doc share; the smallest (fr, 64 docs) repeats
    # its top-16 md5-ranked docs (n_copies 2) — both allocation regimes
    # exercised. The recursive CTE replays the increasing-size
    # allocation scan in the same integer arithmetic.
    """WITH RECURSIVE c AS (SELECT lang, count(*) AS n FROM documents
              WHERE lang IS NOT NULL GROUP BY lang),
       o AS (SELECT lang, n, row_number() OVER (ORDER BY n, lang) AS rn,
                    count(*) OVER () AS L
             FROM c),
       alloc(rn, b_rem, a) AS (
         SELECT 0, 400::BIGINT, 0::BIGINT
         UNION ALL
         SELECT o.rn,
                alloc.b_rem - least(2 * o.n,
                                    alloc.b_rem // (o.L - alloc.rn)),
                least(2 * o.n, alloc.b_rem // (o.L - alloc.rn))
         FROM alloc JOIN o ON o.rn = alloc.rn + 1),
       a AS (SELECT o.lang, o.n, alloc.a
             FROM alloc JOIN o USING (rn) WHERE alloc.rn >= 1),
       r AS (SELECT doc_id, lang,
               row_number() OVER (PARTITION BY lang ORDER BY
                 CAST('0x' || substr(md5('unimax:' ||
                   CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10000,
                 doc_id) - 1 AS rk
             FROM documents WHERE lang IS NOT NULL)
       SELECT r.doc_id, r.lang,
              CAST((a.a // a.n) + CASE WHEN r.rk < a.a % a.n
                   THEN 1 ELSE 0 END AS INTEGER) AS n_copies
       FROM r JOIN a USING (lang)
       WHERE (a.a // a.n) + CASE WHEN r.rk < a.a % a.n
             THEN 1 ELSE 0 END > 0"""
    # r9 rotation: gated
)
def corpus_unimax_sample(spark, sf_dir):
    """UniMax language sampling (functions/sampling.unimax_sample —
    Chung et al. 2023): uniform per-language budget shares capped at
    ``epochs`` passes, surplus redistributed to larger languages in one
    increasing-size scan — the fairer alternative to temperature
    sampling that never over-repeats low-resource languages. All
    integer arithmetic (allocation, md5 ranks, copy counts), replayed
    exactly by the oracle's recursive CTE; docs selected/repeated by
    (md5, id) rank with the repeat count in ``n_copies``. Plan: one
    language-count aggregate (collected — languages are bounded), one
    per-language window, broadcast literal maps. Beyond-reference
    LLM-pipeline capability."""
    from stream2segment_spark.functions.sampling import unimax_sample
    docs = load_table(spark, sf_dir, "documents", parallel=False)
    out = unimax_sample(docs, "doc_id", "lang", budget=400, epochs=2)
    return out.select("doc_id", "lang", "n_copies")
