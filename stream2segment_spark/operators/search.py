"""Inverted-index keyword search over the documents table.

Classic sparse retrieval as a training-data / corpus-inspection tool:
tokenize once, build term postings (term -> doc, term frequency), score
candidate documents with a BM25-style weight and return the top-k per
query term. Reference parity: the reference engine has no text-retrieval
surface; this is a beyond-reference LLM-pipeline capability (SURVEY §2
"text analysis" family) mirroring public BM25 (Robertson-Sparck Jones).

Exactness contract (same discipline as the rest of the repo): the score
uses BM25's *rational* idf ratio ``(N - df + 0.5) / (df + 0.5)`` WITHOUT
the log — natural log is not bit-portable across libm implementations,
and the log is monotone so per-term ranking is unchanged. Every term of
the score is then IEEE +,*,/ on doubles in a fixed evaluation order, so
DuckDB replays values bit-for-bit.

Plan/scale shape: the query-term filter is applied BEFORE the explode's
shuffle (term list is a tiny literal/broadcast), so the (term, doc)
aggregation only ever shuffles rows whose token matched a query term —
at 100 TB the posting-list build is a filtered map + one keyed combine,
not a full-corpus shuffle. Corpus stats (N, avgdl) are one scalar
aggregate broadcast back; df per term is an aggregate of the already-tiny
tf frame. The final top-k is a per-term window over candidate rows only.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stream2segment_spark.operators.dedup import get_tokenizer


def _fs_swap(spark, staged: str, live: str) -> None:
    """Replace ``live`` with ``staged`` via filesystem rename (metadata
    operation on local/HDFS) instead of a Spark read+rewrite: preserves
    the staged files EXACTLY — in particular the tight per-file term
    intervals of a range layout, which a rewrite's size-based bin
    packing would destroy — and shrinks the swap window from a bulk
    copy to two directory operations.

    Swap order is backup-first: live -> live.bak, staged -> live, drop
    the backup. A crash or rename failure mid-swap therefore never
    destroys the only copy of the live component (the old sequence
    deleted live BEFORE renaming — a failed rename, routine on object
    stores where rename is copy+delete, lost the index permanently);
    on a failed promote the backup is restored automatically."""
    jvm = spark._jvm
    src = jvm.org.apache.hadoop.fs.Path(staged)
    dst = jvm.org.apache.hadoop.fs.Path(live)
    bak = jvm.org.apache.hadoop.fs.Path(live + ".bak")
    fs = src.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(bak, True)  # stale backup from an earlier crash
    had_live = fs.exists(dst)
    if had_live and not fs.rename(dst, bak):
        raise IOError(f"rename {live} -> {live}.bak failed; live index "
                      "untouched, swap aborted")
    if not fs.rename(src, dst):
        if had_live and fs.rename(bak, dst):
            raise IOError(f"rename {staged} -> {live} failed; live index "
                          "RESTORED from backup, swap aborted")
        if had_live:
            raise IOError(f"rename {staged} -> {live} failed AND backup "
                          f"restore failed — recover manually from "
                          f"{live}.bak / {staged}")
        # no prior live index existed, so no backup was ever taken:
        # pointing an operator at {live}.bak here would mislead an
        # incident recovery (r6 ADVICE) — the staged dir is the only copy
        raise IOError(f"rename {staged} -> {live} failed (no prior live "
                      f"index, nothing lost) — the staged index remains "
                      f"intact at {staged}")
    fs.delete(bak, True)


def normalize_terms(terms: list[str],
                    tokenizer: str = "ascii") -> list[str]:
    """Apply the corpus tokenization to the QUERY side: lowercase, split
    on non-alphanumeric runs, drop empties, dedupe preserving order.
    Without this, 'Spark' or \"don't\" could never match a corpus whose
    tokens are all lowercase alphanumeric — raw user terms must go
    through the same normalization the documents did (and the SAME
    ``tokenizer`` mode: an index built with 'unicode' tokens can only
    be hit by 'unicode'-normalized terms)."""
    _, py_toks = get_tokenizer(tokenizer)
    out: list[str] = []
    for t in terms:
        for tok in py_toks(t):
            if tok and tok not in out:
                out.append(tok)
    return out


def term_postings(docs: DataFrame, id_col: str, text_col: str,
                  terms: list[str], tokenizer: str = "ascii") -> DataFrame:
    """Posting rows ``(term, id, tf, dl)`` for the given query terms.

    dl (document length in tokens) rides along map-side so scoring needs
    no second scan of the text. Tokens are filtered to the term set
    BEFORE the explode-aggregate, so only matching rows shuffle. NULL
    text tokenizes as empty (dl 0, no hits) — without the coalesce,
    Spark's size(NULL)=-1 would poison avgdl while SQL sum() skips
    NULLs."""
    terms = normalize_terms(terms, tokenizer)
    if not terms:
        raise ValueError("term_postings needs at least one query term "
                         "that survives tokenization")
    tok_expr, _ = get_tokenizer(tokenizer)
    toked = docs.select(
        F.col(id_col),
        tok_expr(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks"))
    hits = (toked
            .select(id_col, F.size("__toks").alias("dl"),
                    F.explode(F.filter(
                        "__toks",
                        lambda t: t.isin(*terms))).alias("term"))
            .groupBy("term", id_col, "dl")
            .agg(F.count("*").alias("tf")))
    return hits


def bm25ish_scores(docs: DataFrame, id_col: str, text_col: str,
                   terms: list[str], k1: float = 1.2, b: float = 0.75,
                   tokenizer: str = "ascii",
                   persists: list | None = None) -> DataFrame:
    """Per-(term, doc) BM25-style scores:

        idf   = (N - df + 0.5) / (df + 0.5)        -- rational, no log
        score = idf * (tf * (k1 + 1)) / (tf + k1 * ((1 - b) + b * (dl / avgdl)))

    evaluated in exactly this operation order on doubles (bit-replayable
    in SQL). Returns ``(term, id_col, tf, dl, score)``.

    Query terms are normalized with the corpus tokenization first
    (:func:`normalize_terms`). The per-term document frequency comes
    from a window over the hits — NOT a groupBy+self-join, which would
    evaluate the tokenize-and-filter lineage twice; this way the corpus
    is tokenized once for the postings and once for the global stats,
    and nothing else. (The window's partition is one term's posting
    list — bounded by the most common query term, the usual inverted-
    index skew contract.)

    The postings and the global stats both need a full tokenize pass;
    to pay it ONCE the shared pass is staged as a NARROW persisted
    frame ``(id, dl, query-term hits)`` — id + one int + the handful of
    matching tokens per doc, never the full token arrays, so the cache
    stays scale-safe (r9 opt round; ~2x on the CJK search entry, where
    tokenization is the dominant cost). ``persists`` surfaces the
    cached frame for release (curate_corpus contract); without it the
    pin lives until the session cache is cleared."""
    terms = normalize_terms(terms, tokenizer)
    if not terms:
        raise ValueError("bm25ish_scores needs at least one query term "
                         "that survives tokenization")
    tok_expr, _ = get_tokenizer(tokenizer)
    toks = tok_expr(F.coalesce(F.col(text_col), F.lit("")))
    staged = (docs.select(F.col(id_col), toks.alias("__toks"))
              .select(id_col, F.size("__toks").alias("dl"),
                      F.filter("__toks",
                               lambda t: t.isin(*terms)).alias("__hits"))
              .persist())
    if persists is not None:
        persists.append(staged)
    hits = (staged
            .select(id_col, "dl", F.explode("__hits").alias("term"))
            .groupBy("term", id_col, "dl")
            .agg(F.count("*").alias("tf")))
    stats = staged.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"))
    scored = (hits
              .withColumn("df", F.count("*").over(
                  Window.partitionBy("term")))
              .crossJoin(F.broadcast(stats)))
    idf = (((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
           / (F.col("df").cast("double") + F.lit(0.5)))
    denom = (F.col("tf").cast("double")
             + F.lit(k1) * ((F.lit(1.0) - F.lit(b))
                            + F.lit(b) * (F.col("dl").cast("double")
                                          / F.col("avgdl"))))
    score = idf * ((F.col("tf").cast("double")
                    * (F.lit(k1) + F.lit(1.0))) / denom)
    return scored.select("term", id_col, "tf", "dl",
                         score.alias("score"))


def search_topk(docs: DataFrame, id_col: str, text_col: str,
                terms: list[str], k: int = 10,
                k1: float = 1.2, b: float = 0.75,
                tokenizer: str = "ascii") -> DataFrame:
    """Top-k documents per query term by BM25-ish score, ties broken by
    ascending id — fully deterministic. Returns
    ``(term, id_col, tf, dl, score, rank)``."""
    scored = bm25ish_scores(docs, id_col, text_col, terms, k1=k1, b=b,
                            tokenizer=tokenizer)
    w = Window.partitionBy("term").orderBy(
        F.col("score").desc(), F.col(id_col).asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


# ---------------------------------------------------------------------------
# Persisted inverted index: build once, query many
# ---------------------------------------------------------------------------

def build_search_index(docs: DataFrame, id_col: str, text_col: str,
                       path: str, *, index_files: int = 16,
                       tokenizer: str = "ascii") -> None:
    """Materialize the FULL inverted index at ``path``: postings
    ``(term, id, tf, dl)`` range-clustered by term (``postings/``), the
    per-term document frequencies (``terms/``), and the corpus stats
    row (``stats/``) — the production search shape. The one-off build
    pays the full explode shuffle; every later query is then a
    file-PRUNED scan of the term's postings (the range layout gives
    each parquet file a tight term interval — sinks/layout.py) plus two
    broadcast joins. Query-time never re-tokenizes text.

    df (document frequency) is precomputed per term at build time so the
    query path needs no window over posting lists; ties to
    :func:`bm25ish_scores`' contract: scores from the index equal the
    on-the-fly scores exactly (equivalence-tested)."""
    from stream2segment_spark.sinks.layout import write_range_layout
    tok_expr, _ = get_tokenizer(tokenizer)
    toked = docs.select(
        F.col(id_col).alias("id"),
        tok_expr(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks"))
    postings = (toked
                .select("id", F.size("__toks").alias("dl"),
                        F.explode("__toks").alias("term"))
                .groupBy("term", "id", "dl")
                .agg(F.count("*").alias("tf")))
    write_range_layout(postings, f"{path}/postings", "term", index_files)
    pt = docs.sparkSession.read.parquet(f"{path}/postings")
    (pt.groupBy("term").agg(F.count("*").alias("df"))
       .coalesce(1).write.mode("overwrite").parquet(f"{path}/terms"))
    # total_tokens rides along as the EXACT integer so incremental
    # appends can recompute avgdl without float round-trip drift; the
    # tokenizer mode is part of the index identity (query terms MUST
    # normalize the same way), so the stats row carries it and
    # index_search_topk / append_to_search_index read it back — the
    # index is self-describing, the caller cannot mismatch it
    (toked.agg(F.count("*").alias("n_docs"),
               F.sum(F.size("__toks")).alias("total_tokens"),
               (F.sum(F.size("__toks")).cast("double") / F.count("*"))
               .alias("avgdl"))
     .withColumn("tokenizer", F.lit(tokenizer))
     .write.mode("overwrite").parquet(f"{path}/stats"))


def index_tokenizer(stats: DataFrame) -> str:
    """Tokenizer mode recorded in an index's stats row ('ascii' for
    indexes built before the mode existed). One-row, one-file read."""
    if "tokenizer" not in stats.columns:
        return "ascii"
    return stats.select("tokenizer").first()[0]


def index_search_topk(spark, path: str, terms: list[str], k: int = 10,
                      k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Query a :func:`build_search_index` index: term-filtered postings
    scan (the filter prunes whole files via the range layout's footer
    intervals and row groups via the in-file sort), broadcast term-df
    and stats joins, the identical fixed-order BM25-ish arithmetic, and
    the deterministic per-term top-k. Returns
    ``(term, id, tf, dl, score, rank)``."""
    stats = spark.read.parquet(f"{path}/stats")
    qterms = normalize_terms(terms, index_tokenizer(stats))
    if not qterms:
        raise ValueError("index_search_topk needs at least one query "
                         "term that survives tokenization")
    postings = (spark.read.parquet(f"{path}/postings")
                .where(F.col("term").isin(*qterms)))
    tdf = (spark.read.parquet(f"{path}/terms")
           .where(F.col("term").isin(*qterms)))
    stats = stats.drop("tokenizer")
    scored = (postings.join(F.broadcast(tdf), "term")
              .crossJoin(F.broadcast(stats)))
    idf = (((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5))
           / (F.col("df").cast("double") + F.lit(0.5)))
    denom = (F.col("tf").cast("double")
             + F.lit(k1) * ((F.lit(1.0) - F.lit(b))
                            + F.lit(b) * (F.col("dl").cast("double")
                                          / F.col("avgdl"))))
    score = idf * ((F.col("tf").cast("double")
                    * (F.lit(k1) + F.lit(1.0))) / denom)
    w = Window.partitionBy("term").orderBy(
        F.col("score").desc(), F.col("id").asc())
    return (scored.select("term", "id", "tf", "dl",
                          score.alias("score"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def append_to_search_index(docs: DataFrame, id_col: str, text_col: str,
                           path: str, *, index_files: int = 16) -> None:
    # (tokenizer intentionally NOT a parameter: the batch must tokenize
    # the way the index did, so the mode comes from the stored stats row)
    """Fold a NEW batch of documents into an existing
    :func:`build_search_index` index without re-tokenizing the corpus:
    the batch's postings union the stored ones (re-range-clustered —
    one shuffle of postings rows, never of text), term df merges by
    addition, and the stats row merges by count/length sums. After the
    append, the index is IDENTICAL to one built from the unioned corpus
    (equivalence-tested), because every component is an associative
    merge — the same contract as hll_merge/hist_merge/merge_moments.

    Caller contract: batch ids must be new (the incremental-ingest
    pipeline dedups first); re-appending an id double-counts it."""
    from stream2segment_spark.sinks.layout import write_range_layout
    spark = docs.sparkSession
    stats0 = spark.read.parquet(f"{path}/stats")
    mode = index_tokenizer(stats0)
    tok_expr, _ = get_tokenizer(mode)
    toked = docs.select(
        F.col(id_col).alias("id"),
        tok_expr(F.coalesce(F.col(text_col), F.lit(""))).alias("__toks"))
    new_post = (toked
                .select("id", F.size("__toks").alias("dl"),
                        F.explode("__toks").alias("term"))
                .groupBy("term", "id", "dl")
                .agg(F.count("*").alias("tf")))
    merged = spark.read.parquet(f"{path}/postings").unionByName(new_post)
    # Stage ALL THREE components next to the live index first, each
    # derived from the staged postings — a failure anywhere in the
    # staging phase leaves the live index untouched; the swap phase at
    # the end only copies already-materialized staged data, so the
    # inconsistency window (stale terms/stats against new postings) is
    # three bulk copies, not a recompute.
    write_range_layout(merged, f"{path}/postings_new", "term",
                       index_files)
    pt = spark.read.parquet(f"{path}/postings_new")
    (pt.groupBy("term").agg(F.count("*").alias("df"))
     .coalesce(1).write.mode("overwrite").parquet(f"{path}/terms_new"))
    old = stats0.first()
    add = toked.agg(F.count("*").alias("n"),
                    F.sum(F.size("__toks")).alias("t")).first()
    n = int(old["n_docs"]) + int(add["n"])
    tot = int(old["total_tokens"]) + int(add["t"] or 0)
    # exact integer merge -> the same int/int double division a fresh
    # build performs: appended index == rebuilt index, bit-for-bit
    spark.createDataFrame(
        [(n, tot, tot / n, mode)],
        "n_docs long, total_tokens long, avgdl double, tokenizer string") \
        .write.mode("overwrite").parquet(f"{path}/stats_new")
    # swap: rename staged -> live (metadata ops — keeps the staged
    # range-clustered postings files byte-identical, so footer-interval
    # file pruning survives the append; a Spark rewrite would re-pack
    # them by size and mix term intervals across files)
    for staged, live in (("postings_new", "postings"),
                         ("terms_new", "terms"),
                         ("stats_new", "stats")):
        _fs_swap(spark, f"{path}/{staged}", f"{path}/{live}")


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 + dense cosine, fused by Reciprocal Rank Fusion
# ---------------------------------------------------------------------------

def hybrid_topk_rrf(docs: DataFrame, emb: DataFrame, terms: list[str],
                    query_vec_id: int, *, id_col: str = "doc_id",
                    text_col: str = "text", vec_id_col: str = "vec_id",
                    vec_col: str = "embedding", k: int = 10,
                    n_sparse: int = 50, n_dense: int = 50,
                    rrf_k: int = 60, k1: float = 1.2, b: float = 0.75,
                    tokenizer: str = "ascii") -> DataFrame:
    """Hybrid sparse+dense retrieval fused with Reciprocal Rank Fusion
    (Cormack et al., SIGIR 2009): the standard way to combine a BM25
    keyword list and an embedding nearest-neighbor list without score
    calibration — only the RANKS enter the fused score

        rrf(d) = 1/(rrf_k + rank_sparse(d)) + 1/(rrf_k + rank_dense(d))

    (terms absent from a list contribute 0). Because ranks are
    integers, each contribution is one exact IEEE division and the sum
    is two fixed-order additions — bit-replayable, unlike any
    min-max/z-score fusion of the raw scores.

    Sparse side: document-level BM25 = the per-term
    :func:`bm25ish_scores` summed in LEXICOGRAPHIC term order (a
    conditional aggregate per term, added left-to-right — never a
    ``sum()`` whose order floats with the partitioning). Dense side:
    exact cosine top-n for the query vector looked up by
    ``query_vec_id`` in ``emb`` (the query row itself is excluded).
    Docs in neither top-n never surface; ranks are 0-sentineled (not
    NULL) in the output so the int columns stay int across engines.

    Plan/scale shape: the sparse side is the filtered-postings
    aggregation (query-term filter before the shuffle); the dense side
    is the mapInPandas matmul with per-partition local top-n (shuffle =
    n rows, never the corpus); the fusion is a full-outer join of two
    <= n-row frames, then TakeOrderedAndProject for the final k.

    Returns ``(id_col, sparse_rank, dense_rank, rrf_score, rank)``."""
    from stream2segment_spark.operators.similarity import (
        ann_topk_bruteforce)
    if rrf_k < 1:
        raise ValueError(f"rrf_k must be >= 1, got {rrf_k}")
    norm_terms = sorted(set(normalize_terms(terms, tokenizer)))
    per_term = bm25ish_scores(docs, id_col, text_col, norm_terms,
                              k1=k1, b=b, tokenizer=tokenizer)
    # one conditional aggregate per term (each (term, doc) row is
    # unique, so max == the score), then left-to-right addition in
    # sorted-term order: the only float ops are exact-replayable
    aggs = [F.max(F.when(F.col("term") == t, F.col("score")))
            .alias(f"__s{i}") for i, t in enumerate(norm_terms)]
    ds = per_term.groupBy(id_col).agg(*aggs)
    dscore = F.coalesce(F.col("__s0"), F.lit(0.0))
    for i in range(1, len(norm_terms)):
        dscore = dscore + F.coalesce(F.col(f"__s{i}"), F.lit(0.0))
    ds = ds.select(id_col, dscore.alias("__dscore"))
    w_s = Window.orderBy(F.col("__dscore").desc(), F.col(id_col).asc())
    sparse = (ds.withColumn("sparse_rank", F.row_number().over(w_s))
              .filter(F.col("sparse_rank") <= n_sparse)
              .select(id_col, "sparse_rank"))

    queries = (emb.filter(F.col(vec_id_col) == query_vec_id)
               .select(F.col(vec_id_col).alias("query_id"), vec_col))
    dense_raw = ann_topk_bruteforce(
        emb, queries, id_col=vec_id_col, vec_col=vec_col,
        query_id_col="query_id", k=n_dense + 1) \
        .filter(F.col(vec_id_col) != F.col("query_id"))
    w_d = Window.orderBy(F.col("cosine").desc(), F.col(vec_id_col).asc())
    dense = (dense_raw.withColumn("dense_rank", F.row_number().over(w_d))
             .filter(F.col("dense_rank") <= n_dense)
             .select(F.col(vec_id_col).alias(id_col), "dense_rank"))

    fused = sparse.join(dense, id_col, "full_outer")
    rrf = (F.coalesce(F.lit(1.0) / (F.lit(rrf_k)
                                    + F.col("sparse_rank").cast("double")),
                      F.lit(0.0))
           + F.coalesce(F.lit(1.0) / (F.lit(rrf_k)
                                      + F.col("dense_rank").cast("double")),
                        F.lit(0.0)))
    w_f = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
    return (fused
            .select(id_col,
                    F.coalesce("sparse_rank", F.lit(0)).alias("sparse_rank"),
                    F.coalesce("dense_rank", F.lit(0)).alias("dense_rank"),
                    rrf.alias("rrf_score"))
            .withColumn("rank", F.row_number().over(w_f))
            .filter(F.col("rank") <= k))
