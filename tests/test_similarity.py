

def test_empty_inputs_fail_loudly_or_cleanly(spark):
    """Empty corpora / query sets: named contract errors, never a numpy
    stack trace; an empty QUERY set is a valid no-op (empty result)."""
    import pytest

    from stream2segment_spark.operators.similarity import (
        ann_topk_bruteforce, kmeans_centroids, pq_sample_codebook)
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>")
    full = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<double>")
    out = ann_topk_bruteforce(
        full, empty.selectExpr("vec_id AS query_id", "embedding"), k=2)
    assert out.count() == 0 and len(out.columns) == 3
    with pytest.raises(ValueError, match="non-empty"):
        kmeans_centroids(empty, "embedding", k=2)
    with pytest.raises(ValueError, match="smaller than ksub"):
        pq_sample_codebook(empty, ksub=4)


def test_null_vectors_ignored_not_fatal(spark):
    """Mixed NULL/real embeddings: every operator behaves as if the NULL
    rows were pre-filtered (the dirty-data contract)."""
    from stream2segment_spark.operators.clustering import kmeans_quantized
    from stream2segment_spark.operators.similarity import (
        ann_topk_bruteforce, lsh_bucket_neardup, semantic_dedup)
    rows = [(i, [float(i % 4), 1.0, 0.5, 2.0]) for i in range(12)]
    rows += [(100, None), (101, None)]
    dirty = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    clean = dirty.where("embedding IS NOT NULL")
    q = clean.where("vec_id < 2").selectExpr(
        "vec_id AS query_id", "embedding")
    a = sorted(map(tuple, ann_topk_bruteforce(dirty, q, k=3).collect()))
    b = sorted(map(tuple, ann_topk_bruteforce(clean, q, k=3).collect()))
    assert a == b and len(a) == 6
    a = sorted(map(tuple, lsh_bucket_neardup(
        dirty, dim=4, num_planes=4, threshold=0.99).collect()))
    b = sorted(map(tuple, lsh_bucket_neardup(
        clean, dim=4, num_planes=4, threshold=0.99).collect()))
    assert a == b and len(a) > 0
    a = kmeans_quantized(dirty, "vec_id", "embedding", k=2)[1]
    b = kmeans_quantized(clean, "vec_id", "embedding", k=2)[1]
    assert a == b
    sd = semantic_dedup(dirty, k=2, threshold=0.99)
    assert sd.count() == 12  # the two NULL rows are excluded, not fatal


def test_bruteforce_zero_vector_never_ranks_first(spark):
    """An all-zero vector (failure-fill) must yield cosine 0, not a NaN
    that Spark's desc window ranks above every real neighbor."""
    from pyspark.sql import Row

    from stream2segment_spark.operators.similarity import (
        ann_topk_bruteforce)
    rows = [Row(vec_id=0, embedding=[1.0, 0.0]),
            Row(vec_id=1, embedding=[0.9, 0.1]),
            Row(vec_id=2, embedding=[0.0, 0.0])]   # zero vector
    df = spark.createDataFrame(rows)
    q = df.filter("vec_id = 0").selectExpr("vec_id AS query_id",
                                           "embedding")
    out = ann_topk_bruteforce(df, q, id_col="vec_id",
                              vec_col="embedding",
                              query_id_col="query_id", k=2).collect()
    ranked = [r["vec_id"] for r in
              sorted(out, key=lambda r: -r["cosine"])]
    assert ranked[0] == 0 and 2 not in ranked[:2]
    assert all(not (r["cosine"] != r["cosine"]) for r in out)  # no NaN


def test_pq_topk_adc_empty_queries(spark):
    """Empty query set returns an empty typed frame, not an np.stack
    crash (same contract as ann_topk_bruteforce)."""
    import numpy as np
    from pyspark.sql import Row

    from stream2segment_spark.operators.similarity import pq_topk_adc
    df = spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(i), 1.0, 0.0, 2.0])
         for i in range(8)])
    cb = np.zeros((2, 4, 2))
    out = pq_topk_adc(df, df.limit(0).selectExpr(
        "vec_id AS query_id", "embedding"), cb, k=3)
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "vec_id", "adc_dist"}


# ---------------------------------------------------------------------------
# JL random projection
# ---------------------------------------------------------------------------

def test_random_projection_exact_vs_numpy_and_distance_preservation(spark):
    import numpy as np

    from stream2segment_spark.functions.embeddings import (
        random_projection, rp_signs)

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>")
    exact = {r.vec_id: np.array(r.rp) for r in random_projection(
        df, "embedding", "vec_id", 32, 16, exact=True).collect()}
    fast = {r.vec_id: np.array(r.rp) for r in random_projection(
        df, "embedding", "vec_id", 32, 16).collect()}
    # the two paths agree to float rounding (order differs, bits may)
    for i in range(40):
        assert np.allclose(exact[i], fast[i], rtol=1e-12, atol=1e-12)
    # exact path == closed-form matmul with the same sign matrix
    mat = np.asarray(rp_signs(32, 16), dtype=np.float64).T
    want = (vecs @ mat) / np.sqrt(16.0)
    for i in range(40):
        assert np.allclose(exact[i], want[i], rtol=1e-9, atol=1e-12)
    # JL property: pairwise distances preserved within a loose eps
    ratios = []
    for a in range(0, 20, 3):
        for b in range(1, 20, 4):
            if a == b:
                continue
            d0 = np.linalg.norm(vecs[a] - vecs[b])
            d1 = np.linalg.norm(exact[a] - exact[b])
            ratios.append(d1 / d0)
    assert 0.5 < min(ratios) and max(ratios) < 1.6


def test_random_projection_exact_bit_equality_and_bind_sentinel(spark):
    """ADVICE r9: the exact path's documented contract is BIT-replay
    (==, not allclose) — pin it against a driver-side left-to-right
    zip/fold replay in pure Python (IEEE doubles, same op order) — and
    pin the array(struct()) bind-once plan shape that protects a
    DERIVED input from CollapseProject's HOF re-execution trap (a Spark
    upgrade could silently remove either)."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from stream2segment_spark.functions.embeddings import (
        random_projection, rp_signs)

    rng = np.random.RandomState(11)
    vecs = rng.randn(12, 8)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(12)],
        "vec_id long, embedding array<double>")
    signs = rp_signs(8, 4)
    got = {r.vec_id: list(r.rp) for r in random_projection(
        df, "embedding", "vec_id", 8, 4, exact=True).collect()}
    scale = math.sqrt(4.0)
    for i in range(12):
        v = [float(x) for x in vecs[i]]
        for j, srow in enumerate(signs):
            acc = 0.0
            for a, s in zip(v, srow):   # left-to-right fold, like
                acc = acc + (a * float(s))  # aggregate(zip_with(*), +)
            assert got[i][j] == acc / scale, (i, j)   # BIT equality

    # plan-shape sentinel: with a DERIVED input (a per-row fold), the
    # exact path must keep the bind-once shape — the derived expression
    # evaluated once per row inside array(struct(...)), every matrix-row
    # reference a lambda field read. If a future Catalyst rule collapses
    # through the bind, the marker count / pattern changes and this
    # test flags the re-execution trap before a bench does.
    derived = df.select(
        "vec_id",
        F.transform("embedding",
                    lambda x: x * F.lit(1234.5678)).alias("embedding"))
    plan = random_projection(
        derived, "embedding", "vec_id", 8, 4,
        exact=True)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("1234.5678") == 1, plan
    assert "struct(v" in plan or "named_struct" in plan, plan


def test_random_projection_rejects_dim_mismatch(spark):
    """An embedding whose length differs from ``in_dim`` fails with an
    error naming ``in_dim``."""
    import pytest as _pytest

    from stream2segment_spark.functions.embeddings import (
        random_projection)

    df = spark.createDataFrame([(0, [1.0, 2.0])],
                               "vec_id long, embedding array<double>")
    with _pytest.raises(Exception, match="in_dim"):
        random_projection(df, "embedding", "vec_id", 8, 4).collect()


def test_random_projection_deterministic_and_seeded(spark):
    from stream2segment_spark.functions.embeddings import rp_signs

    assert rp_signs(16, 4) == rp_signs(16, 4)
    assert rp_signs(16, 4) != rp_signs(16, 4, seed="other")
    flat = [s for row in rp_signs(64, 16) for s in row]
    # balanced-ish signs (md5 parity is uniform)
    assert 0.4 < sum(1 for s in flat if s == 1) / len(flat) < 0.6


def test_rp_shortlist_recall_vs_exact(spark):
    """The JL shortlist-refine pipeline recovers most of the exact
    top-5 at shortlist 32/500 — the recall the projection buys."""
    import stream2segment_spark.queries_similarity  # registers entries
    from stream2segment_spark.queries_catalog import queries

    q = queries()["sim_topk_rp"]
    got = q(spark, "/root/testdata/sf0.001")
    rows = got.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, set()).add(r.vec_id)
    # exact top-5 per query via brute force
    from stream2segment_spark.operators.similarity import (
        ann_topk_bruteforce)
    from stream2segment_spark.schema import load_table
    from pyspark.sql import functions as F
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"), "embedding"))
    exact = ann_topk_bruteforce(emb, queries, id_col="vec_id",
                                vec_col="embedding",
                                query_id_col="query_id", k=6)
    ex_by_q = {}
    for r in exact.collect():
        if r.vec_id != r.query_id:
            ex_by_q.setdefault(r.query_id, []).append(
                (r.cosine, r.vec_id))
    hits = tot = 0
    for qid, pairs in ex_by_q.items():
        top5 = {v for _, v in sorted(pairs, reverse=True)[:5]}
        hits += len(top5 & by_q.get(qid, set()))
        tot += len(top5)
    assert hits / tot >= 0.6   # 16-dim sketch keeps most of the top-5
