"""The composed corpus-curation funnel (examples/corpus_pipeline.py) on
the driver's documents table: every stage's invariant checked on the real
output, plus determinism across runs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stream2segment_spark.examples.corpus_pipeline import curate_corpus
from stream2segment_spark.schema import load_table
from tests.conftest import SF_DIR_SMOKE


@pytest.fixture(scope="module")
def curated(spark):
    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    out, funnel = curate_corpus(docs, languages=("en", "und"),
                                min_quality=0.5, token_band=(5, 100_000),
                                neardup_threshold=0.5)
    return docs, out.persist(), funnel.collect()[0]


def test_funnel_monotone(curated):
    docs, out, funnel = curated
    assert (funnel["input"] >= funnel["filtered"] >= funnel["exact_dedup"]
            >= funnel["near_dedup"] > 0)
    assert out.count() == funnel["near_dedup"]


def test_filters_hold_on_output(curated):
    _, out, _ = curated
    bad = out.filter(~F.col("lang").isin("en", "und")
                     | (F.col("quality") < 0.5)
                     | (F.col("n_tokens") < 5)).count()
    assert bad == 0


def test_no_duplicate_fingerprints(curated):
    _, out, _ = curated
    assert out.groupBy("fingerprint").count().filter("count > 1").count() == 0


def test_neardups_collapsed(spark, curated):
    """No two surviving docs share >= threshold shingle Jaccard: re-run
    the exact near-dup pair detector on the OUTPUT — it must be empty."""
    from stream2segment_spark.operators.dedup import ngram_jaccard_pairs
    _, out, _ = curated
    leftovers = ngram_jaccard_pairs(out, "text", "doc_id", shingle_k=3,
                                    threshold=0.5)
    assert leftovers.count() == 0


def test_split_assignment_deterministic_and_complete(spark, curated):
    docs, out, _ = curated
    splits = {r["split"] for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}
    # deterministic: a second full run assigns identical splits
    out2, _ = curate_corpus(docs, languages=("en", "und"),
                            min_quality=0.5, token_band=(5, 100_000),
                            neardup_threshold=0.5)
    diff = (out.select("doc_id", "split")
            .join(out2.select("doc_id", F.col("split").alias("s2")),
                  "doc_id")
            .filter("split <> s2").count())
    assert diff == 0


def test_full_funnel_with_optional_stages(spark):
    """All optional stages on: line dedup feeds annotation, temperature
    mix rebalances by source, packing assigns (shard, chunk_id)."""
    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    out, funnel = curate_corpus(
        docs, languages=("en", "und"), min_quality=0.0,
        token_band=(1, 100_000), neardup_threshold=0.5,
        line_max_df=3, mix_strata_col="source", mix_alpha=0.5,
        pack_budget=256, pack_shards=4)
    rows = out.persist().collect()
    assert rows and {"shard", "chunk_id", "source", "split"} <= set(
        out.columns)
    assert all(0 <= r.shard < 4 and r.chunk_id >= 0 for r in rows)
    f = funnel.collect()[0]
    assert f["input"] >= len({r.doc_id for r in rows})
    # chunk fill respects the start-offset rule within every shard
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    for rs in by_shard.values():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            assert r.chunk_id == cum // 256
            cum += r.n_tokens
    out.unpersist()


def test_substring_cut_stage(spark):
    """max_dup_frac drops exactly the docs whose duplicated-substring
    fraction exceeds the threshold (and composes with the funnel)."""
    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    loose, _ = curate_corpus(docs, languages=("en", "und"),
                             min_quality=0.0, token_band=(1, 100_000),
                             neardup_threshold=0.99)
    strict, _ = curate_corpus(docs, languages=("en", "und"),
                              min_quality=0.0, token_band=(1, 100_000),
                              neardup_threshold=0.99, max_dup_frac=0.5)
    n_loose, n_strict = loose.count(), strict.count()
    assert n_strict <= n_loose
    # the dropped docs are exactly those over the threshold
    from stream2segment_spark.operators import dedup as DD
    from pyspark.sql import functions as F
    spans = DD.duplicated_spans(
        docs.select("doc_id", DD.word_tokens(F.col("text")).alias("t")),
        "doc_id", "t", k=8, max_df=1)
    over = {r.doc_id for r in spans.filter("dup_frac > 0.5").collect()}
    kept = {r.doc_id for r in strict.select("doc_id").collect()}
    assert not (kept & over)


def test_cosine_neardup_mode(spark):
    """neardup_mode='cosine': hashed-embedding near-dup collapses the
    near-identical docs the same way minhash does on this corpus, and no
    surviving pair exceeds the cosine threshold."""
    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    out, funnel = curate_corpus(
        docs, languages=("en", "und"), min_quality=0.0,
        token_band=(1, 100_000), neardup_threshold=0.95,
        neardup_mode="cosine")
    f = funnel.collect()[0]
    assert 0 < f["near_dedup"] <= f["exact_dedup"]
    # verify on the OUTPUT: no remaining pair at >= threshold
    from stream2segment_spark.functions.embeddings import (
        hashed_ngram_embeddings)
    from stream2segment_spark.operators.similarity import lsh_bucket_neardup
    emb = hashed_ngram_embeddings(out.select("doc_id", "text"),
                                  "text", "doc_id")
    left = lsh_bucket_neardup(emb, id_col="doc_id", vec_col="embedding",
                              dim=64, num_planes=10, threshold=0.95,
                              multiprobe=True)
    assert left.count() == 0
    with pytest.raises(ValueError, match="neardup_mode"):
        curate_corpus(docs, neardup_mode="nope")[0].count()


def test_jaccard_neardup_mode_equals_minhash_on_full_recall(spark):
    """neardup_mode='jaccard' (exact inverted-index pairs, the
    oracle-replayable composition mode) keeps the SAME survivor set as
    'minhash' wherever LSH recall is 1.0 — which it is on this corpus
    (the gate proves it in dedup_minhash_lsh): same candidate threshold,
    same exact-Jaccard verify, same CC/min-id policy."""
    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    kw = dict(languages=("en", "und"), min_quality=0.0,
              token_band=(1, 100_000), neardup_threshold=0.5)
    exact_out, f1 = curate_corpus(docs, neardup_mode="jaccard", **kw)
    lsh_out, f2 = curate_corpus(docs, neardup_mode="minhash", **kw)
    a = {r.doc_id for r in exact_out.select("doc_id").collect()}
    b = {r.doc_id for r in lsh_out.select("doc_id").collect()}
    assert a == b
    r1, r2 = f1.collect()[0], f2.collect()[0]
    assert r1["near_dedup"] == r2["near_dedup"] < r1["exact_dedup"]


def test_curate_cut_dup_substrings_cleans_not_drops(spark):
    """cut_dup_substrings removes the duplicated run from every doc but
    KEEPS the docs (unlike max_dup_frac which drops them)."""
    from pyspark.sql import Row
    from stream2segment_spark.examples.corpus_pipeline import curate_corpus
    run = " ".join(f"shared{i}" for i in range(10))
    rows = [Row(doc_id=i,
                text=" ".join(f"unique{i}word{j}" for j in range(30))
                     + f" marker{i} " + run)
            for i in range(4)]
    docs = spark.createDataFrame(rows)
    out, funnel = curate_corpus(
        docs, languages=("en", "und"), min_quality=0.0,
        token_band=(1, 10**6), cut_dup_substrings=8)
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {0, 1, 2, 3}          # nothing dropped
    for d, r in got.items():
        assert "shared0" not in r.text        # the run is gone
        assert f"marker{d}" in r.text         # the unique part remains


def test_semantic_neardup_mode(spark):
    """neardup_mode='semantic' (SemDeDup): survivors are EXACTLY the
    exact-dedup stage's survivors minus the docs semantic_dedup flags at
    the same (k, threshold). (A second pass over the survivors may flag
    more — re-clustering a changed corpus moves centroids — so
    idempotence is deliberately NOT asserted.)"""
    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    kw = dict(languages=("en", "und"), min_quality=0.0,
              token_band=(1, 100_000), neardup_mode="semantic",
              semantic_k=8)
    out, funnel = curate_corpus(docs, neardup_threshold=0.95, **kw)
    f = funnel.collect()[0]
    assert 0 < f["near_dedup"] < f["exact_dedup"]
    # threshold > 1 disables flagging: that run's output IS the
    # exact-dedup stage's survivors
    base, funnel0 = curate_corpus(docs, neardup_threshold=1.01, **kw)
    f0 = funnel0.collect()[0]
    assert f0["near_dedup"] == f0["exact_dedup"]
    from stream2segment_spark.functions.embeddings import (
        hashed_ngram_embeddings)
    from stream2segment_spark.operators.similarity import semantic_dedup
    emb = hashed_ngram_embeddings(base.select("doc_id", "text"),
                                  "text", "doc_id")
    flagged = {r.doc_id for r in
               semantic_dedup(emb, "doc_id", "embedding", k=8,
                              threshold=0.95)
               .filter("is_dup").collect()}
    assert flagged
    base_ids = {r.doc_id for r in base.select("doc_id").collect()}
    out_ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert out_ids == base_ids - flagged


def test_min_lm_score_stage(spark, curated):
    """Stage 2c: the LM floor drops exactly the filtered survivors whose
    self-scored mean transition probability is below the threshold, and
    the funnel stays monotone. The baseline is the module's ``curated``
    run: the same documents and arguments without the LM floor."""
    from stream2segment_spark.functions.lm import lm_transition_scores
    docs, base, bf = curated
    scores = lm_transition_scores(base.select("doc_id", "text"))
    med = scores.approxQuantile("lm_score", [0.5], 0.0)[0]
    out, funnel = curate_corpus(
        docs, languages=("en", "und"), min_quality=0.5,
        token_band=(5, 100_000), neardup_threshold=0.5,
        min_lm_score=med)
    out = out.persist()
    f = funnel.collect()[0]
    assert f["input"] == bf["input"]
    assert 0 < f["filtered"] < bf["filtered"]
    assert (f["filtered"] >= f["exact_dedup"] >= f["near_dedup"] > 0)
    # containment in the BASELINE output is deliberately NOT asserted:
    # near-dedup keeps the min id per cluster, so removing a cluster's
    # canonical doc via the LM floor promotes a different id (the same
    # non-idempotence the SemDeDup funnel test documents)
    assert out.count() == f["near_dedup"]
    out2, _ = curate_corpus(
        docs, languages=("en", "und"), min_quality=0.5,
        token_band=(5, 100_000), neardup_threshold=0.5,
        min_lm_score=med)
    assert ({r["doc_id"] for r in out.select("doc_id").collect()} ==
            {r["doc_id"] for r in out2.select("doc_id").collect()})
    out.unpersist()


def test_c4_stage_drops_and_cleans(spark):
    """c4_rules=True drops lorem-ipsum pages entirely and strips
    non-prose lines from survivors before annotation."""
    good = ("This is a proper prose sentence with words.\n"
            "Another proper prose sentence with many words.\n"
            "A third proper prose sentence with words here.")
    rows = [(1, good),
            (2, good + "\nlorem ipsum dolor sit amet."),
            (3, good + "\nnav | bar | menu")]  # junk line stripped
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out, funnel = curate_corpus(
        docs, languages=("en", "und"), c4_rules=True,
        min_quality=0.0, token_band=(1, 100_000), neardup_threshold=0.99)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert 2 not in got                       # lorem-ipsum page dropped
    assert "nav | bar" not in got.get(3, "")  # junk line stripped
    f = funnel.collect()[0]
    assert f["input"] == 3                    # pre-cleaning count


def test_reference_lm_scores_decontaminated(spark):
    """The reference model trains only on curated docs NOT overlapping
    the benchmark; every raw doc still gets a score; leaking the
    benchmark into training (benchmark=None) changes the scores."""
    from stream2segment_spark.examples.corpus_pipeline import (
        reference_lm_scores)
    leak = ("the quick brown fox jumps over the lazy dog and then "
            "the quick brown fox jumps again over the lazy dog")
    rows = [(i, f"plain sentence number {i} about data tables and rows "
                f"with enough words to pass filters {i}")
            for i in range(1, 9)] + [(9, leak), (10, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(1, leak)], "doc_id long, text string")
    kw = dict(languages=("en", "und"), min_quality=0.0,
              token_band=(1, 10_000), neardup_threshold=0.99)
    scored = reference_lm_scores(docs, bench, curate_kwargs=kw)
    got = {r["doc_id"]: r["lm_score"] for r in scored.collect()}
    assert set(got) == set(range(1, 11))        # every raw doc scored
    assert got[10] == 0.0                       # null text -> floor
    leaked = reference_lm_scores(docs, None, curate_kwargs=kw)
    got_leaked = {r["doc_id"]: r["lm_score"] for r in leaked.collect()}
    # with the benchmark doc allowed into training, its own transitions
    # boost its score; decontamination must remove that self-boost
    assert got_leaked[9] > got[9]


def test_reference_lm_scores_order3_and_validation(spark):
    from stream2segment_spark.examples.corpus_pipeline import (
        reference_lm_scores)
    rows = [(i, f"some steady prose row {i} with words enough here")
            for i in range(1, 6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(languages=("en", "und"), min_quality=0.0,
              token_band=(1, 10_000), neardup_threshold=0.99)
    out = reference_lm_scores(docs, None, order=3, curate_kwargs=kw)
    assert out.count() == 5 and "sb_score" in out.columns
    with pytest.raises(ValueError, match="order"):
        reference_lm_scores(docs, None, order=4, curate_kwargs=kw)


def test_gopher_stage_drops_low_quality(spark):
    good = " ".join(
        f"the data and words of that have with extra filler w{i}"
        for i in range(6))
    rows = [(1, good),
            (2, " ".join(str(i) for i in range(80)))]   # no alpha words
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out, funnel = curate_corpus(
        docs, languages=("en", "und"), gopher_rules=True,
        min_quality=0.0, token_band=(1, 100_000), neardup_threshold=0.99)
    assert {r["doc_id"] for r in out.collect()} == {1}
    assert funnel.collect()[0]["input"] == 2


def test_gopher_repetition_stage_drops_repetitive(spark):
    # all-distinct tokens: zero dup n-grams, tiny top-n-gram fractions
    # (a repeated sentence TEMPLATE would rightly trip the dup-5gram cap)
    good = " ".join(f"word{i}" for i in range(60))
    looped = "the same five words repeat " * 20   # dup-5gram coverage ~1
    docs = spark.createDataFrame([(1, good), (2, looped)],
                                 "doc_id long, text string")
    out, _ = curate_corpus(
        docs, languages=("en", "und"), gopher_repetition=True,
        min_quality=0.0, token_band=(1, 100_000), neardup_threshold=0.99)
    assert {r["doc_id"] for r in out.collect()} == {1}


def test_decontamination_stage_drops_benchmark_overlap(spark):
    leak = ("the quick brown fox jumps over the lazy dog while "
            "another sentence keeps the document long enough here")
    clean = " ".join(f"word{i}" for i in range(60))
    docs = spark.createDataFrame([(1, clean), (2, leak)],
                                 "doc_id long, text string")
    bench = spark.createDataFrame([(7, leak)], "doc_id long, text string")
    out, _ = curate_corpus(
        docs, languages=("en", "und"), min_quality=0.0,
        token_band=(1, 100_000), neardup_threshold=0.99,
        benchmark=bench, max_contam_frac=0.0)
    assert {r["doc_id"] for r in out.collect()} == {1}


def test_domain_cap_stage(spark):
    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    out, funnel = curate_corpus(
        docs, languages=("en", "und"), min_quality=0.0,
        token_band=(1, 100_000), neardup_threshold=0.5,
        domain_cap=3, domain_col="source")
    per = out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    assert per and all(r["n"] <= 3 for r in per)
    # the cap binds before dedup, so the funnel's filtered count shrinks
    uncapped = curate_corpus(
        docs, languages=("en", "und"), min_quality=0.0,
        token_band=(1, 100_000), neardup_threshold=0.5)[1].collect()[0]
    assert funnel.collect()[0]["filtered"] <= uncapped["filtered"]


def test_neardup_keep_best_keeps_longest(spark, curated):
    # ``curated`` is the default keep policy on the same arguments
    docs, first, _ = curated
    best, _ = curate_corpus(docs, languages=("en", "und"),
                            min_quality=0.5, token_band=(5, 100_000),
                            neardup_threshold=0.5, neardup_keep="best")
    best = best.persist()
    # same survivor COUNT (one per cluster), possibly different members,
    # and the best-policy corpus is at least as long in total tokens
    assert first.count() == best.count()
    t_first = first.agg(F.sum("n_tokens")).collect()[0][0]
    t_best = best.agg(F.sum("n_tokens")).collect()[0][0]
    assert t_best >= t_first
    best.unpersist()


def test_neardup_keep_validation(spark):
    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    with pytest.raises(ValueError, match="neardup_keep"):
        curate_corpus(docs, neardup_keep="nope")


def test_multilingual_funnel_unicode_script_mode(spark):
    """tokenizer='unicode' + langid_mode='script' makes the funnel
    multilingual end-to-end: Japanese/Russian documents get real token
    counts, script language labels that --languages can select, and
    distinct (non-colliding) fingerprints. The ascii default drops them
    at the language filter (they tokenize to nothing -> 'und')."""
    en = ("the project and the report is in the archive and it is "
          "ready to read for everyone on the team this week again")
    rows = [
        (1, en),
        (2, en.replace("again", "tomorrow")),
        (3, "東京 は 日本 の 首都 です 大阪 は 大きい 都市 です"),
        (4, "京都 は 古い 都 です 奈良 も 古い 都 です"),
        (5, "Привет мир это тест на русском языке сегодня"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(token_band=(3, 1000), min_quality=0.0,
              neardup_threshold=0.99)
    curated, funnel = curate_corpus(
        docs, languages=("en", "ja"), tokenizer="unicode",
        langid_mode="script", **kw)
    out = {r["doc_id"]: r for r in curated.collect()}
    assert set(out) == {1, 2, 3, 4}          # ru dropped, ja kept
    assert out[3]["lang"] == "ja" and out[1]["lang"] == "en"
    assert out[3]["n_tokens"] == 11 and out[4]["n_tokens"] == 10
    assert out[3]["fingerprint"] != out[4]["fingerprint"]
    # ascii default: the ja/ru docs tokenize empty -> 'und' -> dropped
    curated_a, _ = curate_corpus(docs, languages=("en", "ja"), **kw)
    assert {r["doc_id"] for r in curated_a.collect()} == {1, 2}


def test_html_extract_stage_recovers_plain_funnel(spark):
    """Wrapping every document in an HTML skeleton and running the funnel
    with html_extract=True must reproduce the plain-text funnel exactly
    (same survivors, same token counts): extraction runs before every
    other stage, so downstream signals never see markup."""
    docs = load_table(spark, SF_DIR_SMOKE, "documents").limit(120)
    html_docs = docs.withColumn(
        "text",
        F.concat(F.lit('<html><head><style>p{x}</style></head>'
                       '<body><!-- c --><p class="m">'),
                 F.coalesce("text", F.lit("")),
                 F.lit('</p><script>var a = 1 < 2;</script></body></html>')))
    plain, pf = curate_corpus(docs, languages=("en", "und"),
                              min_quality=0.5, token_band=(5, 100_000))
    viahtml, hf = curate_corpus(html_docs, languages=("en", "und"),
                                min_quality=0.5, token_band=(5, 100_000),
                                html_extract=True)
    want = {(r.doc_id, r.n_tokens) for r in
            plain.select("doc_id", "n_tokens").collect()}
    got = {(r.doc_id, r.n_tokens) for r in
           viahtml.select("doc_id", "n_tokens").collect()}
    assert got == want and len(got) > 0
    # without extraction the markup perturbs the funnel (tag tokens leak
    # into counts) — proves the stage is load-bearing, not a no-op
    raw, _ = curate_corpus(html_docs, languages=("en", "und"),
                           min_quality=0.5, token_band=(5, 100_000))
    raw_counts = {(r.doc_id, r.n_tokens) for r in
                  raw.select("doc_id", "n_tokens").collect()}
    assert raw_counts != want


def test_html_extract_preserves_line_structure_for_c4(spark):
    """html_extract composed with the line-based C4 rules: block tags
    become newlines, so a multi-paragraph HTML page still has >= 3
    prose lines after extraction and survives c4's min_lines — an
    extractor that collapsed newlines dropped 100% of documents here."""
    line = ("the quick brown fox jumps over the lazy dog and keeps "
            "running forward.")
    html = "".join(f"<p>{line}</p>" for _ in range(4))
    docs = spark.createDataFrame(
        [(i, f"<html><body><!-- x -->{html}"
             f"<script>var a = 1 < 2;</script></body></html>")
         for i in range(30)],
        "doc_id long, text string")
    out, funnel = curate_corpus(
        docs, languages=("en", "und"), min_quality=0.5,
        token_band=(5, 100_000), c4_rules=True, html_extract=True)
    f = funnel.collect()[0]
    assert f["filtered"] > 0, dict(f.asDict())
    assert out.count() > 0


def test_audit_mode_reports_per_stage_counts(spark):
    """audit=True adds one after_<stage> column per ENABLED optional
    stage, monotone along the pipeline order; audit=False keeps the
    4-column funnel schema unchanged."""
    docs = load_table(spark, SF_DIR_SMOKE, "documents").limit(150)
    _, plain = curate_corpus(docs, languages=("en", "und"),
                             min_quality=0.5, token_band=(5, 100_000))
    assert plain.columns == ["input", "filtered", "exact_dedup",
                             "near_dedup"]
    _, audited = curate_corpus(
        docs, languages=("en", "und"), min_quality=0.5,
        token_band=(5, 100_000), c4_rules=True, gopher_rules=True,
        max_dup_frac=0.9, mix_strata_col="source", audit=True)
    row = audited.collect()[0].asDict()
    assert {"after_c4", "after_gopher", "after_dup_frac",
            "after_mixed"} <= set(row)
    # monotone: each stage only narrows
    assert row["input"] >= row["after_c4"] >= row["after_gopher"]
    assert row["filtered"] >= row["after_dup_frac"] >= row["exact_dedup"]
    assert row["near_dedup"] >= row["after_mixed"]
    # disabled stages contribute no column
    assert "after_lm" not in row and "after_classifier" not in row


def test_stopword_tables_unbias_quality_floor(spark):
    """stopword_tables= keys the quality score's stopword term by the
    row's language (VERDICT r7 ask #4): a Japanese doc that fails the
    English-stopword band passes under its own table, so a quality
    floor that would drop every non-English doc keeps them; English
    docs score identically with and without the tables (default
    preserved)."""
    import stream2segment_spark.functions.text as TX

    en = ("the project and the report is in the archive and it is "
          "ready to read for everyone on the team this week again "
          "because the work is done and the plan is good for all")
    ja = "東京は日本の首都です勉強しますからこれはないことです"
    # stopword ratio must land INSIDE the 0.05-0.6 band under the ru
    # table (a pure function-word string overshoots the ceiling)
    ru = ("Привет мир и в не на что погода хорошая сегодня утром "
          "дома работа весна")
    docs = spark.createDataFrame(
        [(1, en), (2, ja), (3, ru)], "doc_id long, text string")
    kw = dict(token_band=(3, 1000), neardup_threshold=0.99,
              tokenizer="cjk", langid_mode="script",
              languages=("en", "ja", "ru"))
    # floor at 0.8: needs >= 3 of 4 bands, incl. the stopword band
    biased, _ = curate_corpus(docs, min_quality=0.8, **kw)
    keyed, _ = curate_corpus(docs, min_quality=0.8,
                             stopword_tables=TX.STOPWORDS_BY_LANG, **kw)
    biased_ids = {r["doc_id"] for r in biased.collect()}
    keyed_rows = {r["doc_id"]: r for r in keyed.collect()}
    assert 2 not in biased_ids and 3 not in biased_ids  # EN-bias drops
    assert set(keyed_rows) == {1, 2, 3}                 # keyed keeps all
    # English doc scores identically under both configurations
    q_b = {r["doc_id"]: r["quality"] for r in biased.collect()}
    assert keyed_rows[1]["quality"] == q_b[1]


def test_stopword_count_by_lang_fallback_and_custom_tables(spark):
    import stream2segment_spark.functions.text as TX
    from pyspark.sql import functions as F

    from stream2segment_spark.operators.dedup import cjk_word_tokens

    df = spark.createDataFrame(
        [(1, "the cat and the dog", "en"),
         (2, "the cat and the dog", "xx"),       # unknown -> en fallback
         (3, "der hund und die katze", "de")],
        "id long, t string, lang string")
    out = df.select("id", TX.stopword_count_by_lang(
        cjk_word_tokens(F.col("t")), F.col("lang")).alias("n")).collect()
    got = {r["id"]: r["n"] for r in out}
    assert got[1] == got[2] == 3                 # the, and, the
    assert got[3] == 3                           # der, und, die
    # custom table overrides the built-in
    out2 = df.select("id", TX.stopword_count_by_lang(
        cjk_word_tokens(F.col("t")), F.col("lang"),
        {"en": ("cat", "dog")}).alias("n")).collect()
    assert {r["id"]: r["n"] for r in out2}[1] == 2


def test_gopher_multilang_profiles(spark):
    """gopher_quality_signals_by_lang: CJK prose passes on bigram
    units/per-lang stopwords where the English rules drop it; word
    scripts keep the original bounds; the funnel accepts
    gopher_rules='multilang'."""
    import stream2segment_spark.functions.text as TX

    zh = ("我们这个可以没有一个什么他们因为所以但是" * 6)  # space-free, >50 bigrams
    en_good = ("we have to be of and that with " * 10
               + "plain prose words keeping the mean length sane")
    en_short = "too few words"
    df = spark.createDataFrame(
        [(1, zh), (2, en_good), (3, en_short)],
        "doc_id long, text string")
    sig = {r["doc_id"]: r.asDict() for r in
           TX.gopher_quality_signals_by_lang(
               df, "doc_id", "text").collect()}
    assert sig[1]["lang"] == "zh" and sig[1]["gopher_keep"]
    assert sig[1]["n_units"] > 50          # bigram units, not 1 word
    assert sig[1]["mean_word_len"] == 0.0  # skipped for bigram family
    assert sig[2]["lang"] == "en" and sig[2]["gopher_keep"]
    assert not sig[3]["gopher_keep"]       # fails the unit band
    # English-only rules would drop the zh doc on every word test
    old = {r["doc_id"]: r["gopher_keep"] for r in
           TX.gopher_quality_signals(df, "doc_id", "text").collect()}
    assert not old[1]
    # funnel wiring: multilang keeps the zh doc, english-only drops it
    kw = dict(languages=("zh", "en", "und"), min_quality=0.0,
              token_band=(1, 100_000), max_top_token_frac=1.0,
              neardup_mode="jaccard", neardup_threshold=0.5,
              tokenizer="cjk", langid_mode="script")
    ml, _ = curate_corpus(df, gopher_rules="multilang", **kw)
    assert 1 in {r.doc_id for r in ml.select("doc_id").collect()}
    en_only, _ = curate_corpus(df, gopher_rules=True, **kw)
    assert 1 not in {r.doc_id for r in en_only.select("doc_id").collect()}


def test_stopword_tables_validated(spark):
    """ADVICE r8: custom tables missing the default_lang key raise a
    named ValueError; an empty word list counts zero instead of
    throwing isin TypeError."""
    import pytest

    import stream2segment_spark.functions.text as TX
    from stream2segment_spark.operators.dedup import word_tokens
    df = spark.createDataFrame([(1, "the cat and the dog", "en")],
                               "id long, t string, lang string")
    toks = word_tokens(F.col("t"))
    with pytest.raises(ValueError, match="default_lang 'en'"):
        TX.stopword_count_by_lang(toks, F.col("lang"), {"de": ("und",)})
    out = df.select(TX.stopword_count_by_lang(
        toks, F.col("lang"), {"en": (), "de": ("und",)}).alias("n")
    ).collect()
    assert out[0]["n"] == 0


def test_against_incremental_dedup(spark):
    """curate_corpus(against=...): new docs drop on (a) an existing
    fingerprint, (b) near-dupping an existing doc — existing docs win
    regardless of id order — while fresh docs survive; new-only
    near-dup clusters keep the min new id."""
    base = ("the quick brown fox jumps over the lazy dog and it is "
            "a fine day for running in the field with friends")
    old_docs = spark.createDataFrame(
        [(100, base)], "doc_id long, text string")
    kw = dict(languages=("en", "und"), min_quality=0.0,
              token_band=(1, 100_000), max_top_token_frac=1.0,
              neardup_mode="jaccard", neardup_threshold=0.5)
    old_curated, _ = curate_corpus(old_docs, **kw)
    assert old_curated.count() == 1
    new_docs = spark.createDataFrame(
        [(1, base),                                     # exact dup (id < old!)
         (2, base.replace("friends", "family")),        # near-dup of old
         (3, "a completely different document about spark window "
             "aggregation and shuffle partitioning at scale"),
         (4, "a completely different document about spark window "
             "aggregation and shuffle partitioning at large scale"),
         ], "doc_id long, text string")
    inc, funnel = curate_corpus(
        new_docs, against=old_curated.select("doc_id", "text",
                                             "fingerprint"), **kw)
    kept = {r.doc_id for r in inc.select("doc_id").collect()}
    # 1 exact-dups old, 2 near-dups old (old wins even with larger id),
    # 3/4 near-dup each other -> min new id 3 survives
    assert kept == {3}
    # without against=, 1 and 2 would survive (nothing to collide with)
    alone, _ = curate_corpus(new_docs, **kw)
    assert {r.doc_id for r in alone.select("doc_id").collect()} == {1, 3}


def test_against_recomputes_missing_fingerprint_and_validates(spark):
    import pytest

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again")],
        "doc_id long, text string")
    old = spark.createDataFrame(
        [(50, "the quick brown fox jumps over the lazy dog again")],
        "doc_id long, text string")        # no fingerprint column
    kw = dict(languages=("en", "und"), min_quality=0.0,
              token_band=(1, 100_000), max_top_token_frac=1.0)
    inc, _ = curate_corpus(docs, against=old, neardup_mode="jaccard",
                           neardup_threshold=0.5, **kw)
    assert inc.count() == 0                # fingerprint recomputed
    with pytest.raises(ValueError, match="against"):
        curate_corpus(docs, against=old, neardup_mode="semantic", **kw)
    with pytest.raises(ValueError, match="against"):
        curate_corpus(docs, against=old, neardup_keep="best", **kw)


def test_against_cli_flag(spark, tmp_path, capsys):
    import json

    from stream2segment_spark.cli import main as cli_main

    base = ("the quick brown fox jumps over the lazy dog and it is "
            "a fine day for running in the field with friends")
    old_pq = str(tmp_path / "old.parquet")
    new_pq = str(tmp_path / "new.parquet")
    spark.createDataFrame([(1, base, "s")],
                          "doc_id long, text string, source string") \
        .write.parquet(old_pq)
    spark.createDataFrame(
        [(10, base, "s"),
         (11, "an entirely different page about catalyst optimizer "
              "rules and adaptive query execution in modern engines",
          "s")],
        "doc_id long, text string, source string").write.parquet(new_pq)
    out1 = str(tmp_path / "c1")
    rc = cli_main(["curate", "-i", old_pq, "-o", out1,
                   "--languages", "en,und", "--min-quality", "0",
                   "--min-tokens", "1"])
    assert rc == 0
    capsys.readouterr()
    rc = cli_main(["curate", "-i", new_pq, "-o", str(tmp_path / "c2"),
                   "--languages", "en,und", "--min-quality", "0",
                   "--min-tokens", "1",
                   "--against", out1 + "/curated.parquet"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["output"] == 1            # the exact dup of old dropped
    back = spark.read.parquet(str(tmp_path / "c2" / "curated.parquet"))
    assert {r.doc_id for r in back.select("doc_id").collect()} == {11}


def test_against_minhash_with_persisted_signatures(spark):
    """The scale path: minhash incremental mode with a PERSISTED
    signature table — results equal the jaccard-mode incremental run
    (old wins exact + near dups; new-only clusters keep min id), and
    the signatures out-param exposes the new batch's (id, minhash)
    frame for chaining."""
    base = ("the quick brown fox jumps over the lazy dog and it is "
            "a fine day for running in the field with friends")
    old_docs = spark.createDataFrame(
        [(100, base)], "doc_id long, text string")
    kw = dict(languages=("en", "und"), min_quality=0.0,
              token_band=(1, 100_000), max_top_token_frac=1.0,
              neardup_mode="minhash", neardup_threshold=0.5)
    old_sigs: list = []
    old_curated, _ = curate_corpus(old_docs, signatures=old_sigs, **kw)
    assert old_curated.count() == 1 and len(old_sigs) == 1
    sig_tbl = old_sigs[0].join(old_curated.select("doc_id"),
                               "doc_id", "left_semi")
    assert sig_tbl.columns == ["doc_id", "minhash"]
    new_docs = spark.createDataFrame(
        [(1, base),                                  # exact dup of old
         (2, base.replace("friends", "family")),     # near-dup of old
         (3, "a completely different document about spark window "
             "aggregation and shuffle partitioning at scale"),
         (4, "a completely different document about spark window "
             "aggregation and shuffle partitioning at large scale"),
         ], "doc_id long, text string")
    new_sigs: list = []
    inc, _ = curate_corpus(
        new_docs,
        against=old_curated.select("doc_id", "text", "fingerprint"),
        against_signatures=sig_tbl, signatures=new_sigs, **kw)
    assert {r.doc_id for r in inc.select("doc_id").collect()} == {3}
    # chaining: new survivors' signatures ∪ old table = next batch's
    # against_signatures
    chained = (new_sigs[0].join(inc.select("doc_id"), "doc_id",
                                "left_semi")
               .unionByName(sig_tbl))
    assert ({r.doc_id for r in chained.select("doc_id").collect()}
            == {3, 100})
    # a third batch against the chained table: a near-dup of doc 3
    # (which entered via signatures, never re-tokenized as text except
    # in the candidate-restricted verify) must drop
    third = spark.createDataFrame(
        [(200, "a completely different document about spark window "
               "aggregation and shuffle partitioning at scale today"),
         (201, "entirely novel content regarding broadcast joins and "
               "skew salting strategies for heavy hitter keys")],
        "doc_id long, text string")
    curated2 = (old_curated.select("doc_id", "text", "fingerprint")
                .unionByName(inc.select("doc_id", "text",
                                        "fingerprint")))
    inc2, _ = curate_corpus(third, against=curated2,
                            against_signatures=chained, **kw)
    assert {r.doc_id for r in inc2.select("doc_id").collect()} == {201}


def test_against_rejects_colliding_ids(spark):
    """ADVICE r8: a new doc reusing an existing id would be silently
    classified as old by the id-keyed keep rule — must raise."""
    import pytest

    old = spark.createDataFrame(
        [(7, "the quick brown fox jumps over the lazy dog again")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(7, "completely unrelated text about adaptive query planning")],
        "doc_id long, text string")
    kw = dict(languages=("en", "und"), min_quality=0.0,
              token_band=(1, 100_000), max_top_token_frac=1.0,
              neardup_mode="jaccard", neardup_threshold=0.5)
    with pytest.raises(ValueError, match="disjoint"):
        curate_corpus(new, against=old, **kw)



def test_ccnet_partition_end_to_end(spark):
    """Full CCNet shape: every doc labeled+scored+bucketed; per
    language the head's mean LM score is >= the tail's (the cut is on
    the score itself); character-volume weighting and the lang column
    pass-through both hold."""
    from stream2segment_spark.examples.corpus_pipeline import (
        ccnet_partition)
    base = ("rows and tables join scan merge filter sort group data "
            "query plan stage task node core disk ram net io cost ")
    rows = [(i, " ".join(base.split()[: 5 + (i * 7) % 15]) * (1 + i % 3))
            for i in range(1, 21)] + [(21, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(languages=("en", "und"), min_quality=0.0,
              token_band=(1, 10_000), neardup_threshold=0.99)
    out = ccnet_partition(docs, curate_kwargs=kw).collect()
    assert {r.doc_id for r in out} == set(range(1, 22))
    assert set(out[0].asDict()) >= {"doc_id", "text", "lang",
                                    "lm_score", "bucket", "cum_frac"}
    by_lang: dict = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        heads = [r.lm_score for r in rs if r.bucket == "head"]
        tails = [r.lm_score for r in rs if r.bucket == "tail"]
        if heads and tails:
            assert min(heads) >= max(tails), lang
    # cum_frac reaches 1.0 in every language's worst group
    for lang, rs in by_lang.items():
        assert max(r.cum_frac for r in rs) == pytest.approx(1.0)


def test_ccnet_partition_existing_lang_col(spark):
    from stream2segment_spark.examples.corpus_pipeline import (
        ccnet_partition)
    docs = spark.createDataFrame(
        [(i, f"plain sentence number {i} about data tables and rows "
             f"with enough words to pass filters {i}",
          "aa" if i % 2 else "bb") for i in range(1, 9)],
        "doc_id long, text string, mylang string")
    kw = dict(languages=("en", "und"), min_quality=0.0,
              token_band=(1, 10_000), neardup_threshold=0.99)
    out = ccnet_partition(docs, lang_col="mylang",
                          curate_kwargs=kw).collect()
    assert {r.lang for r in out} == {"aa", "bb"}


def test_funnel_nfc_normalize_merges_twins(spark):
    """nfc_normalize=True + tokenizer='unicode': composed and
    decomposed spellings of the same document converge BEFORE the
    exact-dedup fingerprint, so the funnel keeps one of the pair;
    without normalization both survive (distinct codepoints)."""
    from stream2segment_spark.examples.corpus_pipeline import (
        curate_corpus)
    body = ("caf\u00e9 press release about data tables and rows "
            "with enough words to pass every filter easily")
    dec = body.replace("caf\u00e9", "cafe\u0301")
    assert dec != body
    docs = spark.createDataFrame(
        [(1, body), (2, dec),
         (3, "another plain document with plenty of ordinary words "
             "to pass the funnel filters here")],
        "doc_id long, text string")
    # neardup_threshold=0.99 isolates the EXACT-dedup stage (the twins
    # are lexically near-identical, so any real near-dup threshold
    # would merge them with or without normalization)
    kw = dict(languages=("en", "und"), min_quality=0.0,
              token_band=(1, 10_000), tokenizer="unicode",
              neardup_threshold=0.99)
    plain, _ = curate_corpus(docs, **kw)
    assert plain.count() == 3               # twins NOT merged
    merged, _ = curate_corpus(docs, nfc_normalize=True, **kw)
    assert merged.count() == 2              # exact dedup caught the pair
    assert {r.doc_id for r in merged.select("doc_id").collect()} == {1, 3}


def test_containment_neardup_mode(spark):
    """neardup_mode='containment': an excerpt whose shingles are a
    subset of a longer doc's is dropped even though its Jaccard to the
    source (~1/3) sits far below any lexical threshold."""
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
            "psi omega one two three four five six")
    docs = spark.createDataFrame(
        [(1, base, "en", "s", len(base)),
         (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa",
          "en", "s", 58),
         (3, "totally different content with many other words present "
             "here today and tomorrow", "en", "s", 80)],
        "doc_id long, text string, lang string, source string, "
        "n_chars long")
    out, funnel = curate_corpus(
        docs, languages=("en", "und"), min_quality=0.0,
        token_band=(1, 100_000), neardup_mode="containment")
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert kept == {1, 3}          # the excerpt (2) drops
    f = funnel.collect()[0]
    assert f["near_dedup"] == 2 and f["exact_dedup"] == 3
    # minhash at the same corpus keeps the excerpt (Jaccard too low)
    out2, _ = curate_corpus(
        docs, languages=("en", "und"), min_quality=0.0,
        token_band=(1, 100_000), neardup_mode="minhash",
        neardup_threshold=0.7)
    assert {r.doc_id for r in out2.select("doc_id").collect()} == \
        {1, 2, 3}


def test_pack_mode_bestfit_stage(spark):
    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    out, _ = curate_corpus(
        docs, languages=("en", "und"), min_quality=0.0,
        token_band=(1, 100_000), pack_budget=64, pack_shards=4,
        pack_mode="bestfit")
    pdf = out.select("shard", "bin_id", "n_tokens").toPandas()
    assert {"shard", "bin_id"} <= set(pdf.columns)
    # bins never exceed the budget except single oversized docs
    fills = pdf.groupby(["shard", "bin_id"]).agg(
        tot=("n_tokens", "sum"), n=("n_tokens", "size"))
    bad = fills[(fills["tot"] > 64) & (fills["n"] > 1)]
    assert bad.empty
    with pytest.raises(ValueError, match="pack_mode"):
        curate_corpus(docs, languages=("en", "und"), min_quality=0.0,
                      token_band=(1, 100_000), pack_budget=64,
                      pack_mode="nope")


def test_dsir_selection_stage(spark):
    docs = load_table(spark, SF_DIR_SMOKE, "documents")
    target = docs.filter("doc_id % 5 = 0").select("doc_id", "text")
    out, funnel = curate_corpus(
        docs, languages=("en", "und"), min_quality=0.0,
        token_band=(1, 100_000), dsir_target=target, dsir_k=10,
        audit=True)
    f = funnel.collect()[0]
    assert f["after_dsir_selected"] == 10
    assert out.count() == 10
    # annotation columns ride through the semi-join
    assert {"quality", "split", "n_tokens"} <= set(out.columns)
    with pytest.raises(ValueError, match="dsir_k"):
        curate_corpus(docs, languages=("en", "und"), min_quality=0.0,
                      token_band=(1, 100_000), dsir_target=target)
