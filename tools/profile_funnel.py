#!/usr/bin/env python3
"""Per-stage wall-clock attribution for the curation-funnel gate
entries (optimization round): times each funnel stage's incremental
lineage with the noop sink, mirroring exactly what corpus_funnel
builds, so the optimization effort lands on the stage that actually
dominates. Whole entries are timed by tools/ab.py.

Usage: python tools/profile_funnel.py [--sf-dir DIR] [--runs N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _t(label, df, spark):
    spark.sparkContext.setJobDescription(label)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    print(f"  {label:42s} {dt:7.3f}s", flush=True)
    spark.sparkContext.setJobDescription(None)
    return dt


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    import stream2segment_spark.functions.text as TX
    from stream2segment_spark.operators import dedup as DD
    from stream2segment_spark.operators.graph import connected_components
    from stream2segment_spark.queries_corpus import _FUNNEL_CLONE
    from stream2segment_spark.queries_text import _C4_MARKERS, _GOPHER_MARKERS
    from stream2segment_spark.schema import load_table
    from stream2segment_spark.session import get_spark

    spark = get_spark(app_name="profile-funnel")
    docs = load_table(spark, args.sf_dir, "documents")
    docs.count()  # warm

    prose = F.concat(
        F.replace(F.coalesce(F.col("text"), F.lit("")),
                  F.lit(" table "), F.lit(".\n")),
        F.lit("."),
        *[F.when(F.col("doc_id") % m == 0, F.lit("\n" + s)).otherwise("")
          for m, s in list(_C4_MARKERS) + list(_GOPHER_MARKERS)])
    t = F.when(F.col("doc_id") % 11 == 5, F.lit(_FUNNEL_CLONE)) \
         .otherwise(prose)
    derived = docs.select("doc_id", "source", t.alias("text"))
    id_col, text_col = "doc_id", "text"
    for _ in range(args.runs):
        print("run:", flush=True)
        _t("input derived (concat prose)", derived, spark)
        # C4 stage
        sig = TX.c4_signals(derived, id_col, text_col)
        c4 = (derived.select(id_col, "source")
              .join(sig.filter(F.col("c4_keep"))
                    .select(id_col, F.col("cleaned_text")
                            .alias(text_col)), id_col))
        _t("after C4", c4, spark)
        gsig = TX.gopher_quality_signals(c4, id_col, text_col)
        g = c4.join(gsig.filter(F.col("gopher_keep"))
                    .select(id_col), id_col, "left_semi")
        _t("after gopher", g, spark)
        tok_expr, _ = DD.get_tokenizer("ascii")
        staged = g.select(id_col, text_col, "source",
                          tok_expr(F.col(text_col)).alias("__toks"))
        toks = F.col("__toks")
        ann = staged.select(
            id_col, text_col, "source",
            TX.token_count(F.col(text_col), toks=toks).alias("n_tokens"),
            TX.max_token_run(F.col(text_col), toks=toks)
            .alias("max_tok_run"),
            F.round(TX.quality_score(F.col(text_col), toks=toks), 4)
            .alias("quality"),
            TX.langid_heuristic(F.col(text_col), toks=toks).alias("lang"),
            TX.doc_fingerprint(F.col(text_col)).alias("fingerprint"))
        _t("after annotate", ann, spark)
        filtered = ann.filter(
            F.col("lang").isin("en")
            & (F.col("quality") >= 0.6)
            & F.col("n_tokens").between(5, 100_000)
            & (F.col("max_tok_run") <= 0.2 * F.col("n_tokens")))
        _t("after filter", filtered, spark)
        exact = DD.exact_dedup(filtered, ["fingerprint"], keep="first",
                               order=[id_col]).persist()
        _t("after exact dedup", exact, spark)
        pairs = DD.ngram_jaccard_pairs(exact, text_col, id_col,
                                       shingle_k=3, threshold=0.5)
        _t("jaccard pairs", pairs, spark)
        cc = connected_components(pairs, "id_a", "id_b")
        _t("connected components", cc, spark)
        losers = (cc.filter(F.col("id") != F.col("cluster_id"))
                  .select(F.col("id").alias(id_col)))
        deduped = exact.join(losers, id_col, "left_anti").persist()
        _t("after near-dedup anti-join", deduped, spark)
        from stream2segment_spark.functions.sampling import (
            split_column, temperature_sample)
        curated = deduped.withColumn(
            "split", split_column(F.col(id_col)))
        curated = temperature_sample(curated, id_col, "source",
                                     alpha=0.5)
        _t("after split+mix (full funnel)", curated, spark)
        spark.catalog.clearCache()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
