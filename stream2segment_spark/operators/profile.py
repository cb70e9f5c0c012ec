"""One-sweep table profiling: per-column null counts, typed min/max,
HyperLogLog distinct estimates and top values.

The data-quality overview every ingestion run wants ("did a source start
shipping nulls? did cardinality explode?") at 100 TB cost: exactly two
jobs regardless of column count —

1. ONE aggregate pass computing count / nulls / typed min / typed max
   for every profiled column simultaneously (single scan, no shuffle
   beyond the final 1-row reduce);
2. ONE stacked pass: each row explodes to ``(col_name, value_str)``
   pairs feeding (a) per-column HLL registers (operators/sketch.py —
   bounded m-row state per column, map-side combined) and (b) the
   ``(col, value)`` frequency counts for top-k values. The only
   full shuffle carries (col, value) pairs — the same cost as one
   groupBy per column, but in one job.

Exact ``COUNT(DISTINCT)`` per column (a full shuffle of every distinct
value, per column) is deliberately NOT computed — the HLL estimate is
the scale path (se ~ 1.04/sqrt(m)).

Beyond-reference capability: the reference's dstats/inspection reporting
(stream2segment/download/db/inspection/main.py) profiles fixed download
columns on a DB; this profiles any DataFrame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stream2segment_spark.operators.sketch import hll_estimate, hll_registers


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    hll_m: int = 64,
    top_k: int = 1,
) -> DataFrame:
    """Profile ``columns`` (default: all) of ``df``.

    Returns one row per (column, top-value rank): ``col_name, n_rows,
    n_nulls, min_str, max_str, n_distinct_est, top_value, top_count,
    top_rank``. min/max are computed in the column's native type (so
    numeric columns order numerically) and cast to string for the
    uniform schema. Ties in the top-k break on the value string
    ascending — deterministic on any engine.
    """
    columns = columns or df.columns
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")

    # pass 1: single scan, all typed aggregates at once (1 row)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"),
            F.min(c).cast("string").alias(f"__min_{c}"),
            F.max(c).cast("string").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    base = one.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("col_name"),
                 F.col("__n").alias("n_rows"),
                 F.col(f"__nulls_{c}").alias("n_nulls"),
                 F.col(f"__min_{c}").alias("min_str"),
                 F.col(f"__max_{c}").alias("max_str"))
        for c in columns])).alias("s")).select("s.*")

    # pass 2: stacked (col, value) pairs -> HLL registers + top-k counts
    stacked = (df.select(F.explode(F.array(*[
        F.struct(F.lit(c).alias("col_name"),
                 F.col(c).cast("string").alias("val"))
        for c in columns])).alias("s"))
        .select("s.*").where(F.col("val").isNotNull()))
    regs = hll_registers(stacked, "val", ["col_name"], m=hll_m)
    est = hll_estimate(regs, ["col_name"], m=hll_m) \
        .select("col_name", F.col("est_distinct").alias("n_distinct_est"))
    counts = stacked.groupBy("col_name", "val").agg(
        F.count(F.lit(1)).alias("top_count"))
    w = Window.partitionBy("col_name").orderBy(
        F.col("top_count").desc(), F.col("val"))
    top = (counts.withColumn("top_rank", F.row_number().over(w))
           .where(F.col("top_rank") <= top_k)
           .select("col_name", F.col("val").alias("top_value"),
                   "top_count", "top_rank"))

    return (base.join(est, "col_name", "left")
            .join(top, "col_name", "left")
            .select("col_name", "n_rows", "n_nulls", "min_str", "max_str",
                    "n_distinct_est", "top_value", "top_count", "top_rank"))


def profile_rules(rows, schema) -> dict[str, dict]:
    """A data-quality contract for ``operators/validate.validate_table``
    inferred from collected :func:`profile_table` rows of a frame with
    ``schema``: per column, the observed non-null fraction floored to 2
    decimals (``not_null_frac``) and, for numeric columns, the observed
    range (``min_ge`` / ``max_le``)."""
    import math

    numeric = {f.name for f in schema.fields
               if f.dataType.typeName() in
               ("integer", "long", "short", "byte", "float", "double",
                "decimal")}
    rules: dict[str, dict] = {}
    for r in rows:
        if r["top_rank"] != 1:
            continue
        c, n = r["col_name"], r["n_rows"]
        nn = (n - r["n_nulls"]) / n if n else 1.0
        rc = {"not_null_frac": math.floor(nn * 100) / 100}
        if c in numeric and r["min_str"] is not None:
            rc["min_ge"] = float(r["min_str"])
            rc["max_le"] = float(r["max_str"])
        rules[c] = rc
    return rules
