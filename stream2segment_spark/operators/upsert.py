"""Upsert / key-sync operators on immutable columnar storage.

The reference mutates rows in place over an RDBMS (DbManager buffered
INSERT/UPDATE, io/db/pdsql.py:351-620; syncdf fetch-or-create surrogate
keys, :214-348). On parquet (no Delta in this runtime) the equivalents are:

- ``merge_latest_wins``: MERGE INTO semantics as union + row_number dedup
  over the natural key — the documented fallback plan (SURVEY §7.2); with
  Delta/Iceberg on the cluster this becomes a real MERGE (see
  ``try_delta_merge``).
- ``sync_surrogate_ids``: match rows to the existing table on the natural
  key, pull existing surrogate ids, assign fresh ids (max+1..) to the rest
  — the reference's H6 max(id)+1 trick made distributed-safe with one
  range-partitioned global index (``global_order_index``) over the
  joined rows, fresh rows first.
- ``update_skip_unchanged``: the H15 optimization (skip UPDATE when
  download_code unchanged) as a pre-filter.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_order_index(
    df: DataFrame, order_cols: list[str | Column], index_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic global 1..n row index ordered by ``order_cols``,
    WITHOUT a single-partition window. Equal to ``row_number() OVER
    (ORDER BY order_cols)`` row for row.

    One range partitioning (partition p holds keys strictly below
    partition p+1), sorted within each partition and tagged with
    ``monotonically_increasing_id`` (partition id in the upper 31 bits,
    position in the partition in the lower 33), then materialized once.
    The partition sizes are counted on that same materialization, so the
    offsets and the positions always describe the same partitions: two
    separate range exchanges would each sample their own bounds, and
    with AQE off they do disagree (duplicate and skipped indices). The
    index is position + 1 + the partition's offset, the offsets a
    literal array of n_partitions values — no window, no join. Like RDD
    ``zipWithIndex``, this runs its jobs when called, not when the
    result is used.

    ``order_cols`` must be a unique key (ties across a partition boundary
    would otherwise make the index partition-dependent)."""
    parts = (df.repartitionByRange(num_partitions, *order_cols)
             if num_partitions else df.repartitionByRange(*order_cols))
    tagged = (parts.sortWithinPartitions(*order_cols)
              .withColumn("__mono", F.monotonically_increasing_id())
              .localCheckpoint(eager=True))
    pid = F.shiftright("__mono", 33).cast("int")
    sizes = dict(tagged.groupBy(pid).count().collect())
    offsets = list(accumulate(
        (sizes.get(p, 0) for p in range(max(sizes, default=0))), initial=0))
    pos = F.col("__mono").bitwiseAND((1 << 33) - 1)
    offset = F.element_at(F.lit(offsets).cast("array<bigint>"), pid + 1)
    return tagged.withColumn(index_col, pos + 1 + offset).drop("__mono")


def _contains_map(dtype) -> bool:
    """True if ``dtype`` is or nests a MapType — Spark's hash functions
    reject such columns (undefined map iteration order)."""
    from pyspark.sql import types as T
    if isinstance(dtype, T.MapType):
        return True
    if isinstance(dtype, T.ArrayType):
        return _contains_map(dtype.elementType)
    if isinstance(dtype, T.StructType):
        return any(_contains_map(f.dataType) for f in dtype.fields)
    return False


def merge_latest_wins(
    existing: DataFrame,
    incoming: DataFrame,
    natural_key: list[str],
    order_col: str = "__ingest_order",
) -> DataFrame:
    """Upsert without mutable storage: union existing+incoming and keep the
    newest row per natural key (incoming wins ties).

    One shuffle on the natural key. At 100 TB the result is written back
    partition-wise (overwrite-by-partition is idempotent); with Delta
    available, use ``try_delta_merge`` instead.

    Duplicate incoming keys (two incoming rows for one natural key)
    tie-break deterministically on a content hash of the non-key
    columns — without it row_number's winner depends on shuffle order
    and a backfill would not reproduce the merged table byte-for-byte.
    Only incoming rows are hashed: ``existing`` is the output of an
    earlier merge, so it is unique on the natural key and its rows never
    tie with each other, and an incoming row always beats a stored one.
    The hash is NULL on the stored side, which the optimizer folds into
    that side's projection, so a stored table's payload (the segments'
    ``data`` blob) is never hashed. Map-typed payload columns are
    excluded from that hash (Spark disallows hashing MapType — its
    iteration order is undefined, so a map hash could not be
    deterministic anyway); rows identical except for a map column
    therefore tie-break on the remaining payload.
    """
    ex = existing.withColumn(order_col, F.lit(0))
    inc = incoming.withColumn(order_col, F.lit(1))
    all_rows = ex.unionByName(inc, allowMissingColumns=True)
    payload_cols = [c for c in all_rows.columns
                    if c not in natural_key and c != order_col]
    hashable = [c for c in payload_cols
                if not _contains_map(all_rows.schema[c].dataType)]
    if payload_cols and not hashable:
        import warnings
        warnings.warn(
            "merge_latest_wins: every payload column is map-typed "
            f"({payload_cols}) — no content-hash tie-break is possible, "
            "so the winner among same-side duplicate keys is "
            "shuffle-order-dependent (NOT replayable)", stacklevel=2)
    tiebreak = (F.when(F.col(order_col) == 1,
                       F.xxhash64(*[F.col(c) for c in hashable]))
                if hashable else F.lit(0))
    w = Window.partitionBy(*natural_key).orderBy(
        F.col(order_col).desc(), tiebreak.desc())
    return (all_rows.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn", order_col))


def try_delta_merge(spark, target_path: str, incoming: DataFrame,
                    natural_key: list[str]) -> bool:
    """Real MERGE INTO when Delta Lake is on the classpath; returns False
    (caller falls back to merge_latest_wins) when it is not."""
    try:
        from delta.tables import DeltaTable  # type: ignore
    except ImportError:
        return False
    target = DeltaTable.forPath(spark, target_path)
    cond = " AND ".join(f"t.{k} = s.{k}" for k in natural_key)
    (target.alias("t").merge(incoming.alias("s"), cond)
     .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())
    return True


def sync_surrogate_ids(
    existing: DataFrame,
    incoming: DataFrame,
    natural_key: list[str],
    id_col: str = "id",
) -> DataFrame:
    """Fetch-or-create surrogate keys (reference syncdf, pdsql.py:214-348):
    rows of ``incoming`` matching ``existing`` on the natural key get the
    existing id; the rest get max(existing.id) + 1, +2, ... in natural-key
    order — deterministic, and safe on immutable storage (no
    autoincrement round-trips, reference H6).

    One left join to the stored ids, then one ``global_order_index`` over
    every joined row ordered by (stored id IS NOT NULL, natural key): the
    fresh rows come first and take indices 1..n_fresh in key order, and
    each row's id is coalesce(stored id, max(id) + index). One range
    partitioning and one read of ``incoming``, so an initial load where
    EVERY row is fresh still distributes — no single-partition global
    window. The index is materialized when this is called (see
    ``global_order_index``), as is the max(id) scalar; the result is a
    narrow projection over that materialization.

    The existing-ids side is NOT force-broadcast: in the reference this op
    syncs both small dims (events, stations) and the segments fact table;
    at 100 TB the latter must shuffle-join (AQE picks broadcast when the
    ids projection is small enough)."""
    ids = existing.select(*natural_key, F.col(id_col).alias("__existing_id"))
    joined = incoming.drop(id_col).join(ids, natural_key, "left")
    # max(id) as the top id: a top-1 runs one job where a global
    # aggregate runs two, and none at all over an empty LocalRelation
    top = existing.select(id_col).orderBy(F.col(id_col).desc_nulls_last())
    max_id = (top.first() or [None])[0] or 0
    indexed = global_order_index(
        joined, [F.col("__existing_id").isNotNull(), *natural_key], "__idx")
    return (indexed.withColumn(id_col, F.coalesce(
                F.col("__existing_id"), F.col("__idx") + F.lit(max_id)))
            .drop("__existing_id", "__idx"))


def update_skip_unchanged(
    incoming: DataFrame,
    existing: DataFrame,
    natural_key: list[str],
    compare_col: str | list[str] = "download_code",
) -> DataFrame:
    """Drop incoming rows whose ``compare_col`` value(s) ALL equal the
    stored ones (reference H15, download/modules/segments.py:99-115:
    useless UPDATEs are the dominant write cost on re-downloads).

    ``compare_col`` may be a list: a row is kept when ANY compared
    column differs — the download pipeline compares the code AND the
    request bounds, because a re-download triggered by a changed window
    must persist even when the HTTP code is unchanged (otherwise the
    new data is thrown away and the bounds stay stale, re-triggering
    the same re-download forever).

    A match marker distinguishes "no existing row" (always keep) from
    "existing value is NULL" (keep only if the incoming value differs,
    NULL-safely)."""
    cols = [compare_col] if isinstance(compare_col, str) else list(compare_col)
    ex = existing.select(*natural_key,
                         *[F.col(c).alias(f"__old_{c}") for c in cols],
                         F.lit(True).alias("__matched"))
    out = incoming.join(ex, natural_key, "left")
    diff = None
    for c in cols:
        d = ~F.col(c).eqNullSafe(F.col(f"__old_{c}"))
        diff = d if diff is None else (diff | d)
    changed = F.col("__matched").isNull() | diff
    return out.filter(changed).drop("__matched",
                                    *[f"__old_{c}" for c in cols])
