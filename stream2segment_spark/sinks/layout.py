"""Range-clustered parquet layout: sorted storage for range-pruned scans.

The complement of :mod:`.bucketed` (which co-locates JOIN keys): this
sink clusters rows by a RANGE key so that every parquet file's min/max
footer statistics for that key are tight and pairwise disjoint. A
range predicate on the key (time windows, id ranges, score bands) then
prunes whole files at scan time — at 100 TB the difference between
"read the 3 files overlapping the window" and "open every file because
each one spans the whole key domain" (a hash layout's footer stats are
useless: every file's min..max covers everything).

``repartitionByRange`` samples the key distribution, so file boundaries
track the DATA quantiles (skew-balanced file sizes), and
``sortWithinPartitions`` additionally makes every ROW GROUP's stats
tight inside each file, enabling row-group-level pruning within the
surviving files. One range exchange at write time buys every future
range scan.

Layout choice rule of thumb: bucket by the key you JOIN on, range-sort
by the key you FILTER on; when both matter, bucket then sort within
buckets (write_bucketed(sort=True) already does the in-bucket sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_range_layout(df: DataFrame, path: str, key: str | list[str],
                       num_files: int, *, mode: str = "overwrite") -> None:
    """Persist ``df`` at ``path`` clustered into ``num_files`` range
    partitions of ``key`` (quantile-sampled boundaries), sorted within
    each file. Footer min/max intervals for ``key`` are disjoint across
    files (modulo boundary ties), so range filters prune whole files.

    Size ``num_files`` for the target scale: ~128-512 MB per file at
    rest (too few caps scan parallelism; too many makes small files and
    bloats the footer-listing phase)."""
    keys = [key] if isinstance(key, str) else list(key)
    if num_files <= 0:
        raise ValueError(f"num_files must be positive, got {num_files}")
    (df.repartitionByRange(num_files, *[F.col(k) for k in keys])
       .sortWithinPartitions(*keys)
       .write.mode(mode).parquet(path))


def int_cell(col, lo: int, hi: int, bits: int = 12):
    """Map an integer column with known domain ``[lo, hi]`` onto the
    ``[0, 2^bits]`` cell grid: ``((x - lo) * (2^bits - 1)) div
    (hi - lo)``, clamped. Computed as ``floor(a / b)`` over exact
    integer doubles, which equals true integer division whenever
    ``a < 2^53`` (proof: a = q*b + r with r < b; fl(a/b) can only cross
    the q+1 boundary if a/b is within half an ULP of q+1, i.e.
    ``1/b <= (q+1) * 2^-54``, impossible since ``b*(q+1) <= a + b <
    2^54``) — so the value is engine-exact and an oracle may replay it
    with native integer ``//``. The domain guard enforces the 2^53
    bound. Inputs outside the domain clamp to the edge cells; NULL
    stays NULL (callers decide)."""
    if hi <= lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    if not 1 <= bits <= 20:
        raise ValueError(f"bits must be in [1, 20], got {bits}")
    top = (1 << bits) - 1
    if (hi - lo) * top >= (1 << 53):
        raise ValueError(f"(hi - lo) * (2^bits - 1) must stay below 2^53 "
                         f"for exact division, got {(hi - lo) * top}")
    x = F.least(F.greatest(col.cast("long"), F.lit(lo)), F.lit(hi))
    a = (x - F.lit(lo)) * F.lit(top)
    cell = F.floor(a.cast("double") / F.lit(float(hi - lo))).cast("long")
    # Spark greatest/least SKIP nulls, so without the explicit gate a
    # NULL input clamps to lo and lands in cell 0 — violating the
    # documented 'NULL stays NULL' contract and silently clustering all
    # null-keyed rows into the low-corner files
    return F.when(col.isNull(), F.lit(None).cast("long")).otherwise(cell)


def zorder_key(cells: list, bits: int = 12):
    """Interleave the bits of 2-4 cell columns (each a non-negative
    integer < ``2^bits``, e.g. from :func:`int_cell`) into one Morton /
    Z-order key: bit ``i`` of column ``j`` lands at position
    ``i * n + j``. Rows close in the key are close in EVERY dimension,
    so sorting storage by it gives every clustered column tight
    per-file min/max footer stats at once — the multi-column
    generalization of :func:`write_range_layout` (which is perfect for
    one filter column and useless for the second).

    Built entirely from JVM-side shift/and/or integer expressions
    (whole-stage-codegen friendly; bit-replayable in any engine's SQL).
    Total key width ``bits * n`` must fit a signed 64-bit long."""
    n = len(cells)
    if not 2 <= n <= 4:
        raise ValueError(f"z-order needs 2-4 columns, got {n}")
    if bits * n > 62:
        raise ValueError(f"bits * n_cols = {bits * n} exceeds 62")
    out = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cells):
            bit = F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, i * n + j))
    return out


def write_zorder_layout(df: DataFrame, path: str,
                        cells: dict[str, "object"], num_files: int, *,
                        bits: int = 12, mode: str = "overwrite") -> None:
    """Persist ``df`` clustered by the Z-order key of the given cell
    expressions (``{col_name: cell Column}``; see :func:`int_cell`):
    one range exchange on the interleaved key, sorted within files, key
    dropped on write. Every clustered column then prunes files via
    footer stats — a 2D box predicate at 100 TB touches the
    O(perimeter) files straddling the box, not every file the way a
    single-column sort leaves the second column scattered."""
    if num_files <= 0:
        raise ValueError(f"num_files must be positive, got {num_files}")
    z = zorder_key(list(cells.values()), bits=bits)
    (df.withColumn("__z", z)
       .repartitionByRange(num_files, F.col("__z"))
       .sortWithinPartitions("__z")
       .drop("__z")
       .write.mode(mode).parquet(path))


def file_key_ranges(path: str, key: str) -> list[tuple[str, object, object]]:
    """Driver-side audit: each parquet file's (file, min, max) footer
    statistics for ``key`` — the intervals scan pruning works with.
    Used by tests to prove disjointness; handy for layout debugging."""
    import os

    import pyarrow.parquet as pq

    from stream2segment_spark.warehouse import _local
    path = _local(path)
    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        if key not in idx:
            raise KeyError(f"{key} not in {name} schema")
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx[key]).statistics
            if st is None or not st.has_min_max:
                return []  # stats unavailable: nothing to audit
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            out.append((name, lo, hi))
    return out
