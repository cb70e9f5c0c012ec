"""Output writers — Spark form of the reference's CSV/HDF sinks
(process/writers.py:127-336).

Contract kept from the reference: the segment id column is named
``segment_db_id`` and comes first (writers.py:14); append mode skips
already-written segment ids (``already_processed_segments``,
writers.py:82-86/170-189/290-296) via a distributed anti-join instead of a
driver-side id array.

HDF is replaced by parquet (columnar, splittable, predicate-pushdown);
the 10k-row HDF buffering (H5) is moot under bulk columnar writes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream2segment_spark.process import SEGMENT_ID_COLNAME


def _fmt(outfile: str) -> str:
    ext = os.path.splitext(outfile)[1].lower()
    if ext in (".csv",):
        return "csv"
    if ext in (".parquet", ".pq", ""):
        return "parquet"
    raise ValueError(f"unsupported output extension {ext!r} "
                     "(use .csv or .parquet)")


def write_output(df: DataFrame, outfile: str, append: bool = False) -> None:
    """Write results with segment_db_id first. ``append=True`` adds new
    rows (the caller is responsible for having anti-joined already-written
    ids; see :func:`already_processed_ids`)."""
    cols = [SEGMENT_ID_COLNAME] + [c for c in df.columns
                                   if c != SEGMENT_ID_COLNAME]
    out = df.select(*cols)
    mode = "append" if append else "overwrite"
    if _fmt(outfile) == "csv":
        out.write.mode(mode).option("header", True).csv(outfile)
    else:
        out.write.mode(mode).parquet(outfile)


def already_processed_ids(spark: SparkSession, outfile: str) -> DataFrame | None:
    """The segment_db_id values already present in ``outfile`` (None if
    the output does not exist yet) — the K3 incremental-append input,
    meant for a ``left_anti`` join: an id written twice is returned
    twice, which that join does not mind, so no distinct (a shuffle and
    an aggregate) runs. The existence check goes through the path's
    Hadoop FileSystem, so a URI outfile (``file://``, ``hdfs://``,
    ``s3a://``) is found as well as a plain path.

    A parquet output is read with the writer contract's schema
    (``segment_db_id`` long, see :func:`write_output`) instead of
    inferring it from the file footers, which would be a Spark job of
    its own; a CSV output is read as text and cast."""
    path = spark._jvm.org.apache.hadoop.fs.Path(outfile)
    if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        return None
    if _fmt(outfile) == "csv":
        df = spark.read.option("header", True).csv(outfile)
        return df.select(F.col(SEGMENT_ID_COLNAME).cast("long")
                         .alias(SEGMENT_ID_COLNAME))
    return spark.read.schema(f"{SEGMENT_ID_COLNAME} long").parquet(outfile)
