"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster:
AQE on (runtime re-plan + skew-join splitting + partition coalescing),
shuffle partitions sized to the parallelism actually available, Arrow
enabled for every pandas-UDF boundary, and UTC session time so results
are comparable across engines (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: re-plan joins/shuffles at runtime from observed statistics.
    # At 100 TB this converts sort-merge joins to broadcast when a filtered
    # side turns out small, splits skewed partitions, and coalesces tiny ones.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Shuffle/persist/broadcast block codec (r9 optimization round,
    # guide §2.3): zstd's ratio beats lz4's speed even locally once an
    # entry moves real shuffle or checkpoint bytes — separate-process
    # A/B at sf0.1: corpus_funnel_incremental 18.1/19.2 s (lz4) vs
    # 16.1/14.8 s (zstd), ccnet −10%, small-shuffle entries noise. At
    # cluster scale the byte saving also cuts network time (§2.2).
    "spark.io.compression.codec": "zstd",
    # Arrow for pandas UDFs / toPandas: columnar batches instead of pickled rows.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic cross-engine comparisons (DuckDB is UTC-naive).
    "spark.sql.session.timeZone": "UTC",
    # Parquet TIMESTAMP(NANOS) (unsupported by Spark) surfaces as LongType
    # nanos; readers convert to microsecond timestamps (see schema.load_tables).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Quiet, headless runs.
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "stream2segment_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores); ``shuffle_partitions`` defaults to the local parallelism so tiny
    test data is not over-parallelized — on a real cluster this should be
    ~2-3x total executor cores instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 1)

    # Local mode runs every task thread inside the driver JVM, whose heap
    # defaults to 1g: 32 concurrent tasks then share ~400 MB of unified
    # execution memory and shuffle writes die with UNABLE_TO_ACQUIRE_MEMORY
    # under load. Size the heap like the executor of a real cluster node
    # instead, within what the host has. Only effective when this call
    # launches the JVM (fresh process); ignored on an already-running
    # session, like any JVM conf.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") \
        or default_driver_mem()

    # workers unpickle engine closures by module reference: make the
    # package importable in worker processes regardless of the caller's cwd
    pkg_parent = str(Path(__file__).resolve().parents[1])
    prev = os.environ.get("PYTHONPATH")
    if pkg_parent not in (prev or "").split(":"):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}:{prev}" if prev else pkg_parent)

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf["spark.driver.memory"] = driver_mem
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def default_driver_mem() -> str:
    """Half the host's physical memory in whole GiB, at least 1g and at
    most 32g: a heap past the physical memory (with the off-heap and
    Python worker memory on top) gets the JVM killed, not spilled."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(max(total // 2**31, 1), 32)}g"


def _ship_package(spark: SparkSession) -> None:
    """Distribute this package to executors (the --py-files equivalent for
    programmatic sessions) — required on a real cluster, and in local mode
    whenever the driver's cwd is not the repo root."""
    try:
        pkg_dir = Path(__file__).resolve().parent
        zip_path = Path(tempfile.gettempdir()) / "stream2segment_spark_pkg"
        archive = shutil.make_archive(str(zip_path), "zip",
                                      root_dir=pkg_dir.parent,
                                      base_dir=pkg_dir.name)
        spark.sparkContext.addPyFile(archive)
    except Exception:  # non-fatal: PYTHONPATH usually suffices in local mode
        pass
