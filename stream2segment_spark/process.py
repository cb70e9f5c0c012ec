"""The per-segment processing engine — Spark form of the reference's
flagship API ``process(pyfunc, dburl, segments_selection, ...)`` /
``imap(...)`` (process/main.py:46-246).

Reference lifecycle (SURVEY §3.1): selection query -> ids -> append-mode
anti-join -> 600-row chunks -> per-row ``pyfunc(segment, config)`` with
multiprocessing -> CSV/HDF writer. Spark shape: the chunking, id-fetching,
session-cache and multiprocessing machinery disappears — selection compiles
to one DataFrame plan that also broadcast-joins the segment's event, channel
and station, execution is ``mapInPandas`` over Arrow batches, and the writer
is a distributed ``df.write``. ``s2s process`` (``cli.cmd_process``) runs
:func:`process` itself, so the CLI and the library share one path.

Error semantics (X2, process/main.py:581-631): ``pyfunc`` raising
:class:`SkipSegment` skips that row (collected to a side channel);
any other exception aborts the whole job.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from stream2segment_spark.schema import SchemaGraph
from stream2segment_spark.selectexpr import SelectionCompiler

SEGMENT_ID_COLNAME = "segment_db_id"  # writer contract (process/writers.py:14)
_ERROR_COL = "s2s_error"
# the dims every processed segment carries (``segment.event.magnitude``)
_DIMS = ("event", "channel", "station")


class SkipSegment(Exception):
    """Raised by user code to skip one segment (reference
    process/db/models.py:49-53); the row lands in the error channel, the
    job continues. Every other exception type aborts the job."""


class SegmentView:
    """One segment row as an attribute-accessible object, including the
    broadcast-joined event/channel/station dimensions (``segment.event.
    magnitude`` etc.) — the Spark stand-in for the reference's ORM segment
    object handed to ``pyfunc``."""

    __slots__ = ("_row", "_prefix")

    def __init__(self, row: dict[str, Any], prefix: str = ""):
        self._row = row
        self._prefix = prefix

    def __getattr__(self, name: str):
        key = self._prefix + name
        if key in self._row:
            return self._row[key]
        nested = f"__{name}__"
        if any(k.startswith(nested) for k in self._row):
            return SegmentView(self._row, nested)
        raise AttributeError(name)

    def get(self, name: str, default=None):
        try:
            return getattr(self, name)
        except AttributeError:
            return default


def _result_rows(res, seg_id) -> list[dict]:
    """Normalize a pyfunc return into output row dicts. dict -> one row;
    list/tuple of dicts or a pandas DataFrame -> multiple rows (UDTF-like,
    reference writers accept multi-row returns, writers.py:302-313);
    None -> no rows."""
    if res is None:
        return []
    if isinstance(res, dict):
        rows = [res]
    elif isinstance(res, pd.DataFrame):
        rows = res.to_dict("records")
    elif isinstance(res, (list, tuple)):
        rows = [r for r in res if r is not None]
    else:
        raise TypeError(
            f"pyfunc must return dict/list[dict]/DataFrame/None, "
            f"got {type(res).__name__}")
    out = []
    for r in rows:
        if not isinstance(r, dict):
            raise TypeError("pyfunc row outputs must be dicts")
        out.append({SEGMENT_ID_COLNAME: seg_id, **r})
    return out


def process_df(
    segments: DataFrame,
    pyfunc: Callable[[SegmentView, dict], Any],
    output_schema: str | T.StructType,
    config: dict | None = None,
    id_col: str = "id",
    collect_errors: bool = False,
) -> DataFrame:
    """Apply ``pyfunc(segment, config)`` to every row of ``segments``
    (already selected/joined), returning a DataFrame of the user outputs
    with ``segment_db_id`` prepended.

    ``output_schema``: DDL string or StructType of the USER columns.
    ``collect_errors``: include skipped rows as
    (segment_db_id, ..nulls.., s2s_error) instead of dropping them.
    """
    user_schema = (T._parse_datatype_string(output_schema)
                   if isinstance(output_schema, str) else output_schema)
    full_schema = T.StructType(
        [T.StructField(SEGMENT_ID_COLNAME, T.LongType(), False)]
        + list(user_schema.fields)
        + [T.StructField(_ERROR_COL, T.StringType(), True)])
    cfg = dict(config or {})
    user_cols = [f.name for f in user_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_rows: list[dict] = []
            for rec in pdf.to_dict("records"):
                seg = SegmentView(rec)
                seg_id = rec[id_col]
                try:
                    out_rows.extend(_result_rows(pyfunc(seg, cfg), seg_id))
                except SkipSegment as exc:  # row-level skip (X2)
                    out_rows.append({SEGMENT_ID_COLNAME: seg_id,
                                     _ERROR_COL: str(exc) or "skipped"})
                # any other exception propagates -> task fails -> job aborts,
                # exactly the reference's abort-on-code-error contract
            yield pd.DataFrame(out_rows, columns=[SEGMENT_ID_COLNAME,
                                                  *user_cols, _ERROR_COL])

    result = segments.mapInPandas(run, full_schema)
    if collect_errors:
        return result
    return result.filter(F.col(_ERROR_COL).isNull()).drop(_ERROR_COL)


def process(
    graph: SchemaGraph,
    dfs: dict[str, DataFrame],
    pyfunc: Callable[[SegmentView, dict], Any],
    output_schema: str | T.StructType,
    segments_selection: dict[str, str] | None = None,
    config: dict | None = None,
    outfile: str | None = None,
    append: bool = False,
) -> DataFrame:
    """Full pipeline: selection (P1) -> broadcast event/channel/station
    joins -> append-mode anti-join (K3) -> mapInPandas (X1/X2) -> optional
    CSV/parquet sink (K1/K2). Skipped segments are neither returned nor
    written. ``append`` with an existing ``outfile`` processes only the
    segments it does not hold yet and adds their rows to it.

    Default selection mirrors the reference's
    ``{'has_valid_data': 'true', 'maxgap_numsamples': '(-0.5, 0.5)'}``
    (process/main.py:442-447).
    """
    if segments_selection is None:
        segments_selection = {"has_valid_data": "true",
                              "maxgap_numsamples": "(-0.5, 0.5)"}
    compiler = SelectionCompiler(graph, dfs, "segments")
    for rel in _DIMS:
        compiler._ensure_join(graph.table("segments").relationships[rel])
    selected = compiler.compile(segments_selection, keep_joined=True)

    done = None
    if append and outfile:
        from stream2segment_spark.sinks.writers import already_processed_ids
        done = already_processed_ids(selected.sparkSession, outfile)
    if done is not None:
        selected = selected.join(
            done.withColumnRenamed(SEGMENT_ID_COLNAME, "id"),
            "id", "left_anti")

    result = process_df(selected, pyfunc, output_schema, config)
    if outfile:
        from stream2segment_spark.sinks.writers import write_output
        if done is not None:
            # the plan READS the file it is about to append to (the
            # already-processed anti-join) — materialize before writing
            result = result.localCheckpoint(eager=True)
        write_output(result, outfile, append=done is not None)
    return result


def imap(
    graph: SchemaGraph,
    dfs: dict[str, DataFrame],
    pyfunc: Callable[[SegmentView, dict], Any],
    output_schema: str | T.StructType,
    segments_selection: dict[str, str] | None = None,
    config: dict | None = None,
) -> Iterator[dict]:
    """Generator of result dicts without a file sink (reference imap,
    process/main.py:197-246): ``toLocalIterator`` streams partitions to the
    driver one at a time."""
    result = process(graph, dfs, pyfunc, output_schema,
                     segments_selection, config)
    for row in result.toLocalIterator():
        yield row.asDict()
