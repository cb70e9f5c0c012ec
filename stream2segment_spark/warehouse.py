"""Warehouse management: download-execution bookkeeping and class-label
CRUD over the parquet warehouse — the Spark-era analogues of the
reference's download/db/management.py (``drop``, ``classlabels``) and
download/db/inspection/main.py (``summary`` / ``log`` / ``config``
selection by download id or run-time-ordered index).

The bookkeeping tables (``downloads``, ``class_labels``,
``class_labellings``) are tiny driver-grain tables — one row per download
execution / label — so they are read and written driver-side with pyarrow
(single parquet file, atomic tmp+rename replace). Spark and DuckDB read
them like any other warehouse table; the BIG tables (segments) are only
ever touched through Spark plans (see :func:`drop_downloads`).
"""

from __future__ import annotations

import datetime as _dt
import os
import threading
import uuid
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq

# mirrors schema.DOWNLOADS (the reference Download model) INCLUDING the
# warnings/errors counters an import-db warehouse carries — a narrower
# bookkeeping schema made record_download crash on imported warehouses
# (pyarrow cast: field names not matching)
DOWNLOADS_FIELDS = (
    ("id", pa.int64()),
    ("run_time", pa.timestamp("us")),
    ("log", pa.string()),
    ("warnings", pa.int64()),
    ("errors", pa.int64()),
    ("config", pa.string()),
    ("program_version", pa.string()),
)
CLASS_LABELS_FIELDS = (
    ("id", pa.int64()),
    ("label", pa.string()),
    ("description", pa.string()),
)

CLASS_LABELLINGS_FIELDS = (
    ("id", pa.int64()),
    ("segment_id", pa.int64()),
    ("class_id", pa.int64()),
    ("is_hand_labelled", pa.bool_()),
    ("annotator", pa.string()),
)

_SCHEMAS = {
    "downloads": pa.schema(DOWNLOADS_FIELDS),
    "class_labels": pa.schema(CLASS_LABELS_FIELDS),
    "class_labellings": pa.schema(CLASS_LABELLINGS_FIELDS),
}


def _align_to(table: "pa.Table", schema: "pa.Schema") -> "pa.Table":
    """Project ``table`` onto ``schema``: present columns cast, absent
    ones filled with typed nulls — tolerant of warehouses written by
    older versions or by import-db with the wider reference layout."""
    cols = {}
    for f in schema:
        if f.name in table.column_names:
            cols[f.name] = table.column(f.name).cast(f.type)
        else:
            cols[f.name] = pa.nulls(len(table), f.type)
    return pa.table(cols)


def _local(path: str) -> str:
    """A path or ``file:`` URI as the local path pyarrow and ``os`` take
    (Spark reads and writes the same tables under either form). The one
    rule for driver-side warehouse I/O: it has no other filesystem, so
    any other scheme (``hdfs://``, ``s3a://``) raises a ValueError
    before anything is read or written."""
    url = urlparse(path)
    if url.scheme == "file":
        return url.path
    if url.scheme:
        raise ValueError(
            f"{path}: driver-side warehouse I/O takes a local path or a "
            f"file: URI, not the {url.scheme!r} scheme")
    return path


def _path(warehouse: str, name: str) -> str:
    return os.path.join(_local(warehouse), f"{name}.parquet")


def read_small(warehouse: str, name: str) -> pa.Table:
    """Read a bookkeeping table; empty (typed) table when absent."""
    path = _path(warehouse, name)
    if os.path.isfile(path):
        return pq.read_table(path)
    if os.path.isdir(path):  # Spark-written directory layout
        return pq.ParquetDataset(path).read()
    return _SCHEMAS[name].empty_table()


def _write_small(warehouse: str, name: str, table: pa.Table) -> None:
    os.makedirs(_local(warehouse), exist_ok=True)
    _replace_file(warehouse, name, table)


def _next_id(table: pa.Table) -> int:
    ids = table.column("id").to_pylist() if table.num_rows else []
    return (max(ids) + 1) if ids else 1


def record_download(warehouse: str, log_text: str, config_text: str,
                    program_version: str = "",
                    did: int | None = None) -> int:
    """Append one download-execution row (the reference's Download model:
    id, run_time, log, config, program_version) and return its id. Pass
    ``did`` when the id was pre-allocated (to stamp segments mid-run)."""
    existing = read_small(warehouse, "downloads")
    if did is None:
        did = _next_id(existing)
    row = pa.table({
        "id": pa.array([did], pa.int64()),
        "run_time": pa.array([_dt.datetime.now(_dt.timezone.utc)
                              .replace(tzinfo=None)], pa.timestamp("us")),
        "log": pa.array([log_text], pa.string()),
        "warnings": pa.nulls(1, pa.int64()),
        "errors": pa.nulls(1, pa.int64()),
        "config": pa.array([config_text], pa.string()),
        "program_version": pa.array([program_version], pa.string()),
    })
    _write_small(warehouse, "downloads", pa.concat_tables(
        [_align_to(existing, row.schema), row]))
    return did


def resolve_downloads(warehouse: str, ids=None, indices=None) -> list[dict]:
    """Select download-execution rows by id and/or run-time-ordered index
    (0 = oldest, -1 = latest — the reference's download_indices contract).
    No selector -> all executions, oldest first."""
    table = read_small(warehouse, "downloads")
    rows = sorted(table.to_pylist(), key=lambda r: (r["run_time"], r["id"]))
    if not ids and not indices:
        return rows
    picked: dict[int, dict] = {}
    for did in (ids or ()):
        match = [r for r in rows if r["id"] == did]
        if not match:
            raise KeyError(f"no download execution with id {did}")
        picked[match[0]["id"]] = match[0]
    for idx in (indices or ()):
        try:
            r = rows[idx]
        except IndexError:
            raise KeyError(f"no download execution at index {idx} "
                           f"({len(rows)} executions)") from None
        picked[r["id"]] = r
    return sorted(picked.values(), key=lambda r: (r["run_time"], r["id"]))


def drop_downloads(spark, warehouse: str, ids: list[int]) -> dict[int, int]:
    """Delete download executions and their segments — the reference's
    ``s2s db drop``. Returns {download_id: n_segments_deleted}.

    The segments rewrite is a Spark filtered overwrite (localCheckpoint
    breaks the read-from-what-we-overwrite cycle); at scale, a warehouse
    partitioned by download_id turns this into partition drops."""
    from pyspark.sql import functions as F

    resolve_downloads(warehouse, ids=ids)  # raises on unknown id
    seg_path = _path(warehouse, "segments")
    counts = {did: 0 for did in ids}
    if os.path.exists(seg_path):
        segs = spark.read.parquet(seg_path)
        if "download_id" in segs.columns:
            per = {r["download_id"]: r["n"] for r in
                   segs.filter(F.col("download_id").isin(ids))
                       .groupBy("download_id").agg(F.count("*").alias("n"))
                       .collect()}
            counts.update({d: per.get(d, 0) for d in ids})
            kept = segs.filter(~F.col("download_id").isin(ids)
                               | F.col("download_id").isNull())
            kept = kept.localCheckpoint(eager=True)
            kept.write.mode("overwrite").parquet(seg_path)
    remaining = [r for r in read_small(warehouse, "downloads").to_pylist()
                 if r["id"] not in set(ids)]
    _write_small(warehouse, "downloads", pa.Table.from_pylist(
        remaining, schema=_SCHEMAS["downloads"]))
    return counts


def classlabels(warehouse: str, add: dict[str, str] | None = None,
                rename: dict[str, tuple[str, str | None]] | None = None,
                delete: list[str] | None = None) -> dict[str, str]:
    """Add / rename / delete class labels — the reference's
    ``s2s db classlabel`` (download/db/management.py). ``rename`` maps
    old_label -> (new_label, new_description_or_None_to_keep). Deleting a
    label also removes its class_labellings rows (segment annotations).
    Returns the resulting {label: description} mapping."""
    table = read_small(warehouse, "class_labels")
    rows = {r["label"]: r for r in table.to_pylist()}
    removed_ids: list[int] = []
    for label in (delete or ()):
        row = rows.pop(label, None)
        if row is not None:
            removed_ids.append(row["id"])
    for old, (new, desc) in (rename or {}).items():
        if old not in rows:
            raise KeyError(f"no class label {old!r}")
        if new != old and new in rows:
            # the reference DB enforces label uniqueness; silently
            # overwriting would orphan the target's class_labellings
            raise ValueError(f"class label {new!r} already exists")
        row = rows.pop(old)
        row["label"] = new
        if desc:
            row["description"] = desc
        rows[new] = row
    next_id = max([r["id"] for r in rows.values()], default=0) + 1
    for label, desc in (add or {}).items():
        if label in rows:  # add-or-update, like the reference's upsert
            rows[label]["description"] = desc
        else:
            rows[label] = {"id": next_id, "label": label,
                           "description": desc}
            next_id += 1
    out = sorted(rows.values(), key=lambda r: r["id"])
    _write_small(warehouse, "class_labels", pa.Table.from_pylist(
        out, schema=_SCHEMAS["class_labels"]))
    if removed_ids:
        ll_path = _path(warehouse, "class_labellings")
        if os.path.exists(ll_path):
            import pyarrow.compute as pc
            ll = pq.ParquetDataset(ll_path).read()
            kept = ll.filter(pc.invert(pc.is_in(
                ll.column("class_id"),
                value_set=pa.array(removed_ids, pa.int64()))))
            _replace_file(warehouse, "class_labellings", kept)
    return {r["label"]: r["description"] for r in out}


def labellings(warehouse: str, segment_id: int | None = None) -> list[dict]:
    """class_labellings rows (optionally for one segment), as dicts."""
    rows = read_small(warehouse, "class_labellings").to_pylist()
    if segment_id is not None:
        rows = [r for r in rows if r["segment_id"] == segment_id]
    return rows


_LABELLING_LOCK = threading.Lock()


def set_labelling(
    warehouse: str,
    segment_id: int,
    label: str,
    value: bool,
    annotator: str | None = None,
) -> list[str]:
    """Hand-label one segment with a class label (or remove the label
    when ``value`` is False) — the reference GUI's ``set_class_id``
    (process/gui/webapp/mainapp/core.py:354-415, views.py:109-115)
    against the parquet warehouse. The label must already exist in
    ``class_labels`` (create it with :func:`classlabels`). Returns the
    segment's resulting label list."""
    with _LABELLING_LOCK:
        return _set_labelling_locked(warehouse, segment_id, label, value,
                                     annotator)


def _set_labelling_locked(warehouse, segment_id, label, value, annotator):
    # read-modify-write of the whole labellings file: serialized within
    # this process (the show server's ThreadingHTTPServer fires one POST
    # per checkbox; unserialized handlers would lose each other's rows)
    classes = {r["label"]: r["id"]
               for r in read_small(warehouse, "class_labels").to_pylist()}
    if label not in classes:
        raise KeyError(f"no class label {label!r}; add it first "
                       f"(s2s db-classlabel --add)")
    cid = classes[label]
    by_id = {v: k for k, v in classes.items()}
    rows = read_small(warehouse, "class_labellings").to_pylist()
    present = [r for r in rows
               if r["segment_id"] == segment_id and r["class_id"] == cid]
    if value and not present:
        rows.append({"id": _next_id_of(rows), "segment_id": segment_id,
                     "class_id": cid, "is_hand_labelled": True,
                     "annotator": annotator})
    elif not value and present:
        rows = [r for r in rows
                if not (r["segment_id"] == segment_id
                        and r["class_id"] == cid)]
    _write_small(warehouse, "class_labellings", pa.Table.from_pylist(
        rows, schema=_SCHEMAS["class_labellings"]))
    return sorted(by_id[r["class_id"]] for r in rows
                  if r["segment_id"] == segment_id and r["class_id"] in by_id)


def _next_id_of(rows: list[dict]) -> int:
    return max([r["id"] for r in rows], default=0) + 1


def _replace_file(warehouse: str, name: str, table: pa.Table) -> None:
    path = _path(warehouse, name)
    if os.path.isdir(path):
        import shutil
        shutil.rmtree(path)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    pq.write_table(table, tmp)
    os.replace(tmp, path)
