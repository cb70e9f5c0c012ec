"""One-shot exporter from the parquet warehouse back to a stream2segment
SQLite database (the reference's storage layer, io/db/models.py:149-478)
— the round-trip companion of ``sources/dbimport.py``.

Why: the reference's interactive GUI (``s2s show``, a Flask webapp) and
any user tooling built on the reference's ORM read SQLite/Postgres. With
``export-db``, a corpus downloaded/processed at Spark scale can be
handed back to that ecosystem: process here, browse there.

Like the importer, this is deliberately driver-side stdlib ``sqlite3``:
an sqlite file is a single-writer B-tree — a Spark job cannot
parallelize writing one, so streaming pyarrow record batches through
``executemany`` in one transaction per table is the fastest correct
shape. Blob-heavy segments stream in bounded batches.

DDL fidelity: tables get the reference's column set, SQLite type
affinities, primary keys and unique constraints (io/db/models.py:149-478
constraint list), so a re-import — by this engine or by the reference's
SQLAlchemy models — sees the data it expects. Timestamps are written as
``YYYY-MM-DD HH:MM:SS.ffffff`` strings (SQLAlchemy's SQLite DateTime
storage format); booleans as 0/1.
"""

from __future__ import annotations

import math
import os
import sqlite3

import pyarrow.parquet as pq

from stream2segment_spark.sources.dbimport import TABLES
from stream2segment_spark.warehouse import _local

# unique constraints per reference table (io/db/models.py: events :210,
# data_centers :245, stations :314, channels :344, segments :442,
# classes :454, web_services :232, class_labellings :476)
_UNIQUES: dict[str, tuple[str, ...]] = {
    "web_services": ("url",),
    "events": ("webservice_id", "event_id"),
    "data_centers": ("station_url", "dataselect_url"),
    "stations": ("network", "station", "start_time"),
    "channels": ("station_id", "location", "channel"),
    "segments": ("channel_id", "event_id"),
    "classes": ("label",),
    "class_labellings": ("segment_id", "class_id"),
}

_AFFINITY = {
    "bigint": "INTEGER", "double": "FLOAT", "string": "VARCHAR",
    "timestamp": "DATETIME", "boolean": "BOOLEAN", "binary": "BLOB",
}


def _ddl(ref_table: str, sp_schema) -> str:
    cols = []
    for f in sp_schema.fields:
        aff = _AFFINITY[f.dataType.simpleString()]
        if f.name == "id":
            cols.append("id INTEGER NOT NULL PRIMARY KEY")
        else:
            cols.append(f"{f.name} {aff}")
    uq = _UNIQUES.get(ref_table)
    if uq:
        cols.append(f"UNIQUE ({', '.join(uq)})")
    return f"CREATE TABLE {ref_table} ({', '.join(cols)})"


def _to_sql_value(v, kind: str):
    if v is None:
        return None
    if kind == "timestamp":
        # pyarrow timestamp -> pandas Timestamp / datetime
        try:
            v = v.to_pydatetime()
        except AttributeError:
            pass
        if v.tzinfo is not None:
            v = v.replace(tzinfo=None)
        # SQLAlchemy's sqlite DateTime always stores microseconds
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if kind == "boolean":
        return int(v)
    if kind == "double" and isinstance(v, float) and math.isnan(v):
        return None
    return v


def export_sqlite(warehouse: str, db_path: str,
                  batch_rows: int = 20_000) -> dict[str, int]:
    """Write every warehouse table that exists to ``db_path`` (created
    fresh; refuses to overwrite an existing file). Returns
    {reference_table: n_rows}."""
    warehouse = _local(warehouse)
    if os.path.exists(db_path):
        raise FileExistsError(
            f"{db_path} exists — refusing to overwrite a database")
    con = sqlite3.connect(db_path)
    counts: dict[str, int] = {}
    try:
        return _export_tables(con, warehouse, batch_rows, counts)
    except BaseException:
        # never leave a truncated-but-valid-looking database behind (the
        # overwrite guard would then also block the retry)
        con.close()
        if os.path.exists(db_path):
            os.unlink(db_path)
        raise
    finally:
        con.close()


def _export_tables(con, warehouse: str, batch_rows: int,
                   counts: dict[str, int]) -> dict[str, int]:
    for ref_table, (wh_table, sp_schema) in TABLES.items():
        src = os.path.join(warehouse, f"{wh_table}.parquet")
        if not os.path.exists(src):
            continue
        con.execute(_ddl(ref_table, sp_schema))
        # Spark writes <table>.parquet as a DIRECTORY of part files;
        # pq.ParquetFile only opens single files. Iterate every part so
        # export works on both layouts (bookkeeping tables are single
        # files, Spark-written data tables are directories).
        if os.path.isdir(src):
            parts = sorted(
                os.path.join(src, f) for f in os.listdir(src)
                if f.endswith(".parquet"))
        else:
            parts = [src]
        if not parts:
            counts[ref_table] = 0
            continue
        first = pq.ParquetFile(parts[0])
        want = [f.name for f in sp_schema.fields
                if f.name in first.schema_arrow.names]
        kinds = {f.name: f.dataType.simpleString()
                 for f in sp_schema.fields}
        ins = (f"INSERT INTO {ref_table} ({', '.join(want)}) "
               f"VALUES ({', '.join('?' * len(want))})")
        n = 0
        for batch in (b for part in parts
                      for b in pq.ParquetFile(part).iter_batches(
                          batch_size=batch_rows, columns=want)):
            data = {name: batch.column(i).to_pylist()
                    for i, name in enumerate(batch.schema.names)}
            rows = [
                tuple(_to_sql_value(data[w][i], kinds[w])
                      for w in want)
                for i in range(batch.num_rows)]
            con.executemany(ins, rows)
            n += len(rows)
        con.commit()
        counts[ref_table] = n
    return counts
