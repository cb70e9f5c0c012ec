"""FDSN station/event text-format parsing (SURVEY S1).

The FDSN web services return '|'-separated text with '#' comment lines
(reference parser: download/modules/utils.py:251-383). Spark-first shape:
the raw lines are rows of a DataFrame (however they arrived — CSV read,
fetch UDF output, streaming source) and parsing is a split + cast + na.drop
projection, so a 100 TB backfill of response bodies parses fully
distributed with no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# column layouts of the FDSN text formats (event / station / channel level)
EVENT_COLS = [
    ("event_id", "string"), ("time", "timestamp"), ("latitude", "double"),
    ("longitude", "double"), ("depth_km", "double"), ("author", "string"),
    ("catalog", "string"), ("contributor", "string"),
    ("contributor_id", "string"), ("mag_type", "string"),
    ("magnitude", "double"), ("mag_author", "string"),
    ("event_location_name", "string"),
]
# non-nullable per the reference's harmonization (rows with NA dropped)
EVENT_REQUIRED = ["event_id", "time", "latitude", "longitude", "depth_km",
                  "magnitude"]

CHANNEL_COLS = [
    ("network", "string"), ("station", "string"), ("location", "string"),
    ("channel", "string"), ("latitude", "double"), ("longitude", "double"),
    ("elevation", "double"), ("depth", "double"), ("azimuth", "double"),
    ("dip", "double"), ("sensor_description", "string"),
    ("scale", "double"), ("scale_freq", "double"), ("scale_units", "string"),
    ("sample_rate", "double"), ("start_time", "timestamp"),
    ("end_time", "timestamp"),
]
CHANNEL_REQUIRED = ["network", "station", "channel", "latitude", "longitude",
                    "sample_rate", "start_time"]


def parse_fdsn_lines(
    lines: DataFrame,
    columns: list[tuple[str, str]],
    required: list[str],
    line_col: str = "value",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Parse a DataFrame of FDSN text lines into a typed frame.

    Behavior per the reference (utils.py:251-383): '#'-prefixed lines and
    blanks are comments; fields are '|'-separated; empty strings are NULL
    for non-string columns; rows missing a required (non-nullable) value
    are dropped. All pure expressions. ``keep_cols`` pass through untouched
    (e.g. the datacenter a multi-source ingest tagged each line with)."""
    data = lines.filter(
        (~F.col(line_col).startswith("#")) & (F.trim(F.col(line_col)) != ""))
    parts = F.split(F.col(line_col), r"\|")
    out = data.select(*[
        _cast_field(parts.getItem(i), dtype).alias(name)
        for i, (name, dtype) in enumerate(columns)
    ], *[F.col(c) for c in (keep_cols or [])])
    return out.na.drop(subset=required)


def _cast_field(col, dtype: str):
    c = F.trim(col)
    if dtype == "string":
        return c
    c = F.when(c == "", None).otherwise(c)
    if dtype == "timestamp":
        # FDSN uses ISO-8601 with 'T'; to_timestamp handles both variants
        return F.to_timestamp(F.regexp_replace(c, "T", " "))
    return c.cast(dtype)


def to_fdsn_lines(df: DataFrame, columns: list[tuple[str, str]]) -> DataFrame:
    """Inverse of the parser (serializer) — used by tests/the gate for a
    lossless round-trip check and by sinks that re-emit FDSN text.
    NULL serializes as the empty field, which the parser maps back to NULL
    for non-string columns (string NULLs round-trip as '')."""
    cols = []
    for name, dtype in columns:
        c = F.col(name)
        if dtype == "timestamp":
            c = F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        cols.append(F.coalesce(c.cast("string"), F.lit("")))
    return df.select(F.concat_ws("|", *cols).alias("value"))
