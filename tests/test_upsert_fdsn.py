"""Unit tests for the upsert/key-sync operators (SURVEY K4/K5/H15) and the
FDSN text source (S1) on tiny hand-built frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from stream2segment_spark.operators.upsert import (
    merge_latest_wins, sync_surrogate_ids, update_skip_unchanged)
from stream2segment_spark.sources.fdsn import parse_fdsn_lines, to_fdsn_lines


def test_merge_latest_wins_incoming_wins(spark):
    existing = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id long, k string, v double")
    incoming = spark.createDataFrame(
        [(2, "b", 99.0), (4, "d", 40.0)], "id long, k string, v double")
    out = merge_latest_wins(existing, incoming, ["id"])
    rows = {r["id"]: r["v"] for r in out.collect()}
    assert rows == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}


def test_merge_latest_wins_missing_cols(spark):
    existing = spark.createDataFrame([(1, "x")], "id long, extra string")
    incoming = spark.createDataFrame([(1,), (2,)], "id long")
    out = merge_latest_wins(existing, incoming, ["id"])
    rows = {r["id"]: r["extra"] for r in out.collect()}
    # incoming wins for id=1 -> its (missing) extra is NULL
    assert rows == {1: None, 2: None}


def test_sync_surrogate_ids(spark):
    existing = spark.createDataFrame(
        [(10, "ev1"), (20, "ev2"), (7, "ev3")], "id long, key string")
    incoming = spark.createDataFrame(
        [("ev2",), ("evB",), ("evA",)], "key string")
    out = sync_surrogate_ids(existing, incoming, ["key"])
    rows = {r["key"]: r["id"] for r in out.collect()}
    # matched keeps stored id; fresh get max(20)+1.. in key order
    assert rows == {"ev2": 20, "evA": 21, "evB": 22}


def test_sync_surrogate_ids_empty_existing(spark):
    existing = spark.createDataFrame([], "id long, key string")
    incoming = spark.createDataFrame([("b",), ("a",)], "key string")
    out = sync_surrogate_ids(existing, incoming, ["key"])
    rows = {r["key"]: r["id"] for r in out.collect()}
    assert rows == {"a": 1, "b": 2}



def test_surrogate_ids_exact_with_aqe_off(spark):
    """Regression: ``global_order_index`` took its partition sizes from
    one range exchange and its row positions from another. Each exchange
    samples its own bounds, and with AQE off they were not one reused
    exchange when the input carries a non-key column (the sizes branch
    prunes it), so they disagreed: duplicate and skipped ids. Sizes and positions now come from one
    materialized partitioning, so the ids are exact whatever the AQE
    setting: 1..n for an index, and stored ids plus max+1.. in key order
    for an id sync."""
    import random

    from stream2segment_spark.operators.upsert import global_order_index
    keys = [f"k{i:05d}" for i in range(2400)]
    random.Random(7).shuffle(keys)
    ordered = sorted(keys)
    stored = {k: 10 * i + 3 for i, k in enumerate(ordered[::3])}
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        incoming = spark.createDataFrame(
            [(k, float(i)) for i, k in enumerate(keys)],
            "key string, v double").repartition(8, "key")
        existing = spark.createDataFrame(
            [(i, k) for k, i in stored.items()], "id long, key string")
        for _ in range(3):
            idx = global_order_index(incoming, ["key"], "idx")
            got = {r["key"]: r["idx"] for r in idx.collect()}
            assert got == {k: i + 1 for i, k in enumerate(ordered)}
            out = sync_surrogate_ids(existing, incoming, ["key"])
            got = {r["key"]: r["id"] for r in out.collect()}
            top = max(stored.values())
            fresh = [k for k in ordered if k not in stored]
            assert got == {**stored, **{k: top + i + 1
                                        for i, k in enumerate(fresh)}}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def test_sync_against_missing_table_plans_no_join(spark, tmp_path):
    """A missing warehouse table reads as an empty LocalRelation
    (``cli._table``), so the optimizer drops id-sync's join to the stored
    ids instead of running it; the ids are max(id)=0 + 1.. in key order."""
    from stream2segment_spark import cli
    existing = cli._table(spark, {"warehouse": str(tmp_path)}, "events")
    incoming = spark.createDataFrame([("b",), ("a",)], "event_id string")
    out = sync_surrogate_ids(existing, incoming, ["event_id"])
    assert "Join" not in out._jdf.queryExecution().optimizedPlan().toString()
    assert {r["event_id"]: r["id"] for r in out.collect()} == {"a": 1, "b": 2}
    # the pattern does match the plan of a join against a stored table
    stored = spark.createDataFrame([(1, "a")], "id long, event_id string")
    assert "Join" in incoming.join(stored, "event_id", "left") \
        ._jdf.queryExecution().optimizedPlan().toString()

def test_update_skip_unchanged(spark):
    existing = spark.createDataFrame(
        [(1, 200), (2, 404), (3, None)], "id long, download_code int")
    incoming = spark.createDataFrame(
        [(1, 200), (2, 200), (3, None), (4, 500)], "id long, download_code int")
    out = update_skip_unchanged(incoming, existing, ["id"])
    kept = sorted(r["id"] for r in out.collect())
    # 1 unchanged (dropped), 3 NULL==NULL unchanged (dropped); 2 changed, 4 new
    assert kept == [2, 4]


def test_fdsn_parse_comments_blanks_nulls(spark):
    cols = [("net", "string"), ("sta", "string"), ("lat", "double"),
            ("t0", "timestamp")]
    lines = spark.createDataFrame(
        [("#net|sta|lat|t0",),
         ("  ",),
         ("GE|APE|37.07|2010-01-01T00:00:00",),
         ("GE|XYZ||2011-06-01T12:30:00",),      # empty lat -> NULL, dropped
         ("IU|ANMO|34.95|",)],                  # empty t0 -> NULL (nullable)
        "value string")
    out = parse_fdsn_lines(lines, cols, required=["net", "sta", "lat"])
    rows = sorted((r["net"], r["sta"], r["lat"]) for r in out.collect())
    assert rows == [("GE", "APE", 37.07), ("IU", "ANMO", 34.95)]
    t0 = {r["sta"]: r["t0"] for r in out.collect()}
    assert t0["APE"] is not None and t0["ANMO"] is None


def test_fdsn_roundtrip_small(spark):
    cols = [("id", "long"), ("name", "string"), ("v", "double"),
            ("t", "timestamp")]
    df = spark.createDataFrame(
        [(1, "alpha", 1.5, "2020-01-02 03:04:05"),
         (2, "beta", None, None)],
        "id long, name string, v double, t string",
    ).withColumn("t", F.to_timestamp("t"))
    back = parse_fdsn_lines(to_fdsn_lines(df, cols), cols, required=["id"])
    rows = sorted(back.collect(), key=lambda r: r["id"])
    assert [(r["id"], r["name"], r["v"]) for r in rows] == \
        [(1, "alpha", 1.5), (2, "beta", None)]
    assert rows[0]["t"] is not None and rows[1]["t"] is None


def test_salted_join_matches_plain(spark):
    from stream2segment_spark.operators.skew import salted_join
    # skewed big side: 90% of rows share key 1
    big = spark.createDataFrame(
        [(1 if i % 10 else i, i, float(i)) for i in range(1000)],
        "k long, rid long, v double")
    small = spark.createDataFrame(
        [(i, f"dim{i}") for i in range(0, 1000, 10)] + [(1, "dim1")],
        "k long, name string")
    plain = {(r["rid"], r["name"])
             for r in big.join(small, "k").collect()}
    salted = {(r["rid"], r["name"])
              for r in salted_join(big, small, ["k"], n_salts=4).collect()}
    assert salted == plain and len(plain) > 900
    left = {(r["rid"], r["name"])
            for r in salted_join(big, small, ["k"], n_salts=4,
                                 how="left").collect()}
    plain_left = {(r["rid"], r["name"])
                  for r in big.join(small, "k", "left").collect()}
    assert left == plain_left


def test_asof_join_backward_semantics(spark):
    from datetime import datetime

    from stream2segment_spark.operators.asof import asof_join_backward
    t = lambda m: datetime(2024, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, 1, t(10)), (2, 1, t(30)), (3, 1, t(5)), (4, 2, t(10))],
        "rid long, k long, ts timestamp")
    right = spark.createDataFrame(
        [(1, t(0), "a"), (1, t(10), "b"), (1, t(20), "c"), (3, t(0), "z")],
        "k long, ts timestamp, v string")
    out = {r["rid"]: (r["v_asof"], r["ts_asof"]) for r in
           asof_join_backward(left, right, on="ts", by=["k"]).collect()}
    assert out[1] == ("b", t(10))      # inclusive: equal ts matches
    assert out[2] == ("c", t(20))      # latest at-or-before
    assert out[3] == ("a", t(0))
    assert out[4] == (None, None)      # no right rows for key 2
    # tolerance: match only within 5 minutes
    out2 = {r["rid"]: r["v_asof"] for r in
            asof_join_backward(left, right, on="ts", by=["k"],
                               tolerance_sec=300).collect()}
    # inclusive tolerance: rid 3's match is exactly 300 s old -> kept
    assert out2[1] == "b" and out2[2] is None and out2[3] == "a"


def test_interval_overlap_claiming_bucket(spark):
    """Claiming-bucket emission: a pair spanning several common buckets
    appears ONCE, and genuinely duplicate input rows keep their
    multiplicity (plain inequality-join semantics, no distinct)."""
    from datetime import datetime

    from stream2segment_spark.operators.asof import interval_overlap_join
    t = lambda h, m=0: datetime(2024, 1, 1, h, m)
    # left interval spans 3 hourly buckets; right spans 4 overlapping ones
    left = spark.createDataFrame(
        [(1, 1, t(1), t(4)),
         (2, 1, t(1), t(4)),          # exact duplicate payload-> x2 rows
         (3, 2, t(0), t(0, 30))],     # no overlap partner
        "lid long, k long, s timestamp, e timestamp")
    right = spark.createDataFrame(
        [(10, 1, t(2), t(6)), (11, 1, t(5), t(6))],
        "rid long, k long, s timestamp, e timestamp")
    out = interval_overlap_join(left, right, ("s", "e"), ("s", "e"),
                                by=["k"], bucket_sec=3600.0).collect()
    pairs = sorted((r["lid"], r["rid"]) for r in out)
    # (1,10) and (2,10) overlap on buckets 2 and 3 -> each exactly once;
    # rid 11 starts after both left intervals end; lid 3 has no partner
    assert pairs == [(1, 10), (2, 10)]


def test_interval_overlap_wide_row_guard(spark):
    """Skew guard: intervals spanning > max_buckets buckets leave the
    banded path (no explosion) and broadcast-theta-join instead — results
    identical to the brute-force overlap join, each pair once, wide-wide
    pairs not duplicated across legs."""
    from datetime import datetime, timedelta

    from stream2segment_spark.operators.asof import interval_overlap_join
    t0 = datetime(2024, 1, 1)
    day = timedelta(days=1)
    # wide rows span ~2 years of hourly buckets (>> max_buckets=8)
    left = spark.createDataFrame(
        [(1, t0, t0 + 2 * day),                    # narrow
         (2, t0 + 100 * day, t0 + 101 * day),      # narrow, far away
         (3, t0 - 365 * day, t0 + 365 * day)],     # WIDE: hits everything
        "lid long, s timestamp, e timestamp")
    right = spark.createDataFrame(
        [(10, t0 + day, t0 + 3 * day),             # narrow: overlaps 1, 3
         (11, t0 + 200 * day, t0 + 201 * day),     # narrow: overlaps 3 only
         (12, t0 - 400 * day, t0 + 400 * day)],    # WIDE: hits everything
        "rid long, s timestamp, e timestamp")
    out = interval_overlap_join(
        left, right, ("s", "e"), ("s", "e"),
        bucket_sec=3600.0, max_buckets=8).collect()
    pairs = sorted((r["lid"], r["rid"]) for r in out)
    assert pairs == [(1, 10), (1, 12), (2, 12),
                     (3, 10), (3, 11), (3, 12)]


def test_salted_join_rejects_outer_modes(spark):
    """right/full outer would emit each unmatched small-side row
    n_salts times (the small side is replicated); reject loudly."""
    import pytest as _pytest
    from pyspark.sql import Row

    from stream2segment_spark.operators.skew import salted_join
    big = spark.createDataFrame([Row(k=1, v=1.0)])
    small = spark.createDataFrame([Row(k=2, name="unmatched")])
    with _pytest.raises(ValueError, match="does not preserve"):
        salted_join(big, small, ["k"], n_salts=4, how="full")
    with _pytest.raises(ValueError, match="does not preserve"):
        salted_join(big, small, ["k"], n_salts=4, how="right")
    # left stays allowed and row-for-row equal to the plain join
    got = salted_join(big, small, ["k"], n_salts=4, how="left").collect()
    assert len(got) == 1 and got[0]["name"] is None


def test_merge_latest_wins_tie_is_partitioning_invariant(spark):
    """Two incoming rows for ONE natural key: the surviving row must be
    the same under any partitioning (content-hash tie-break), not
    whichever the shuffle happened to sort first."""
    from pyspark.sql import Row

    from stream2segment_spark.operators.upsert import merge_latest_wins
    ex = spark.createDataFrame([Row(k=1, v="old")])
    inc = spark.createDataFrame([Row(k=1, v="a"), Row(k=1, v="b")])
    winners = set()
    for arranged in (inc.repartition(7), inc.coalesce(1),
                     inc.orderBy(F.col("v").desc())):
        r = merge_latest_wins(ex, arranged, ["k"]).collect()
        assert len(r) == 1
        winners.add(r[0]["v"])
    assert len(winners) == 1 and winners != {"old"}


def test_merge_latest_wins_hashes_only_incoming(spark):
    """The tie-break hash is computed for incoming rows only: the stored
    side is unique on the natural key, so hashing its payload (the
    segments' data blob) decided nothing. In the optimized plan the
    union's stored branch holds no xxhash64; the incoming one does."""
    from stream2segment_spark.operators.upsert import merge_latest_wins
    schema = "k long, data binary, v double"
    ex = spark.createDataFrame([(1, b"old", 1.0), (2, b"kept", 2.0)], schema)
    inc = spark.createDataFrame([(1, b"a", 3.0), (1, b"b", 4.0),
                                 (3, b"new", 5.0)], schema)
    out = merge_latest_wins(ex, inc, ["k"])

    def union(node):
        if node.nodeName() == "Union":
            return node
        kids = node.children()
        for i in range(kids.size()):
            found = union(kids.apply(i))
            if found is not None:
                return found
        return None

    stored, incoming = (union(out._jdf.queryExecution().optimizedPlan())
                        .children().apply(i).toString() for i in (0, 1))
    assert "xxhash64" not in stored
    assert "xxhash64" in incoming
    got = {r["k"]: bytes(r["data"]) for r in out.collect()}
    assert got[2] == b"kept" and got[3] == b"new"
    assert got[1] in (b"a", b"b")


def test_update_skip_unchanged_multi_col_bounds(spark):
    """A re-download whose request bounds moved must be kept even when
    the code is unchanged (it used to be dropped, leaving stale bounds
    that re-triggered the same re-download forever)."""
    from datetime import datetime
    t0, t1 = datetime(2024, 1, 1), datetime(2024, 1, 1, 0, 10)
    sch = "id long, download_code int, request_start timestamp"
    existing = spark.createDataFrame([(1, 200, t0), (2, 200, t0)], sch)
    incoming = spark.createDataFrame([(1, 200, t1), (2, 200, t0)], sch)
    out = update_skip_unchanged(
        incoming, existing, ["id"],
        compare_col=["download_code", "request_start"])
    assert [r["id"] for r in out.collect()] == [1]


def test_merge_latest_wins_accepts_map_payload(spark):
    """r6 ADVICE regression: a map-typed payload column previously broke
    the xxhash64 content-hash tie-break (hash on MapType is disallowed);
    maps are now excluded from the hash but still merged through."""
    from stream2segment_spark.operators.upsert import merge_latest_wins
    schema = "k long, v double, props map<string,string>"
    ex = spark.createDataFrame([(1, 1.0, {"a": "x"}), (2, 2.0, {})], schema)
    inc = spark.createDataFrame([(1, 10.0, {"a": "y"}), (3, 3.0, {})],
                                schema)
    out = merge_latest_wins(ex, inc, ["k"])
    got = {r["k"]: (r["v"], dict(r["props"])) for r in out.collect()}
    assert got == {1: (10.0, {"a": "y"}), 2: (2.0, {}), 3: (3.0, {})}


def test_asof_accepts_map_value_column(spark):
    """r6 ADVICE regression: a map-typed right value column made the
    __payload orderBy raise (maps are unorderable); the tie-break key now
    excludes maps while the payload still carries them to the output."""
    from stream2segment_spark.operators.asof import (
        asof_join_backward, asof_join_forward, asof_join_nearest)
    left = spark.createDataFrame([(1, "u", 10.0)],
                                 "id long, k string, ts double")
    right = spark.createDataFrame(
        [("u", 8.0, "a", {"m": "1"}), ("u", 20.0, "b", {"m": "2"})],
        "k string, ts double, val string, props map<string,string>")
    for fn, want in ((asof_join_backward, "a"), (asof_join_forward, "b"),
                     (asof_join_nearest, "a")):
        rows = fn(left, right, on="ts", by=["k"]).collect()
        assert len(rows) == 1
        assert rows[0]["val_asof"] == want
        assert dict(rows[0]["props_asof"]) == {"m": "1" if want == "a"
                                               else "2"}
