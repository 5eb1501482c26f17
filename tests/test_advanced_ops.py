"""Tests for the advanced operators: stateful streaming counters, salted
(skew-safe) joins, stream-stream joins."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from nats_stream_processor_spark.operators.relational import salted_join
from nats_stream_processor_spark.streaming.stateful import running_label_counts


def test_salted_join_matches_plain_join(spark):
    # skewed left: 90% of rows share one key
    left = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 50)
        .alias("k"), F.col("id").alias("v"))
    right = spark.createDataFrame(
        [(i, f"dim_{i}") for i in range(50)], "k long, name string")
    plain = left.join(right, "k").groupBy("name").count()
    salted = salted_join(left, right, "k").groupBy("name").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_keeps_unmatched(spark):
    left = spark.createDataFrame([(1, "a"), (99, "b")], "k long, v string")
    right = spark.createDataFrame([(1, "dim")], "k long, name string")
    rows = {r["v"]: r["name"] for r in
            salted_join(left, right, "k", how="left").collect()}
    assert rows == {"a": "dim", "b": None}


def test_stateful_running_counts(spark, tmp_path):
    # two input files processed as separate micro-batches via maxFilesPerTrigger
    d = tmp_path / "state_in"
    d.mkdir()
    with open(d / "b1.jsonl", "w") as f:
        for lab in ["pos", "pos", "neg"]:
            f.write(json.dumps({"label_in": lab}) + "\n")
    raw = (
        spark.readStream.format("json")
        .schema("label_in string")
        .option("maxFilesPerTrigger", "1")
        .load(str(d))
    )
    counts = running_label_counts(raw, "label_in")
    q = (counts.writeStream.format("memory").queryName("state_test")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt_state"))
         .start())
    q.processAllAvailable()
    got = {r["label"]: r["n_total"]
           for r in spark.sql("SELECT * FROM state_test").collect()}
    assert got == {"pos": 2, "neg": 1}
    # second batch: state accumulates across batches
    with open(d / "b2.jsonl", "w") as f:
        for lab in ["pos", "neu"]:
            f.write(json.dumps({"label_in": lab}) + "\n")
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM state_test").collect()
    latest = {}
    for r in rows:  # update mode appends; last row per label wins
        latest[r["label"]] = r["n_total"]
    assert latest == {"pos": 3, "neg": 1, "neu": 1}


def test_stream_stream_join(spark, tmp_path):
    """Interval stream-stream join with watermarks on both sides: clicks
    join views of the same user within 10 minutes (state bounded by the
    time-range condition — SURVEY.md §2B range/interval joins)."""
    vd = tmp_path / "views"; cd = tmp_path / "clicks"
    vd.mkdir(); cd.mkdir()
    with open(vd / "v.jsonl", "w") as f:
        f.write(json.dumps({"user": 1, "view_ts": "2024-01-01T00:00:00"}) + "\n")
        f.write(json.dumps({"user": 2, "view_ts": "2024-01-01T00:00:00"}) + "\n")
    with open(cd / "c.jsonl", "w") as f:
        f.write(json.dumps({"user": 1, "click_ts": "2024-01-01T00:05:00"}) + "\n")
        f.write(json.dumps({"user": 2, "click_ts": "2024-01-01T02:00:00"}) + "\n")
    views = (spark.readStream.format("json").schema("user long, view_ts string")
             .load(str(vd))
             .select("user", F.to_timestamp("view_ts").alias("view_ts"))
             .withWatermark("view_ts", "1 hour"))
    clicks = (spark.readStream.format("json").schema("user long, click_ts string")
              .load(str(cd))
              .select(F.col("user").alias("c_user"),
                      F.to_timestamp("click_ts").alias("click_ts"))
              .withWatermark("click_ts", "1 hour"))
    joined = views.join(
        clicks,
        (F.col("user") == F.col("c_user"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    q = (joined.writeStream.format("memory").queryName("ssj_test")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ckpt_ssj"))
         .start())
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT user FROM ssj_test").collect()
    # user 1 clicked within 10 min -> joins; user 2 clicked 2h later -> no
    assert [r["user"] for r in rows] == [1]


def test_connected_components_transitive(spark):
    """a~b, b~c (a!~c) must collapse into one cluster with survivor a;
    isolated pair keeps its own min; the fixpoint must handle a 4-chain
    (two propagation rounds)."""
    from nats_stream_processor_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long")
    got = {r["doc_id"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20, 23: 20}


def test_connected_components_never_mutates_session_conf(spark):
    """The loop's narrow shuffle width must be scoped per-plan (explicit
    repartition), never via spark.sql.shuffle.partitions — a concurrent
    query planned mid-loop would inherit the tiny width (r3 verdict #5).
    Intercept conf.set for the duration and fail on any write to the key."""
    from nats_stream_processor_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], "doc_a long, doc_b long")
    real_set = spark.conf.set
    banned: list[str] = []

    def guarded_set(key, value):
        if key == "spark.sql.shuffle.partitions":
            banned.append(f"{key}={value}")
        return real_set(key, value)

    spark.conf.set = guarded_set
    try:
        got = {r["doc_id"]: r["comp"]
               for r in connected_components(edges).collect()}
    finally:
        spark.conf.set = real_set
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert banned == [], f"session conf mutated during CC loop: {banned}"


def test_asof_join_directions(spark):
    """backward / forward / nearest(tolerance) semantics on a constructed
    frame: pick side, tie resolution, tolerance NULLs."""
    from nats_stream_processor_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, "k", "2024-01-01 10:00:00"),
         (2, "k", "2024-01-01 23:00:00")],
        "lid long, k string, lt string",
    ).select("lid", "k", F.col("lt").cast("timestamp").alias("lt"))
    right = spark.createDataFrame(
        [(10, "k", "2024-01-01 09:00:00"),
         (11, "k", "2024-01-01 10:30:00"),
         (12, "k", "2024-01-02 12:00:00")],
        "rid long, k string, rt string",
    ).select("rid", "k", F.col("rt").cast("timestamp").alias("rt"))

    def picks(**kw):
        out = asof_join(left, right, on=["k"], left_time="lt",
                        right_time="rt", right_cols=["rid"], **kw)
        return {r.lid: r.rid for r in out.collect()}

    assert picks(direction="backward") == {1: 10, 2: 11}
    assert picks(direction="forward") == {1: 11, 2: 12}
    # nearest within 2h: row 1 -> 10:30 (30min beats 60min); row 2 has
    # nothing within 2h -> NULL
    assert picks(direction="nearest", tolerance_s=7200) == {1: 11, 2: None}
    # bounded backward: nothing within 30 minutes of either left row
    assert picks(direction="backward", tolerance_s=1800) == {1: None, 2: None}
    # widen to 12.5 h: row 1 reaches 9:00, row 2 reaches 10:30 (inclusive)
    assert picks(direction="backward", tolerance_s=45000) == {1: 10, 2: 11}
    with pytest.raises(ValueError):
        picks(direction="nearest")
    with pytest.raises(ValueError):
        picks(direction="sideways")


def test_asof_nearest_subsecond_precision(spark):
    """Time distance must keep sub-second precision: with microsecond
    timestamps, 0.2 s away must beat 0.9 s away (regression:
    unix_timestamp truncation picked the wrong row)."""
    from nats_stream_processor_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, "k", "2024-01-01 10:00:00.900")],
        "lid long, k string, lt string",
    ).select("lid", "k", F.col("lt").cast("timestamp").alias("lt"))
    right = spark.createDataFrame(
        [(10, "k", "2024-01-01 10:00:00.000"),
         (11, "k", "2024-01-01 10:00:01.100")],
        "rid long, k string, rt string",
    ).select("rid", "k", F.col("rt").cast("timestamp").alias("rt"))
    out = asof_join(left, right, on=["k"], left_time="lt", right_time="rt",
                    right_cols=["rid"], direction="nearest", tolerance_s=5)
    assert out.collect()[0].rid == 11


def test_conf_bytes_parses_suffixed_sizes(spark):
    from nats_stream_processor_spark.partitioning import _conf_bytes

    for raw, expected in (("134217728b", 134217728), ("128m", 128 << 20),
                          ("1g", 1 << 30), ("64k", 64 << 10),
                          ("4194304", 4194304)):
        spark.conf.set("spark.nats_spark.test.bytes", raw)
        assert _conf_bytes(spark, "spark.nats_spark.test.bytes", 0) == expected
