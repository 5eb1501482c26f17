"""Cross-engine scalar-semantics pins.

The oracle-parity contract leans on a handful of "these two engines
compute the identical scalar" assumptions that the fixtures alone
cannot distinguish (they only contain post-epoch timestamps and
non-negative sums). These tests pin the assumptions directly, on the
exact operand regimes the fixtures never reach, so a Spark or DuckDB
upgrade that changes a rounding convention fails HERE with a named
semantic instead of as an inscrutable value-hash mismatch.

Pinned by these tests (the r10 ADVICE items): Spark's integer `div`
and DuckDB's integer `//` BOTH truncate toward zero (measured:
-7 div 2 == -7 // 2 == -3 on the shipped engine versions), and both
engines' `%` takes the dividend's sign — so the `sum(x) div count(*)`
mean idiom (llm_ext7) and the `unix_micros(ts) div 3600000000` hour
bucketing (llm_ext9) agree between the engines for NEGATIVE operands
too, not just on the post-epoch / non-negative fixture regime.
"""

from __future__ import annotations

import pytest

# (numerator, denominator) pairs spanning every sign/divisibility regime
# of the `div` idioms: negative dividends where floor != trunc is the
# case the fixtures never produce.
_CASES = [
    (7, 2), (-7, 2), (7, -2), (-7, -2),
    (6, 2), (-6, 2),
    (1, 3600000000), (-1, 3600000000),
    (3599999999, 3600000000), (-3599999999, 3600000000),
    (-3600000001, 3600000000),
    (0, 5),
]


@pytest.mark.parametrize("num,den", _CASES)
def test_integer_div_truncates_identically(spark, duck, num, den):
    """Spark `div` == DuckDB `//` on every sign regime (both truncate
    toward zero; neither floors). Guards the sum(...) div count(*)
    mean-similarity idiom at llm_ext7.py (graph_nn_descent /
    graph_knn_insert / graph_rebuild_decision oracles use `//`)."""
    s = spark.sql(
        f"select cast({num} as bigint) div cast({den} as bigint) as q,"
        f"       cast({num} as bigint) %   cast({den} as bigint) as r"
    ).collect()[0]
    d = duck.execute(
        f"select cast({num} as bigint) // cast({den} as bigint),"
        f"       cast({num} as bigint) %  cast({den} as bigint)"
    ).fetchone()
    assert (s.q, s.r) == (int(d[0]), int(d[1]))
    # and the shared convention is truncation toward zero, exactly
    assert s.q == int(num / den) if den else True


def test_hour_bucketing_agrees_pre_epoch(spark, duck):
    """The events_sliding_distinct_hll hour bucket —
    `unix_micros(ts) div 3600000000` (Spark) vs
    `epoch_us(ts) // 3600000000` (DuckDB) — lands PRE-1970 timestamps
    in the same bucket on both engines (both conventions truncate, so
    1969-12-31 23:30 buckets to hour 0 on both sides; the fixtures are
    post-epoch, where the two idioms are trivially equal)."""
    ts = ["1969-12-31 23:30:00", "1969-12-30 00:15:00",
          "1970-01-01 00:00:00", "1970-01-01 00:59:59",
          "2024-06-01 12:34:56"]
    vals = ", ".join(f"timestamp'{t}'" for t in ts)
    s = [r.h for r in spark.sql(
        f"select unix_micros(col) div 3600000000 as h"
        f" from values ({vals.replace(', ', '), (')}) as t(col)"
    ).collect()]
    d = [int(r[0]) for r in duck.execute(
        "select epoch_us(col) // 3600000000 from (select unnest(["
        + vals + "]) as col)").fetchall()]
    assert s == d


# --- session defaults: the shuffle width (= streaming state shard count)
# follows the master's cores unless pinned explicitly.

@pytest.mark.parametrize("cpus,pinned,expected", [
    (None, None, 32),   # neither variable set: the historical default
    ("6", None, 6),     # one state shard per core
    ("6", "3", 3),      # an explicit shuffle width wins over the cores
    (None, "3", 3),
])
def test_shuffle_partitions_default_rule(monkeypatch, cpus, pinned, expected):
    from nats_stream_processor_spark.config import SparkEngineConf

    for var, val in (("SPARK_GRAFT_CPUS", cpus),
                     ("SPARK_GRAFT_SHUFFLE_PARTITIONS", pinned)):
        if val is None:
            monkeypatch.delenv(var, raising=False)
        else:
            monkeypatch.setenv(var, val)
    conf = SparkEngineConf()
    assert conf.shuffle_partitions == expected
    assert conf.to_conf()["spark.sql.shuffle.partitions"] == str(expected)


def test_shuffle_partitions_read_at_construction(monkeypatch):
    """The environment is read when the conf is built, not when the
    module is imported: a change after import is seen by the next conf."""
    from nats_stream_processor_spark.config import SparkEngineConf

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert SparkEngineConf().shuffle_partitions == 5
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "7")
    assert SparkEngineConf().shuffle_partitions == 7
    assert SparkEngineConf(shuffle_partitions=2).shuffle_partitions == 2
