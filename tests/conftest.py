from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "env_gated: needs a binary/package this container lacks; the skip "
        "reason names the exact unlock command (select the whole set with "
        "`pytest -m env_gated -rs`)")


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------
# Sharded oracle-parity sweep (see tests/test_oracle_parity.py).
#
# The worker processes LAUNCH at collection time — as soon as we know
# the parity tests are selected — so the 8-way sweep overlaps the
# serial test files that run before test_oracle_parity.py is reached
# (alphabetical order puts it ~60% through the suite). By join time the
# workers are normally already done, taking the whole 14-minute serial
# sweep off the suite's critical path. CPU math: the workers are
# local[4] JVMs over sf0.001 — they share the box with the one local[4]
# session the serial tests use, which is exactly the oversubscription a
# 32-core host absorbs.

# (worker, its shard, its stdout file, its stderr file)
_PARITY_SHARDS: list[tuple[subprocess.Popen, list[str], object, object]] = []


def _parity_worker_count() -> int:
    """SPARK_GRAFT_PARITY_WORKERS if set, else one worker per 4 cores
    (1-8). A value that is not a positive integer is a config error."""
    raw = os.environ.get("SPARK_GRAFT_PARITY_WORKERS", "").strip()
    if not raw:
        return max(1, min(8, (os.cpu_count() or 4) // 4))
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n <= 0:
        raise pytest.UsageError(
            "SPARK_GRAFT_PARITY_WORKERS must be a positive integer, "
            f"got {raw!r}")
    return n


def _spawn_worker(argv: list[str], cwd: str, niceness: int = 0):
    """Start a worker with stdout and stderr going to temp files rather
    than pipes: nobody reads a worker's output until the join, and a
    worker that fills a pipe buffer (~64 KB of JVM log output) would
    block mid-sweep."""
    out = tempfile.TemporaryFile("w+")
    err = tempfile.TemporaryFile("w+")
    p = subprocess.Popen(argv, stdout=out, stderr=err, text=True, cwd=cwd,
                         preexec_fn=lambda: os.nice(niceness))
    return p, out, err


def _launch_parity_workers() -> None:
    from nats_stream_processor_spark import registry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker = os.path.join(root, "tests", "_parity_worker.py")
    names = list(registry.REGISTRY)
    n_workers = _parity_worker_count()
    for i in range(n_workers):
        shard = names[i::n_workers]
        # The workers have huge slack (the sweep finishes in a fraction
        # of the serial files' window) — deprioritize them so they
        # back-fill idle cores instead of stealing cycles from the
        # foreground tests they overlap.
        p, out, err = _spawn_worker([sys.executable, worker, SF_SMOKE, *shard],
                                    root, niceness=10)
        _PARITY_SHARDS.append((p, shard, out, err))


def pytest_collection_modifyitems(session, config, items):
    if any("test_query_matches_oracle" in it.nodeid for it in items):
        _launch_parity_workers()


def pytest_sessionfinish(session, exitstatus):
    # -x / --maxfail can abort before the parity tests join the workers;
    # never leave orphaned JVMs behind.
    for p, _, _, _ in _PARITY_SHARDS:
        if p.poll() is None:
            p.kill()


_PARITY_JOINED: dict[str, dict] | None = None
_PARITY_TIMEOUT_S = 1800


def _join_shards(shards, timeout_s: float) -> dict[str, dict]:
    """Wait for every shard under ONE shared deadline and collect the
    per-query records each worker printed. A worker that died or timed
    out mid-shard yields a synthetic failure record for each unreported
    query, carrying its stderr tail."""
    import json

    deadline = time.monotonic() + timeout_s
    results: dict[str, dict] = {}
    for p, shard, out_f, err_f in shards:
        note = ""
        try:
            p.wait(timeout=max(0.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            note = "\n[parity worker timed out]"
        out_f.seek(0)
        err_f.seek(0)
        out, err = out_f.read(), err_f.read() + note
        out_f.close()
        err_f.close()
        for line in out.splitlines():
            if not line.startswith("{"):
                continue
            try:
                d = json.loads(line)
            except ValueError:
                continue
            results[d["name"]] = d
        for name in shard:
            if name not in results:
                results[name] = {
                    "problem": (
                        f"parity worker died before reaching this query "
                        f"(rc={p.returncode}): ...{err[-400:]}"),
                    "sec": None, "cartesian": None}
    return results


def parity_join() -> dict[str, dict]:
    """Join the sharded sweep once and cache the per-query records
    ({"problem": str | None, "sec": float, "cartesian": bool | None});
    both the oracle-parity tests and the registry-wide plan audit read
    this."""
    global _PARITY_JOINED
    if _PARITY_JOINED is not None:
        return _PARITY_JOINED
    if not _PARITY_SHARDS:  # direct single-file invocation fallback
        _launch_parity_workers()
    _PARITY_JOINED = _join_shards(_PARITY_SHARDS, _PARITY_TIMEOUT_S)
    return _PARITY_JOINED


@pytest.fixture(scope="session")
def spark():
    from nats_stream_processor_spark.config import SparkEngineConf
    from nats_stream_processor_spark.session import get_spark

    # Small local session for tests: few cores/partitions keeps JVM startup
    # and shuffle overhead low at sf0.001 while exercising the same plans.
    spark = get_spark(
        SparkEngineConf(master="local[4]", shuffle_partitions=4),
        **{
            # static conf: saveAsTable targets (bucketed-join tests)
            "spark.sql.warehouse.dir": "/tmp/spark_graft_warehouse",
        },
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()
