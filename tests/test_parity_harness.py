"""The sharded oracle-parity harness in conftest: worker-count config,
worker output handling, and the join deadline."""

from __future__ import annotations

import sys
import time

import pytest

from tests import conftest


def test_parity_worker_count_rejects_non_positive(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_PARITY_WORKERS", raising=False)
    assert 1 <= conftest._parity_worker_count() <= 8
    monkeypatch.setenv("SPARK_GRAFT_PARITY_WORKERS", "3")
    assert conftest._parity_worker_count() == 3
    for bad in ("0", "-2", "two"):
        monkeypatch.setenv("SPARK_GRAFT_PARITY_WORKERS", bad)
        with pytest.raises(pytest.UsageError, match="positive integer"):
            conftest._parity_worker_count()


def test_chatty_worker_never_blocks_on_its_output(tmp_path):
    """A worker writing far more than a pipe buffer to stderr runs to
    completion before anyone reads its output, and the join still finds
    its record."""
    script = ("import sys; sys.stderr.write('x' * 1_000_000); "
              "print('{\"name\": \"q\", \"problem\": null, \"sec\": 0.0, "
              "\"cartesian\": false}')")
    p, out, err = conftest._spawn_worker([sys.executable, "-c", script],
                                         str(tmp_path))
    assert p.wait(timeout=60) == 0
    got = conftest._join_shards([(p, ["q"], out, err)], timeout_s=10)
    assert got == {"q": {"name": "q", "problem": None, "sec": 0.0,
                         "cartesian": False}}


def test_join_has_one_deadline_for_all_shards(tmp_path):
    """Three hung workers under a 2 s budget: the join returns after
    about 2 s in total (a per-shard timeout would take 6 s), and every
    unreported query carries the timeout note."""
    shards = []
    for i in range(3):
        p, out, err = conftest._spawn_worker(
            [sys.executable, "-c", "import time; time.sleep(60)"],
            str(tmp_path))
        shards.append((p, [f"q{i}"], out, err))
    t0 = time.monotonic()
    got = conftest._join_shards(shards, timeout_s=2)
    assert time.monotonic() - t0 < 4.5
    assert sorted(got) == ["q0", "q1", "q2"]
    for rec in got.values():
        assert "timed out" in rec["problem"]
    assert all(p.poll() is not None for p, _, _, _ in shards)
