"""What the benchmark reads from outside its own timers: process-tree
memory, Spark's streaming progress events, its event log and status
tracker, and the environment it ran in."""

from __future__ import annotations

import glob
import json
import os
import threading
from datetime import datetime

_PAGE = os.sysconf("SC_PAGE_SIZE")

PYTHON_SCOPES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
                 "FlatMapCoGroupsInPandas", "AggregateInPandas",
                 "WindowInPandas", "FlatMapGroupsInPandasWithState",
                 "PythonDataSource", "PythonUDTF")


def tree_rss_bytes(root: int) -> int:
    """Summed resident memory of ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as f:
                raw = f.read()
        except OSError:
            continue
        pid = int(path.split("/")[2])
        ppid = int(raw[raw.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread keeping the peak of ``tree_rss_bytes``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="rss-sampler")

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self.samples += 1
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return False


# --------------------------------------------------------- stream progress


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress event as its
    parsed JSON plus ``start``/``end`` epoch seconds of the trigger."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = json.loads(event.progress.json)
            p["start"] = _iso_epoch(p["timestamp"])
            p["end"] = p["start"] + p["durationMs"].get(
                "triggerExecution", 0) / 1000.0
            with self._lock:
                self.events.append(p)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

        def for_run(self, run_id: str) -> list[dict]:
            with self._lock:
                return [e for e in self.events if e["runId"] == run_id]

    return ProgressLog()


# ------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> dict:
    """Parse the (uncompressed, non-rolling) event log of the one
    application in ``log_dir`` into jobs, stages and per-stage task
    totals."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, "
                           f"found {len(files)}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submitted": ev.get("Submission Time", 0) / 1000.0,
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _new_stage())
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                        ).get("Shuffle Bytes Written", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages.setdefault(info["Stage ID"], _new_stage())
                st["completed"] = True
                for rdd in info.get("RDD Info", []):
                    scope = rdd.get("Scope")
                    name = json.loads(scope).get("name", "") if scope else ""
                    if any(name.startswith(p) for p in PYTHON_SCOPES):
                        st["python"] = True
    owner: dict[int, dict] = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jobs[jid])
    for sid, st in stages.items():
        job = owner.get(sid)
        st["group"] = job["group"] if job else None
        st["submitted"] = job["submitted"] if job else 0.0
    return {"jobs": jobs, "stages": stages}


def _new_stage() -> dict:
    return {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_bytes": 0, "python": False, "completed": False}


def stage_totals(stages) -> dict:
    """Summed task metrics over ``stages`` (completed stages only)."""
    done = [s for s in stages if s["completed"]]
    py = [s for s in done if s["python"]]
    return {
        "stages": len(done),
        "tasks": sum(s["tasks"] for s in done),
        "task_run_s": sum(s["run_s"] for s in done),
        "task_cpu_s": sum(s["cpu_s"] for s in done),
        "gc_s": sum(s["gc_s"] for s in done),
        "shuffle_mb": sum(s["shuffle_bytes"] for s in done) / 2**20,
        "python_wait_s": sum(max(0.0, s["run_s"] - s["cpu_s"]) for s in py),
    }


# ------------------------------------------------------------ environment


def git_commit(root: str) -> str:
    """The checked-out commit when ``root`` is a git work tree, without
    running git (the benchmark may run from an exported tree)."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine since boot: the share
    of time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def nproc() -> int:
    return len(os.sched_getaffinity(0))
