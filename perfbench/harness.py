"""Run context shared by the workloads: environment pinning, the Spark
session, the tracer, and the result every workload fills in."""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass, field

from . import probes
from .stats import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "nats_stream_processor_spark"
WORK = os.path.join(ROOT, ".perfbench")


def pin_environment() -> None:
    """Everything the program and Spark read from the environment, set
    before pyspark is imported: core count, worker import path, and every
    scratch directory inside the checkout."""
    work = WORK
    for sub in ("tmp", "local", "broker"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(probes.nproc())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_MEM_BROKER_DIR"] = os.path.join(work, "broker")


@dataclass
class Result:
    """What a workload reports. ``e2e``, ``layer`` and ``info`` (printed
    only) map a name to ``(value, unit, samples)``; ``samples`` keeps raw
    sample lists for the summary."""

    e2e: dict[str, tuple[float, str, int]] = field(default_factory=dict)
    layer: dict[str, tuple[float, str, int]] = field(default_factory=dict)
    info: dict[str, tuple[float, str, int]] = field(default_factory=dict)
    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def fail(self, what: str, count: int = 1) -> None:
        self.failed += count
        if len(self.problems) < 20:
            self.problems.append(what)

    def put(self, name: str, value: float, unit: str, samples: int = 1,
            layer: bool = True) -> None:
        (self.layer if layer else self.e2e)[name] = (float(value), unit,
                                                     int(samples))


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    t_start: float                  # process start, epoch seconds
    work: str = ""
    tracer: Tracer = field(init=False)
    result: Result = field(default_factory=Result)
    spark: object = None
    event_log_dir: str = ""
    default_parallelism: int | None = None

    def __post_init__(self):
        self.tracer = Tracer(self.trace)
        self.work = os.path.join(WORK, self.workload)
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # ---------------------------------------------------------- session

    def start_spark(self, master: str | None = None):
        """The program's own session (``session.get_spark``) with scratch
        directories moved into the checkout; the traced run also writes
        Spark's event log."""
        from nats_stream_processor_spark.config import SparkEngineConf
        from nats_stream_processor_spark.session import get_spark

        conf = SparkEngineConf() if master is None else SparkEngineConf(
            master=master)
        java_opts = conf.to_conf().get("spark.driver.extraJavaOptions", "")
        tmp = os.environ["TMPDIR"]
        overrides = {
            "spark.driver.extraJavaOptions":
                f"{java_opts} -Djava.io.tmpdir={tmp}".strip(),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": self.path("warehouse"),
        }
        if self.trace and master is None:
            self.event_log_dir = self.path("eventlog")
            os.makedirs(self.event_log_dir)
            overrides.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            })
        with self.tracer.span("session.get_spark") as s:
            spark = get_spark(conf, **overrides)
            spark.sparkContext.setLogLevel("ERROR")
        if master is None:
            self.result.put("session.get_spark_s", s.seconds, "s")
            self.default_parallelism = spark.sparkContext.defaultParallelism
        self.spark = spark
        return spark

    def stop_spark(self, keep_jvm: bool = False) -> None:
        """Stop the session and, unless ``keep_jvm`` (the program's
        module-level UDFs stay bound to the first JVM), the JVM too, waiting
        for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if keep_jvm:
            return
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def job_group(self, name: str) -> None:
        """Tag the following jobs (traced run only)."""
        if self.trace:
            self.spark.sparkContext.setJobGroup(name, name)

    def setup_done(self) -> None:
        """Mark the first timed operation."""
        self.result.put("setup_s", time.time() - self.t_start, "s",
                        layer=False)
