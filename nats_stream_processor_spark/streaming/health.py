"""Health / readiness / metrics surface (H1 + the Prometheus exposition
gap; reference: src/health.py:7-25 endpoints, src/metrics.py:5-70 metric
registry, src/service.py:174-253 stats loop).

The reference runs a FastAPI app with three endpoints backed by a
prometheus_client registry. Here the metric source is Spark's own
streaming telemetry — the ``MetricsListener`` ProgressRecords (rates,
batch durations, ``df.observe`` counters) — rendered into the public
Prometheus text exposition format 0.0.4 by hand, so no server-side
dependency beyond the stdlib is needed:

- ``/health``  -> ``{"status": "ok"}`` (liveness, reference health.py:11-14)
- ``/ready``   -> ``{"ready": bool}`` (readiness = the streaming query is
  active, the analog of the reference's nats_connected gauge,
  health.py:16-19)
- ``/metrics`` -> Prometheus text format with the reference's metric
  names (metrics.py:5-70): posts processed/published counters, batch
  duration histogram, rate + lag gauges.

Scale note: the listener runs on the driver and holds O(batches) small
records, and every scrape is O(records): the counters below are NOT
running totals but are recomputed from the full record list each time
(as is the duration histogram). So the list must not be trimmed —
dropping old records would silently LOWER every ``*_total`` counter.
Bounding memory and scrape cost at long uptimes needs the counters
folded into running state as each progress event arrives. A scrape
never touches executors.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .metrics import MetricsListener

# Reference bucket boundaries (src/metrics.py:48-53,
# processing_duration_seconds) — reused for the per-batch duration
# histogram, the closest Spark-native analog.
DURATION_BUCKETS = [0.01, 0.05, 0.1, 0.2, 0.5, 1.0, 2.0, 5.0]

_PREFIX = "stream_processor"


def _observed_total(listener: MetricsListener, key: str) -> int:
    total = 0
    for rec in listener.records:
        for metrics in rec.observed_metrics.values():
            v = metrics.get(key)
            if v is not None:
                total += int(v)
    return total


def snapshot(listener: MetricsListener, connected: bool = True) -> dict:
    """One coherent view of the pipeline's counters and gauges — the
    dict behind both /metrics and ad-hoc status queries."""
    records = list(listener.records)
    last = records[-1] if records else None
    return {
        "posts_processed_total": _observed_total(listener, "n_processed"),
        "posts_published_total": _observed_total(listener, "n_published"),
        "posts_empty_text_total": _observed_total(listener, "n_empty_text"),
        "posts_gated_total": _observed_total(listener, "n_gated"),
        "batches_total": len(records),
        "input_rows_total": sum(r.num_input_rows for r in records),
        "input_rows_per_second": last.input_rows_per_second if last else 0.0,
        "processed_rows_per_second":
            last.processed_rows_per_second if last else 0.0,
        "last_batch_duration_ms": last.batch_duration_ms if last else 0,
        "nats_connected": 1 if connected else 0,
        "batch_durations_s": [r.batch_duration_ms / 1000.0 for r in records],
    }


def prometheus_text(listener: MetricsListener, connected: bool = True) -> str:
    """Render the snapshot in Prometheus text exposition format 0.0.4,
    using the reference's metric names (src/metrics.py:5-70)."""
    s = snapshot(listener, connected)
    p = _PREFIX
    lines: list[str] = []

    def counter(name: str, help_: str, value) -> None:
        lines.append(f"# HELP {p}_{name} {help_}")
        lines.append(f"# TYPE {p}_{name} counter")
        lines.append(f"{p}_{name} {value}")

    def gauge(name: str, help_: str, value) -> None:
        lines.append(f"# HELP {p}_{name} {help_}")
        lines.append(f"# TYPE {p}_{name} gauge")
        lines.append(f"{p}_{name} {value}")

    counter("posts_processed_total",
            "Total posts processed for sentiment and topic analysis",
            s["posts_processed_total"])
    counter("posts_published_total",
            "Posts successfully published with sentiment and topics",
            s["posts_published_total"])
    counter("posts_empty_text_total",
            "Posts dropped by the empty-text filter",
            s["posts_empty_text_total"])
    counter("posts_gated_total",
            "Posts dropped by the confidence gate",
            s["posts_gated_total"])
    counter("batches_total", "Streaming micro-batches completed",
            s["batches_total"])
    counter("input_rows_total", "Total input rows across batches",
            s["input_rows_total"])
    gauge("nats_connected", "NATS connection status (1=connected)",
          s["nats_connected"])
    gauge("input_rows_per_second", "Source rate of the last batch",
          s["input_rows_per_second"])
    gauge("processed_rows_per_second", "Processing rate of the last batch",
          s["processed_rows_per_second"])

    # Histogram of per-batch trigger durations (reference
    # processing_duration_seconds shape, per-batch granularity).
    name = f"{p}_processing_duration_seconds"
    durations = s["batch_durations_s"]
    lines.append(f"# HELP {name} Micro-batch trigger durations")
    lines.append(f"# TYPE {name} histogram")
    cumulative = 0
    for b in DURATION_BUCKETS:
        cumulative = sum(1 for d in durations if d <= b)
        lines.append(f'{name}_bucket{{le="{b}"}} {cumulative}')
    lines.append(f'{name}_bucket{{le="+Inf"}} {len(durations)}')
    lines.append(f"{name}_sum {sum(durations)}")
    lines.append(f"{name}_count {len(durations)}")
    return "\n".join(lines) + "\n"


class _Handler(BaseHTTPRequestHandler):
    server: "HealthServer"

    def do_GET(self) -> None:  # noqa: N802
        srv: HealthServer = self.server  # type: ignore[assignment]
        if self.path == "/health":
            self._reply(200, json.dumps({"status": "ok"}),
                        "application/json")
        elif self.path == "/ready":
            ready = bool(srv.ready_check())
            self._reply(200 if ready else 503,
                        json.dumps({"ready": ready}), "application/json")
        elif self.path == "/metrics":
            body = prometheus_text(srv.listener, connected=bool(srv.ready_check()))
            self._reply(200, body, "text/plain; version=0.0.4")
        else:
            self._reply(404, json.dumps({"error": "not found"}),
                        "application/json")

    def _reply(self, code: int, body: str, ctype: str) -> None:
        data = body.encode()
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, fmt: str, *args) -> None:  # silence stderr
        pass


class HealthServer(ThreadingHTTPServer):
    """stdlib HTTP server for /health /ready /metrics, fed by a
    MetricsListener. ``ready_check`` is any zero-arg callable — wire it
    to ``query.isActive`` for the streaming pipeline (the analog of the
    reference's nats_connected readiness gate)."""

    daemon_threads = True

    def __init__(self, listener: MetricsListener, port: int = 0,
                 ready_check=lambda: True) -> None:
        super().__init__(("127.0.0.1", port), _Handler)
        self.listener = listener
        self.ready_check = ready_check
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self.server_address[1]

    def start(self) -> "HealthServer":
        self._thread = threading.Thread(target=self.serve_forever,
                                        daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.shutdown()
        self.server_close()
        if self._thread:
            self._thread.join(timeout=5)
