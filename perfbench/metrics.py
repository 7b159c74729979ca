"""Metric names, units and the result line.

``END_TO_END`` and ``PER_LAYER`` are the lists ``BENCHMARK.json``
declares (the smoke test keeps the two in step). A workload fills the
metrics its layers produce; the rest read 0 on that workload.
"""

from __future__ import annotations

import resource
import statistics
from dataclasses import dataclass, field

import numpy as np

SERVE_ROUTES = ("price_chart", "ohlc_chart", "indicator_chart",
                "market_cap_chart", "coin_table")
# Registry builders that compute the batch twins of the ingest streams.
REGISTRY_TWINS = ("envelope_price", "ohlc_candles", "technical_indicators")

END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "total_s": "s",
}

PER_LAYER: dict[str, str] = {
    "session.get_spark_s": "s",
    "trace.self_s": "s",
    "catalog.create_crypto_database_s": "s",
    **{f"plans.serving.{r}.p50_ms": "ms" for r in SERVE_ROUTES},
    "plans.serving.build_ms": "ms",
    "serve.generator_lag_ms": "ms",
    "spark.tasks_per_request": "count",
    "spark.stages_per_request": "count",
    "sources.envelope.build_envelopes_s": "s",
    "streaming.pipeline.run_ingest.batch_p50_ms": "ms",
    "streaming.pipeline.run_ingest.add_batch_p50_ms": "ms",
    "streaming.pipeline.stream_ohlc_to_dir.batch_p50_ms": "ms",
    "streaming.pipeline.stream_ohlc_to_dir.state_rows": "count",
    "streaming.stateful.stateful_indicators.batch_p50_ms": "ms",
    "streaming.stateful.stateful_indicators.state_rows": "count",
    "streaming.stateful.stateful_indicators.state_memory_bytes": "bytes",
    "streaming.stateful.stateful_indicators.state_commit_ms": "ms",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "ingest.ticks_per_s": "1/s",
    **{f"plans.registry.{q}.{part}_s": "s"
       for q in REGISTRY_TWINS for part in ("build", "exec")},
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
}


@dataclass
class Context:
    spark: object
    tracer: object
    seed: int
    seconds: float
    scratch: str


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    end_to_end: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def fail(self, what: str, ops: int = 1) -> None:
        self.failed += ops
        self.notes.append(f"FAILED: {what}")


def peak_rss_mb(spark) -> float:
    """Peak resident memory so far of this driver process plus its JVM.
    Both counters only grow, so a workload reads them right after its
    timed part, before its check runs."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark._jvm.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return float(statistics.median(values))


def span_s(span: dict) -> float:
    return span["end"] - span["start"]


def result_line(res: Result, traced: bool) -> dict:
    names = PER_LAYER if traced else END_TO_END
    source = res.layers if traced else res.end_to_end
    unknown = set(source) - set(names)
    if unknown:
        raise KeyError(f"metrics not declared in metrics.py: {sorted(unknown)}")
    if not traced and set(END_TO_END) - set(source):
        raise KeyError(f"end-to-end metrics missing: {sorted(set(END_TO_END) - set(source))}")
    return {
        "correct": res.failed == 0,
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {n: {"value": float(source.get(n, 0.0)), "unit": u}
                    for n, u in names.items()},
    }
