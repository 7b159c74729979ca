"""Run one benchmark workload against the engine and print its metrics.

Usage, from the repository root::

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Workloads (``BENCHMARK.json`` records why each was chosen):

- ``serve``: ``catalog.create_crypto_database`` writes the five tables,
  then one client loads dashboard pages (the five ``plans.serving``
  routes for one Zipf-picked symbol) one request after another.
- ``ingest``: ``sources.envelope.build_envelopes`` spools JSON-line
  envelope files; the three ``run_full_pipeline`` queries (ingest
  fan-out through ``sinks``, OHLC candles, stateful indicators) drain
  the spool one after another under ``availableNow``, one file per
  micro-batch.

Inputs are generated from ``--seed`` under ``.perfbench/run-<pid>/``
at the repository root, which is removed when the run ends. Outputs are
checked after the timed part; a mismatch counts as a failed operation.
The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. A traced run
also writes its spans to ``.perfbench/traces/``. Metrics a workload's
layers never produce read 0 on that workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "etl_visualization_of_cryptocurrency_trading_data_spark"
DRIVER_MEMORY = "2g"
WORKLOADS = ("serve", "ingest")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(scratch: str) -> dict[str, str]:
    """Fix what the engine reads from the environment before the JVM
    starts: cores, driver memory, where Python workers import the
    package from, the time zone and every temp location."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    time.tzset()
    return env


def spark_conf(scratch: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


def sweep_dead_runs(work: str) -> None:
    """Remove scratch directories left by runs that were killed."""
    if not os.path.isdir(work):
        return
    for name in os.listdir(work):
        pid = name.removeprefix("run-")
        if name.startswith("run-") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench")
    sweep_dead_runs(work)
    scratch = os.path.join(work, f"run-{os.getpid()}")
    os.makedirs(scratch)
    # a terminated run still stops Spark and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    spark = None
    try:
        env = pin_environment(scratch)
        from etl_visualization_of_cryptocurrency_trading_data_spark.session import get_spark
        from perfbench import ingest, metrics, serve
        from perfbench.tracing import Tracer

        tracer = Tracer(enabled=bool(args.trace))
        with tracer.span("session.get_spark") as s:
            spark = get_spark(app_name=f"perfbench-{args.workload}",
                              extra_conf=spark_conf(scratch))
        tracer.bind(spark)
        ctx = metrics.Context(spark=spark, tracer=tracer, seed=args.seed,
                              seconds=args.seconds, scratch=scratch)
        module = {"serve": serve, "ingest": ingest}[args.workload]
        res = module.run(ctx)
        res.layers["session.get_spark_s"] = s["end"] - s["start"]
        res.layers["trace.self_s"] = tracer.self_s
        stamp = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                 "trace": args.trace, "env": env,
                 "spark": spark.version, "python": sys.version.split()[0]}
        print("perfbench: " + json.dumps(stamp), file=sys.stderr)
        for note in res.notes:
            print(f"perfbench: {note}", file=sys.stderr)
        if args.trace:
            traces = os.path.join(work, "traces")
            os.makedirs(traces, exist_ok=True)
            path = os.path.join(traces, f"{args.workload}-seed{args.seed}.json")
            tracer.write(path, {**stamp, "end_to_end": res.end_to_end,
                                "layers": res.layers, "notes": res.notes})
        out = metrics.result_line(res, traced=bool(args.trace))
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
