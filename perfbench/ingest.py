"""``ingest``: the reference's streaming write path.

Set-up: ``sources.envelope.build_envelopes`` turns the seeded events
into JSON-line envelopes, which are spooled as ``SPOOL_FILES`` files in
tick order; done three times (``setup_s`` is the median), the last spool
is read.

Run: one untimed warm-up drain (a JVM's first drain takes about twice
as long as later ones), then ``--seconds / DRAIN_S`` drains of the
spool (at least one). Each drain runs the three
queries of the ``run_full_pipeline`` topology over
``envelope_price_stream(read_envelope_stream(...))``, one file per
micro-batch, with fresh outputs and checkpoints: ``run_ingest`` (price
appends and the coins upsert through ``sinks``), ``stream_ohlc_to_dir``
and ``stateful_indicators`` written as parquet. Each query drains under
``availableNow`` before the next starts, so a micro-batch's time is its
own and not its share of four cores split three ways; the drain time
(``total_s``) is the sum of the three. An operation is one micro-batch;
its latency is the batch's trigger execution time. A query whose
written tables differ from their batch twins fails every micro-batch it
ran in that drain.

Check: every drain's written tables against batch twins that the
``plans.registry`` builders compute from the same events:
``envelope_price`` for the price rows (and the latest row per coin for
the upserted coins), ``technical_indicators``, and ``ohlc_candles`` for
every window the final watermark closed.
"""

from __future__ import annotations

import os
import time

import duckdb
import pandas as pd

from perfbench import check, datagen
from perfbench.metrics import REGISTRY_TWINS, Result, median, peak_rss_mb, pct, span_s
from perfbench.tracing import STAGE_FIELDS

N_EVENTS = 1_500
SPOOL_FILES = 2
# A run times one drain per DRAIN_S seconds of --seconds (a warm drain
# takes 5-7 s on 4 cores). The drain count is fixed, not the clock, so a
# slower host (or a slower program) does not change what is timed.
DRAIN_S = 5.0
QUERIES = ("streaming.pipeline.run_ingest", "streaming.pipeline.stream_ohlc_to_dir",
           "streaming.stateful.stateful_indicators")
# The tables each query writes.
OUTPUTS = {QUERIES[0]: ("price_data", "coins"), QUERIES[1]: ("ohlc_data",),
           QUERIES[2]: ("technical_indicators",)}
PRICE_COLS = ["coin_id", "exchange", "timestamp", "price", "volume"]
# A drain of this benchmark's spool takes seconds; a stuck one is stopped.
DRAIN_TIMEOUT_S = 120


def _spool(lines: list[str], spool: str) -> None:
    """Tick-ordered files with increasing mtimes, so the file source
    replays them in order."""
    os.makedirs(spool)
    per = -(-len(lines) // SPOOL_FILES)
    for i in range(SPOOL_FILES):
        path = os.path.join(spool, f"{i:04d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines[i * per:(i + 1) * per]) + "\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))


def _queries(spark, spool: str, out: str, ckpt: str) -> list:
    """Starters of the three queries, in ``QUERIES`` order."""
    from etl_visualization_of_cryptocurrency_trading_data_spark import sinks, streaming
    from etl_visualization_of_cryptocurrency_trading_data_spark.streaming.stateful import (
        stateful_indicators,
    )

    def src():
        return streaming.envelope_price_stream(
            streaming.read_envelope_stream(spark, spool, max_files_per_trigger=1))

    def indicators():
        return (
            stateful_indicators(src()).writeStream.outputMode("append").format("parquet")
            .option("path", sinks.table_dir(out, "technical_indicators"))
            .option("checkpointLocation", os.path.join(ckpt, "indicators"))
            .trigger(availableNow=True).start()
        )

    return [
        lambda: streaming.run_ingest(src(), out, os.path.join(ckpt, "ingest")),
        lambda: streaming.stream_ohlc_to_dir(src(), out, os.path.join(ckpt, "ohlc"),
                                             delay="0 seconds"),
        indicators,
    ]


def _drain(ctx, spool: str, out: str, ckpt: str) -> list[dict]:
    """Run one drain, one query at a time; returns one span per query,
    with its progress."""
    tracer, spans = ctx.tracer, []
    for name, start_query in zip(QUERIES, _queries(ctx.spark, spool, out, ckpt)):
        start = time.perf_counter()
        q = start_query()
        try:
            finished = q.awaitTermination(DRAIN_TIMEOUT_S)
        except Exception:  # the query failed; q.exception() says how
            finished = True
        end = time.perf_counter()
        q.stop()
        if not finished:
            raise TimeoutError(f"{name} on {spool} still running after {DRAIN_TIMEOUT_S} s")
        exc = q.exception()
        rec = tracer.record(name, start, end, progress=list(q.recentProgress),
                            error=None if exc is None else str(exc))
        if tracer.enabled:
            rec["spark"] = tracer.stream_rollup(q)
        spans.append(rec)
    return spans


def _files(paths: list[str]) -> tuple[int, int]:
    n = size = 0
    for path in paths:
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(root, f))
    return n, size


def _expected(ctx, data: str) -> dict[str, pd.DataFrame]:
    """Batch twins of the three streams' outputs, each from the
    ``plans.registry`` builder over the same events: the envelope decode
    (price rows), the hourly candles and the indicator table."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans import registry

    tracer, out = ctx.tracer, {}
    for q in REGISTRY_TWINS:
        with tracer.span(f"plans.registry.{q}") as s:
            with tracer.span(f"plans.registry.{q}.build") as b:
                df = registry.QUERIES[q](ctx.spark, data)
            with tracer.span(f"plans.registry.{q}.exec") as e:
                out[q] = df.toPandas()
        s["build_s"], s["exec_s"] = span_s(b), span_s(e)
    price = out["envelope_price"][PRICE_COLS]
    latest = price.groupby(["coin_id", "exchange"], as_index=False)["timestamp"].max()
    digits = latest["coin_id"].str.extract(r"_C([0-9]+)$")[0]
    coins = pd.DataFrame({"id": latest["coin_id"], "name": "Coin " + digits,
                          "symbol": "C" + digits, "exchange": latest["exchange"],
                          "timestamp": latest["timestamp"]})
    candles = out["ohlc_candles"]
    # delay 0: the final watermark is the newest tick, and a candle is
    # emitted once the watermark reaches its window's end
    closed = candles["timestamp"] + pd.Timedelta(hours=1) <= price["timestamp"].max()
    return {
        "price_data": price,
        "coins": coins,
        "technical_indicators": out["technical_indicators"],
        "ohlc_data": candles[closed].reset_index(drop=True),
    }


def _check(out: str, tables: tuple[str, ...], want: dict[str, pd.DataFrame]) -> str | None:
    """None when a query's written tables equal their batch twins."""
    for table in tables:
        try:
            with check.duck({"t": os.path.join(out, table)}) as con:
                got = con.sql(f"SELECT {', '.join(want[table].columns)} FROM t").df()
        except duckdb.Error as e:
            return f"{table} unreadable: {e}"
        why = check.mismatch(got, want[table])
        if why:
            return f"{table} vs batch: {why}"
    return None


def run(ctx) -> Result:
    from etl_visualization_of_cryptocurrency_trading_data_spark import catalog
    from etl_visualization_of_cryptocurrency_trading_data_spark.sources import envelope as env

    spark, tracer, res = ctx.spark, ctx.tracer, Result()
    data = datagen.write_events(os.path.join(ctx.scratch, "input"), ctx.seed, N_EVENTS)
    with tracer.span("catalog.load_table"):
        events = catalog.load_table(spark, data, "events")

    setups, builds = [], []
    for rep in range(3):
        spool = os.path.join(ctx.scratch, f"spool_{rep}")
        with tracer.span("ingest.setup", rep=rep) as s:
            with tracer.span("sources.envelope.build_envelopes") as b:
                lines = [r.value for r in
                         env.build_envelopes(events).orderBy("tick_ts").select("value").collect()]
            _spool(lines, spool)
        setups.append(span_s(s))
        builds.append(span_s(b))

    with tracer.span("ingest.warmup_drain"):
        _drain(ctx, spool, *(os.path.join(ctx.scratch, f"{k}_warmup") for k in ("out", "ckpt")))

    drains = []
    for d in range(max(round(ctx.seconds / DRAIN_S), 1)):
        out, ckpt = (os.path.join(ctx.scratch, f"{kind}_{d}") for kind in ("out", "ckpt"))
        with tracer.span("ingest.drain", drain=d) as s:
            s["queries"] = _drain(ctx, spool, out, ckpt)
        s["out"] = out
        drains.append(s)
    rss = peak_rss_mb(spark)

    want = _expected(ctx, data)
    ticks = len(want["price_data"])
    for s in drains:
        for q in s["queries"]:
            ops = max(len(q["progress"]), 1)
            res.attempted += ops
            why = q["error"] or _check(s["out"], OUTPUTS[q["name"]], want)
            if why:
                res.fail(f"drain {s['drain']} {q['name']}: {why}", ops)

    def progress(name: str) -> list[dict]:
        return [p for s in drains for q in s["queries"] if q["name"] == name
                for p in q["progress"]]

    def state(name: str, key: str) -> float:
        """The state store's figure after each drain of ``name``."""
        last = [q["progress"][-1]["stateOperators"][0][key]
                for s in drains for q in s["queries"]
                if q["name"] == name and q["progress"] and q["progress"][-1]["stateOperators"]]
        return median(last) if last else 0.0

    res.notes.append("drain seconds: " + ", ".join(f"{span_s(s):.3f}" for s in drains))
    batches = [p["durationMs"]["triggerExecution"] for q in QUERIES for p in progress(q)]
    drain_s = median([span_s(s) for s in drains])
    res.end_to_end.update({
        "setup_s": median(setups),
        "peak_rss_mb": rss,
        "latency_p50_ms": pct(batches, 50),
        "latency_p90_ms": pct(batches, 90),
        "total_s": drain_s,
    })
    ind = QUERIES[2]
    files, size = _files([os.path.join(drains[-1]["out"], t) for t in ("price_data", "coins")])
    layers = {
        "sources.envelope.build_envelopes_s": median(builds),
        "ingest.ticks_per_s": ticks / drain_s,
        "sinks.files_written": files,
        "sinks.bytes_written": size,
        f"{ind}.state_rows": state(ind, "numRowsTotal"),
        f"{ind}.state_memory_bytes": state(ind, "memoryUsedBytes"),
        f"{ind}.state_commit_ms": pct([p["stateOperators"][0]["commitTimeMs"]
                                       for p in progress(ind)], 50),
        f"{QUERIES[1]}.state_rows": state(QUERIES[1], "numRowsTotal"),
        f"{QUERIES[0]}.add_batch_p50_ms": pct([p["durationMs"]["addBatch"]
                                               for p in progress(QUERIES[0])], 50),
    }
    for q in REGISTRY_TWINS:
        twin = tracer.named(f"plans.registry.{q}")[-1]
        layers[f"plans.registry.{q}.build_s"] = twin["build_s"]
        layers[f"plans.registry.{q}.exec_s"] = twin["exec_s"]
    for q in QUERIES:
        layers[f"{q}.batch_p50_ms"] = pct(
            [p["durationMs"]["triggerExecution"] for p in progress(q)], 50)
    if tracer.enabled:
        for k in STAGE_FIELDS:
            layers[f"spark.{k}"] = sum(q["spark"][k] for s in drains
                                       for q in s["queries"]) / len(drains)
    res.layers.update(layers)
    return res
