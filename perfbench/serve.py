"""``serve``: dashboard reads over the five stored tables.

Set-up: ``catalog.create_crypto_database`` writes the five tables from
the seeded events, three times into fresh locations (``setup_s`` is the
median); the last copy is served.

Load: one client that loads dashboard pages one after another. A page
is the five ``plans.serving`` routes in a seeded order, for one symbol
drawn from a Zipf distribution, with a seeded time range for the two
range routes. The client sends each request as soon as the previous
response has arrived and ``collect()``-s it as the reference's Flask
handlers do, so a request's latency is its own service time, without
queueing behind other requests. After ``WARMUP_PAGES`` untimed pages,
``--seconds / PAGE_S`` pages are timed (``total_s`` is the median
page).

Check: a seeded sample of responses against DuckDB over the stored
parquet files.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from perfbench import check, datagen
from perfbench.metrics import SERVE_ROUTES, Result, median, peak_rss_mb, pct, span_s
from perfbench.tracing import STAGE_FIELDS

N_EVENTS = 10_000
# Route latencies keep falling over the first pages a JVM serves (JIT):
# on 4 cores a page takes about 1.8 s at first and 1.3 s twelve pages on.
WARMUP_PAGES = 5
# A run times one page per PAGE_S seconds of --seconds. The page count
# is fixed, not the clock, so a slower host (or a slower program) does
# not change which pages are timed.
PAGE_S = 1.5
TIME_RANGES = ("1h", "1d", "1w", "1m", "1y")
ZIPF_A = 1.3
SAMPLE = 10
TABLES = ("coins", "price_data", "ohlc_data", "technical_indicators", "coin_market_cap")


def _pages(rng: np.random.Generator, symbols: list[str]):
    """Endless seeded pages: the five routes in a random order, for one
    Zipf-picked symbol and a random time range."""
    order = rng.permutation(symbols)
    while True:
        sym = str(order[min(rng.zipf(ZIPF_A), len(order)) - 1])
        time_range = str(rng.choice(TIME_RANGES))
        yield [(SERVE_ROUTES[k], sym, time_range) for k in rng.permutation(len(SERVE_ROUTES))]


def _build(spark, db: str, route: str, sym: str, time_range: str):
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans import serving

    t = {name: spark.table(f"{db}.{name}") for name in TABLES}
    if route == "price_chart":
        return serving.price_chart(t["price_data"], sym, time_range)
    if route == "ohlc_chart":
        return serving.ohlc_chart(t["ohlc_data"], sym, time_range)
    if route == "indicator_chart":
        return serving.indicator_chart(t["technical_indicators"], sym)
    if route == "market_cap_chart":
        return serving.market_cap_chart(t["coin_market_cap"])
    return serving.coin_table(t["coins"], t["price_data"], t["ohlc_data"],
                              t["technical_indicators"])


def oracle_sql(route: str, sym: str, time_range: str) -> str:
    """DuckDB twin of each route over the stored tables."""
    from etl_visualization_of_cryptocurrency_trading_data_spark.plans.serving import (
        TIME_RANGE_HOURS,
    )

    if route in ("price_chart", "ohlc_chart"):
        table, cols = (("price_data", "price, volume") if route == "price_chart"
                       else ("ohlc_data", "open, high, low, close"))
        return f"""
            WITH f AS (SELECT * FROM {table} WHERE suffix(coin_id, '_{sym}')),
                 a AS (SELECT max(timestamp) AS anchor FROM f)
            SELECT exchange, timestamp, {cols} FROM f, a
            WHERE timestamp > anchor - INTERVAL {TIME_RANGE_HOURS[time_range]} HOURS"""
    if route == "indicator_chart":
        return f"""
            SELECT coin_id, exchange, timestamp, sma_20, ema_20, rsi_14, macd
            FROM technical_indicators WHERE suffix(coin_id, '_{sym}')
            ORDER BY timestamp, exchange LIMIT 200"""
    if route == "market_cap_chart":
        return "SELECT coin_symbol, timestamp, market_cap_percentage FROM coin_market_cap"

    def latest(table: str, out: str, tiebreak: str) -> str:
        order = ", ".join(f"{c} DESC NULLS LAST" for c in ["timestamp", *tiebreak.split(", ")])
        return f"""
            SELECT coin_id AS id, exchange, {out} FROM (
              SELECT *, row_number() OVER (PARTITION BY coin_id, exchange ORDER BY {order}) AS rn
              FROM {table}) WHERE rn = 1"""

    return f"""
        WITH lp AS ({latest("price_data", "timestamp AS price_ts, price, volume", "price, volume")}),
             lo AS ({latest("ohlc_data", "open, high, low, close", "open, high, low, close")}),
             li AS ({latest("technical_indicators", "sma_20, ema_20, rsi_14, macd",
                            "sma_20, ema_20, rsi_14, macd")})
        SELECT c.id, c.name, c.symbol, c.exchange, price_ts, price, volume,
               open, high, low, close, sma_20, ema_20, rsi_14, macd
        FROM coins c JOIN lp USING (id, exchange) JOIN lo USING (id, exchange)
                     JOIN li USING (id, exchange)"""


def run(ctx) -> Result:
    from etl_visualization_of_cryptocurrency_trading_data_spark import catalog

    spark, tracer, res = ctx.spark, ctx.tracer, Result()
    data = datagen.write_events(os.path.join(ctx.scratch, "input"), ctx.seed, N_EVENTS)

    setups = []
    for rep in range(3):
        db, loc = f"serve_{rep}", os.path.join(ctx.scratch, f"serve_{rep}")
        with tracer.span("catalog.create_crypto_database", rep=rep) as s:
            catalog.create_crypto_database(spark, data, database=db, location=loc)
        setups.append(span_s(s))

    users = pq.read_table(os.path.join(data, "events.parquet"), columns=["user_id"])
    symbols = [f"C{u}" for u in sorted(set(users.column("user_id").to_pylist()))]
    rng = np.random.default_rng([ctx.seed, 1])
    pages = _pages(rng, symbols)
    served = f"serve_{len(setups) - 1}"

    for _ in range(WARMUP_PAGES):
        with tracer.span("serve.warmup_page"):
            for req in next(pages):
                _build(spark, served, *req).collect()

    done, page_s, lags = [], [], []
    last = time.perf_counter()
    for _ in range(max(round(ctx.seconds / PAGE_S), 1)):
        with tracer.span("serve.page") as page:
            for req in next(pages):
                res.attempted += 1
                lags.append(time.perf_counter() - last)
                try:
                    with tracer.span(f"plans.serving.{req[0]}", request=req) as s:
                        with tracer.span("plans.serving.build"):
                            df = _build(spark, served, *req)
                        s["rows"] = df.collect()
                    s["columns"] = df.columns
                    done.append(s)
                except Exception as e:  # a failed request counts against the run
                    res.fail(f"request {req}: {type(e).__name__}: {e}")
                last = time.perf_counter()
        page_s.append(span_s(page))
    rss = peak_rss_mb(spark)
    if not done:
        raise RuntimeError("serve: every request failed")

    tables = {t: os.path.join(ctx.scratch, served, t) for t in TABLES}
    con = check.duck(tables)
    pick = np.random.default_rng([ctx.seed, 2])
    for i in sorted(pick.choice(len(done), size=min(SAMPLE, len(done)), replace=False)):
        route, sym, time_range = done[i]["request"]
        want = con.sql(oracle_sql(route, sym, time_range)).df()
        got = pd.DataFrame([tuple(r) for r in done[i]["rows"]], columns=done[i]["columns"])
        why = check.mismatch(got, want)
        if why:
            res.fail(f"{route}({sym}, {time_range}) vs DuckDB: {why}")
    con.close()
    for s in done:
        del s["rows"], s["columns"]

    latencies = [span_s(s) * 1e3 for s in done]
    res.end_to_end.update({
        "setup_s": median(setups),
        "peak_rss_mb": rss,
        "latency_p50_ms": pct(latencies, 50),
        "latency_p90_ms": pct(latencies, 90),
        "total_s": median(page_s),
    })
    layers = {
        "catalog.create_crypto_database_s": median(setups),
        "plans.serving.build_ms": pct([span_s(b) * 1e3 for b in tracer.named("plans.serving.build")], 50),
        "serve.generator_lag_ms": pct([lag * 1e3 for lag in lags], 90),
    }
    for route in SERVE_ROUTES:
        times = [span_s(s) * 1e3 for s in done if s["name"] == f"plans.serving.{route}"]
        if times:
            layers[f"plans.serving.{route}.p50_ms"] = pct(times, 50)
    if tracer.enabled:
        rolls = [s["spark"] for s in done]
        layers["spark.tasks_per_request"] = float(np.mean([r["tasks"] for r in rolls]))
        layers["spark.stages_per_request"] = float(np.mean([r["stages"] for r in rolls]))
        for k in STAGE_FIELDS:
            layers[f"spark.{k}"] = sum(r[k] for r in rolls) / len(page_s)
    res.layers.update(layers)
    return res
