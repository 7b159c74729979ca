"""Serving-route query builders (SURVEY §3.3 / §7 M1+M7).

Each Flask route of the reference (flask/app.py) becomes a parameterized
DataFrame builder returning a tidy result frame; chart rendering stays
out of the engine. The reference's CQL-scan -> client-side-filter ->
pandas reshape pipeline collapses into one Catalyst plan per route, so
predicate pushdown / column pruning / broadcast joins all apply
(SURVEY §4.1: the reference gets none of these).

Time-range filters are anchored at the data's max timestamp rather than
wall-clock now() so results are deterministic (the reference anchors at
datetime.now(), flask/app.py:39,93); the anchor is a window max over the
symbol's rows, compared in the same pass — one declarative plan, one
scan, no driver round-trip, no two-query race (reference defect SURVEY
§2.11.5).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Reference time-range lookup {"1h": 1, "1d": 24, ...} (flask/app.py:30-38).
TIME_RANGE_HOURS = {"1h": 1, "1d": 24, "1w": 24 * 7, "1m": 24 * 30, "1y": 24 * 365}


def _within_range(df: DataFrame, time_range: str, ts_col: str = "timestamp") -> DataFrame:
    """timestamp > max(timestamp) - range  (P6, anchored deterministically).

    The anchor is ``max`` over an unpartitioned window, so the rows are
    scanned once and meet their anchor in the same pass (a 1-row
    aggregate joined back would scan them twice). The window moves every
    input row to one partition: the routes apply it to one symbol's rows,
    of which they collect a subset anyway.
    """
    hours = TIME_RANGE_HOURS[time_range]
    anchor = F.max(ts_col).over(Window.partitionBy())
    return (
        df.withColumn("_anchor", anchor)
        .filter(F.col(ts_col) > F.col("_anchor") - F.expr(f"INTERVAL {hours} HOURS"))
        .drop("_anchor")
    )


def _for_symbol(df: DataFrame, symbol: str) -> DataFrame:
    """Entity-suffix predicate (P5, flask/app.py:51,110,163) — pushed into
    the scan by Catalyst (StringEndsWith), unlike the reference's
    client-side post-filter."""
    return df.filter(F.col("coin_id").endswith(f"_{symbol}"))


def price_chart(price: DataFrame, symbol: str, time_range: str) -> DataFrame:
    """Price series per exchange for one coin (flask/app.py:24-75).

    Tidy rows (exchange, timestamp, price, volume); the per-exchange
    trace pivot (A3) is presentation, left to the client.
    """
    return _within_range(_for_symbol(price, symbol), time_range).select(
        "exchange", "timestamp", "price", "volume"
    )


def ohlc_chart(ohlc: DataFrame, symbol: str, time_range: str) -> DataFrame:
    """Candlestick frame for one coin (flask/app.py:78-140)."""
    return _within_range(_for_symbol(ohlc, symbol), time_range).select(
        "exchange", "timestamp", "open", "high", "low", "close"
    )


def indicator_chart(indicators: DataFrame, symbol: str, limit: int = 200) -> DataFrame:
    """Indicator series for one coin (flask/app.py:143-201).

    The reference truncates with LIMIT 1000 *before* its client-side coin
    filter (defect SURVEY §2.11.4); we pin the sane semantics —
    filter, then deterministic order, then limit.
    """
    return (
        _for_symbol(indicators, symbol)
        .orderBy("timestamp", "exchange")
        .limit(limit)
    )


def market_cap_chart(market_cap: DataFrame) -> DataFrame:
    """Latest market-cap share per coin (flask/app.py:204-230) — the
    derived coin_market_cap table is already the latest snapshot."""
    return market_cap.select("coin_symbol", "timestamp", "market_cap_percentage")


def coin_table(
    coins: DataFrame, price: DataFrame, ohlc: DataFrame, indicators: DataFrame
) -> DataFrame:
    """Flagship: the full coin snapshot table (flask/app.py:270-302).

    The reference joins three full fact tables many-to-many in pandas and
    then collapses to the newest row (J1/J2/A2, defect §2.11.7). Here each
    fact side is projected to (coin_id, exchange, struct(timestamp,
    measures...)), the three are unioned, and ONE groupBy on (coin_id,
    exchange) takes the ``max`` struct of each side: the newest row, ties
    broken by the measures in order (descending, NULL lowest, NaN
    highest) — the same pick as ``row_number()`` over ``timestamp DESC,
    measures DESC NULLS LAST``. Every output column is in the struct, so
    ties on the whole struct cannot change the result. A key missing
    from any side keeps a NULL struct and is dropped (inner-join
    semantics). The dimension-sized result is broadcast into ``coins``:
    one shuffle in total, and the many-to-many blow-up never
    materializes.
    """
    keys = ["coin_id", "exchange"]
    sides = {
        "_p": (price, ["price", "volume"]),
        "_o": (ohlc, ["open", "high", "low", "close"]),
        "_i": (indicators, ["sma_20", "ema_20", "rsi_14", "macd"]),
    }
    parts = [
        df.select(*keys, F.struct("timestamp", *measures).alias(tag))
        for tag, (df, measures) in sides.items()
    ]
    facts = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    latest = (
        facts.groupBy(*keys)
        .agg(*[F.max(tag).alias(tag) for tag in sides])
        .filter(F.col("_p").isNotNull() & F.col("_o").isNotNull() & F.col("_i").isNotNull())
        .select(
            F.col("coin_id").alias("id"), "exchange",
            F.col("_p.timestamp").alias("price_ts"), "_p.price", "_p.volume",
            "_o.open", "_o.high", "_o.low", "_o.close",
            "_i.sma_20", "_i.ema_20", "_i.rsi_14", "_i.macd",
        )
    )
    return coins.join(F.broadcast(latest), ["id", "exchange"]).select(
        "id", "name", "symbol", "exchange", "price_ts", "price", "volume",
        "open", "high", "low", "close", "sma_20", "ema_20", "rsi_14", "macd",
    )
