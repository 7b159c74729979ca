"""Reference-shaped tables derived from the fixture tables (FIXTURES.md §B).

The reference's five Cassandra tables (keyspace ``crypto_analysis``, DDL at
reference spark-streaming.py:51-116) are re-created deterministically from
the driver's synthetic ``events`` table so every SURVEY §2 operator has a
natural, oracle-checkable input:

    coins            -- dimension: one row per (exchange, symbol)
    price_data       -- fact time-series keyed (coin_id, exchange, timestamp)
    ohlc_data        -- 1-hour tumbling candles over price_data
    coin_market_cap  -- share-of-total snapshot at the global max timestamp

Key mapping (FIXTURES.md §B): ``exchange = event_type``,
``symbol = 'C' || user_id``, ``coin_id = exchange || '_' || symbol`` — the
surrogate-key concat is the reference's own idiom
(dags/crypto_data_streaming.py:72).

Scale notes (100 TB):
- price_data is one window pass partitioned by ``coin_id`` — a single hash
  shuffle on the entity key; no driver-side state, no collects. Entity
  cardinality grows with data (users scale with sf), so partitions stay
  balanced; AQE skew-join/coalesce handles hot entities.
- coins is DISTINCT over the two key columns — Catalyst prunes the scan to
  exactly those columns; output is dimension-sized (broadcastable).
- ohlc_data is a single groupBy on (entity, hour bucket): map-side partial
  aggregation, one shuffle, no window needed.
- coin_market_cap aggregates symbol-level partials, then computes the
  share against a single-row broadcast total — no single-partition window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Row-offset lags used to derive the reference's change_1h/_1d/_1w/_1m
# columns (dags/crypto_data_streaming.py:87-98 computes close/open-1 per
# REST candle; we derive the same ratio-to-earlier-price against row lags
# so the result is deterministic and oracle-expressible).
CHANGE_LAGS = {"change_1h": 1, "change_1d": 4, "change_1w": 12, "change_1m": 24}


def coins(events: DataFrame) -> DataFrame:
    """Dimension table (reference DDL spark-streaming.py:53-61).

    DISTINCT over (event_type, user_id) — column-pruned scan, one shuffle,
    dimension-sized output: the canonical broadcast-join side.
    """
    return (
        events.select(
            F.concat(F.col("event_type"), F.lit("_C"), F.col("user_id")).alias("id"),
            F.concat(F.lit("Coin "), F.col("user_id")).alias("name"),
            F.concat(F.lit("C"), F.col("user_id")).alias("symbol"),
            F.col("event_type").alias("exchange"),
        )
        .distinct()
    )


def tick_base(events: DataFrame) -> DataFrame:
    """Raw tick projection of the events table — the shared input shape
    for price_data and every tick-level window operator. Includes
    ``event_id`` so callers can use it as the deterministic window
    tiebreak (tied (coin_id, timestamp) ticks are possible; windows
    ordered by timestamp alone are engine-order-dependent). Pure
    column projection: no shuffle, fully pushed into the scan.
    """
    return events.select(
        F.concat(F.col("event_type"), F.lit("_C"), F.col("user_id")).alias("coin_id"),
        F.col("event_type").alias("exchange"),
        F.col("ts").alias("timestamp"),
        F.col("value").alias("price"),
        (F.abs(F.col("value")) * 100.0).alias("volume"),
        F.col("event_id"),
    )


def price_data(events: DataFrame) -> DataFrame:
    """Fact time-series (reference DDL spark-streaming.py:62-77).

    change_* columns are null-guarded lag ratios (P9/W4 in SURVEY §2):
    NULL when there is no lagged row or the lagged price is zero —
    mirroring the reference's ``close/open - 1 if open else None``
    (dags/crypto_data_streaming.py:89-98).

    One window pass over a single hash shuffle on coin_id. The (ts,
    event_id) orderBy gives a deterministic total order even if two ticks
    share a timestamp.
    """
    base = tick_base(events)
    w = Window.partitionBy("coin_id").orderBy("timestamp", "event_id")
    changes = [
        F.when(
            F.lag("price", n).over(w) != 0.0,
            F.col("price") / F.lag("price", n).over(w) - 1.0,
        ).alias(name)
        for name, n in CHANGE_LAGS.items()
    ]
    return base.select(
        "coin_id", "exchange", "timestamp", "price", "volume", *changes
    )


def ohlc_data(price: DataFrame) -> DataFrame:
    """1-hour tumbling candles (replaces the reference's per-candle REST
    fetch, dags/crypto_data_streaming.py:102-112; schema parity with DDL
    spark-streaming.py:78-91).

    Pure groupBy aggregation — partial (map-side) struct-min/max combine
    before the single shuffle, so this scales linearly; no window
    function, no per-group sort.

    open/close are struct-ordering MIN/MAX over (timestamp, price) —
    NOT min_by/max_by(price, timestamp), whose answer is arbitrary when
    two ticks share a timestamp. The struct form pins ties by price,
    identically to the streaming ohlc_stream / envelope build and the
    DuckDB struct-min oracle, so batch === stream on any feed.
    """
    hour = F.date_trunc("hour", F.col("timestamp"))
    return (
        price.groupBy(
            "coin_id", "exchange", hour.alias("timestamp")
        )
        .agg(
            F.min(F.struct("timestamp", "price")).alias("_first"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max(F.struct("timestamp", "price")).alias("_last"),
        )
        .select(
            "coin_id",
            "exchange",
            "timestamp",
            F.col("_first.price").alias("open"),
            "high",
            "low",
            F.col("_last.price").alias("close"),
        )
    )


def vwap(price: DataFrame, round_decimals: int = 6) -> DataFrame:
    """Hourly volume-weighted average price per (coin, exchange) — the
    standard execution-quality benchmark next to the reference's plain
    OHLC candles (same tumbling bucket as [[ohlc_data]]).

    Pure groupBy aggregation with map-side partial combine: one shuffle
    keyed by (coin, exchange, hour), the same key every candle query
    shuffles on. NULL when the bucket's volume sums to zero (weighted
    mean undefined). Ratio and volume rounded so each engine's
    partial-sum order cannot leak into the emitted values.
    """
    hour = F.date_trunc("hour", F.col("timestamp"))
    wsum = F.sum(F.col("price") * F.col("volume"))
    vsum = F.sum("volume")
    return price.groupBy("coin_id", "exchange", hour.alias("timestamp")).agg(
        F.when(vsum > 0, F.round(wsum / vsum, round_decimals)).alias("vwap"),
        F.round(vsum, round_decimals).alias("total_volume"),
        F.count("*").alias("n_ticks"),
    )


def max_drawdown(
    price: DataFrame,
    round_decimals: int = 6,
    order_cols: tuple[str, ...] = ("timestamp",),
) -> DataFrame:
    """Per-(coin, exchange) maximum drawdown: the most negative
    price/running-peak ratio over the series, plus the peak itself and
    the tick count. One running-max window pass (rows unbounded
    preceding) + one aggregation — two shuffles on the entity keys,
    the same key every indicator shares. Peaks are exact (min/max are
    order-insensitive); only the final ratio is rounded. Tick-level
    callers must pass a deterministic tiebreak in ``order_cols`` (e.g.
    ``("timestamp", "event_id")``) — the running peak at a tied row is
    otherwise engine-order-dependent.
    """
    w = (
        Window.partitionBy("coin_id", "exchange")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dd = price.withColumn("_peak", F.max("price").over(w))
    # explicit zero-peak guard: Spark's non-ANSI x/0 is NULL but other
    # engines give +/-inf — NULL ratios then drop out of min() in both
    ratio = F.when(F.col("_peak") != 0, F.col("price") / F.col("_peak") - 1.0)
    return dd.groupBy("coin_id", "exchange").agg(
        F.round(F.min(ratio), round_decimals).alias("max_drawdown"),
        F.max("price").alias("peak_price"),
        F.count("*").alias("n_ticks"),
    )


def rolling_beta(
    ohlc: DataFrame, window: int = 24, round_decimals: int = 6
) -> DataFrame:
    """Rolling market beta per coin over hourly candle returns:
    covar_samp(coin return, market return) / var_samp(market return)
    across a trailing ``window`` of candles — windowed covariance /
    variance, a window-function surface nothing else in the engine
    exercises. NULL until the window fills or while the market shows
    zero variance.

    Plan shape: per-coin lag for returns (entity-key shuffle shared
    with every indicator), one hour-keyed aggregation for the
    equal-weight market return, a broadcast join of that tiny
    per-hour frame back onto the coin rows, then ONE window pass
    computing both moments. Market returns are pre-rounded to 1e-9 so
    each engine's partial-sum order in the hourly mean cannot leak
    into the moments; the final beta rounds to ``round_decimals``.
    """
    wo = Window.partitionBy("coin_id", "exchange").orderBy("timestamp")
    prev = F.lag("close").over(wo)
    ret = F.when(prev != 0, F.col("close") / prev - 1.0)
    r = ohlc.select(
        "coin_id", "exchange", "timestamp", ret.alias("r")
    ).filter(F.col("r").isNotNull())
    market = r.groupBy("timestamp").agg(
        F.round(F.avg("r"), 9).alias("m"), F.count("*").alias("n_coins")
    )
    joined = r.join(F.broadcast(market), "timestamp")
    wn = (
        Window.partitionBy("coin_id", "exchange")
        .orderBy("timestamp")
        .rowsBetween(-(window - 1), 0)
    )
    full = F.count("r").over(wn) == window
    var_m = F.var_samp("m").over(wn)
    beta = F.when(
        full & (var_m > 0),
        F.round(F.covar_samp("r", "m").over(wn) / var_m, round_decimals),
    )
    return joined.select("coin_id", "exchange", "timestamp", beta.alias("beta"))


def cross_exchange_spread(ohlc: DataFrame, round_decimals: int = 6) -> DataFrame:
    """Per-symbol, per-hour price dispersion across the exchanges the
    symbol trades on — the arbitrage-monitoring view the reference's
    per-exchange charts cannot show. Symbols span exchanges (the C-id
    suffix is shared; the exchange prefix differs), so this is one
    hash aggregation keyed by (symbol, hour): max/min/avg close,
    venue count, and the relative spread (NULL when fewer than two
    venues or a non-positive floor makes it undefined)."""
    symbol = F.concat(
        F.lit("C"), F.regexp_extract("coin_id", r"_C(\d+)$", 1)
    ).alias("coin_symbol")
    agg = (
        ohlc.groupBy(symbol, "timestamp")
        .agg(
            F.max("close").alias("high_close"),
            F.min("close").alias("low_close"),
            F.round(F.avg("close"), round_decimals).alias("avg_close"),
            F.count("*").alias("n_venues"),
        )
    )
    spread = F.when(
        (F.col("n_venues") >= 2) & (F.col("low_close") > 0),
        F.round(
            (F.col("high_close") - F.col("low_close")) / F.col("low_close"),
            round_decimals,
        ),
    )
    return agg.select(
        "coin_symbol",
        "timestamp",
        "high_close",
        "low_close",
        "avg_close",
        "n_venues",
        spread.alias("spread_pct"),
    )


def coin_market_cap(price: DataFrame) -> DataFrame:
    """Latest share-of-total snapshot (reference table DDL
    spark-streaming.py:106-115; consumed pre-computed from CoinGecko at
    dags/crypto_data_streaming.py:125-141 — here computed in-engine, A6).

    market_cap_percentage = 100 * sum(volume per symbol) / sum(volume),
    stamped with the global max timestamp; NULL when the volumes sum to
    0 (as DuckDB's ``x / 0.0``). Two tiny aggregates + a
    broadcast of the single-row total — deliberately NOT a
    ``sum().over(Window.partitionBy(lit(1)))``, which would funnel all
    rows through one partition at scale.
    """
    symbol = F.regexp_extract(F.col("coin_id"), "_(C[0-9]+)$", 1).alias("coin_symbol")
    per_symbol = price.groupBy(symbol).agg(
        F.sum("volume").alias("symbol_volume"), F.max("timestamp").alias("max_ts")
    )
    totals = per_symbol.agg(
        F.sum("symbol_volume").alias("total_volume"),
        F.max("max_ts").alias("snapshot_ts"),
    )
    return (
        per_symbol.crossJoin(F.broadcast(totals))
        .select(
            "coin_symbol",
            F.col("snapshot_ts").alias("timestamp"),
            F.try_divide(
                F.lit(100.0) * F.col("symbol_volume"), F.col("total_volume")
            ).alias("market_cap_percentage"),
        )
    )


def user_retention(events: DataFrame) -> DataFrame:
    """Cohort retention over the raw event stream: each user is
    cohorted by first-active day; for every (cohort_day, day_offset)
    the count of that cohort's users active ``day_offset`` days later.
    The classic triangle a growth dashboard plots — and the engagement
    view the reference's per-coin charts never had.

    Scale: one distinct over (user_id, day) with map-side partial
    aggregation (the raw event fan-in per user-day collapses before
    the shuffle), then the cohort day via a min window keyed by
    user_id — no join back to a cohort table — and a final (cohort,
    offset) aggregation whose cardinality is days^2/2, tiny. Three
    keyed shuffles total, none carrying raw events.
    """
    activity = events.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    withc = activity.withColumn(
        "cohort_day", F.min("day").over(Window.partitionBy("user_id"))
    )
    return (
        withc.groupBy(
            # DATE -> TIMESTAMP purely for cross-engine result typing
            # (pandas/Arrow render Spark dates as python objects)
            F.col("cohort_day").cast("timestamp").alias("cohort_day"),
            F.datediff("day", "cohort_day").cast("long").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


def price_correlation(
    price: DataFrame,
    top_n: int = 20,
    min_obs: int = 5,
    round_decimals: int = 7,
    bucket: str = "day",
) -> DataFrame:
    """Pairwise Pearson correlation matrix of per-``bucket`` closes
    between the ``top_n`` highest-volume coins — the cross-asset
    co-movement view a trading dashboard builds from the candle store
    (upper triangle only, coin_a < coin_b; pairs with fewer than
    ``min_obs`` aligned buckets are dropped as statistically
    meaningless). Daily buckets by default: alignment needs both coins
    to trade in the same bucket, and daily is the standard horizon for
    cross-asset correlation.

    The correlation is rounded to ``round_decimals`` in-plan: Spark's
    co-moment merge order varies run-to-run across partitions, so the
    raw double is only reproducible to ~1e-12 relative — rounding pins
    the value bit-exactly for the oracle AND for repeated runs.

    Scale: the top-n set comes from a per-coin volume aggregate (one
    shuffle, map-side combine) + TakeOrderedAndProject — never a global
    sort. Bucket closes of the selected coins (top_n x buckets rows)
    broadcast self-join on the bucket, so the N^2 pair expansion
    touches only the filtered sliver; corr() itself is a mergeable
    co-moment aggregate with map-side partials. The full corpus is
    scanned once.
    """
    top = (
        price.groupBy("coin_id")
        .agg(F.sum("volume").alias("v"))
        .orderBy(F.col("v").desc(), F.col("coin_id").asc())
        .limit(top_n)
        .select("coin_id")
    )
    closes = (
        price.join(F.broadcast(top), "coin_id", "left_semi")
        .groupBy("coin_id", F.date_trunc(bucket, "timestamp").alias("bucket_ts"))
        .agg(F.max(F.struct("timestamp", "price")).alias("_last"))
        .select("coin_id", "bucket_ts", F.col("_last.price").alias("close"))
    )
    a = closes.select(
        F.col("coin_id").alias("coin_a"),
        "bucket_ts",
        F.col("close").alias("close_a"),
    )
    b = closes.select(
        F.col("coin_id").alias("coin_b"),
        "bucket_ts",
        F.col("close").alias("close_b"),
    )
    return (
        a.join(F.broadcast(b), "bucket_ts")
        .filter(F.col("coin_a") < F.col("coin_b"))
        .groupBy("coin_a", "coin_b")
        .agg(
            F.count("*").alias("n_obs"),
            F.round(F.corr("close_a", "close_b"), round_decimals).alias("correlation"),
        )
        .filter(F.col("n_obs") >= min_obs)
    )


def resample_ffill(
    ticks: DataFrame,
    keys: tuple[str, ...] = ("coin_id", "exchange"),
    ts: str = "timestamp",
    value: str = "price",
    order_col: str = "event_id",
) -> DataFrame:
    """Gap-filled hourly resample with forward fill — the time-series
    regularization every charting/feature layer needs (the reference's
    chart endpoints silently skip empty hours; a model-feature pipeline
    cannot): one row per (entity, hour) from the entity's first to last
    tick, carrying the most recent tick value at or before that hour,
    with ``is_gap`` marking hours that had no tick of their own.

    Semantics are pandas ``resample('1h').last().ffill()`` (left-
    labeled): hour H carries the LAST tick inside [H, H+1), and hours
    with no tick of their own carry the previous hour's close with
    ``is_gap`` set.

    Determinism: tied (entity, ts) ticks collapse FIRST via
    ``max(struct(order_col, value))`` (the same event_id total-order
    contract as the tick-level window operators), then the hourly
    close is ``max(struct(ts, value))`` — two total orders, no engine
    row-order dependence anywhere.

    Scale shape: the tie collapse, hourly close, and grid build are
    one keyed aggregate each; the fill reuses
    [[relational.asof_join]]'s union-and-carry pattern — ONE shuffle
    on the entity keys, no range-condition join (Spark would
    nested-loop it), window state bounded per entity. Grid
    cardinality = active hours per entity, dense by construction.
    """
    from .relational import asof_join

    ks = list(keys)
    # max_by instead of max(struct): BOTH ordering keys are unique in
    # their group (event_id is the global tick total order; ts is
    # unique post-collapse), so max_by is deterministic here — and its
    # aggregation buffer is primitive, so the aggregate stays a
    # HashAggregate (a struct-min/max buffer downgrades the whole agg
    # to SortAggregate, which sorts the tick stream per group). Where
    # the ordering key CAN tie — raw ticks sharing a timestamp, as in
    # ohlc_data — the struct form with its value tiebreak stays.
    collapsed = (
        ticks.groupBy(*ks, ts)
        .agg(F.max_by(value, order_col).alias(value))
        .select(*ks, ts, value)
    )
    hourly = (
        collapsed.groupBy(*ks, F.date_trunc("hour", F.col(ts)).alias("hour_ts"))
        .agg(
            F.max(ts).alias("tick_ts"),
            F.max_by(value, ts).alias(value),
        )
        .select(*ks, "hour_ts", "tick_ts", value)
    )
    bounds = hourly.groupBy(*ks).agg(
        F.min("hour_ts").alias("_lo"), F.max("hour_ts").alias("_hi")
    )
    grid = bounds.select(
        *ks,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.expr("interval 1 hour"))
        ).alias("grid_ts"),
    )
    filled = asof_join(
        grid, hourly, keys=ks, left_ts="grid_ts", right_ts="hour_ts",
        right_cols=[value, "tick_ts"],
    )
    return filled.select(
        *ks,
        "grid_ts",
        value,
        "tick_ts",
        (F.date_trunc("hour", F.col("tick_ts")) != F.col("grid_ts")).alias("is_gap"),
    )


def robust_anomalies(
    price_data: DataFrame,
    value: str = "change_1h",
    keys: tuple[str, ...] = ("coin_id", "exchange"),
    threshold: float = 3.5,
    round_decimals: int = 6,
) -> DataFrame:
    """Robust per-entity anomaly flags on a tick metric via the
    modified z-score (Iglewicz-Hoaglin): z = 0.6745 * (x - median) /
    MAD, flag |z| > threshold (3.5 is the paper's cutoff). Median/MAD
    instead of mean/stddev because the statistic itself must survive
    the outliers it is hunting — one 10x price spike shifts a stddev
    enough to mask itself, but not a median.

    Determinism: z is rounded before the threshold compare and the
    flag derives from the ROUNDED value, so engines agree at the
    cutoff boundary; exact interpolated medians (percentile 0.5) are
    identical IEEE arithmetic in Spark and DuckDB. MAD==0 groups
    (constant series) yield NULL z and FALSE flag — surfaced, not
    divided through.

    Scale shape: two aggregate rounds on the entity key (median, then
    MAD of deviations) joined back to the ticks — three shuffles total,
    all keyed by entity, no window over the corpus. At 100 TB swap the
    exact percentile for approx_percentile with the same plan shape
    (the [[doc_length_quantiles_approx]] pattern).
    """
    ks = list(keys)
    base = price_data.filter(F.col(value).isNotNull())
    med = base.groupBy(*ks).agg(
        F.expr(f"percentile({value}, 0.5)").alias("_med")
    )
    with_med = base.join(med, ks)
    mad = (
        with_med.select(*ks, F.abs(F.col(value) - F.col("_med")).alias("_dev"))
        .groupBy(*ks)
        .agg(F.expr("percentile(_dev, 0.5)").alias("_mad"))
    )
    z = F.round(
        F.lit(0.6745) * (F.col(value) - F.col("_med")) / F.col("_mad"),
        round_decimals,
    )
    return (
        with_med.join(mad, ks)
        .select(
            *ks,
            "timestamp",
            F.col(value).alias("value"),
            F.when(F.col("_mad") > 0, z).alias("robust_z"),
            F.when(F.col("_mad") > 0, F.abs(z) > threshold)
            .otherwise(F.lit(False))
            .alias("is_anomaly"),
        )
    )


def forecast_backtest(
    ticks: DataFrame,
    season: int = 24,
    round_decimals: int = 6,
    order_cols: tuple[str, ...] = ("timestamp", "event_id"),
) -> DataFrame:
    """Walk-forward backtest of the two standard forecasting baselines
    every model must beat: naive (next tick = last tick) and
    seasonal-naive (next tick = the tick ``season`` steps back),
    scored per entity with MAPE over every tick where both forecasts
    exist. This is the evaluation harness side of an analytics engine:
    the same lag machinery as [[price_data]], ending in one aggregate
    of per-tick absolute percentage errors (zero-price ticks excluded
    — MAPE is undefined there).

    One window pass on the (entity, ts, tiebreak) total order + one
    keyed aggregate — two shuffles on the entity key, no state beyond
    the window frame. ``naive_wins`` compares the ROUNDED MAPEs so the
    verdict is engine-independent.
    """
    w = Window.partitionBy("coin_id", "exchange").orderBy(*order_cols)
    scored = (
        ticks.select(
            "coin_id",
            "exchange",
            "price",
            F.lag("price", 1).over(w).alias("_f_naive"),
            F.lag("price", season).over(w).alias("_f_snaive"),
        )
        .filter(
            F.col("_f_snaive").isNotNull() & (F.abs(F.col("price")) > 0)
        )
    )
    ape = lambda f: F.abs(F.col("price") - F.col(f)) / F.abs(F.col("price"))  # noqa: E731
    mape_n = F.round(F.avg(ape("_f_naive")), round_decimals)
    mape_s = F.round(F.avg(ape("_f_snaive")), round_decimals)
    return scored.groupBy("coin_id", "exchange").agg(
        F.count("*").alias("n_evaluated"),
        mape_n.alias("mape_naive"),
        mape_s.alias("mape_snaive"),
        (mape_n <= mape_s).alias("naive_wins"),
    )


def volume_profile(
    price: DataFrame,
    bins: int = 20,
    round_decimals: int = 6,
) -> DataFrame:
    """Volume profile — the trading view of where volume concentrated:
    per (coin, exchange), the price range splits into ``bins``
    equal-width bins and each bin accumulates its traded volume and
    tick count. Binning uses the EXPLICIT floor expression
    ``least(bins-1, floor((p - min) / (max - min) * bins))`` rather
    than ``width_bucket`` so both engines evaluate the identical IEEE
    ops and boundary ticks land in the same bin everywhere (the
    binned-range-join lesson); single-price entities collapse to bin
    0. Bin edges are emitted (rounded) so the result is a complete
    chart payload.

    Two keyed aggregates (range, then per-bin rollup) joined back —
    all shuffles on the entity key, map-side partials throughout.
    """
    keys = ["coin_id", "exchange"]
    rng = price.groupBy(*keys).agg(
        F.min("price").alias("_mn"), F.max("price").alias("_mx")
    )
    with_bin = price.join(rng, keys).withColumn(
        "bin",
        F.when(F.col("_mx") > F.col("_mn"),
               F.least(
                   F.lit(bins - 1),
                   F.floor(
                       (F.col("price") - F.col("_mn"))
                       / (F.col("_mx") - F.col("_mn"))
                       * bins
                   ),
               ))
        .otherwise(F.lit(0))
        .cast("int"),
    )
    mn, mx = F.first("_mn"), F.first("_mx")
    width = (mx - mn) / bins
    return (
        with_bin.groupBy(*keys, "bin")
        .agg(
            F.round(F.sum("volume"), round_decimals).alias("bin_volume"),
            F.count("*").alias("n_ticks"),
            F.round(mn + F.col("bin") * width, round_decimals).alias("bin_lo"),
            F.round(mn + (F.col("bin") + 1) * width, round_decimals).alias("bin_hi"),
        )
    )


def scd2_volume_tiers(price: DataFrame, tiers: int = 4, round_decimals: int = 6) -> DataFrame:
    """Slowly-changing-dimension (type 2) build — the warehouse
    primitive the serving layer needs for "what tier was this coin in
    on date X" queries. Each coin gets a daily liquidity tier
    (``ntile(tiers)`` over the day's coins by traded volume), then
    consecutive same-tier days collapse into validity ranges
    [valid_from, valid_to) with ``is_current`` on each coin's latest
    run — the classic gaps-and-islands SCD2 compression.

    Determinism contract: the tier ordering key is the ROUNDED daily
    volume sum (engines reassociate float sums; the 1e-6 grid absorbs
    the ~1e-11 drift) with coin_id as total-order tiebreak, so ntile
    buckets are reproducible bit-for-bit. ANSI ntile (earlier buckets
    take the remainder) is identical in Spark and DuckDB.

    Plan shape (100 TB): one (coin, day) hash aggregate; the tier
    window partitions by DAY (a day's coin universe — dimension-sized);
    the island windows and run collapse partition by COIN. Three keyed
    shuffles total, each on a key whose cardinality grows with the
    data; no global windows, no driver state."""
    day = F.date_trunc("day", F.col("timestamp"))
    daily = price.groupBy(F.col("coin_id"), day.alias("day")).agg(
        F.round(F.sum("volume"), round_decimals).alias("day_volume")
    )
    w_day = Window.partitionBy("day").orderBy(F.desc("day_volume"), F.asc("coin_id"))
    tiered = daily.withColumn("tier", F.ntile(tiers).over(w_day))
    w_coin = Window.partitionBy("coin_id").orderBy("day")
    w_ct = Window.partitionBy("coin_id", "tier").orderBy("day")
    runs = tiered.withColumn(
        "_grp", F.row_number().over(w_coin) - F.row_number().over(w_ct)
    )
    collapsed = runs.groupBy("coin_id", "tier", "_grp").agg(
        F.min("day").alias("valid_from"),
        F.max("day").alias("_last_day"),
        F.count("*").alias("n_days"),
    )
    w_last = Window.partitionBy("coin_id")
    return (
        collapsed.withColumn(
            "valid_to", F.col("_last_day") + F.expr("INTERVAL 1 DAY")
        )
        .withColumn(
            "is_current", F.col("_last_day") == F.max("_last_day").over(w_last)
        )
        .select("coin_id", "tier", "valid_from", "valid_to", "n_days", "is_current")
    )


def lead_lag_corr(
    price: DataFrame,
    top_n: int = 20,
    bucket: str = "day",
    lag_buckets: int = 1,
    min_obs: int = 5,
    round_decimals: int = 7,
) -> DataFrame:
    """Directional lead-lag correlation: corr(close_a(t),
    close_b(t - lag)) over per-``bucket`` closes for ordered pairs of
    the top-``top_n`` coins by volume — "does b's move lead a's" — the
    companion to [[price_correlation]]'s contemporaneous (symmetric)
    matrix; here BOTH orientations emit, since lead-lag is asymmetric.
    ``bucket`` is the alignment granularity ("day" matches
    price_correlation's candles; finer buckets need series long enough
    that lagged pairs still share ``min_obs`` aligned buckets — at
    hourly on the fixtures the join is EMPTY, the agreeing-but-empty
    trap NOTES_r05 §11b documents).

    Plan shape: the top-N list is a broadcast semi-join guard (pair
    universe bounded at N²·T regardless of corpus size); closes are one
    (coin, bucket) aggregate; the lag alignment is a self equi-join on
    the shifted bucket key. corr rounds to 1e-7 — the grid
    [[price_correlation]] established for cross-engine corr parity."""
    unit = {"day": "DAYS", "hour": "HOURS"}[bucket]
    by = (
        price.groupBy(
            "coin_id", F.date_trunc(bucket, F.col("timestamp")).alias("ts")
        )
        .agg(
            F.max(F.struct(F.col("timestamp"), F.col("price")))["price"].alias(
                "close"
            )
        )
    )
    top = (
        price.groupBy("coin_id")
        .agg(F.sum("volume").alias("v"))
        .orderBy(F.desc("v"), F.asc("coin_id"))
        .limit(top_n)
        .select("coin_id")
    )
    h = by.join(F.broadcast(top), "coin_id")
    a = h.select(
        F.col("coin_id").alias("coin_a"), "ts", F.col("close").alias("close_a")
    )
    b = h.select(
        F.col("coin_id").alias("coin_b"),
        (F.col("ts") + F.expr(f"INTERVAL {int(lag_buckets)} {unit}")).alias("ts"),
        F.col("close").alias("close_b"),
    )
    return (
        a.join(b, "ts")
        .filter(F.col("coin_a") != F.col("coin_b"))
        .groupBy("coin_a", "coin_b")
        .agg(
            F.count("*").alias("n_obs"),
            F.round(F.corr("close_a", "close_b"), round_decimals).alias(
                "lead_corr"
            ),
        )
        .filter(F.col("n_obs") >= min_obs)
    )


def rolling_sharpe(
    ohlc: DataFrame, window: int = 24, round_decimals: int = 6
) -> DataFrame:
    """Rolling Sharpe-style risk-adjusted return per coin (zero
    risk-free rate): mean/stddev of the trailing ``window`` hourly
    candle returns. NULL until the window fills or while volatility is
    zero. Mean and stddev round to 1e-9 BEFORE the ratio (the
    [[with_bollinger]] discipline: derive from rounded moments so the
    ratio cannot re-amplify last-ulp drift), the ratio to
    ``round_decimals``. One entity-key window pass after the shared
    per-coin lag."""
    wo = Window.partitionBy("coin_id", "exchange").orderBy("timestamp")
    prev = F.lag("close").over(wo)
    ret = F.when(prev != 0, F.col("close") / prev - 1.0)
    r = ohlc.select("coin_id", "exchange", "timestamp", ret.alias("r")).filter(
        F.col("r").isNotNull()
    )
    wn = (
        Window.partitionBy("coin_id", "exchange")
        .orderBy("timestamp")
        .rowsBetween(-(window - 1), 0)
    )
    full = F.count("r").over(wn) == window
    mean_r = F.when(full, F.round(F.avg("r").over(wn), 9))
    sd_r = F.when(full, F.round(F.stddev_samp("r").over(wn), 9))
    return (
        r.withColumn("mean_ret", mean_r)
        .withColumn("_sd", sd_r)
        .withColumn(
            "sharpe",
            F.when(
                F.col("_sd") > 0,
                F.round(F.col("mean_ret") / F.col("_sd"), round_decimals),
            ),
        )
        .select("coin_id", "exchange", "timestamp", "mean_ret", "sharpe")
    )


def market_regime(
    ohlc: DataFrame,
    window: int = 24,
    q_low: float = 0.33,
    q_high: float = 0.66,
    round_decimals: int = 9,
) -> DataFrame:
    """Volatility-regime classification per coin-candle: trailing
    realized volatility (stddev of ``window`` hourly returns) labeled
    calm / normal / turbulent against the coin's OWN full-history
    volatility quantiles — the screen risk systems run before trusting
    an indicator signal.

    Determinism: volatilities round to 1e-9 first; the exact
    interpolated percentiles (Spark ``percentile`` ≡ DuckDB
    ``quantile_cont``) compute over those rounded values and round to
    the same grid, so the labels compare rounded-to-rounded and cannot
    flip on ulp drift. Plan: the shared entity-key window pass, a
    per-coin quantile aggregate (dimension-sized), one broadcast join
    back."""
    wo = Window.partitionBy("coin_id", "exchange").orderBy("timestamp")
    prev = F.lag("close").over(wo)
    ret = F.when(prev != 0, F.col("close") / prev - 1.0)
    r = ohlc.select("coin_id", "exchange", "timestamp", ret.alias("r")).filter(
        F.col("r").isNotNull()
    )
    wn = (
        Window.partitionBy("coin_id", "exchange")
        .orderBy("timestamp")
        .rowsBetween(-(window - 1), 0)
    )
    vol = F.when(
        F.count("r").over(wn) == window,
        F.round(F.stddev_samp("r").over(wn), round_decimals),
    )
    v = r.withColumn("vol", vol).filter(F.col("vol").isNotNull())
    thresholds = v.groupBy("coin_id", "exchange").agg(
        F.round(F.percentile("vol", q_low), round_decimals).alias("q_low"),
        F.round(F.percentile("vol", q_high), round_decimals).alias("q_high"),
    )
    regime = (
        F.when(F.col("vol") <= F.col("q_low"), "calm")
        .when(F.col("vol") <= F.col("q_high"), "normal")
        .otherwise("turbulent")
    )
    return (
        v.join(F.broadcast(thresholds), ["coin_id", "exchange"])
        .select("coin_id", "exchange", "timestamp", "vol", regime.alias("regime"))
    )


def coin_volume_percentile(price: DataFrame, round_decimals: int = 6) -> DataFrame:
    """Each coin's liquidity standing inside its exchange:
    percent_rank and cume_dist of total traded volume — the two
    rank-family window functions nothing else in the engine exercises
    (momentum_ranks covers rank/dense_rank/ntile/lead). Volumes round
    to 1e-6 BEFORE ranking so the order (and any ties) is identical in
    both engines; percent_rank/cume_dist are rank-based, so tied
    rounded volumes produce identical outputs rather than
    row-order-dependent ones. One (coin, exchange) aggregate + one
    exchange-keyed window over the dimension-sized result."""
    totals = price.groupBy("coin_id", "exchange").agg(
        F.round(F.sum("volume"), round_decimals).alias("total_volume"),
        F.count("*").alias("n_ticks"),
    )
    w = Window.partitionBy("exchange").orderBy("total_volume")
    return totals.select(
        "exchange",
        "coin_id",
        "total_volume",
        "n_ticks",
        F.percent_rank().over(w).alias("vol_percent_rank"),
        F.cume_dist().over(w).alias("vol_cume_dist"),
    )


def volume_grouping_sets(price: DataFrame, round_decimals: int = 6) -> DataFrame:
    """Explicit GROUPING SETS ((exchange), (day), ()) with the
    grouping_id disambiguator — the third member of the multi-
    dimensional aggregate family next to ``volume_cube`` (CUBE) and
    ``volume_rollup`` (ROLLUP), covering the case where the wanted
    slices are NOT a full lattice (cube would also pay the
    (exchange, day) cross slice this report doesn't want).
    grouping_id distinguishes a real NULL key from a rolled-up one —
    the standard disambiguation CUBE/ROLLUP consumers need."""
    day = F.date_trunc("day", F.col("timestamp")).alias("day")
    return (
        price.select("exchange", day, "volume")
        .groupingSets([["exchange"], ["day"], []], "exchange", "day")
        .agg(
            F.grouping_id().alias("grouping_id"),
            F.round(F.sum("volume"), round_decimals).alias("total_volume"),
            F.count("*").alias("n_ticks"),
        )
    )


def exchange_hll_rollup(
    price: DataFrame, lg_k: int = 12, tolerance: float = 0.05
) -> DataFrame:
    """Mergeable-sketch pre-aggregation — THE 100 TB distinct-count
    pattern ``exchange_cardinality_approx`` (single-shot HLL++) cannot
    express: per-(exchange, day) Datasketches HLL sketches built ONCE
    (``hll_sketch_agg``, map-side combinable), then ``hll_union_agg``
    merged across days to answer the exchange-level question WITHOUT
    re-touching the fact data. In production the daily sketch table is
    materialized; any date-range cardinality is then a sketch-merge
    over sketch rows instead of a fact scan.

    Driver-checkable contract (the ``exchange_cardinality_approx``
    pattern): sketch registers are engine-specific, so the query emits
    the EXACT counts plus an in-plan accuracy boolean
    (|merged estimate − exact| / exact ≤ ``tolerance``); the oracle
    states the boolean as literal TRUE, and hash equality then verifies
    the merged sketch's accuracy, not its bytes."""
    day = F.date_trunc("day", F.col("timestamp"))
    daily = price.groupBy("exchange", day.alias("day")).agg(
        F.hll_sketch_agg("coin_id", F.lit(lg_k)).alias("sk")
    )
    merged = daily.groupBy("exchange").agg(
        F.count("*").alias("n_days"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("_approx"),
    )
    exact = price.groupBy("exchange").agg(
        F.countDistinct("coin_id").alias("n_coins")
    )
    return (
        exact.join(merged, "exchange")
        .select(
            "exchange",
            "n_coins",
            "n_days",
            F.coalesce(
                F.abs(F.col("_approx") - F.col("n_coins")) / F.col("n_coins")
                <= tolerance,
                F.lit(True),
            ).alias("merged_within_5pct"),
        )
    )


def rolling_active_coins(
    price: DataFrame, days: int = 7, lg_k: int = 12, tolerance: float = 0.05
) -> DataFrame:
    """Rolling distinct-entity count over a trailing window — the
    "rolling MAU" problem, and the one that makes mergeable sketches
    load-bearing rather than a convenience: COUNT(DISTINCT) does not
    compose across overlapping windows, so the exact answer needs a
    day×trailing-days range join that re-touches every pair (the
    verification branch below), while the sketch answer is
    ``hll_union_agg`` of the PRE-BUILT daily sketches OVER the window —
    per-day cost k registers, never re-reading the facts.

    Contract output per (exchange, day): the EXACT trailing-``days``
    coin count, the days present in the window, and the in-plan boolean
    that the windowed sketch estimate lands within ``tolerance`` of
    exact — the oracle pins the boolean TRUE, making sketch accuracy
    (not engine-specific registers) the hash-verified claim. At 100 TB
    the exact branch is the harness you run once to qualify the sketch,
    the sketch branch is the product."""
    day = F.date_trunc("day", F.col("timestamp"))
    pairs = price.select("exchange", day.alias("day"), "coin_id").distinct()
    sketches = pairs.groupBy("exchange", "day").agg(
        F.hll_sketch_agg("coin_id", F.lit(lg_k)).alias("sk")
    )
    # RANGE window on the epoch-day ordinal, NOT a rows window: with
    # calendar gaps the last N ROWS are not the last N DAYS, and the
    # sketch branch would silently disagree with the exact range join
    # (caught by the hand-built gapped-calendar unit test).
    epoch_day = F.datediff(F.col("day"), F.lit("1970-01-01"))
    w = (
        Window.partitionBy("exchange")
        .orderBy(epoch_day)
        .rangeBetween(-(days - 1), 0)
    )
    est = sketches.select(
        "exchange",
        "day",
        F.count("*").over(w).alias("n_days_in_window"),
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w)).alias("_approx"),
    )
    spine = pairs.select("exchange", "day").distinct()
    exact = (
        pairs.alias("p")
        .join(
            F.broadcast(spine.alias("s")),
            (F.col("p.exchange") == F.col("s.exchange"))
            & (F.col("p.day") >= F.col("s.day") - F.expr(f"INTERVAL {days - 1} DAYS"))
            & (F.col("p.day") <= F.col("s.day")),
        )
        .groupBy(F.col("s.exchange").alias("exchange"), F.col("s.day").alias("day"))
        .agg(F.countDistinct("p.coin_id").alias("n_coins_7d"))
    )
    return (
        exact.join(est, ["exchange", "day"])
        .select(
            "exchange",
            "day",
            "n_coins_7d",
            "n_days_in_window",
            F.coalesce(
                F.abs(F.col("_approx") - F.col("n_coins_7d"))
                / F.col("n_coins_7d")
                <= tolerance,
                F.lit(True),
            ).alias("sketch_within_5pct"),
        )
    )


def ohlc_rollup(ohlc: DataFrame, bucket: str = "day") -> DataFrame:
    """Candle RE-aggregation (1h → 1d by default): the rollup layer a
    charting stack serves coarser zoom levels from, and the semantics
    bucket-boundary bugs love — open must be the FIRST sub-candle's
    open (min_by on the sub-candle ts: ties impossible, hours are
    unique per entity, so min_by is deterministic AND its primitive
    buffer keeps the aggregate a HashAggregate — a struct-min buffer
    downgrades it to SortAggregate) and close the LAST's close, not
    min/max of the opens and closes. High/low are order-insensitive
    extremes. One hash aggregate with map-side partials on the
    (entity, bucket) key — exactly the [[ohlc_data]] shape one level
    up, so rollups chain (1h → 1d → 1w) without new machinery.
    [[ohlc_data]] itself stays on struct-min/max: RAW ticks can tie
    on timestamp, where min_by's answer is arbitrary."""
    b = F.date_trunc(bucket, F.col("timestamp"))
    return (
        ohlc.groupBy("coin_id", "exchange", b.alias("timestamp"))
        .agg(
            F.min_by("open", "timestamp").alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", "timestamp").alias("close"),
        )
        .select("coin_id", "exchange", "timestamp", "open", "high", "low", "close")
    )
