"""Structured Streaming pipeline (SURVEY §2.9 T1-T8, re-expressed).

Reference -> engine mapping:
- Kafka source (T-/S1) -> parquet file stream over a spool directory:
  same incremental-append semantics, no broker dependency. On a real
  deployment the one-line swap back to ``format("kafka")`` keeps every
  downstream operator unchanged.
- 5 independent writeStream queries, each re-reading the topic (T4) ->
  ONE source; ``foreachBatch`` fans out all per-batch tables from a
  single pass (the batch DataFrame is persisted during the fan-out).
- output modes (T2): coins upserts by key, facts append.
- NO watermark / event-time windows in the reference (T6) -> we add
  ``withWatermark`` + tumbling-window OHLC candles, the idiomatic
  replacement for its per-candle REST fetches (S4): late rows within
  the delay still land in their window; older rows are dropped with
  bounded state.
- no checkpointing (T7) -> every query here takes a ``checkpoint_dir``
  and is restart-safe; sink writes are per-batch parquet appends keyed
  by batch routing (idempotent per epoch for the upsert table).
- default trigger (T1) -> explicit ``availableNow`` for deterministic
  drain-the-spool runs (tests) and ``processingTime`` for continuous.

Scale notes: the only stateful operators are the watermarked window
aggregation and applyInPandasWithState — both shard state by key
across executors via the shuffle; watermarks bound state size. The
foreachBatch fan-out adds zero extra source reads.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from collections.abc import Callable
from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import sinks

# Schema of the spooled price ticks (file streams require an explicit
# schema — there is no inference on a stream).
PRICE_SCHEMA = (
    "coin_id string, exchange string, timestamp timestamp, "
    "price double, volume double"
)


def read_price_stream(spark: SparkSession, spool_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Incremental parquet file-stream of price ticks (S1-equivalent)."""
    reader = spark.readStream.schema(PRICE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(spool_dir)


def read_envelope_stream(
    spark: SparkSession, spool_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """JSON-envelope text file-stream: one envelope per line — the exact
    consumer shape of the reference's Kafka topic (S1+S2; reference
    spark-streaming.py:269-278), minus the broker. Swapping this reader
    for ``format("kafka")`` + the same decode is a one-line change."""
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.text(spool_dir)


def enrich_stream(stream: DataFrame, dim: DataFrame, keys: list[str]) -> DataFrame:
    """Stream-static enrichment join: every micro-batch of the stream
    left-joins the (broadcast) static dimension — the standard lookup
    pattern for attaching coin/exchange metadata to the tick feed.
    Spark re-resolves the static side per micro-batch, so a dimension
    refreshed by the upsert sink is picked up between batches without
    restarting the query. Left join: a tick with no dimension row
    flows through null-extended rather than silently dropping."""
    return stream.join(F.broadcast(dim), keys, "left")


def cross_exchange_stream_join(
    ticks: DataFrame,
    exchange_a: str,
    exchange_b: str,
    tolerance_minutes: int = 5,
    watermark_minutes: int = 10,
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream inner join: for every tick of a symbol
    on ``exchange_a``, the ticks of the same symbol on ``exchange_b``
    within ±``tolerance_minutes`` — the cross-exchange alignment feed a
    spread/arbitrage monitor consumes. Emits the price spread per
    matched pair.

    State stays bounded because BOTH sides carry a watermark and the
    join condition bounds event time on each side relative to the
    other: Spark evicts buffered rows once they can no longer match
    (requires ``watermark_minutes`` >= the tolerance — enforced here;
    both are numeric so there is no interval-string parsing to get
    wrong). Ticks whose coin_id lacks the ``_C<n>`` symbol suffix are
    dropped before the join — with the suffix regex they would all
    share symbol '' and pair with each other across coins.
    With availableNow over a time-ordered spool the result equals the
    batch theta join exactly (pinned in tests).

    ``how="leftOuter"`` exercises the watermark's OTHER semantic face:
    an unmatched left tick is emitted null-extended only once the
    watermark proves no future right tick can still match it. The
    replay builder advances the final watermark past the whole feed
    (an in-band sentinel pair on both exchanges) so the emitted frame
    equals the batch LEFT join exactly — matched pairs per match,
    unmatched ticks exactly once with NULL right columns.
    """
    if watermark_minutes < tolerance_minutes:
        raise ValueError("watermark must cover the join tolerance")
    sym = F.regexp_extract(F.col("coin_id"), "_(C[0-9]+)$", 1)

    def side(exchange: str, suffix: str) -> DataFrame:
        return (
            ticks.filter(F.col("exchange") == exchange)
            .select(
                sym.alias(f"symbol_{suffix}"),
                F.col("timestamp").alias(f"ts_{suffix}"),
                F.col("price").alias(f"price_{suffix}"),
            )
            .filter(F.col(f"symbol_{suffix}") != "")
            .withWatermark(f"ts_{suffix}", f"{watermark_minutes} minutes")
        )

    a, b = side(exchange_a, "a"), side(exchange_b, "b")
    joined = a.join(
        b,
        F.expr(
            f"symbol_a = symbol_b AND "
            f"ts_b BETWEEN ts_a - INTERVAL {tolerance_minutes} MINUTES "
            f"AND ts_a + INTERVAL {tolerance_minutes} MINUTES"
        ),
        how,
    )
    return joined.select(
        F.col("symbol_a").alias("symbol"),
        "ts_a",
        "price_a",
        "ts_b",
        "price_b",
        (F.col("price_b") - F.col("price_a")).alias("spread"),
    )


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = "cryptoAllData",
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """The reference's actual transport (S1): a Kafka streaming source
    with the consumer options the reference uses (topic
    ``cryptoAllData``, ``startingOffsets=earliest``,
    ``failOnDataLoss=false`` — reference spark-streaming.py:269-278).

    The returned frame carries Kafka's (key, value binary, topic,
    partition, offset, timestamp, ...) columns; ``decode_envelopes``
    consumes it unchanged (it casts ``value`` to string itself), so
    swapping ``read_envelope_stream`` for this builder is the
    documented one-line change.

    Requires the ``spark-sql-kafka-0-10`` package on the cluster; in
    environments without it (this sandbox has no broker or connector
    jar) ``.load()`` raises AnalysisException — the builder and its
    option construction are unit-tested for exactly that boundary.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
        .load()
    )


def envelope_price_stream(envelopes: DataFrame) -> DataFrame:
    """Decoded streaming price ticks from an envelope stream — pure map
    (from_json + explode + to_timestamp), streaming-safe."""
    from ..sources import envelope as env

    return env.decode_price(env.decode_envelopes(envelopes))


def session_stream(
    price: DataFrame, gap_minutes: int = 60, delay: str = "10 minutes"
) -> DataFrame:
    """Event-time session windows per entity (T6 extension): a session
    closes ``gap_minutes`` after its last tick; watermark bounds open-
    session state. Output schema matches ``relational.sessionize`` so
    batch === stream is testable."""
    return (
        price.withWatermark("timestamp", delay)
        .groupBy(
            "coin_id",
            "exchange",
            F.session_window("timestamp", f"{gap_minutes} minutes").alias("w"),
        )
        .agg(
            F.count("*").alias("n_ticks"),
            F.min("price").alias("low"),
            F.max("price").alias("high"),
        )
        .select(
            "coin_id",
            "exchange",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_ticks",
            "low",
            "high",
        )
    )


def dedup_stream(
    price: DataFrame,
    keys: list[str] | None = None,
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming ingestion dedup (absent in the reference, SURVEY T6):
    drop re-delivered ticks on the natural key within the watermark —
    the at-least-once -> effectively-once guard for replayed sources.
    State is bounded: a key's fingerprint is dropped once the watermark
    passes it."""
    keys = keys or ["coin_id", "exchange", "timestamp"]
    return price.withWatermark("timestamp", delay).dropDuplicatesWithinWatermark(keys)


def ohlc_stream(price: DataFrame, delay: str = "10 minutes", window: str = "1 hour") -> DataFrame:
    """Event-time tumbling OHLC candles with late-data handling (T6).

    open/close are argmin/argmax-by-time via struct-ordering MIN/MAX —
    pure declarative aggregates, so partial aggregation and watermarked
    state cleanup work unchanged. Output matches the batch
    ``operators.derive.ohlc_data`` schema.
    """
    return (
        price.withWatermark("timestamp", delay)
        .groupBy("coin_id", "exchange", F.window("timestamp", window).alias("w"))
        .agg(
            F.min(F.struct("timestamp", "price")).alias("_first"),
            F.max("price").alias("high"),
            F.min("price").alias("low"),
            F.max(F.struct("timestamp", "price")).alias("_last"),
        )
        .select(
            "coin_id",
            "exchange",
            F.col("w.start").alias("timestamp"),
            F.col("_first.price").alias("open"),
            "high",
            "low",
            F.col("_last.price").alias("close"),
        )
    )


def vwap_stream(price: DataFrame, delay: str = "10 minutes", window: str = "1 hour") -> DataFrame:
    """Event-time tumbling VWAP with late-data handling — the streaming
    twin of ``operators.derive.vwap`` (same bucket, same rounding, same
    zero-volume NULL), so batch === stream on any feed
    (``test_vwap_stream_matches_batch`` pins it).

    Weighted sum and volume sum are plain commutative aggregates:
    partial (map-side) combine, mergeable watermarked state, exactly
    one append emission per window once the watermark passes its end.
    """
    wsum = F.sum(F.col("price") * F.col("volume"))
    vsum = F.sum("volume")
    return (
        price.withWatermark("timestamp", delay)
        .groupBy("coin_id", "exchange", F.window("timestamp", window).alias("w"))
        .agg(
            F.when(vsum > 0, F.round(wsum / vsum, 6)).alias("vwap"),
            F.round(vsum, 6).alias("total_volume"),
            F.count("*").alias("n_ticks"),
        )
        .select(
            "coin_id",
            "exchange",
            F.col("w.start").alias("timestamp"),
            "vwap",
            "total_volume",
            "n_ticks",
        )
    )


def stream_ohlc_to_dir(
    price: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    delay: str = "10 minutes",
    available_now: bool = True,
):
    """Run the candle aggregation to parquet in append mode: a window
    emits exactly once, when the watermark passes its end."""
    candles = ohlc_stream(price, delay=delay)
    writer = (
        candles.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sinks.table_dir(out_dir, "ohlc_data"))
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_full_pipeline(
    spark: SparkSession,
    spool_dir: str,
    out_dir: str,
    checkpoint_root: str,
    available_now: bool = True,
    ohlc_delay: str = "0 seconds",
):
    """The reference's five-concurrent-queries topology (T4): THREE
    checkpointed queries — foreachBatch ingest (price appends + coins
    upserts from ONE pass over its batch), watermarked OHLC candles,
    and stateful indicators. Returns the started queries; with
    ``available_now`` they drain the spool and stop (call
    ``q.awaitTermination()`` on each).

    Source reads: like the reference, each STREAMING QUERY maintains
    its own offsets and scans the source independently (Structured
    Streaming cannot share one stream across queries) — so this is 3x
    source I/O, down from the reference's 5x. The genuine single-pass
    saving is INSIDE run_ingest, whose foreachBatch derives two tables
    from one persisted batch; collapsing further (candles + indicators
    in the same foreachBatch) trades per-query checkpoints/watermarks
    for one source read — both are offered, pick per deployment.
    """
    import os

    def src():
        return read_price_stream(spark, spool_dir)

    qs = [
        run_ingest(
            src(), out_dir, os.path.join(checkpoint_root, "ingest"),
            available_now=available_now,
        ),
        stream_ohlc_to_dir(
            src(), out_dir, os.path.join(checkpoint_root, "ohlc"),
            delay=ohlc_delay, available_now=available_now,
        ),
    ]
    from .stateful import stateful_indicators

    ind_writer = (
        stateful_indicators(src())
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sinks.table_dir(out_dir, "technical_indicators"))
        .option("checkpointLocation", os.path.join(checkpoint_root, "indicators"))
    )
    if available_now:
        ind_writer = ind_writer.trigger(availableNow=True)
    qs.append(ind_writer.start())
    return qs


def run_ingest(
    price: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """One-pass fan-out (T4 fixed): each micro-batch appends price rows
    and upserts the coins dimension from the SAME batch DataFrame —
    the reference runs five queries that each re-read the topic.
    """

    def handle_batch(batch: DataFrame, epoch_id: int) -> None:
        batch.persist()
        try:
            sinks.write_table(batch, out_dir, "price_data", epoch_id=epoch_id)
            coins = batch.select(
                F.col("coin_id").alias("id"),
                F.concat(
                    F.lit("Coin "), F.regexp_extract("coin_id", "_C([0-9]+)$", 1)
                ).alias("name"),
                F.regexp_extract("coin_id", "_(C[0-9]+)$", 1).alias("symbol"),
                "exchange",
                "timestamp",
            )
            sinks.upsert_by_key(coins, out_dir, "coins")
        finally:
            batch.unpersist()

    writer = price.writeStream.foreachBatch(handle_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# Replays: each *_stream_replay drains one streaming operator over a
# finite feed and returns what it emitted, so batch === stream is
# checkable against the batch twin and the DuckDB oracle.

_SENTINEL = "__sentinel__"
_NOT_SENTINEL = f"coin_id != '{_SENTINEL}'"
_OHLC_SCHEMA = (
    "coin_id string, exchange string, timestamp timestamp,"
    " open double, high double, low double, close double"
)
_SPREAD_SCHEMA = (
    "symbol string, ts_a timestamp, price_a double,"
    " ts_b timestamp, price_b double, spread double"
)


def _replay(
    spark: SparkSession,
    name: str,
    waves: list[list[DataFrame]],
    stream: Callable[[str], DataFrame],
    out_schema: str,
    timeout_s: int,
    *,
    keep: str | None = None,
    per_batch: Callable[[DataFrame, int, str], DataFrame] | None = None,
    feed_bytes: int | None = None,
    pin_partitions: bool = True,
    available_now: bool = True,
) -> DataFrame:
    """Run one stream replay and return its output as a materialized
    batch frame. A builder supplies its spool ``waves``, its ``stream``
    (spool dir -> streaming frame), its ``out_schema`` and the ``keep``
    filter for sentinel rows; one try/finally owns the rest:

    - a temp root ``<name>_replay_*`` (spool, sink, checkpoint), deleted
      on every exit path, failed query and timeout included;
    - the spool: each wave's frames are written in order as
      ``NNNN.parquet`` with increasing mtimes (the file source schedules
      oldest first, so ``maxFilesPerTrigger=1`` drains them in order);
      wave k+1 lands only after drain k ends, and its drain restarts the
      query from the same checkpoint;
    - the conf pin, restored on exit: ``spark.sql.shuffle.partitions``
      fixes the state partition count at the first start (restarts reuse
      it) and AQE never touches streaming plans, so it is one partition
      per 64 MB of feed (``feed_bytes``, else the first wave's on-disk
      size) capped at the session value — the batch-sized default ran
      one task per state store on every micro-batch of a few-MB feed.
      ``spark.sql.streaming.minBatchesToRetain`` is 2: the checkpoint is
      thrown away, so there is nothing to recover. The pin is
      session-global, so no other streaming query may be active;
    - the drain: ``availableNow`` bounded by ``timeout_s``. Python data
      sources have no ``availableNow`` (Spark runs one batch, which emits
      nothing in append mode), so ``available_now=False`` runs a fast
      processing-time trigger until ``processAllAvailable`` returns,
      which includes the no-data batch that commits the last watermark;
    - the parquet sink: the file sink, or with ``per_batch`` the frame
      ``per_batch(batch, epoch_id, out)`` returns through
      ``sinks.write_table``'s epoch-partitioned overwrite (``out`` holds
      the earlier epochs). Read back and localCheckpointed before the
      root goes.

    The stream runs when the builder is called (it cannot be a lazy
    batch plan); timing the returned frame measures only its scan.
    """
    active = spark.streams.active
    if active:
        raise RuntimeError(
            f"{name} replay started while streaming queries "
            f"{[q.name for q in active]} are active; its session-global "
            "conf pin would leak into them"
        )
    root = tempfile.mkdtemp(prefix=f"{name}_replay_")
    spool, out = os.path.join(root, "spool"), sinks.table_dir(root, "out")
    os.makedirs(spool)
    base_mtime, n = time.time() - 3600, 0
    saved: dict[str, str | None] = {}
    query = None
    try:
        for wave_no, frames in enumerate(waves):
            for df in frames:
                tmp = os.path.join(root, "tmp")
                df.write.parquet(tmp)
                for f in sorted(os.listdir(tmp)):
                    if f.endswith(".parquet"):
                        dst = os.path.join(spool, f"{n:04d}.parquet")
                        os.rename(os.path.join(tmp, f), dst)
                        os.utime(dst, (base_mtime + n, base_mtime + n))
                        n += 1
                shutil.rmtree(tmp)
            if wave_no == 0:
                pins = {"spark.sql.streaming.minBatchesToRetain": "2"}
                if pin_partitions:
                    if feed_bytes is None:
                        feed_bytes = sum(
                            os.path.getsize(os.path.join(spool, f))
                            for f in os.listdir(spool)
                        )
                    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
                    pins["spark.sql.shuffle.partitions"] = str(
                        max(1, min(feed_bytes // (64 << 20) + 1, cap))
                    )
                for key, val in pins.items():
                    saved[key] = spark.conf.get(key, None)
                    spark.conf.set(key, val)
            writer = stream(spool).writeStream.option(
                "checkpointLocation", os.path.join(root, "ckpt")
            )
            if per_batch is None:
                writer = writer.outputMode("append").format("parquet")
                writer = writer.option("path", out)
            else:
                writer = writer.foreachBatch(
                    lambda batch, epoch: sinks.write_table(
                        per_batch(batch, epoch, out), root, "out", epoch_id=epoch
                    )
                )
            if available_now:
                query = writer.trigger(availableNow=True).start()
                if not query.awaitTermination(timeout_s):
                    raise TimeoutError(
                        f"{name} replay did not finish in {timeout_s}s"
                    )
            else:
                query = writer.trigger(processingTime="50 milliseconds").start()
                query.processAllAvailable()
                query.stop()
        result = spark.read.schema(out_schema).parquet(out).drop("batch_epoch")
        if keep is not None:
            result = result.filter(keep)
        return result.localCheckpoint(eager=True)
    finally:
        if query is not None:
            query.stop()
        for key, val in saved.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)
        shutil.rmtree(root, ignore_errors=True)


def _feed(df: DataFrame, *extra: str):
    """The replayed tick columns materialized once (the bounds
    aggregate and every spool write read them) plus their min and max
    timestamp, both None for an empty feed."""
    real = df.select(
        "coin_id", "exchange", "timestamp", "price", "volume", *extra
    ).localCheckpoint(eager=True)
    lo, hi = real.agg(F.min("timestamp"), F.max("timestamp")).collect()[0]
    return real, lo, hi


def _sentinel_frame(
    spark: SparkSession, hi, keys=((_SENTINEL, _SENTINEL),)
) -> DataFrame:
    """One tick per (coin_id, exchange) in ``keys`` at ``hi`` + 72 h,
    which pushes the final watermark past every real window, session or
    join buffer so append mode emits them all. Built via pandas+Arrow as
    ONE JVM partition: a list of tuples spreads over defaultParallelism
    Python-RDD slices that the one-file spool write walks one by one
    (5.2 s for one row at local[32] vs 0.5 s; same values)."""
    import pandas as pd

    far = hi + timedelta(hours=72)
    return spark.createDataFrame(
        pd.DataFrame(
            [(c, x, far, 0.0, 0.0) for c, x in keys],
            columns=["coin_id", "exchange", "timestamp", "price", "volume"],
        ),
        schema=PRICE_SCHEMA,
    )


def vwap_stream_replay(
    spark: SparkSession, price: DataFrame, timeout_s: int = 600
) -> DataFrame:
    """[[vwap_stream]] (delay 0) over the feed plus a +72 h sentinel:
    the sentinel pushes the final watermark past every real window, so
    append mode emits exactly the batch VWAP of the real feed (oracle:
    the ``vwap_hourly`` SQL)."""
    out_schema = (
        "coin_id string, exchange string, timestamp timestamp,"
        " vwap double, total_volume double, n_ticks bigint"
    )
    real, _lo, hi = _feed(price)
    if hi is None:
        return spark.createDataFrame([], out_schema)
    return _replay(
        spark, "vwap", [[real.coalesce(4), _sentinel_frame(spark, hi)]],
        lambda spool: vwap_stream(read_price_stream(spark, spool), delay="0 seconds"),
        out_schema, timeout_s, keep=_NOT_SENTINEL,
    )


def session_stream_replay(
    spark: SparkSession, price: DataFrame, gap_minutes: int = 360,
    timeout_s: int = 600,
) -> DataFrame:
    """[[session_stream]] (delay 0) over the feed plus a +72 h sentinel:
    the emitted sessions must equal the batch gaps-and-islands
    sessionization (``trading_sessions``' SQL) — session_window's
    end = last tick + gap (exclusive) is the batch formulation."""
    out_schema = (
        "coin_id string, exchange string, session_start timestamp,"
        " session_end timestamp, n_ticks bigint, low double, high double"
    )
    real, _lo, hi = _feed(price)
    if hi is None:
        return spark.createDataFrame([], out_schema)
    return _replay(
        spark, "session", [[real.coalesce(4), _sentinel_frame(spark, hi)]],
        lambda spool: session_stream(
            read_price_stream(spark, spool),
            gap_minutes=gap_minutes,
            delay="0 seconds",
        ),
        out_schema, timeout_s, keep=_NOT_SENTINEL,
    )


def ohlc_stream_replay(
    spark: SparkSession, price: DataFrame, timeout_s: int = 600
) -> DataFrame:
    """[[ohlc_stream]] (delay 0) over the feed plus a +72 h sentinel:
    the emitted candles must equal the batch ``ohlc_data`` exactly —
    the struct-ordering open/close convention is what keeps batch ===
    stream on tied timestamps."""
    real, _lo, hi = _feed(price)
    if hi is None:
        return spark.createDataFrame([], _OHLC_SCHEMA)
    return _replay(
        spark, "ohlc", [[real.coalesce(4), _sentinel_frame(spark, hi)]],
        lambda spool: ohlc_stream(read_price_stream(spark, spool), delay="0 seconds"),
        _OHLC_SCHEMA, timeout_s, keep=_NOT_SENTINEL,
    )


def spread_stream_replay(
    spark: SparkSession,
    price: DataFrame,
    exchange_a: str = "view",
    exchange_b: str = "click",
    tolerance_minutes: int = 30,
    watermark_minutes: int = 60,
    timeout_s: int = 600,
) -> DataFrame:
    """The stream-stream INNER join ([[cross_exchange_stream_join]]):
    the emitted pairs must equal the batch theta join. No sentinel — an
    append-mode inner join emits a match as soon as both rows arrive;
    the watermark only bounds buffered state."""
    real, _lo, hi = _feed(price)
    if hi is None:
        return spark.createDataFrame([], _SPREAD_SCHEMA)
    return _replay(
        spark, "spread", [[real.coalesce(4)]],
        lambda spool: cross_exchange_stream_join(
            read_price_stream(spark, spool),
            exchange_a,
            exchange_b,
            tolerance_minutes=tolerance_minutes,
            watermark_minutes=watermark_minutes,
        ),
        _SPREAD_SCHEMA, timeout_s,
    )


def restfeed_stream_replay(
    spark: SparkSession,
    pages: int = 4,
    coins_per_page: int = 5,
    minutes: int = 180,
    timeout_s: int = 600,
) -> DataFrame:
    """The custom Python DataSource (sources.restfeed) as the source:
    the reference's REST poll loop (dags/crypto_data_streaming.py:
    223-246) drained in 5-minute micro-batches through [[ohlc_stream]].
    No sentinel, deliberately: the final watermark stops at the last
    tick, so append mode withholds the open last hour and the result is
    the closed-form candles of the first ``minutes // 60 - 1`` hours,
    as the oracle states in SQL. The feed size is closed-form too (one
    ~50-byte tick per page-coin and minute). The processing-time drain
    has no bound; ``timeout_s`` stays for signature parity."""
    from ..sources import restfeed

    restfeed.register(spark)

    def stream(_spool: str) -> DataFrame:
        feed = (
            spark.readStream.format("cryptofeed")
            .option("pages", pages)
            .option("coins_per_page", coins_per_page)
            .option("minutes", minutes)
            .option("batch_minutes", 5)
            .load()
        )
        return ohlc_stream(feed, delay="0 seconds")

    return _replay(
        spark, "restfeed", [[]], stream, _OHLC_SCHEMA, timeout_s,
        feed_bytes=pages * coins_per_page * minutes * 50,
        available_now=False,
    )


def dedup_stream_replay(
    spark: SparkSession, price: DataFrame, timeout_s: int = 600
) -> DataFrame:
    """[[dedup_stream]], the at-least-once -> effectively-once guard:
    the spool holds the feed plus exact copies of ~1/7 of its rows in
    later files (a source retry), deduped on the FULL row with a delay
    that outlasts the replay, so the output is exactly DISTINCT(feed).
    Full-row keys make the surviving copy unobservable, and dedup emits
    at once, so no sentinel; state eviction is left to the pytest."""
    cols = ["coin_id", "exchange", "timestamp", "price", "volume"]
    real, _lo, hi = _feed(price)
    if hi is None:
        return spark.createDataFrame([], PRICE_SCHEMA)
    key = F.concat_ws("|", "coin_id", "exchange", F.col("timestamp").cast("string"))
    redelivered = real.filter(F.crc32(key) % 7 == 0)
    return _replay(
        spark, "dedup", [[real.coalesce(4), redelivered.coalesce(2)]],
        lambda spool: dedup_stream(
            read_price_stream(spark, spool), keys=cols, delay="8760 hours"
        ),
        PRICE_SCHEMA, timeout_s,
    )


def recovery_stream_replay(
    spark: SparkSession, price: DataFrame, timeout_s: int = 600
) -> DataFrame:
    """Checkpoint recovery (T7): [[ohlc_stream]] is stopped mid-feed and
    restarted from its checkpoint; the sink must equal the batch
    candles. The feed splits at its timestamp midpoint into two waves
    (the second ends with the +72 h sentinel). Drain 1 ends with the
    straddling hour OPEN in state; drain 2 must finish it from both
    waves, without re-reading wave 1 or dropping wave-2 ticks (the time
    split keeps wave-2 windows above the recovered watermark)."""
    real, lo, hi = _feed(price)
    if hi is None:
        return spark.createDataFrame([], _OHLC_SCHEMA)
    mid = lo + (hi - lo) / 2
    ts = F.col("timestamp")
    return _replay(
        spark, "recovery",
        [
            [real.filter(ts <= mid).coalesce(2)],
            [real.filter(ts > mid).unionByName(_sentinel_frame(spark, hi)).coalesce(2)],
        ],
        lambda spool: ohlc_stream(read_price_stream(spark, spool), delay="0 seconds"),
        _OHLC_SCHEMA, timeout_s, keep=_NOT_SENTINEL,
    )


def enrich_stream_replay(
    spark: SparkSession, price: DataFrame, dim: DataFrame, timeout_s: int = 600
) -> DataFrame:
    """[[enrich_stream]], the stream-static broadcast lookup join: every
    tick left-joins the (coin_id, exchange, name, symbol) dimension per
    micro-batch, and the emitted rows must equal the one-shot batch left
    join. The join is stateless (no watermark, no sentinel; each tick
    emits once, null-extended on a miss), and the broadcast keeps each
    micro-batch's join map-side."""
    out_schema = (
        "coin_id string, exchange string, timestamp timestamp,"
        " price double, volume double, name string, symbol string"
    )
    real, _lo, hi = _feed(price)
    if hi is None:
        return spark.createDataFrame([], out_schema)
    return _replay(
        spark, "enrich", [[real.coalesce(4)]],
        lambda spool: enrich_stream(
            read_price_stream(spark, spool), dim, ["coin_id", "exchange"]
        ),
        out_schema, timeout_s,
    )


def late_drop_stream_replay(
    spark: SparkSession, price: DataFrame, timeout_s: int = 600
) -> DataFrame:
    """Late-data DROP (T6): drain 1 takes the whole feed, so the
    recovered watermark sits at its max event time; wave 2 re-delivers
    copies of the first hour's ticks at price -1e6 plus the sentinel.
    Their windows are final, so the restarted aggregate must drop them
    (a leak sinks the first ``low`` to -1e6) and the result equals the
    batch candles. [[recovery_stream_replay]] pins the other half of
    restart semantics. The feed must span more than one hour."""
    real, lo, hi = _feed(price)
    if hi is None:
        return spark.createDataFrame([], _OHLC_SCHEMA)
    sabotage = real.filter(F.col("timestamp") < lo + timedelta(hours=1))
    sabotage = sabotage.withColumn("price", F.lit(-1_000_000.0))
    return _replay(
        spark, "late_drop",
        [
            [real.coalesce(2)],
            [sabotage.unionByName(_sentinel_frame(spark, hi)).coalesce(2)],
        ],
        lambda spool: ohlc_stream(read_price_stream(spark, spool), delay="0 seconds"),
        _OHLC_SCHEMA, timeout_s, keep=_NOT_SENTINEL,
    )


def drawdown_stream_replay(
    spark: SparkSession,
    ticks: DataFrame,
    n_waves: int = 3,
    timeout_s: int = 600,
) -> DataFrame:
    """[[stateful_drawdown]] (``applyInPandasWithState``) with state that
    crosses micro-batches: ``n_waves`` TIME-ORDERED one-file waves are
    drained one file per trigger, so a wave-1 peak must still depress
    wave-3 drawdowns. The arithmetic is bit-exact, so the oracle is a
    plain window replay. No sentinel or watermark: NoTimeout state emits
    each row in its batch. Timestamp ties stay in one wave
    (strict-inequality split) and are ordered by ``event_id``."""
    from .stateful import stateful_drawdown

    out_schema = (
        "coin_id string, exchange string, timestamp timestamp, event_id long,"
        " price double, running_peak double, drawdown double, tick_n long"
    )
    real, lo, hi = _feed(ticks, "event_id")
    if hi is None:
        return spark.createDataFrame([], out_schema)
    span, ts = (hi - lo) / n_waves, F.col("timestamp")
    cuts = [lo + span * i for i in range(n_waves)] + [hi]
    waves = [
        real.filter((ts >= a if i == 0 else ts > a) & (ts <= b)).coalesce(1)
        for i, (a, b) in enumerate(zip(cuts, cuts[1:]))
    ]
    # Partitions not pinned: applyInPandasWithState pays a Python round
    # trip per key group each micro-batch, so it wants the session's
    # task slots; the byte-derived single partition sent every group
    # through one Python worker (13 s -> 129 s).
    return _replay(
        spark, "drawdown", [waves],
        lambda spool: stateful_drawdown(
            spark.readStream.schema(PRICE_SCHEMA + ", event_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(spool)
        ),
        out_schema, timeout_s, pin_partitions=False,
    )


def spread_outer_stream_replay(
    spark: SparkSession,
    price: DataFrame,
    exchange_a: str = "view",
    exchange_b: str = "click",
    tolerance_minutes: int = 30,
    watermark_minutes: int = 60,
    timeout_s: int = 600,
) -> DataFrame:
    """The stream-stream LEFT OUTER join: an unmatched left tick is
    emitted null-extended once, after the watermark proves no right
    tick can match it. The spool ends with an in-band sentinel pair (a
    +72 h tick per exchange, reserved symbol ``C999999``) that advances
    both watermarks past the feed, matches only itself and is dropped;
    the result equals the batch LEFT theta join."""
    real, _lo, hi = _feed(price)
    if hi is None:
        return spark.createDataFrame([], _SPREAD_SCHEMA)
    sentinel = _sentinel_frame(
        spark, hi,
        [("sentinel_C999999", exchange_a), ("sentinel_C999999", exchange_b)],
    )
    return _replay(
        spark, "spread_outer", [[real.coalesce(4), sentinel]],
        lambda spool: cross_exchange_stream_join(
            read_price_stream(spark, spool),
            exchange_a,
            exchange_b,
            tolerance_minutes=tolerance_minutes,
            watermark_minutes=watermark_minutes,
            how="leftOuter",
        ),
        _SPREAD_SCHEMA, timeout_s, keep="symbol != 'C999999'",
    )


def quality_stream_replay(
    spark: SparkSession,
    documents: DataFrame,
    weights: DataFrame,
    timeout_s: int = 600,
    n_files: int = 4,
) -> DataFrame:
    """The trained quality filter where production runs it: each
    arriving document shard (``n_files`` files, one per trigger) is
    scored inside ``foreachBatch`` by ``classifier.score_quality`` with
    frozen, localCheckpointed weights, and appended through the
    epoch-partitioned sink. Scoring is per document with a fixed model,
    so the output equals one batch scoring pass whatever the batch
    boundaries (the pytest compares a 1-file and a many-file spool)."""
    from ..operators import classifier

    out_schema = "doc_id long, score double, predicted boolean"
    docs = documents.select("doc_id", "text", "lang", "source")
    if docs.isEmpty():
        return spark.createDataFrame([], out_schema)
    wts = weights.localCheckpoint(eager=True)
    # repartition, not coalesce: the fixture tables read as ONE
    # partition and coalesce can only shrink, so a coalesce(4) spool
    # would be one file, one micro-batch.
    return _replay(
        spark, "quality", [[docs.repartition(n_files)]],
        lambda spool: spark.readStream.schema(
            "doc_id long, text string, lang string, source string"
        ).option("maxFilesPerTrigger", 1).parquet(spool),
        out_schema, timeout_s,
        per_batch=lambda batch, _epoch, _out: classifier.score_quality(batch, wts),
    )


def media_dedup_stream_replay(
    spark: SparkSession,
    media: DataFrame,
    timeout_s: int = 600,
    n_files: int = 4,
) -> DataFrame:
    """Streaming perceptual media dedup: each arriving image shard is
    dHash-fingerprinted inside ``foreachBatch`` ([[multimodal.dhash_ppm]]),
    anti-joined against the fingerprints earlier epochs emitted, and
    only first-seen fingerprints emit (band0..band3, rep_id). The spool
    is range-ordered (file k holds the k-th exact doc_id quantile chunk,
    drained one per trigger), so each survivor is its fingerprint's
    GLOBAL min doc_id, the batch rep collapse the oracle states.

    The registry is the sink read with ``batch_epoch < epoch_id``: a
    retried epoch sees what its first attempt saw, not its own partial
    output, and overwrites its partition with the same survivors (an
    append-only registry would make the retry emit an empty epoch)."""
    from ..operators.multimodal import dhash_ppm

    bands = ["band0", "band1", "band2", "band3"]
    out_schema = "band0 long, band1 long, band2 long, band3 long, rep_id long"
    media = media.select("doc_id", "width", "height", "payload")
    if media.isEmpty():
        return spark.createDataFrame([], out_schema)
    media = media.localCheckpoint(eager=True)
    # n_files=1 has no interior cuts (approxQuantile NPEs on an empty
    # probability list)
    cuts = (
        media.approxQuantile("doc_id", [k / n_files for k in range(1, n_files)], 0.0)
        if n_files > 1
        else []
    )
    edges = [float("-inf"), *cuts, float("inf")]
    doc = F.col("doc_id")
    chunks = [
        media.filter((doc > a) & (doc <= b)).coalesce(1)
        for a, b in zip(edges, edges[1:])
    ]

    def per_batch(batch: DataFrame, epoch_id: int, out: str) -> DataFrame:
        cand = dhash_ppm(batch).groupBy(*bands).agg(F.min("doc_id").alias("rep_id"))
        if os.path.isdir(out):
            seen = (
                batch.sparkSession.read.schema(out_schema + ", batch_epoch long")
                .parquet(out)
                .filter(F.col("batch_epoch") < epoch_id)
            )
            cand = cand.join(seen.select(*bands), bands, "left_anti")
        # materialized before the sink write: the anti-join must not
        # re-read the registry this batch is extending
        return cand.localCheckpoint(eager=True)

    return _replay(
        spark, "media_dedup", [chunks],
        lambda spool: spark.readStream.schema(
            "doc_id long, width int, height int, payload binary"
        ).option("maxFilesPerTrigger", 1).parquet(spool),
        out_schema, timeout_s, per_batch=per_batch,
    )
