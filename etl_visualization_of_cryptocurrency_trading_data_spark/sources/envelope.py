"""JSON envelope encode/decode (SURVEY §2.1 S2/S6, §2.2 P1/P2, §2.8
F5/F9/F10).

The reference moves all data through one Kafka topic as a JSON envelope
``{coins: [...], price_data: [...], ohlc_data: [...],
coin_market_cap: [...]}`` assembled every 5-minute tick
(dags/crypto_data_streaming.py:143-148), then parses it with an
explicit StructType + ``from_json`` + four explode/flatten branches
(spark-streaming.py:260-295). Timestamps travel as ISO strings
(produced at dags/crypto_data_streaming.py:86,106, parsed with
``to_timestamp`` at spark-streaming.py:284,289).

Here both directions are in-engine and oracle-checkable:
- ``build_envelopes``: events -> one JSON envelope row per 5-min tick
  (windowed groupBy + collect_list(struct(...)) + to_json). This is
  the producer side (S6) without the broker.
- ``decode_envelopes`` / ``decode_price`` / ``decode_ohlc`` /
  ``decode_coins`` / ``decode_market_cap``: from_json with the
  canonical schema -> flatten (P1) -> explode (P2) -> typed columns.

Round-tripping is exact, so each decoded table has a plain relational
DuckDB oracle — the nested-data surface is proven without Kafka.

Scale notes: the build is two windowed groupBys + a per-tick join
(all shuffles keyed by tick/entity, map-side partial aggregation);
per-envelope size is bounded by tick width x entity count — the same
bound the reference's topic messages have. Decode is a pure map
(from_json) + generate, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

TICK = "5 minutes"
ISO = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def _struct(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t) for n, t in fields])


# Canonical envelope schema — the single source of truth for both
# directions (the reference declares it twice: spark-streaming.py:216-267
# plus implicitly a third time in the producer dicts).
COINS_SCHEMA = _struct(
    ("id", StringType()), ("name", StringType()),
    ("symbol", StringType()), ("exchange", StringType()),
)
PRICE_SCHEMA = _struct(
    ("coin_id", StringType()), ("exchange", StringType()),
    ("timestamp", StringType()), ("price", DoubleType()),
    ("volume", DoubleType()),
)
OHLC_SCHEMA = _struct(
    ("coin_id", StringType()), ("exchange", StringType()),
    ("timestamp", StringType()), ("open", DoubleType()),
    ("high", DoubleType()), ("low", DoubleType()), ("close", DoubleType()),
)
MCAP_SCHEMA = _struct(
    ("coin_symbol", StringType()), ("timestamp", StringType()),
    ("market_cap_percentage", DoubleType()),
)
ENVELOPE_SCHEMA = _struct(
    ("coins", ArrayType(COINS_SCHEMA)),
    ("price_data", ArrayType(PRICE_SCHEMA)),
    ("ohlc_data", ArrayType(OHLC_SCHEMA)),
    ("coin_market_cap", ArrayType(MCAP_SCHEMA)),
)


def build_envelopes(events: DataFrame) -> DataFrame:
    """(tick_ts, value) — one JSON envelope string per 5-minute tick.

    Per tick: the coin dims seen, the raw price ticks, the tick's own
    OHLC candle per coin, and volume share-of-total per symbol (NULL
    for a tick whose volumes sum to 0) — the in-engine equivalents of
    the reference's four REST-fed record lists
    (dags/crypto_data_streaming.py:73-141).
    """
    base = events.select(
        F.window("ts", TICK).start.alias("tick_ts"),
        F.concat(F.col("event_type"), F.lit("_C"), F.col("user_id")).alias("coin_id"),
        F.col("event_type").alias("exchange"),
        F.concat(F.lit("Coin "), F.col("user_id")).alias("name"),
        F.concat(F.lit("C"), F.col("user_id")).alias("symbol"),
        F.date_format("ts", ISO).alias("iso_ts"),
        F.col("ts"),
        F.col("value").alias("price"),
        (F.abs(F.col("value")) * 100.0).alias("volume"),
    )
    per_coin = base.groupBy("tick_ts", "coin_id", "exchange", "name", "symbol").agg(
        F.collect_list(
            F.struct(
                "coin_id", "exchange",
                F.col("iso_ts").alias("timestamp"), "price", "volume",
            )
        ).alias("prices"),
        F.min(F.struct("ts", "price")).alias("_first"),
        F.max("price").alias("high"),
        F.min("price").alias("low"),
        F.max(F.struct("ts", "price")).alias("_last"),
    )
    coin_side = per_coin.groupBy("tick_ts").agg(
        F.collect_list(
            F.struct(
                F.col("coin_id").alias("id"), "name", "symbol", "exchange"
            )
        ).alias("coins"),
        F.flatten(F.collect_list("prices")).alias("price_data"),
        F.collect_list(
            F.struct(
                "coin_id", "exchange",
                F.date_format("tick_ts", ISO).alias("timestamp"),
                F.col("_first.price").alias("open"),
                "high", "low",
                F.col("_last.price").alias("close"),
            )
        ).alias("ohlc_data"),
    )
    per_symbol = base.groupBy("tick_ts", "symbol").agg(
        F.sum("volume").alias("symbol_volume")
    )
    mcap_side = per_symbol.groupBy("tick_ts").agg(
        F.collect_list(F.struct("symbol", "symbol_volume")).alias("parts"),
        F.sum("symbol_volume").alias("total_volume"),
    ).select(
        "tick_ts",
        F.transform(
            "parts",
            lambda p: F.struct(
                p["symbol"].alias("coin_symbol"),
                F.date_format("tick_ts", ISO).alias("timestamp"),
                F.try_divide(
                    F.lit(100.0) * p["symbol_volume"], F.col("total_volume")
                ).alias("market_cap_percentage"),
            ),
        ).alias("coin_market_cap"),
    )
    return coin_side.join(mcap_side, "tick_ts").select(
        "tick_ts",
        F.to_json(
            F.struct("coins", "price_data", "ohlc_data", "coin_market_cap")
        ).alias("value"),
    )


def decode_envelopes(envelopes: DataFrame) -> DataFrame:
    """Kafka-consumer parse parity (S2 + P1): cast the payload to
    string, from_json with the canonical schema, flatten the struct.

    Unparseable payloads decode to a NULL struct and vanish silently
    at the downstream explodes — route [[corrupt_envelopes]] to a
    quarantine sink alongside this to keep a dead-letter trail."""
    return envelopes.select(
        F.from_json(F.col("value").cast("string"), ENVELOPE_SCHEMA).alias("data")
    ).select("data.*")


def corrupt_envelopes(envelopes: DataFrame) -> DataFrame:
    """Dead-letter view of the envelope feed: raw payloads that fail
    the canonical-schema parse (malformed JSON, or JSON whose top
    level carries none of the four expected branches). Streaming-safe
    (pure map) — in the reference topology these rows would poison the
    consumer or disappear; here they route to a quarantine sink and
    the feed keeps flowing.

    Note from_json is permissive: valid JSON with a WRONG but
    object-shaped payload parses to a struct of NULL branches, which
    is exactly what the all-branches-null predicate catches. A payload
    with any one well-formed branch is not corrupt — partial
    envelopes flow through the normal decode. NULL payloads (Kafka
    tombstones, producer bugs) are corrupt too: they would disappear
    from the decode path just as silently, so they belong in the
    trail (raw comes back NULL for them).

    The parsed struct is materialized through a single-element
    ``explode(array(from_json(...)))`` — a generator, which predicate
    pushdown cannot cross. A plain projection does NOT protect it:
    PushDownPredicate substitutes the alias and inlines the parse into
    the filter once per reference (measured: five JsonToStructs per
    row in the physical plan; the generator form parses once).
    """
    raw = F.col("value").cast("string")
    parsed = envelopes.select(
        raw.alias("raw"),
        F.explode(F.array(F.from_json(raw, ENVELOPE_SCHEMA))).alias("_data"),
    )
    d = F.col("_data")
    all_null = (
        F.col("raw").isNull()
        | d.isNull()
        | (
            d["coins"].isNull()
            & d["price_data"].isNull()
            & d["ohlc_data"].isNull()
            & d["coin_market_cap"].isNull()
        )
    )
    return parsed.filter(all_null).select("raw")


def _explode_branch(decoded: DataFrame, branch: str, ts_cols: tuple[str, ...]) -> DataFrame:
    flat = (
        decoded.select(F.explode(branch).alias("r")).select("r.*")
    )
    for c in ts_cols:
        flat = flat.withColumn(c, F.to_timestamp(c, ISO))
    return flat


def decode_coins(decoded: DataFrame) -> DataFrame:
    """Distinct dims across ticks (the envelope repeats them per tick,
    like the reference's per-tick upsert into the coins table)."""
    return _explode_branch(decoded, "coins", ()).distinct()


def decode_price(decoded: DataFrame) -> DataFrame:
    return _explode_branch(decoded, "price_data", ("timestamp",))


def decode_ohlc(decoded: DataFrame) -> DataFrame:
    return _explode_branch(decoded, "ohlc_data", ("timestamp",))


def decode_market_cap(decoded: DataFrame) -> DataFrame:
    return _explode_branch(decoded, "coin_market_cap", ("timestamp",))
