"""The five ``plans.serving`` routes over tables stored by
``catalog.create_crypto_database``: row parity with DuckDB over the
stored parquet on edge-case inputs, and the number of Spark jobs each
route launches."""

from __future__ import annotations

import datetime as dt
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_visualization_of_cryptocurrency_trading_data_spark.catalog import (
    create_crypto_database,
)
from etl_visualization_of_cryptocurrency_trading_data_spark.plans import serving
from etl_visualization_of_cryptocurrency_trading_data_spark.plans.oracles.serving import (
    LATEST_CTES,
)

from conftest import SF_SMOKE
from test_oracle_parity import assert_frames_match

TABLES = ("coins", "price_data", "ohlc_data", "technical_indicators", "coin_market_cap")
ANCHOR = dt.datetime(2024, 6, 1, 12, 0)
# hours before the anchor: rows on, just inside and just outside every
# TIME_RANGE_HOURS bound (the bound itself is excluded: ts > max - range)
C1_VIEW_HOURS = [
    0, 0, 0.5, 1, 3, 10, 23, 24, 25, 50, 100, 167, 168, 169,
    300, 500, 719, 720, 721, 1000, 3000, 8759, 8760, 8761, 9000,
]


def _events() -> pa.Table:
    """Edge-case feed (coin_id = exchange || '_' || symbol):

    - view_C1: 25 ticks spread over every time range, the newest two
      tied on timestamp (price breaks the tie);
    - click_C1: 5 ticks, newest two tied, too few for sma_20 (20 rows)
      and rsi_14 (14 rows), so both are NULL in the latest row;
    - view_C2: a NaN price tied with a finite one on the newest tick.
    """
    # view_C1's two newest ticks (offset 0) are priced 44.5 and 46.0
    rows = [("view", 1, h, 10.0 + 1.5 * k) for k, h in enumerate(reversed(C1_VIEW_HOURS))]
    rows += [("click", 1, h, p) for h, p in [(40, 5.0), (30, 6.0), (20, 4.0), (2, 7.0), (2, 3.0)]]
    rows += [("view", 2, h, p) for h, p in [(6, 8.0), (1, 9.0), (1, float("nan"))]]
    return pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([ANCHOR - dt.timedelta(hours=h) for _, _, h, _ in rows], pa.timestamp("us")),
        "user_id": pa.array([u for _, u, _, _ in rows], pa.int64()),
        "event_type": pa.array([e for e, _, _, _ in rows]),
        "value": pa.array([v for _, _, _, v in rows], pa.float64()),
        "props": pa.array(["{}"] * len(rows)),
    })


def _stored_db(spark, base: str, db: str) -> None:
    """Write the edge-case feed with create_crypto_database, then add
    purchase_C3 to coins, price_data and ohlc_data only: it has no
    technical_indicators row, so coin_table must drop it."""
    os.makedirs(f"{base}/in")
    pq.write_table(_events(), f"{base}/in/events.parquet")
    create_crypto_database(spark, f"{base}/in", db, location=f"{base}/wh")
    ts = ANCHOR - dt.timedelta(hours=2)
    extra = {
        "coins": {"id": "purchase_C3", "name": "Coin 3", "symbol": "C3", "exchange": "purchase"},
        "price_data": {"coin_id": "purchase_C3", "exchange": "purchase", "timestamp": ts,
                       "price": 5.0, "volume": 500.0},
        "ohlc_data": {"coin_id": "purchase_C3", "exchange": "purchase", "timestamp": ts,
                      "open": 5.0, "high": 5.0, "low": 5.0, "close": 5.0},
    }
    for name, row in extra.items():
        schema = spark.table(f"{db}.{name}").schema
        spark.createDataFrame([tuple(row.get(f.name) for f in schema)], schema).write.insertInto(
            f"{db}.{name}"
        )


@pytest.fixture(scope="module")
def edge_db(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("serving_edge"))
    db = "serving_edge"
    _stored_db(spark, base, db)
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{base}/wh/{t}/**/*.parquet', hive_partitioning = true)")
    yield db, con
    con.close()
    spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _route(spark, db: str, route: str, sym: str = "", time_range: str = ""):
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


def _range_sql(table: str, cols: str, sym: str, time_range: str) -> str:
    return f"""
  SELECT exchange, timestamp, {cols}
  FROM {table}
  WHERE ends_with(coin_id, '_{sym}')
    AND timestamp > (SELECT max(timestamp) FROM {table}
                     WHERE ends_with(coin_id, '_{sym}'))
                    - INTERVAL {serving.TIME_RANGE_HOURS[time_range]} HOURS"""


COIN_TABLE_SQL = f"""WITH {LATEST_CTES}
  SELECT c.id, c.name, c.symbol, c.exchange, p.price_ts, p.price, p.volume,
         o.open, o.high, o.low, o.close, i.sma_20, i.ema_20, i.rsi_14, i.macd
  FROM coins c
  JOIN latest_price p ON p.coin_id = c.id AND p.exchange = c.exchange
  JOIN latest_ohlc  o ON o.coin_id = c.id AND o.exchange = c.exchange
  JOIN latest_ind   i ON i.coin_id = c.id AND i.exchange = c.exchange"""


@pytest.mark.parametrize("sym", ["C1", "C2", "C3", "C9"])
def test_range_routes_match_duckdb_for_every_range(spark, edge_db, sym):
    """price_chart and ohlc_chart for every TIME_RANGE_HOURS key: rows
    on a range bound are excluded, a NaN price is kept, and a symbol
    with no rows (C9) gives an empty result."""
    db, con = edge_db
    counts = set()
    for time_range in serving.TIME_RANGE_HOURS:
        for route, table, cols in [
            ("price_chart", "price_data", "price, volume"),
            ("ohlc_chart", "ohlc_data", "open, high, low, close"),
        ]:
            got = _route(spark, db, route, sym, time_range).toPandas()
            want = con.sql(_range_sql(table, cols, sym, time_range)).df()
            assert_frames_match(got, want, f"{route}({sym}, {time_range})")
            counts.add(len(got))
    if sym == "C9":
        assert counts == {0}
    if sym == "C1":
        assert len(counts) >= 5  # each range cuts the series somewhere else


@pytest.mark.parametrize("sym", ["C1", "C2", "C3", "C9"])
def test_indicator_chart_matches_duckdb(spark, edge_db, sym):
    db, con = edge_db
    got = _route(spark, db, "indicator_chart", sym).toPandas()
    want = con.sql(f"""
  SELECT coin_id, exchange, timestamp, sma_20, ema_20, rsi_14, macd
  FROM technical_indicators WHERE ends_with(coin_id, '_{sym}')
  ORDER BY timestamp, exchange LIMIT 200""").df()
    assert_frames_match(got, want, f"indicator_chart({sym})")
    assert (len(got) == 0) == (sym in ("C3", "C9"))


def test_market_cap_chart_matches_duckdb(spark, edge_db):
    db, con = edge_db
    got = _route(spark, db, "market_cap_chart").toPandas()
    want = con.sql("SELECT coin_symbol, timestamp, market_cap_percentage FROM coin_market_cap").df()
    assert_frames_match(got, want, "market_cap_chart")


def test_coin_table_edge_cases_match_duckdb(spark, edge_db):
    """Ties on the newest timestamp, NULL sma_20/rsi_14, a NaN price
    and a key with no indicator rows, against the oracle's
    row_number() latest-row pick."""
    db, con = edge_db
    df = _route(spark, db, "coin_table")
    assert_frames_match(df.toPandas(), con.sql(COIN_TABLE_SQL).df(), "coin_table")
    rows = {r.id: r for r in df.collect()}
    assert set(rows) == {"view_C1", "click_C1", "view_C2"}  # purchase_C3 dropped
    assert rows["view_C1"].price == 46.0  # the larger price of the tied pair
    assert rows["click_C1"].price == 7.0
    assert rows["click_C1"].sma_20 is None and rows["click_C1"].rsi_14 is None
    assert math.isnan(rows["view_C2"].price)  # NaN sorts above every price


# Spark jobs per route over stored tables (a job is one scheduler
# submission: a shuffle map stage, a broadcast collect or the result).
ROUTE_JOBS = {
    "price_chart": 2,  # scan to one partition, then window + filter
    "ohlc_chart": 2,
    "coin_table": 3,  # union groupBy map side, broadcast, join
    "indicator_chart": 1,
    "market_cap_chart": 1,
}


def test_route_job_counts(spark, tmp_path):
    """Each route launches a pinned number of Spark jobs, so an extra
    stage (a second scan, a join back, a per-side window) fails here."""
    db = "serving_jobs"
    create_crypto_database(spark, SF_SMOKE, db, location=str(tmp_path / "wh"))
    sc = spark.sparkContext
    try:
        sym = spark.table(f"{db}.coins").orderBy("id").first().symbol
        for route, want in ROUTE_JOBS.items():
            df = _route(spark, db, route, sym, "1w")
            group = f"test_route_job_counts.{route}"
            sc.setJobGroup(group, route)
            try:
                assert df.collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            got = len(sc.statusTracker().getJobIdsForGroup(group))
            assert got == want, (route, got)
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
