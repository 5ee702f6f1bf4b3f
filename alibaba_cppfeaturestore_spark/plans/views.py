"""SQL entry point: register TESTDATA tables as views, run spark.sql.

Replaces the reference's Trino-over-Delta ad-hoc SQL surface
(``trino/catalog/lakehouse.properties:1``, ``trino/READEME.md:12-23``) with
Spark's own SQL engine over registered views — same Catalyst plans as the
DataFrame API.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Columns written as parquet INT64 TIMESTAMP(NANOS), which Spark 4 rejects
# by default (PARQUET_TYPE_ILLEGAL). Read as long via the legacy flag, then
# convert ns→µs with integer `div` (float division would lose precision on
# ~1e18 nanosecond values: doubles carry only 53 bits).
_NANOS_TS_COLUMNS: dict[str, list[str]] = {"events": ["ts"]}


# Analyzed-plan memo, keyed on (applicationId, session identity, file
# path) with the file's mtime_ns stored IN the value. This caches
# PLANS, never results: every action on the returned DataFrame still
# scans the parquet. What it removes is the per-call driver work of
# `spark.read.parquet` — file listing, footer/schema read, analysis
# (~60-150 ms per table per query build at the bench's scale; the
# bench re-builds every query per timed attempt, so the tax repeated
# ~3x per query x |tables|). Real engines keep exactly this state in
# the session catalog (the guide's §6 file-listing-cache point);
# `register_views` has always done the same thing via temp views.
#
# id(spark) joins the key: sibling sessions from spark.newSession()
# share one applicationId but have session-scoped confs and temp-view
# isolation, so a memo hit must never hand one session a DataFrame
# bound to another.
_TABLE_MEMO: dict[tuple, tuple[int, DataFrame]] = {}
_MEMO_CAP = 256


def stamped_memo(memo: dict, key, path: str, build):
    """``build()``, memoized in ``memo[key]`` for the current
    ``st_mtime_ns`` of ``path`` — the one keying rule of the module
    memos that cache per-file state (r14 hygiene, r13 verdict item 5):

    - the stamp lives in the VALUE, so a regenerated file REPLACES its
      entry instead of growing the dict one entry per (path, mtime);
    - st_mtime_ns, not getmtime's float seconds: at current epochs a
      float resolves only ~240 ns, so two in-place regenerations closer
      than that would share one key and serve the stale entry;
    - the memo is cleared outright when a new key would exceed
      ``_MEMO_CAP`` (rebuilding an entry is cheap; unbounded driver
      growth under session or dataset churn is the real hazard).

    An unstat-able path is never memoized."""
    try:
        stamp = os.stat(path).st_mtime_ns
    except OSError:
        return build()
    hit = memo.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    value = build()
    if key not in memo and len(memo) >= _MEMO_CAP:
        memo.clear()
    memo[key] = (stamp, value)
    return value


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    nanos_cols = _NANOS_TS_COLUMNS.get(name, [])
    if nanos_cols:
        # Runtime-settable; needed because the driver may hand us a session
        # built without this flag. Set on memo hits too — the flag is
        # consulted at execution, and a caller may have flipped it back.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")

    def read() -> DataFrame:
        df = spark.read.parquet(path)
        for c in nanos_cols:
            if dict(df.dtypes).get(c) == "bigint":
                df = df.withColumn(c, F.expr(f"timestamp_micros({c} div 1000)"))
        return df

    try:
        key = (spark.sparkContext.applicationId, id(spark), path)
    except Exception:
        return read()
    return stamped_memo(_TABLE_MEMO, key, path, read)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every TESTDATA parquet as a temp view; returns the frames."""
    out = {}
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = load_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out


def sql(spark: SparkSession, query: str) -> DataFrame:
    """The engine's SQL surface (Trino-equivalent role)."""
    return spark.sql(query)
