"""Fixture-table catalog: parquet scans registered as temp views.

The reference registers tables in a session catalog
(``context.register_table``, reference csvb_engine/src/lib.rs:82);
here a table is a parquet scan + temp view, so Catalyst gets full
predicate pushdown / column pruning / partition pruning against the
files. Nothing is materialized — at 100 TB each view stays a lazy
scan and only the columns/row-groups a query touches are read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csvb_spark.sql import bump_catalog_epoch

TABLES = (
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
)


def _ensure_nanos_conf(spark: SparkSession) -> None:
    """events.parquet stores ts as parquet TIMESTAMP(NANOS), which Spark
    rejects outright (PARQUET_TYPE_ILLEGAL) unless this legacy conf is
    on. It is runtime-settable, and callers may hand us a vanilla
    session (e.g. an external grading/CI harness) that never went
    through ``csvb_spark.session``, so set it here at the single choke
    point every table read goes through."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # conf locked down — the session.py default may still cover it


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """events.ts has shipped in two fixture generations: parquet
    TIMESTAMP(NANOS) (arrives as a nano-long under ``nanosAsLong``) and
    TIMESTAMP(MICROS) (arrives as a native timestamp). Truncate
    nano-longs to micro timestamps exactly like DuckDB/Arrow do when
    narrowing; pass native timestamps through untouched. Every reader
    of the events table — batch and streaming — goes through this."""
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
        )
    return df


def normalize_event_ts_for_stream(df: DataFrame) -> DataFrame:
    """Streaming variant: watermarks demand TIMESTAMP (session-tz), so
    additionally cast a TIMESTAMP_NTZ ts. Sessions here run UTC
    (session.py:54), making the cast value-stable. Batch views keep NTZ
    untouched so they line up with DuckDB's (tz-less) TIMESTAMP."""
    df = normalize_event_ts(df)
    if dict(df.dtypes).get("ts") == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_nanos_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_ts(df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, tables=TABLES) -> dict[str, DataFrame]:
    return {t: _read(spark, sf_dir, t) for t in tables}


# Registration memo: (id(spark), sf_dir, tables) → registered dfs.
# Registering re-resolves every table schema (df.dtypes forces analysis),
# which is pure overhead when a harness runs 50+ queries against the
# same sf_dir; one bad fixture would also fail every query instead of
# just the ones that touch it. Keyed by session id so a restarted
# session re-registers cleanly.
_REGISTERED: dict[tuple, dict[str, DataFrame]] = {}


_MEMO_CAP = 8  # sessions × sf_dirs a process realistically touches


def invalidate_views(spark: SparkSession | None = None) -> None:
    """Drop memo entries (all, or one session's) — for harnesses that
    rewrite fixtures under the same sf_dir."""
    if spark is None:
        _REGISTERED.clear()
    else:
        for k in [k for k in _REGISTERED if k[0] == id(spark)]:
            del _REGISTERED[k]


def register_views(spark: SparkSession, sf_dir: str, tables=TABLES) -> dict[str, DataFrame]:
    key = (id(spark), sf_dir, tuple(tables))
    hit = _REGISTERED.get(key)
    if hit is not None:
        # cheap existence check: a harness may have dropped/overwritten
        # a temp view behind our back — silently skipping
        # createOrReplaceTempView would then serve stale/missing views
        try:
            ok = all(spark.catalog.tableExists(t) for t in hit)
        except Exception:  # noqa: BLE001 — dead session object
            ok = False
        if ok:
            return hit
        del _REGISTERED[key]
    dfs = load_tables(spark, sf_dir, tables)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    bump_catalog_epoch(spark)
    if len(_REGISTERED) >= _MEMO_CAP:  # bound the DataFrame refs we hold
        _REGISTERED.pop(next(iter(_REGISTERED)))
    _REGISTERED[key] = dfs
    return dfs
