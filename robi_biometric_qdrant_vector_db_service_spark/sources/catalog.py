"""Table catalog: load the driver's parquet corpus and register temp views.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file each under ``sf_dir``.

Scale posture: ``spark.read.parquet`` gives columnar scans with predicate
pushdown and column pruning for free; at 100 TB the same loader points at a
partitioned directory tree and nothing else changes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

# Dimension tables small enough to broadcast at any realistic scale factor.
BROADCAST_TABLES = {"region", "nation", "supplier"}


# The driver's parquet stores timestamps as INT64 TIMESTAMP(NANOS), which
# Spark's vectorized reader rejects ([PARQUET_TYPE_ILLEGAL]).  We read nanos
# as LONG (legacy conf) and rebuild proper TimestampType columns — exactly
# equivalent, and DuckDB reads the same nanos natively, so values agree.
_TS_NANOS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


# Hot-store mode (opt-in via SPARK_GRAFT_HOT_CACHE=1): fact/corpus tables
# are kept memory-resident, repartitioned to the session's parallelism.
# This is the engine analogue of the reference's always-RAM collection
# (settings.py:48-51 `always_ram`, qdrant_client.py:125 1s flush): serving
# reads hit an in-memory store, not cold parquet.  It also fixes a local-
# fixture artifact — the driver's parquet has ONE row group per file, so a
# cold scan is a single task no matter how many cores exist; at real scale
# (many files/row groups) the cold path parallelizes by itself.  Plan tests
# assert parquet pushdown with this OFF, so correctness never depends on it.
_HOT_TABLES = {"lineitem", "orders", "events", "documents", "embeddings"}
_hot_cache: dict[tuple[str, str], DataFrame] = {}


def _hot_enabled() -> bool:
    import os

    return os.environ.get("SPARK_GRAFT_HOT_CACHE", "0") == "1"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # UTC so timestamp results are bit-comparable with the (UTC-naive)
    # DuckDB oracle even when the HOSTING session didn't configure it —
    # the driver contract hands us an arbitrary SparkSession
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # tz-naive parquet timestamps (the round-5 regenerated corpus stores
    # timestamp[us] without isAdjustedToUTC) must come back as TimestampType
    # instants, not TIMESTAMP_NTZ — time arithmetic (unix_micros, windows)
    # and the UTC-naive DuckDB oracle both assume instants
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # a hot hit returns before any read: spark.read.parquet infers the
    # schema from the footers, one Spark job per call
    key = (sf_dir, name)
    hot = name in _HOT_TABLES and _hot_enabled()
    if hot and key in _hot_cache:
        return _hot_cache[key]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _TS_NANOS_COLS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            # integer DIV: double division loses microseconds at 1e18 nanos
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} DIV 1000)"))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            # belt-and-braces for sessions where the conf above landed after
            # a plan was already cached: session tz is UTC, so the cast
            # preserves the stored wall-clock values as UTC instants
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    if hot:
        df = df.repartition(spark.sparkContext.defaultParallelism).persist()
        df.count()  # materialize eagerly: load cost is paid once, here
        _hot_cache[key] = df
    return df


def warm_hot_cache(spark: SparkSession, sf_dir: str) -> None:
    """Materialize the hot store up front (bench warmup / service start)."""
    if _hot_enabled():
        for name in _HOT_TABLES:
            load_table(spark, sf_dir, name)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every corpus table as a temp view; returns name → DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
