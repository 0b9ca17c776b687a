"""SparkSession factory.

Local test posture: ``local[$SPARK_GRAFT_CPUS]`` single-JVM.  Cluster
posture is encoded in the same conf set: AQE (runtime re-planning, skew-join
splitting, partition coalescing), shuffle partitions sized to cores, Arrow
for every pandas interchange, UTC session timezone so results compare
bit-for-bit against the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import functools
import os
import re
from collections.abc import Iterable, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

_MEM_SUFFIX = {"": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}


def _default_xms(driver_mem: str) -> str:
    """Default heap floor: the driver-memory ceiling, CLAMPED to half the
    host's physical memory (ADVICE r18 — committing a 32g floor at launch
    on a smaller host would fail JVM startup / trip the cgroup OOM killer
    where the old lazy-growth heap worked).  Unparseable sizes or an
    unreadable /proc/meminfo fall back to the unclamped floor."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", driver_mem.strip().lower())
    if not m:
        return f"-Xms{driver_mem}"
    want = int(m.group(1)) * _MEM_SUFFIX[m.group(2)]
    try:
        with open("/proc/meminfo") as f:
            line = next(ln for ln in f if ln.startswith("MemTotal"))
        cap = int(line.split()[1]) * 1024 // 2
    except (OSError, StopIteration, ValueError, IndexError):
        return f"-Xms{driver_mem}"
    if want <= cap:
        return f"-Xms{driver_mem}"
    return f"-Xms{max(1, cap // (1024**2))}m"


def get_spark(app_name: str = "robi_biometric_qdrant_vector_db_service_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g")
    # Pin the heap floor to the heap ceiling (-Xms == driver memory,
    # clamped to half the host's RAM — see _default_xms; the standard
    # long-lived-JVM posture; override via
    # $SPARK_GRAFT_DRIVER_JVM_OPTS).  Without it G1 commits/uncommits
    # multi-GB region batches every few concurrent cycles under
    # allocation-heavy plans (observed oscillating 7→14→7 GiB), and each
    # re-commit page-faults gigabytes back in — on virtualized hosts that
    # kernel time intermittently stretched an ~2 s query to 25-110 s
    # (profiled: 53% sys CPU, GC pauses all <50 ms, zero Full GCs).  A
    # steady heap removes the churn; measured spike-free across 12
    # consecutive heavy-allocation queries vs 1-in-5 spiking before.
    jvm_opts = os.environ.get(
        "SPARK_GRAFT_DRIVER_JVM_OPTS", _default_xms(driver_mem)
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@functools.lru_cache(maxsize=64)
def _ddl_schemas(ddl: str) -> tuple[StructType, pa.Schema]:
    """The ``StructType`` a DDL string parses to, and its Arrow schema.
    ``StructType.fromDDL`` parses on the JVM (a py4j round trip, ~3 ms)
    and callers pass the same few literal DDLs on every call, so the
    parse is memoized.  ``createDataFrame`` only reads the struct, and a
    frame's ``schema`` is parsed afresh from the JVM, so the cached
    instance never reaches a caller that could change it."""
    struct = StructType.fromDDL(ddl)
    return struct, to_arrow_schema(struct)


def local_frame(spark: SparkSession, rows: Iterable[Sequence], schema: str) -> DataFrame:
    """Driver-held ``rows`` (tuples or Rows in the column order of the DDL
    ``schema``) as a DataFrame that Spark plans as a ``LocalRelation``.

    A Python list must not reach ``createDataFrame``: PySpark makes it a
    ``LogicalRDD`` over a Python RDD cut into ``defaultParallelism``
    slices, so every scan of the frame, even of a one-row probe, runs
    tasks that round-trip through Python workers (on 4 cores, 4 tasks
    and ~850 ms of executor time; the median service search took 726 ms
    with it and 437 ms without).  The service's search probe no longer
    goes through here: one vector is a folded literal
    (``functions.vector.probe_literal``), which needs no broadcast job.  The same rows as a ``pyarrow.Table``
    become a JVM ``LocalRelation``: its scan needs no Python worker, and
    the planner sees its exact size.  Above
    ``spark.sql.execution.arrow.localRelationThreshold`` Spark keeps the
    Arrow batches in an RDD instead, which needs no Python worker either.
    Values convert the way ``pyarrow`` converts them to the schema's Arrow
    types: a ``map`` takes a dict, a naive ``datetime`` is read as UTC.
    This is the package's only ``createDataFrame`` call."""
    struct, arrow_schema = _ddl_schemas(schema)
    columns = list(zip(*rows)) or [()] * len(struct)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
