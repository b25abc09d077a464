"""SparkSession construction and session-level normalization.

Two paths:
  * ``get_spark()`` — build our own local session (tests, bench.py).
  * ``configure(spark)`` — normalize a session we did NOT build (the
    driver hands us one); applies only runtime-settable SQL confs.

Scale notes (100 TB design intent): every conf here is also correct on a
real cluster — AQE handles skew/coalescing at runtime, the shuffle
partition count is a local-mode override only (on a cluster you would
leave AQE's coalescing to pick it), and session timezone pinned to UTC
makes timestamp semantics machine-independent.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType

# Runtime-settable SQL confs applied to ANY session that touches our
# tables (including the driver's). Keys must all be dynamic confs.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic, DuckDB-comparable timestamp semantics.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS) which Spark has no native
    # type for; read as raw long ns and convert in catalog.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime join-strategy switch, skew split,
    # partition coalescing. The single most important 100 TB knob.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow transfer for pandas UDFs / toPandas (vectorized batches).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-created session (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A static conf on some builds — session defaults must cover it.
            pass
    return spark


ROCKSDB_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def use_rocksdb_state_store(spark: SparkSession, enabled: bool = True) -> str:
    """Toggle the streaming state store between the default in-memory
    HDFS-backed provider and RocksDB. At 100 TB-scale streaming state
    (millions of keys per stateful operator), the in-memory provider
    OOMs the executors; RocksDB spills state to local disk with bounded
    memory and is the production choice. Runtime-settable: picked up by
    queries STARTED after the change. Returns the previous value."""
    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = ""
    if enabled:
        spark.conf.set(key, ROCKSDB_STATE_STORE)
    elif prev and prev != ROCKSDB_STATE_STORE:
        # A custom provider was configured before: restore it rather
        # than silently resetting to the default (ADVICE r2).
        spark.conf.set(key, prev)
    elif prev:
        spark.conf.unset(key)
    return prev


def _default_local_dir() -> str | None:
    """Fast scratch for shuffle files and spills (optimization r13).

    Spark's configuration guide says spark.local.dir "should be on a
    fast, local disk in your system" — and a thread-dump profile of
    this host (guide §7.3) showed map tasks stalled in
    FileOutputStream.open0 creating shuffle partition files: under
    32-thread concurrency the root ext4 volume's file create+write
    costs 5-10 ms MEDIAN (p99 ~100 ms) vs 9 µs on tmpfs — a ~1000×
    metadata-latency gap that made every post-exchange stage's wall
    oscillate 0.5 ↔ 7 s on identical work (the "bimodal host" of the
    r11/r12 ledgers, measured to its root cause this round). Scratch
    placement, not caching: every byte still flows through the same
    shuffle/spill machinery per action.

    Production story is identical (guide §2.1: local disk bandwidth
    for shuffle files can be the tighter limit): point local.dir at
    the fast NVMe array via SPARK_GRAFT_LOCAL_DIR. Local default is
    /dev/shm when present+writable (bench-scale shuffles are MBs —
    far inside RAM); SPARK_GRAFT_LOCAL_DIR="" disables and keeps
    Spark's stock default. Static conf: applies only to sessions WE
    build (bench, tests); an externally-built session keeps its own.
    """
    d = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if d is not None:
        return d or None
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        return os.path.join(shm, "spark-graft-local")
    return None


def get_spark(
    app_name: str = "kube-etl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a local session sized from the environment.

    ``SPARK_GRAFT_CPUS`` (default 32) controls local parallelism; shuffle
    partitions default to the same so a local run has one post-shuffle
    partition per core (AQE coalesces further when partitions are tiny).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Static conf: keep Spark's console progress bars off stdout.
        # BENCH_r05.json came back `parsed: null` because a progress bar
        # (`[Stage 1141:===…`) interleaved bench.py's final JSON line —
        # the driver parses stdout and the bar corrupted it (VERDICT r5
        # what's-wrong #1).
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.mergeSchema", "false")
    )
    local_dir = _default_local_dir()
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())


# caller's config frame -> its JVM-local copy; an entry lives as long as
# the caller keeps the frame object
_CONFIG_FRAMES: "weakref.WeakKeyDictionary[DataFrame, DataFrame]" = (
    weakref.WeakKeyDictionary()
)


def local_frame(
    spark: SparkSession,
    rows: Sequence[Sequence | Mapping],
    schema: StructType | str,
) -> DataFrame:
    """A small frame built from driver-side rows (tuples in schema order,
    or dicts by name) that plans as a ``LocalRelation``.

    ``spark.createDataFrame(list)`` plans a scan that Python workers
    feed: every job over it starts them, which costs 0.25-0.35 s per
    scan warm on a 4-core host. Built through an Arrow table, the rows
    live in the JVM plan instead, and a collect over them takes about
    0.01 s. This holds with Arrow execution switched off too. Nulls,
    null arrays, arrays holding a null and an empty ``rows`` all
    round-trip."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    names = schema.names
    dicts = [r if isinstance(r, Mapping) else dict(zip(names, r)) for r in rows]
    table = pa.Table.from_pylist(dicts, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)


def config_frame(df: DataFrame) -> DataFrame:
    """The JVM-local copy of a caller's small config frame (the sync
    rules), collected once per frame OBJECT. A new frame object is a new
    config generation: ``jobs/run_syncer.py`` builds one each time the
    rules file changes, so a hot reload is read anew while every other
    use of a generation scans the local copy. A source that changes
    behind the same frame object (a view over a mutable table) is not
    re-read.

    The rows are collected and rebuilt inside the JVM
    (``createDataFrame(java.util.List[Row], schema)``, which plans as
    the same ``LocalRelation``): they never cross to Python, and no
    Arrow conversion runs. The first Arrow conversion in a JVM costs
    0.2-1.3 s (4 cores), which a micro-batch would pay on top of the
    collect."""
    local = _CONFIG_FRAMES.get(df)
    if local is None:
        spark = df.sparkSession
        jdf = spark._jsparkSession.createDataFrame(df._jdf.collectAsList(), df._jdf.schema())
        local = DataFrame(jdf, spark)
        _CONFIG_FRAMES[df] = local
    return local
