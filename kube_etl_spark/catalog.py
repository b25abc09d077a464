"""Fixture-table catalog: load + normalize the driver-generated parquet.

The reference enumerates its "catalog" via Kubernetes discovery
(ServerPreferredResources, /root/reference/pkg/export/export.go:98-128);
our catalog is the fixed fixture star schema described in FIXTURES.md §B.
``load_table`` is the single entry point every query uses, so type
normalization (ns-timestamp conversion, NTZ semantics) happens in exactly
one place.

Scale note: `spark.read.parquet` gives splittable, column-pruned,
predicate-pushdown scans for free; at 100 TB the same call reads a
partitioned directory tree — nothing here assumes single-file inputs.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import configure

TABLES: tuple[str, ...] = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# ---------------------------------------------------------------------------
# Relation metadata cache (optimization r12, guide §6 "file listing").
#
# Measured: every bare `spark.read.parquet(path)` pays ~90-150 ms of
# driver-side schema inference (footer read + relation resolution), and
# the bench/parity harnesses rebuild each query's DataFrame from scratch
# per run — at 22 headliners × 3 timed runs × ~2.3 tables that was ~15 s
# of pure metadata re-inference per bench invocation (measured 129 ms →
# 37 ms per read with an explicit schema at sf0.1). A real deployment
# serves exactly this from the metastore/table format instead of
# re-reading footers per query — the same argument table_rowcount makes
# for parquet-footer row counts. Two layers, both metadata-only:
#
#   * _SCHEMA_CACHE: the inferred StructType per (sf_dir, table) —
#     engine metadata, valid across sessions (fixture dirs are
#     immutable; a new sf_dir gets its own entry).
#   * _DF_CACHE: the constructed (lazily-planned) DataFrame per LIVE
#     session, in a WeakKeyDictionary so a stopped session's entries
#     die with it. A DataFrame here is an unexecuted logical plan —
#     nothing is computed or persisted, every action still reads the
#     parquet bytes; this only skips re-resolving the same immutable
#     relation (listing + schema plumbing) on every query build.
# ---------------------------------------------------------------------------
_SCHEMA_CACHE: dict[str, StructType] = {}
_DF_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, DataFrame]]" = (
    weakref.WeakKeyDictionary()
)

# ---------------------------------------------------------------------------
# Scan-parallelism floor.
#
# A parquet ROW GROUP is the atomic scan split: a reader only processes
# row groups whose start falls inside its byte range, so a table written
# as one row group scans as ONE task whatever
# spark.sql.files.maxPartitionBytes says, and the whole first stage
# (everything below the first exchange) inherits that single thread.
# Every shipped fixture table is that shape.
#
# Callers whose first stage does HEAVY per-row work (tokenize, n-gram
# explode, decimal aggregates, vector folds) pass ``parallel=True``;
# when footer metadata shows fewer atomic splits than defaultParallelism
# and the file clears _PARALLEL_READ_MIN_BYTES, one hash repartition to
# defaultParallelism on the table's leading column is appended to the
# cached relation. Every fixture table leads with its key (FIXTURES.md
# §B), so the hash spreads rows evenly. Cheap scans leave it off: there
# the extra exchange costs more than it saves (a blanket floor made
# q_join_inner 2.2x and q_stream_tumbling 5x slower on 32 cores).
#   * Hash, not round-robin: a keyed exchange is deterministic as is,
#     while round-robin sorts its input first
#     (spark.sql.execution.sortBeforeRepartition) so task retries
#     reproduce placement, and a later grouping that includes the key
#     reuses the partitioning (q_ngram_novelty's (doc_id, gram) dedup
#     loses its exchange). Warm A/B at sf0.1 on 4 cores, medians of 11
#     alternating pairs: q_ngram_novelty 1.05 s keyed vs 1.15 s
#     round-robin (keyed faster 11/11). Each caller cites its own
#     floored-vs-unfloored numbers.
#   * Inert at production layouts: once the file count reaches the
#     target, _atomic_splits early-exits without reading a footer.
#   * Plan-safe: filters and column pruning push below the Repartition,
#     so PushedFilters/ReadSchema at the scan are unchanged.
# ---------------------------------------------------------------------------
_PARALLEL_READ_MIN_BYTES = 256 * 1024
_SPLITS_CACHE: dict[tuple[str, int], tuple[int, int]] = {}


def _atomic_splits(path: str, target: int) -> tuple[int, int]:
    """(atomic scan splits, total bytes) for a parquet file or directory.

    Footer metadata only: no data read, no Spark job. A directory with
    at least ``target`` files returns its file count without opening a
    footer; that count only answers "enough splits for ``target``", so
    the cache is keyed by (path, target)."""
    got = _SPLITS_CACHE.get((path, target))
    if got is not None:
        return got
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = [
            os.path.join(root, f)
            for root, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
        size = sum(os.path.getsize(f) for f in files)
        if len(files) >= target:
            got = (len(files), size)
        else:
            got = (
                sum(pq.ParquetFile(f).metadata.num_row_groups for f in files),
                size,
            )
    else:
        got = (pq.ParquetFile(path).metadata.num_row_groups, os.path.getsize(path))
    _SPLITS_CACHE[(path, target)] = got
    return got


def _read_parquet(spark: SparkSession, path: str, parallel: bool = False) -> DataFrame:
    """spark.read.parquet with schema + relation memoization (see above).

    ``parallel=True`` additionally applies the scan-parallelism floor;
    the raw and the floored relation cache under distinct keys."""
    per_session = _DF_CACHE.setdefault(spark, {})
    key = f"{path}|parallel" if parallel else path
    df = per_session.get(key)
    if df is not None:
        return df
    schema = _SCHEMA_CACHE.get(path)
    if schema is None:
        base = per_session.get(path)
        if base is not None:
            schema = base.schema
            _SCHEMA_CACHE[path] = schema
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[path] = df.schema
    else:
        df = spark.read.schema(schema).parquet(path)
    if parallel:
        target = spark.sparkContext.defaultParallelism
        splits, nbytes = _atomic_splits(path, target)
        if nbytes >= _PARALLEL_READ_MIN_BYTES and splits < target:
            df = df.repartition(target, F.col(df.columns[0]))
    per_session[key] = df
    return df


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    parallel: bool = False,
) -> DataFrame:
    """Read one fixture table with normalized types.

    This branch exists for NS-TYPED inputs only: a fixture whose
    events.ts is parquet TIMESTAMP(NANOS) surfaces (under
    spark.sql.legacy.parquet.nanosAsLong) as raw ns-since-epoch long,
    and `timestamp_micros(ts div 1000)` converts it. The shipped
    fixture SFs all store ts as timestamp[us], so no current fixture
    exercises it (ADVICE r4 — the docstring used to claim otherwise).
    Because the div-1000 silently drops sub-µs precision, the
    conversion raises per-row on any ts with nonzero sub-µs ns
    instead of truncating: real nanosecond data must fail loudly, not
    quietly lose its low digits. The guard is a JVM-side integer mod
    in the rarely-taken branch — no extra pass, no cost to the
    µs-typed fixtures.

    ``parallel=True`` opts the caller into the scan-parallelism floor
    (see the block comment above _atomic_splits): pass it when the
    first stage over this table does heavy per-row work and the floor
    decides, from footer metadata, whether a repartition is needed at
    this layout/core count. Callers with cheap scans leave it off.
    """
    configure(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = _read_parquet(spark, path, parallel=parallel)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.expr(
                "IF(ts % 1000 = 0, timestamp_micros(ts DIV 1000),"
                " raise_error(CONCAT('events.ts has sub-microsecond"
                " precision (ns value ', CAST(ts AS STRING),"
                " '); the div-1000 conversion would truncate it')))"
            ).cast("timestamp_ntz"),
        )
    return df


def table_rowcount(sf_dir: str, name: str) -> int:
    """Exact row count from parquet FOOTER metadata — zero data read,
    no Spark job. This is the "table stats" a real catalog serves: at
    100 TB a `df.count()` just to size a parameter is a full scan;
    footers (or the metastore's rowCount stat) answer it in O(files)
    metadata reads."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(path):
        return sum(
            pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            for root, _, files in os.walk(path)
            for f in files
            if f.endswith(".parquet")
        )
    return pq.ParquetFile(path).metadata.num_rows


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for spark.sql use)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
