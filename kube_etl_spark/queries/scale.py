"""Scale-technique operators: skew mitigation and co-location patterns.

These register the 100 TB survival tricks as first-class, oracle-checked
operators: the salted join must produce byte-identical results to the
plain join (the technique changes the PHYSICAL plan only). The
plan-shape guarantees (no extra exchange, broadcast where expected,
pushdown reaching the scan) are asserted in tests/test_planshape.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..exact import dsum, dsum_sql, money_sql
from ..registry import query

_N_SALTS = 8


def salted_join(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str, n_salts: int = _N_SALTS
) -> DataFrame:
    """Inner equi-join with key salting: the fact side gets a
    deterministic salt in [0, n_salts); the dim side is replicated
    n_salts× so every (key, salt) bucket finds its match. Splits one
    hot key's rows across n_salts reducers — the standard fix when one
    key holds a disproportionate share of a 100 TB fact table and AQE's
    skew splitting can't help (e.g. a subsequent groupBy on the key).
    Result set is identical to the plain join (salting is physical).

    The salt hashes the fact row's VALUES (all columns), never
    monotonically_increasing_id: mid's value depends on partition
    numbering, so a retried/recomputed stage would re-salt rows
    differently — results stay correct, but per-row routing becomes
    nondeterministic across retries, which turns idempotent downstream
    MERGE debugging into archaeology (VERDICT r2 #2). A value hash is
    stable under recomputation; rows identical in every column share a
    salt, which only matters if the hot key's rows are also near-total
    duplicates (then dedup first)."""
    salted_fact = fact.withColumn(
        "__salt", F.pmod(F.xxhash64(*[fact[c] for c in fact.columns]), F.lit(n_salts))
    )
    replicated_dim = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return salted_fact.join(
        replicated_dim,
        (salted_fact[fact_key] == replicated_dim[dim_key])
        & (salted_fact["__salt"] == replicated_dim["__salt"]),
    ).drop("__salt")


@query(
    "q_join_skew_salted",
    tags=("J1", "skew"),
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_items,
       {dsum_sql(money_sql('l_extendedprice'))} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join — must match the plain-join oracle exactly
    (the salt changes partitioning, never results)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        salted_join(li, orders, "l_orderkey", "o_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice").cast("decimal(14,2)")).alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_agg_two_phase",
    tags=("A1", "skew"),
    oracle="""
SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_agg_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase distinct under a skewed group key: first aggregate on
    (group, value) — spreading one hot group over many reducers — then
    count per group. Equivalent to COUNT(DISTINCT) but with bounded
    per-reducer load; the shape to use when one group dominates."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_partkey")
        .filter(F.col("l_partkey").isNotNull())  # COUNT(DISTINCT) excludes NULLs
        .distinct()
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .orderBy("l_returnflag")
    )


# process-lifetime cache for bucketed_tables: (app_id, sf_dir, n_buckets)
# -> table names. The whole point of bucketing is to pay the write ONCE
# and amortize it across reads — without the memo, every invocation of
# the two bucketed queries re-dropped and re-wrote both tables, so a
# bench run measured mostly write time. Keyed on the Spark app id so a
# restarted session (fresh in-memory catalog) rewrites.
_BUCKETED_CACHE: dict[tuple[str, str, int], tuple[str, str]] = {}


def _cleanup_bucketed_dirs() -> None:
    import shutil
    import tempfile

    for names in _BUCKETED_CACHE.values():
        for name in names:
            shutil.rmtree(
                os.path.join(tempfile.gettempdir(), f"kube_etl_spark_{name}"),
                ignore_errors=True,
            )


def bucketed_tables(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[DataFrame, DataFrame]:
    """Write lineitem + orders as bucketed tables (hash-bucketed and
    per-bucket sorted on the join key) and return the bucketed reads.

    Bucketing is the persist-side half of shuffle elimination: both
    sides pre-hashed into the SAME number of buckets on the join key
    means every subsequent join/groupBy on that key is exchange-free —
    the 100 TB pattern for a fact table joined on the same key by many
    downstream jobs (pay one shuffle at write time, amortized across
    every read). Tables are external with pid-salted paths so
    concurrent test/driver processes never race; repeat invocations in
    one process reuse the already-written tables via the memo (and the
    process's dirs are removed at exit)."""
    import atexit
    import shutil
    import tempfile

    key_ = (spark.sparkContext.applicationId, sf_dir.rstrip("/"), n_buckets)
    if key_ in _BUCKETED_CACHE:
        li_name, o_name = _BUCKETED_CACHE[key_]
        return spark.table(li_name), spark.table(o_name)

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_").replace("-", "_")
    names: list[str] = []
    for tbl, key, cols in (
        ("lineitem", "l_orderkey", ["l_orderkey", "l_extendedprice", "l_returnflag"]),
        ("orders", "o_orderkey", ["o_orderkey", "o_orderpriority"]),
    ):
        name = f"bkt_{tbl}_{tag}_{os.getpid()}"
        path = os.path.join(tempfile.gettempdir(), f"kube_etl_spark_{name}")
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(path, ignore_errors=True)
        (
            load_table(spark, sf_dir, tbl)
            .select(*cols)
            .write.bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", path)
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(name)
        )
        names.append(name)
    if not _BUCKETED_CACHE:
        atexit.register(_cleanup_bucketed_dirs)
    _BUCKETED_CACHE[key_] = (names[0], names[1])
    return spark.table(names[0]), spark.table(names[1])


@query(
    "q_join_bucketed",
    tags=("J1", "scale"),
    oracle=f"""
SELECT o_orderpriority, l_returnflag,
       COUNT(*) AS n_items,
       {dsum_sql(money_sql('l_extendedprice'))} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority, l_returnflag
ORDER BY o_orderpriority, l_returnflag
""",
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join — both sides bucketed 8-ways on the
    join key at write time, so the sort-merge join reads bucket i of
    each side directly: NO Exchange in the plan (asserted in
    tests/test_planshape.py). The merge hint keeps the plan on the
    co-located SMJ path instead of broadcast, which is the regime that
    matters when BOTH sides are 100 TB-class and neither fits in
    memory. Results must equal the plain-join oracle exactly —
    bucketing, like salting, changes only the physical plan."""
    bl, bo = bucketed_tables(spark, sf_dir)
    return (
        bl.join(bo.hint("merge"), bl["l_orderkey"] == bo["o_orderkey"])
        .groupBy("o_orderpriority", "l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice").cast("decimal(14,2)")).alias("revenue"),
        )
        .orderBy("o_orderpriority", "l_returnflag")
    )


@query(
    "q_key_skew_audit",
    tags=("A1", "scale"),
    oracle="""
WITH stacked AS (
  SELECT 'l_orderkey' AS key_name, l_orderkey AS key_val FROM lineitem
  UNION ALL
  SELECT 'l_partkey', l_partkey FROM lineitem
  UNION ALL
  SELECT 'l_suppkey', l_suppkey FROM lineitem
),
per_key AS (
  SELECT key_name, key_val, COUNT(*) AS cnt
  FROM stacked GROUP BY key_name, key_val
)
SELECT key_name,
       COUNT(*) AS n_keys,
       CAST(SUM(cnt) AS BIGINT) AS total_rows,
       MAX(cnt) AS max_cnt,
       CAST((MAX(cnt) * 10000) // SUM(cnt) AS DOUBLE) / 10000.0 AS top1_share,
       CAST((MAX(cnt) * COUNT(*) * 10000) // SUM(cnt) AS DOUBLE) / 10000.0
         AS max_over_avg
FROM per_key GROUP BY key_name ORDER BY key_name
""",
)
def q_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew audit — per candidate join/partition key of the
    fact table: distinct-key count, hottest-key row count, the hot
    key's share of all rows, and max/avg ratio (the number that says
    "this key needs salting"). This is the profiling pass you run
    BEFORE choosing a 100 TB partition strategy; max_over_avg ≈ 1
    means uniform, ≫ 1 means one reducer will stall the stage.

    Scale shape: the three keys ride ONE scan via stack() (no
    re-reads), the per-key count is map-side combinable, and the
    final stats aggregate |keys| rows per key_name. All metrics are
    pure integer math (4dp floor division) — exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    stacked = li.select(
        F.expr(
            "stack(3, 'l_orderkey', l_orderkey, 'l_partkey', l_partkey,"
            " 'l_suppkey', l_suppkey) AS (key_name, key_val)"
        )
    )
    per_key = stacked.groupBy("key_name", "key_val").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        per_key.groupBy("key_name")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("cnt").alias("total_rows"),
            F.max("cnt").alias("max_cnt"),
        )
        .select(
            "key_name",
            "n_keys",
            "total_rows",
            "max_cnt",
            F.expr("CAST((max_cnt * 10000) DIV total_rows AS DOUBLE) / 10000.0").alias(
                "top1_share"
            ),
            F.expr(
                "CAST((max_cnt * n_keys * 10000) DIV total_rows AS DOUBLE) / 10000.0"
            ).alias("max_over_avg"),
        )
        .orderBy("key_name")
    )


@query(
    "q_bucketed_point_lookup",
    tags=("S2", "scale"),
    oracle=f"""
SELECT l_orderkey, COUNT(*) AS n_items,
       {dsum_sql(money_sql('l_extendedprice'))} AS revenue
FROM lineitem WHERE l_orderkey IN (1, 7, 42)
GROUP BY l_orderkey ORDER BY l_orderkey
""",
)
def q_bucketed_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned point lookup — an IN filter on the bucket column
    scans ONLY the buckets those keys hash to, and grouping by the
    bucket key makes the aggregation exchange-free on top (the grouped
    lookup keeps the bucketed scan alive: Spark's planner auto-disables
    bucketed scans that have no downstream distribution benefit, so a
    bare filter would fall back to a plain pushdown scan). Plan-asserted:
    SelectedBucketsCount < 8 AND zero exchanges before the agg. At
    100 TB this is the read-side payoff of q_join_bucketed's layout —
    a needle-in-haystack lookup that touches ≤3/8 of the files with
    zero index-maintenance cost. Results must equal the same filter on
    the raw parquet."""
    bl, _ = bucketed_tables(spark, sf_dir)
    return (
        bl.filter(F.col("l_orderkey").isin(1, 7, 42))
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice").cast("decimal(14,2)")).alias("revenue"),
        )
        .orderBy("l_orderkey")
    )


# process-lifetime caches for the derived-layout fixtures below, same
# contract as _BUCKETED_CACHE: pay the write once per (app, sf), clean
# the pid-salted dirs at exit.
_PARTITIONED_CACHE: dict[tuple[str, str], str] = {}
_EVOLVED_CACHE: dict[tuple[str, str], str] = {}


def _cleanup_layout_dirs() -> None:
    import shutil

    for path in list(_PARTITIONED_CACHE.values()) + list(_EVOLVED_CACHE.values()):
        shutil.rmtree(path, ignore_errors=True)


def _register_layout_cleanup() -> None:
    import atexit

    if not _PARTITIONED_CACHE and not _EVOLVED_CACHE:
        atexit.register(_cleanup_layout_dirs)


def partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events as a date-partitioned parquet layout (one directory
    per event_date) and return the partitioned read.

    Hive-style date partitioning is THE first-line 100 TB layout
    decision: a time-range predicate prunes whole directories before a
    single byte of parquet is opened (directory listing, not footer
    stats), so the daily-report query over a 3-year fact table touches
    only its days. The write is memoized per (app, sf) and the dirs
    are pid-salted + removed at exit (the bucketed_tables contract)."""
    import os as _os
    import shutil
    import tempfile

    key_ = (spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    if key_ in _PARTITIONED_CACHE:
        return spark.read.parquet(_PARTITIONED_CACHE[key_])

    tag = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = _os.path.join(
        tempfile.gettempdir(), f"kube_etl_spark_part_events_{tag}_{_os.getpid()}"
    )
    shutil.rmtree(path, ignore_errors=True)
    (
        load_table(spark, sf_dir, "events")
        .withColumn("event_date", F.col("ts").cast("date"))
        .write.partitionBy("event_date")
        .mode("overwrite")
        .parquet(path)
    )
    _register_layout_cleanup()
    _PARTITIONED_CACHE[key_] = path
    return spark.read.parquet(path)


@query(
    "q_partition_pruned_scan",
    tags=("S2", "scale"),
    oracle="""
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
         AS value_cents,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
GROUP BY event_type ORDER BY event_type
""",
)
def q_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned time-range scan — the daily/weekly report over
    a date-partitioned fact layout. The range predicate lands in the
    scan's PartitionFilters (asserted in tests/test_planshape.py):
    Spark prunes the non-matching date directories at PLANNING time,
    so the job reads 7 of the 30 day-partitions and never opens the
    rest — the read-side payoff of partitioned_events' layout, and the
    directory-level complement of q_bucketed_point_lookup's
    bucket-level pruning. Results must equal the same predicate
    filtered row-by-row over the raw unpartitioned parquet (layout
    changes the plan, never the answer).

    Determinism: integer counts + exact cents sum; the partition
    column is a DATE derived by the same cast both engines apply."""
    ev = partitioned_events(spark, sf_dir)
    return (
        ev.filter(
            F.col("event_date").between(F.lit("2024-01-08"), F.lit("2024-01-14"))
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.expr("CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)"))
            .cast("bigint")
            .alias("value_cents"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy("event_type")
    )


def evolved_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write two event batches with DIFFERENT schemas under one root —
    batch 1 (even event_id) with the original columns, batch 2 (odd)
    with an added `channel` column — and return the mergeSchema read.

    Additive schema evolution is how every long-lived 100 TB dataset
    actually grows: new producers add columns, years of old files
    don't have them, and the reader must union the schemas with NULL
    backfill instead of rewriting history. Parquet+mergeSchema gives
    exactly that (schema resolution at read, per-file projection
    pushdown still intact). Memoized per (app, sf), dirs pid-salted
    and removed at exit."""
    import os as _os
    import shutil
    import tempfile

    key_ = (spark.sparkContext.applicationId, sf_dir.rstrip("/"))
    if key_ in _EVOLVED_CACHE:
        return (
            spark.read.option("mergeSchema", "true").parquet(_EVOLVED_CACHE[key_])
        )

    tag = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    root = _os.path.join(
        tempfile.gettempdir(), f"kube_etl_spark_evolved_{tag}_{_os.getpid()}"
    )
    shutil.rmtree(root, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    (
        ev.filter(F.col("event_id") % 2 == 0)
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite")
        .parquet(_os.path.join(root, "batch=1"))
    )
    (
        ev.filter(F.col("event_id") % 2 == 1)
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.concat(
                F.lit("ch_"),
                (F.get_json_object("props", "$.k").cast("bigint") % 4).cast("string"),
            ).alias("channel"),
        )
        .write.mode("overwrite")
        .parquet(_os.path.join(root, "batch=2"))
    )
    _register_layout_cleanup()
    _EVOLVED_CACHE[key_] = root
    return spark.read.option("mergeSchema", "true").parquet(root)


@query(
    "q_schema_evolution_read",
    tags=("S7", "scale"),
    oracle="""
WITH unioned AS (
  SELECT event_type, value, NULL AS channel
  FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_type, value,
         'ch_' || CAST(CAST(json_extract(props, '$.k') AS BIGINT) % 4 AS VARCHAR)
  FROM events WHERE event_id % 2 = 1
)
SELECT COALESCE(channel, 'legacy') AS channel, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)) AS BIGINT)
         AS value_cents
FROM unioned
GROUP BY 1, 2 ORDER BY channel, event_type
""",
)
def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read — aggregate across an old batch written
    WITHOUT the `channel` column and a new batch written WITH it,
    resolved by mergeSchema into one frame where legacy rows carry
    NULL (bucketed here as 'legacy'). The additive-column migration
    every production lake goes through, done the zero-rewrite way.
    Results must equal the oracle's explicit NULL-padded UNION ALL
    over the raw table — schema resolution must not change a single
    row.

    Determinism: integer counts + exact cents sum; the channel
    derivation is the repo's deterministic props-hash channel."""
    merged = evolved_batches(spark, sf_dir)
    return (
        merged.groupBy(
            F.coalesce("channel", F.lit("legacy")).alias("channel"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.expr("CAST(CAST(value AS DECIMAL(14,2)) * 100 AS BIGINT)"))
            .cast("bigint")
            .alias("value_cents"),
        )
        .orderBy("channel", "event_type")
    )


# Test-only seam: plan-shape tests flip this to False to see THROUGH
# _range_parted's checkpoint (pruning/pushdown assertions need the scan
# visible in the final plan). False is CORRECTNESS-UNSAFE in production
# — see the docstring below for the reproduced wrong-answer failure —
# and tests/test_properties.py's reuse-defeat regression pins the True
# path's behavior.
CHECKPOINT_RANGE_LAYOUT = True


_RANGE_PART_BYTES = 64 * 1024 * 1024

# skyline_2d's worst-case guard (VERDICT r12 #5): above this estimated
# size of the per-value frame, the global strict-prefix pass uses the
# fenced global_cummax instead of a plain (single-task) window. 64 MB
# = one healthy task's window input (same scale as the fence's
# per-partition target); tests override the module attr.
_SKYLINE_PLAIN_MAX_BYTES = 64 * 1024 * 1024


def _size_estimate(df: DataFrame) -> int | None:
    """The optimizer's sizeInBytes estimate for ``df``, or None when it
    cannot be read. Reads the optimized plan's stats through a private
    JVM API, tested on Spark 4.1.2; callers map None to their safe
    fallback."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def _adaptive_range_parts(spark, df: DataFrame) -> int:
    """Size-adaptive partition count for the fenced range layouts
    (optimization r12, guide §2.2 "fewer, larger partitions" + §1.2).

    The fence's explicit repartitionByRange BYPASSES AQE's partition
    coalescing (which only rewrites ENSURE_REQUIREMENTS exchanges), so
    a small frame paid the full defaultParallelism task count through
    every fence job — sampling, checkpoint, offsets, windows — pure
    scheduling overhead (measured: global_interval_merge spent 1.37 s
    on a 19,810-row frame at 32 parts). Mirror AQE's own rule instead:
    partitions sized to ~64 MB from the optimizer's size ESTIMATE,
    clamped to [1, defaultParallelism]. The clamp makes estimate
    errors safe in the direction that matters: an unknown or inflated
    estimate (checkpointed inputs report huge/unknown sizes) maps to
    the cap — the pre-r12 behavior — never to an undersized layout;
    at production scale any data-sized frame's estimate exceeds
    cap × 64 MB, so the fence keeps full parallelism there and this
    branch only ever shrinks genuinely small local frames. Partition
    count never affects the helpers' OUTPUT (offset + local rank is
    layout-independent — the adversarial-parallelism parity sweep pins
    it). The floor is 2, not 1: a 1-partition repartitionByRange
    compiles to Exchange SinglePartition, which is textually
    indistinguishable from the lost-fence regression the plan pins
    exist to catch — two partitions keep the distributed
    rangepartitioning shape visible in every plan for the cost of one
    near-empty task."""
    cap = spark.sparkContext.defaultParallelism
    est = _size_estimate(df)
    if est is None or est <= 0:
        return cap
    return max(2, min(cap, -(-est // _RANGE_PART_BYTES)))


def _range_parted(df: DataFrame, order_cols: list, n_parts: int | None) -> DataFrame:
    """Range-partition df on the order key, stamp the physical
    partition id, and EAGERLY localCheckpoint the result — the one
    safe way to hand a spark_partition_id-stamped range layout to two
    consumers.

    Why the checkpoint is a CORRECTNESS requirement, not a perf knob
    (found by the sf0.01 parity gate, reproduced deterministically
    with spark.sql.exchange.reuse=false): every physical instantiation
    of a range exchange samples its partition boundaries with an
    rdd-id-SEEDED RNG, so two un-reused instantiations of the same
    logical repartitionByRange pick DIFFERENT boundaries. The offsets
    branch and the rank branch of the global_* helpers each consume
    this frame; if they execute separate exchange instances, row →
    __pid assignment diverges between them and offset + local rank
    combine across two different layouts — silently wrong ranks, load-
    and plan-dependent (column pruning alone can defeat ReuseExchange,
    the q_syncer_replay r9 lesson). The eager checkpoint materializes
    ONE layout and freezes __pid into stored blocks; every consumer —
    including separate jobs — reads the same bytes. The cost (one
    extra write of the frame to executor-local storage) is the price
    of determinism, and the exchange was materializing the same bytes
    to shuffle files anyway."""
    spark = df.sparkSession
    if n_parts is None:
        n_parts = _adaptive_range_parts(spark, df)
    reserved = {"__pid", "__off", "__cnt", "__tot", "__rn", "__n"}
    clash = reserved.intersection(df.columns)
    if clash:
        # withColumn would silently OVERWRITE a caller column of the
        # same name and corrupt the output — fail loudly instead
        raise ValueError(
            f"global rank/prefix helpers reserve column names {sorted(reserved)}; "
            f"input carries {sorted(clash)} — rename before calling"
        )
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    parted = df.repartitionByRange(n_parts, *cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    if not CHECKPOINT_RANGE_LAYOUT:  # plan-inspection seam, tests only
        return parted
    return parted.localCheckpoint(eager=True)


def global_row_number(
    df: DataFrame,
    order_cols: list,
    out_col: str = "rn",
    n_parts: int | None = None,
    total_col: str | None = None,
) -> DataFrame:
    """Exact global ROW_NUMBER over a total order WITHOUT the
    single-task sort a global Window compiles to (Exchange
    SinglePartition + one sorting task — the one plan shape that cannot
    survive 100 TB no matter how many executors you add).

    Three-step distributed re-expression of the same exact rank:
      1. ``repartitionByRange`` on the order key — a parallel range
         exchange (the same machinery as a distributed ORDER BY), each
         output partition holding one contiguous key range;
      2. per-partition row counts → cumulative OFFSETS. The cumulative
         window runs over n_parts rows (one per range partition) — a
         deliberately tiny single-task step, like every broadcast-edge
         frame in this module;
      3. a partition-LOCAL row_number (Window.partitionBy the range
         partition id — every task sorts only its own range) plus the
         broadcast offset = the exact global rank.

    ``order_cols`` must form a TOTAL order (include a unique tiebreak
    column): the range partitioner contracts that equal keys land in
    the same partition, so offset + local rank is exact — but a
    non-total order would leave peer rows' relative ranks
    partitioning-dependent, exactly as it would under a global Window.

    The count pass and the ranked output both consume the range
    layout; _range_parted eagerly checkpoints it so they read ONE
    frozen layout — relying on ReuseExchange instead is a silent
    wrong-answer hazard, not a perf choice (see _range_parted's
    docstring for the reproduced failure).

    Determinism: the sampled range boundaries affect only WHERE a row
    ranks locally, never its global rank — boundary placement cancels
    out of offset + local rank, so the output is partitioning-
    independent (proven suite-wide by the adversarial-parallelism
    parity sweep, SPARK_GRAFT_TEST_CPUS/_PARTITIONS in conftest).

    ``total_col``: when set, the output also carries the TOTAL row
    count under that name — it rides the same n_parts-row offsets
    broadcast for free (the counts frame already aggregates every
    partition), so rank-plus-n consumers (NTILE, percent_rank,
    cume_dist shapes) never pay a separate count pass or broadcast."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    part = _range_parted(df, order_cols, n_parts)
    w_cum = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    counts = part.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    off = F.coalesce(F.sum("__cnt").over(w_cum), F.lit(0)).alias("__off")
    if total_col is not None:
        w_all = Window.orderBy("__pid").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        offsets = counts.select(
            "__pid", off, F.sum("__cnt").over(w_all).alias(total_col)
        )
    else:
        offsets = counts.select("__pid", off)
    local = F.row_number().over(Window.partitionBy("__pid").orderBy(*cols))
    return (
        part.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__off") + local).cast("long"))
        .drop("__pid", "__off")
    )


def global_cumsum(
    df: DataFrame,
    order_cols: list,
    sum_col: str,
    out_col: str,
    n_parts: int | None = None,
) -> DataFrame:
    """Exact RUNNING SUM over a global order without the single-task
    sort a global cumulative Window compiles to — the distributed
    prefix-sum twin of global_row_number: range-partition on the order
    key, cumulative per-partition TOTALS become broadcast offsets (an
    n_parts-row frame), and each task adds its local running sum. The
    sweep-line / watermark / balance-ledger shape at 100 TB.

    Rows tied on the full ``order_cols`` key carry the SAME summand
    order-independently (the range partitioner keeps equal keys in one
    partition, and within a tie group every prefix permutation yields
    the same value multiset), so the output is partitioning-independent
    whenever the caller's order key makes the running sum well-defined
    at all — the same contract a global Window needs."""
    return global_cumsums(df, order_cols, {out_col: sum_col}, n_parts)


def global_cumsums(
    df: DataFrame,
    order_cols: list,
    sums: dict[str, str],
    n_parts: int | None = None,
) -> DataFrame:
    """N exact running sums over ONE global order and ONE range layout
    — the multi-measure form of global_cumsum for consumers that need
    several prefix sums of the same sorted frame (a two-sample CDF
    comparison needs both samples' cumulative counts; a ledger needs
    debits and credits). Calling global_cumsum N times would pay N
    range exchanges and N checkpoints of the same bytes; this pays one,
    with every measure's per-partition totals riding one broadcast
    offsets frame.

    ``sums`` maps each OUTPUT column name to the summand column it
    accumulates. Same tie/order contract as global_cumsum."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    part = _range_parted(df, order_cols, n_parts)
    names = list(sums)
    clash = {n for n in names if f"__off_{n}" in df.columns or f"__tot_{n}" in df.columns}
    if clash:
        raise ValueError(
            f"global_cumsums reserves __off_<name>/__tot_<name> working columns; "
            f"input clashes for {sorted(clash)} — rename before calling"
        )
    w_cum = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        part.groupBy("__pid")
        .agg(*[F.sum(sums[n]).alias(f"__tot_{n}") for n in names])
        .select(
            "__pid",
            *[
                F.coalesce(F.sum(f"__tot_{n}").over(w_cum), F.lit(0)).alias(
                    f"__off_{n}"
                )
                for n in names
            ],
        )
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = part.join(F.broadcast(offsets), "__pid")
    # every cumulative expression is built against the PRE-output frame
    # in one select — chained withColumn would let a later measure read
    # an already-overwritten summand when an output name shadows an
    # input column another measure still sums
    drop = {"__pid", *(f"__off_{n}" for n in names), *names}
    return joined.select(
        *[c for c in joined.columns if c not in drop],
        *[
            (F.col(f"__off_{n}") + F.sum(sums[n]).over(w_local)).alias(n)
            for n in names
        ],
    )


def global_interval_merge(
    df: DataFrame,
    start_col: str,
    end_col: str,
    tiebreak_cols: list | None = None,
    span_col: str = "span_id",
    n_parts: int | None = None,
) -> DataFrame:
    """Coalesce overlapping-or-touching intervals over a GLOBAL start
    order — the classic interval-merge (calendar busy-span / hotset
    compaction) shape — without the single-task sort the textbook
    Window form compiles to, and over ONE range exchange rather than
    chaining global_cummax + global_cumsum (which would range-partition
    and checkpoint the same bytes twice).

    Each row gains ``span_col``: a dense 1-based ordinal over start
    order, equal for every interval in one merged span. Two intervals
    share a span iff they are connected through overlap-or-touch links
    (start ≤ the running max end of all earlier intervals; equality —
    touching — merges, matching closed-interval semantics).

    Mechanics over one frozen range layout (_range_parted on
    [start, end, *tiebreaks] — a TOTAL order so the strict prefix max
    is well-defined; ties cannot change span membership, but the
    helpers' layout contract wants the unique key anyway):
      1. strict prefix max of ``end_col`` (global_cummax's shape):
         per-partition max ends → broadcast strict-prefix offsets +
         a strict local window;
      2. span-open flag = first row, or start strictly above that
         prefix max;
      3. running sum of the flag over the SAME frozen layout — the
         flag's per-partition totals are a second tiny aggregate of
         the checkpointed frame, so no new exchange — is the span id.
    Both offset frames are n_parts-row broadcasts; re-reading the
    checkpointed layout for the second aggregate re-scans frozen local
    blocks, not the upstream lineage."""
    order_cols = [start_col, end_col, *(tiebreak_cols or [])]
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    reserved = {"__emax", "__eoff", "__prev_end", "__open", "__soff", span_col}
    clash = reserved.intersection(df.columns)
    if clash:
        raise ValueError(
            f"global_interval_merge reserves {sorted(reserved)}; "
            f"input carries {sorted(clash)} — rename before calling"
        )
    part = _range_parted(df, order_cols, n_parts)
    w_prev = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    end_off = (
        part.groupBy("__pid")
        .agg(F.max(end_col).alias("__emax"))
        .select("__pid", F.max("__emax").over(w_prev).alias("__eoff"))
    )
    local_strict = F.max(end_col).over(
        Window.partitionBy("__pid").orderBy(*cols).rowsBetween(
            Window.unboundedPreceding, -1
        )
    )
    flagged = (
        part.join(F.broadcast(end_off), "__pid")
        .withColumn("__prev_end", F.greatest(F.col("__eoff"), local_strict))
        .withColumn(
            "__open",
            F.when(
                F.col("__prev_end").isNull()
                | (F.col(start_col) > F.col("__prev_end")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )
    span_off = (
        flagged.groupBy("__pid")
        .agg(F.sum("__open").alias("__scnt"))
        .select(
            "__pid",
            F.coalesce(F.sum("__scnt").over(w_prev), F.lit(0)).alias("__soff"),
        )
    )
    local_spans = F.sum("__open").over(
        Window.partitionBy("__pid").orderBy(*cols).rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    return (
        flagged.join(F.broadcast(span_off), "__pid")
        .withColumn(span_col, (F.col("__soff") + local_spans).cast("long"))
        .drop("__pid", "__eoff", "__prev_end", "__open", "__soff")
    )


def global_cummax(
    df: DataFrame,
    order_cols: list,
    col: str,
    out_col: str,
    inclusive: bool = True,
    n_parts: int | None = None,
) -> DataFrame:
    """Exact RUNNING MAX over a global order — global_cumsum's sibling
    for the watermark / high-water-mark shape (max is commutative-
    associative, so per-partition totals prefix-combine exactly like
    sums). ``inclusive=False`` gives the strict-prefix form (max over
    rows strictly BEFORE each row in the order — the per-row watermark
    contract), which is NULL for the global first row, exactly as the
    window form's empty frame is.

    The strict-prefix form needs ``order_cols`` to be a TOTAL order
    (unique tiebreak): peer rows' strict prefixes are otherwise
    order-dependent — the same contract the single-task global Window
    it replaces has."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    part = _range_parted(df, order_cols, n_parts)
    w_prev = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        part.groupBy("__pid")
        .agg(F.max(col).alias("__tot"))
        .select("__pid", F.max("__tot").over(w_prev).alias("__off"))
    )
    frame_end = 0 if inclusive else -1
    local = F.max(col).over(
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, frame_end)
    )
    # greatest() ignores NULL operands (empty prefixes), matching the
    # window form's empty-frame NULL only when BOTH sides are empty
    return (
        part.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.greatest(F.col("__off"), local))
        .drop("__pid", "__off")
    )


def global_ntile(
    df: DataFrame,
    order_cols: list,
    k: int,
    out_col: str,
    n_parts: int | None = None,
) -> DataFrame:
    """Exact NTILE(k) over a total order without the single-task sort a
    global-window ntile compiles to: global_row_number supplies the
    distributed exact rank, one broadcast count row supplies n, and the
    bucket is derived by NTILE's exact remainder rule — the first
    (n mod k) buckets hold ceil(n/k) rows, the rest floor(n/k) — NOT
    the naive floor((rn-1)·k/n) quantile formula, which distributes the
    remainder across alternating buckets and disagrees with SQL NTILE
    whenever k ∤ n (e.g. n=10, k=4: NTILE sizes 3,3,2,2; the naive
    formula gives 2,3,2,3). Value-identity with F.ntile is pinned by
    tests/test_planshape.py's randomized-size unit test.

    ``order_cols`` must form a total order (unique tiebreak), exactly
    as SQL NTILE needs for engine-stable buckets; q=0 (n < k) rows all
    take the first-(q+1)-sized branch, so the DIV q term is never
    evaluated where q is zero (CASE WHEN branches evaluate lazily per
    row). n rides global_row_number's offsets broadcast (total_col) —
    no count pass, no extra broadcast exchange per ntile, which is
    what keeps a multi-metric consumer like q_rfm_segments inside the
    plan-lint exchange cap."""
    rn = global_row_number(
        df, order_cols, out_col="__rn", n_parts=n_parts, total_col="__n"
    )
    # q = floor(n/k), r = n mod k, big = r·(q+1) — rows 1..big live in
    # the first r (q+1)-sized buckets, the rest in q-sized buckets.
    # Integer floor-divisions spelled DIV (exact in ANSI mode).
    q = f"(__n DIV {k})"
    r = f"(__n % {k})"
    big = f"({r} * ({q} + 1))"
    bucket = F.when(
        F.expr(f"__rn <= {big}"),
        F.expr(f"(__rn - 1) DIV ({q} + 1) + 1"),
    ).otherwise(F.expr(f"{r} + (__rn - {big} - 1) DIV {q} + 1"))
    return rn.withColumn(out_col, bucket.cast("long")).drop("__rn", "__n")


@query(
    "q_quantile_bucket_join",
    tags=("W1", "A1", "scale"),
    oracle="""
WITH r AS (
  SELECT o_orderkey AS okey,
         CAST(o_totalprice AS DECIMAL(14,2)) AS p,
         ROW_NUMBER() OVER (ORDER BY CAST(o_totalprice AS DECIMAL(14,2)), o_orderkey) AS rn,
         COUNT(*) OVER () AS n
  FROM orders
),
edges AS (
  SELECT list(struct_pack(p := p, k := okey) ORDER BY p, okey) AS es
  FROM r
  WHERE list_contains(list_transform(range(1, 10), q -> (q * n) // 10), rn)
),
b AS (
  SELECT o.o_orderkey,
         CAST(o.o_totalprice AS DECIMAL(14,2)) AS p,
         len(list_filter(e.es, x -> x.p < CAST(o.o_totalprice AS DECIMAL(14,2))
               OR (x.p = CAST(o.o_totalprice AS DECIMAL(14,2)) AND x.k < o.o_orderkey)))
           AS bucket
  FROM orders o, edges e
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(p) AS DOUBLE) AS lo,
       CAST(MAX(p) AS DOUBLE) AS hi,
       CAST(SUM(CAST(p * 100 AS BIGINT)) AS BIGINT) AS revenue_cents
FROM b GROUP BY bucket ORDER BY bucket
""",
)
def q_quantile_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile binning WITHOUT sorting the fact — the broadcast-edge
    escape hatch that q_rfm_segments / q_window_ntile_cume docstrings
    promise for the 100 TB regime, materialized as a first-class
    operator. NTILE must globally sort every fact row inside each
    partition; here only the EDGES are computed from an ordered pass
    (nine order statistics), collected into ONE
    broadcast row, and every fact row computes its decile map-side by
    counting edges below it. The fact's only exchange is the final
    10-row rollup — plan-asserted: exactly one Window (the edge
    ranking), no sort-merge join, fact agg map-side combinable.

    The edge pass is global_row_number — the distributed exact rank
    (range exchange + per-partition local sort + broadcast offsets),
    so even the EXACT form now has no single-task data-sized sort
    anywhere (what ADVICE r5 flagged and rounds 5-8 carried as the
    one honest scale boundary): the only single-task steps are the
    n_parts-row offset window and the 9-row edge collect, both
    partition-count-sized, not data-sized. The registered rows-only
    twin q_quantile_bucket_join_approx below remains the cheaper 100 TB
    form when sketch-grade edges suffice — ONE percentile_approx
    aggregate, no Window at all, one exchange fewer
    (tests/test_planshape.py asserts both shapes).

    Determinism: edges are exact ORDER STATISTICS at ranks k·n DIV 10
    over the total order (2dp decimal price, orderkey) — 2dp decimals
    compare exactly in both engines (no interpolated percentile
    doubles, whose last-ulp disagreement would misclassify boundary
    rows); the bucket count uses the same strict total order, so every
    row lands in exactly one deterministic decile; revenue is exact
    cents."""
    dec = F.col("o_totalprice").cast("decimal(14,2)")
    r = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        dec.alias("p"),
    )
    n_row = r.agg(F.count(F.lit(1)).alias("n"))
    ranked = global_row_number(r, ["p", "okey"], out_col="rn").crossJoin(
        F.broadcast(n_row)
    )
    edges = ranked.filter(
        F.expr("array_contains(transform(sequence(1, 9), q -> (q * n) DIV 10), rn)")
    ).agg(
        F.sort_array(F.collect_list(F.struct(F.col("p"), F.col("okey").alias("k"))))
        .alias("es")
    )
    fact = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", dec.alias("p")
    )
    b = fact.crossJoin(F.broadcast(edges)).select(
        "o_orderkey",
        "p",
        F.size(
            F.filter(
                F.col("es"),
                lambda x: (x["p"] < F.col("p"))
                | ((x["p"] == F.col("p")) & (x["k"] < F.col("o_orderkey"))),
            )
        ).alias("bucket"),
    )
    return (
        b.groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("p").cast("double").alias("lo"),
            F.max("p").cast("double").alias("hi"),
            F.sum((F.col("p") * 100).cast("bigint")).cast("bigint").alias("revenue_cents"),
        )
        .orderBy("bucket")
    )


@query(
    "q_quantile_bucket_join_approx",
    tags=("W1", "A1", "scale"),
    oracle=None,  # rows-only: t-digest/GK sketch edges are engine-specific
)
def q_quantile_bucket_join_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of q_quantile_bucket_join (VERDICT r5 #4): the
    only non-scalable piece of the exact twin — its single-task
    row_number edge pass — swapped for percentile_approx, exactly the
    substitution the exact form's docstring promises. ONE aggregate
    computes all nine decile edges as a mergeable quantile sketch
    (partials combine map-side; final state is one ~10⁴-centroid
    sketch regardless of table size), the nine edges broadcast, and
    every fact row computes its decile map-side by counting edges
    below it. NO Window, NO global sort, NO sort-merge join anywhere
    in the plan (tests/test_planshape.py asserts all three); the
    fact's only exchange is the final 10-row rollup.

    Rows-only by contract (sketch edges are engine-specific; boundary
    rows within the sketch's rank error land one bucket over) — the
    exact twin anchors value correctness, this one evidences the scale
    plan, mirroring the q_profile_columns / _approx pattern."""
    dec = F.col("o_totalprice").cast("decimal(14,2)")
    fact = load_table(spark, sf_dir, "orders").select("o_orderkey", dec.alias("p"))
    edges = fact.agg(
        F.percentile_approx(
            F.col("p").cast("double"),
            [i / 10.0 for i in range(1, 10)],
            10000,
        ).alias("es")
    )
    b = fact.crossJoin(F.broadcast(edges)).select(
        "p",
        F.size(F.filter(F.col("es"), lambda x: x < F.col("p").cast("double"))).alias(
            "bucket"
        ),
    )
    return (
        b.groupBy(F.col("bucket").cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min("p").cast("double").alias("lo"),
            F.max("p").cast("double").alias("hi"),
            F.sum((F.col("p") * 100).cast("bigint")).cast("bigint").alias("revenue_cents"),
        )
        .orderBy("bucket")
    )


def _gen_profile(gen: DataFrame) -> DataFrame:
    """Information-schema-style column profile of a generation frame:
    ONE full scan computing count + per-column null counts in a single
    partial-aggregated pass, then an in-plan explode into one row per
    column (col_name, dtype, null_bp). dtype comes from honest Spark
    schema introspection (df.dtypes), not hand-written literals."""
    cols = gen.columns
    dtypes = dict(gen.dtypes)
    agg = gen.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"__null_{c}")
            for c in cols
        ],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.lit(dtypes[c]).alias("dtype"),
                F.expr(f"(__null_{c} * 10000) DIV __n").alias("null_bp"),
            )
            for c in cols
        ]
    )
    return agg.select(F.explode(rows).alias("r")).select("r.*")


@query(
    "q_schema_drift_report",
    tags=("S1", "A1"),
    oracle="""
WITH old_gen AS (
  SELECT o_orderkey AS k, o_custkey AS cust,
         CAST(o_totalprice AS DECIMAL(12,2)) AS price,
         CASE WHEN o_orderkey % 7 = 3 THEN NULL ELSE o_orderstatus END AS status
  FROM orders
),
new_gen AS (
  SELECT o_orderkey AS k, CAST(o_custkey AS VARCHAR) AS cust,
         CASE WHEN o_orderkey % 5 = 4 THEN NULL
              ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS price,
         o_orderpriority AS prio
  FROM orders
),
oa AS (SELECT COUNT(*) AS n,
              SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS nk,
              SUM(CASE WHEN cust IS NULL THEN 1 ELSE 0 END) AS nc,
              SUM(CASE WHEN price IS NULL THEN 1 ELSE 0 END) AS np,
              SUM(CASE WHEN status IS NULL THEN 1 ELSE 0 END) AS ns
       FROM old_gen),
na AS (SELECT COUNT(*) AS n,
              SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS nk,
              SUM(CASE WHEN cust IS NULL THEN 1 ELSE 0 END) AS nc,
              SUM(CASE WHEN price IS NULL THEN 1 ELSE 0 END) AS np,
              SUM(CASE WHEN prio IS NULL THEN 1 ELSE 0 END) AS npr
       FROM new_gen),
po AS (
  SELECT 'k' AS col_name, 'bigint' AS dtype, (nk * 10000) // n AS null_bp FROM oa
  UNION ALL SELECT 'cust', 'bigint', (nc * 10000) // n FROM oa
  UNION ALL SELECT 'price', 'decimal(12,2)', (np * 10000) // n FROM oa
  UNION ALL SELECT 'status', 'string', (ns * 10000) // n FROM oa
),
pn AS (
  SELECT 'k' AS col_name, 'bigint' AS dtype, (nk * 10000) // n AS null_bp FROM na
  UNION ALL SELECT 'cust', 'string', (nc * 10000) // n FROM na
  UNION ALL SELECT 'price', 'decimal(12,2)', (np * 10000) // n FROM na
  UNION ALL SELECT 'prio', 'string', (npr * 10000) // n FROM na
)
SELECT COALESCE(po.col_name, pn.col_name) AS col_name,
       CASE WHEN po.col_name IS NULL THEN 'added'
            WHEN pn.col_name IS NULL THEN 'dropped'
            WHEN po.dtype <> pn.dtype THEN 'retyped'
            ELSE 'kept' END AS status,
       COALESCE(po.dtype, 'absent') AS old_type,
       COALESCE(pn.dtype, 'absent') AS new_type,
       CAST(COALESCE(po.null_bp, -1) AS BIGINT) AS old_null_bp,
       CAST(COALESCE(pn.null_bp, -1) AS BIGINT) AS new_null_bp,
       CAST(CASE WHEN po.null_bp IS NOT NULL AND pn.null_bp IS NOT NULL
                 THEN pn.null_bp - po.null_bp ELSE 0 END AS BIGINT) AS drift_bp
FROM po FULL JOIN pn ON po.col_name = pn.col_name
ORDER BY col_name
""",
)
def q_schema_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1d (EXT, round 7 — VERDICT r6 #7a): schema-drift report between
    two snapshot GENERATIONS of the same export — the companion a
    q_snapshot_diff consumer asks for next, and the check the
    reference's open-schema CRDs
    (x-kubernetes-preserve-unknown-fields: true, syncer/integration/
    testcrd/v1alpha1_kcc.cnrm.cloud.google.com.yaml) make necessary:
    nothing upstream prevents a generation from adding, dropping, or
    retyping fields. One row per column across both generations:
    added / dropped / retyped / kept, plus null-rate (basis points)
    and its delta — the null-rate drift catches the silent killer
    where a column SURVIVES but stops being populated.

    Fixture generations derive deterministically from orders: the new
    generation retypes cust bigint→string, drops status, adds prio,
    and null-rates shift (status nulls ≡3 mod 7 in old; price nulls
    ≡4 mod 5 in new).

    Scale shape: ONE full scan per generation computing count and all
    per-column null counts in a single partial aggregation (map-side
    combine → 1-row result), an in-plan explode into |columns| rows,
    and a tiny full-outer join of two |columns|-row frames. No
    shuffle bigger than one row per column; at 100 TB the scans
    dominate and everything else is driver-trivial. dtype comes from
    Spark schema introspection, normalized to Spark's own type names.

    Determinism: null counts and basis points are exact integers
    (DIV); status/type strings are literals from a closed vocabulary."""
    base = load_table(spark, sf_dir, "orders")
    old_gen = base.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("cust"),
        F.col("o_totalprice").cast("decimal(12,2)").alias("price"),
        F.when(F.col("o_orderkey") % 7 == 3, F.lit(None).cast("string"))
        .otherwise(F.col("o_orderstatus"))
        .alias("status"),
    )
    new_gen = base.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").cast("string").alias("cust"),
        F.when(
            F.col("o_orderkey") % 5 == 4, F.lit(None).cast("decimal(12,2)")
        )
        .otherwise(F.col("o_totalprice").cast("decimal(12,2)"))
        .alias("price"),
        F.col("o_orderpriority").alias("prio"),
    )
    po = _gen_profile(old_gen).select(
        F.col("col_name").alias("o_col"),
        F.col("dtype").alias("o_dtype"),
        F.col("null_bp").alias("o_bp"),
    )
    pn = _gen_profile(new_gen).select(
        F.col("col_name").alias("n_col"),
        F.col("dtype").alias("n_dtype"),
        F.col("null_bp").alias("n_bp"),
    )
    j = po.join(pn, po.o_col == pn.n_col, "full")
    status = (
        F.when(F.col("o_col").isNull(), "added")
        .when(F.col("n_col").isNull(), "dropped")
        .when(F.col("o_dtype") != F.col("n_dtype"), "retyped")
        .otherwise("kept")
    )
    return j.select(
        F.coalesce("o_col", "n_col").alias("col_name"),
        status.alias("status"),
        F.coalesce("o_dtype", F.lit("absent")).alias("old_type"),
        F.coalesce("n_dtype", F.lit("absent")).alias("new_type"),
        F.coalesce("o_bp", F.lit(-1)).cast("bigint").alias("old_null_bp"),
        F.coalesce("n_bp", F.lit(-1)).cast("bigint").alias("new_null_bp"),
        F.when(
            F.col("o_bp").isNotNull() & F.col("n_bp").isNotNull(),
            F.col("n_bp") - F.col("o_bp"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("drift_bp"),
    ).orderBy("col_name")


@query(
    "q_interval_merge",
    tags=("ST", "W4", "scale"),
    bench=True,
    oracle="""
WITH iv AS (
  SELECT event_id, user_id,
         ts - INTERVAL '15 minutes' AS t0,
         ts + INTERVAL '15 minutes' AS t1
  FROM events WHERE event_type = 'error'
),
m AS (
  SELECT *, MAX(t1) OVER (ORDER BY t0, t1, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            AS prev_end
  FROM iv
),
sp AS (
  SELECT *, SUM(CASE WHEN prev_end IS NULL OR t0 > prev_end THEN 1 ELSE 0 END)
              OVER (ORDER BY t0, t1, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS span_id
  FROM m
)
SELECT CAST(span_id AS BIGINT) AS span_id,
       CAST(MIN(t0) AS TIMESTAMP_NS) AS span_start,
       CAST(MAX(t1) AS TIMESTAMP_NS) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(floor(epoch(MAX(t1))) - floor(epoch(MIN(t0))) AS BIGINT) AS span_secs
FROM sp GROUP BY span_id ORDER BY span_id
""",
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT (round 9): GLOBAL interval coalescing — the alert-storm /
    incident-window compaction query. Every error event opens a
    ±15-minute incident window; overlapping-or-touching windows merge
    transitively into one incident span (equivalently: a new span
    starts exactly where the global error stream has a >30-minute
    silence). Per span: bounds, event count, distinct users swept in,
    and the span's wall length. The same machinery compacts any global
    hotset: compaction key ranges, maintenance windows, churn bursts.

    Merging is a corpus-GLOBAL property (spans cross user and time-
    partition boundaries), so the textbook form — two global-order
    windows (strict prefix max of end, then a running flag sum) —
    compiles to a single-task sort. This is global_interval_merge
    (scale.py): ONE parallel range exchange on the frozen start order,
    strict-prefix max offsets + span-flag prefix sums both riding
    n_parts-row broadcasts over the one checkpointed layout. The final
    per-span rollup shuffles span ids, orders of magnitude fewer than
    events.

    Determinism: window bounds are exact ±900 s timestamp arithmetic;
    span membership is tie-independent (equal intervals always merge);
    event_id is the layout tiebreak. span_secs floors each bound to
    whole epoch seconds, mirroring unix_timestamp, BEFORE differencing."""
    iv = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            F.expr("ts - INTERVAL 15 MINUTES").alias("t0"),
            F.expr("ts + INTERVAL 15 MINUTES").alias("t1"),
        )
    )
    spans = global_interval_merge(
        iv, "t0", "t1", tiebreak_cols=["event_id"], span_col="span_id"
    )
    return (
        spans.groupBy("span_id")
        .agg(
            F.min("t0").alias("span_start"),
            F.max("t1").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            (
                F.unix_timestamp(F.max("t1")) - F.unix_timestamp(F.min("t0"))
            )
            .cast("bigint")
            .alias("span_secs"),
        )
        .orderBy("span_id")
    )


def skyline_2d(df: DataFrame, min_col: str, max_col: str) -> DataFrame:
    """2-D SKYLINE (Pareto front): rows no other row dominates, where
    domination means ≤ on ``min_col`` AND ≥ on ``max_col`` with at
    least one strict. Tie-exact (full ties all survive — neither
    strictly dominates) via aggregation, never an O(n²) all-pairs
    self-join:

      1. collapse to one row per distinct ``min_col`` value carrying
         the group's max of ``max_col`` — within a group, a row
         survives iff it CARRIES that max;
      2. across groups, a row is dominated iff any strictly-smaller
         group reaches a ``max_col`` ≥ its own — the STRICT prefix max
         over ascending ``min_col``, i.e. global_cummax(inclusive=
         False) on the aggregated frame (keys unique → total order
         free);
      3. join the per-value verdict frame back and keep rows with
         max_col = own-group max AND max_col > strict prefix max.

    Optimization r12 (two-phase distributed skyline — the classic
    local-prune/global-merge form): the per-value frame ``g`` is
    |distinct min_col| rows (149,743 at sf0.1 — DATA-sized), and
    running global_cummax's frozen-layout fence over all of it cost
    ~70% of q_skyline_orders' wall. A partition-LOCAL strict prefix
    max first (one window keyed on spark_partition_id — no exchange,
    wherever the groupBy landed the rows) prunes every value beaten
    within its own partition; the survivors are a superset of the true
    frontier but skyline-sized in expectation, and the global fence
    then runs over THAT. Exactness under any partitioning: if value c
    is beaten by some pruned x (smaller key, gmax ≥ c's), x's pruner
    chain — strictly decreasing keys, nondecreasing gmax — terminates
    at an UNpruned candidate that also beats c, so the strict prefix
    max over candidates alone reproduces every verdict (the hypothesis
    property pins this against brute-force dominance). The final join
    then carries only FRONTIER values (survivor prices), not a verdict
    per distinct value — skyline-sized, usually broadcastable; the
    shuffle join holds when it is not. Interleaved warm A/B at
    sf0.1/32: q_skyline_orders 2.04 s → measured in
    OPTIMIZATION_r12.md. Returns the surviving rows of ``df``
    (original columns).

    NULL semantics (explicit, ADVICE r9): a row with NULL in either
    dimension is non-comparable under the dominance order and is
    EXCLUDED from the skyline (the filter below makes the previously
    incidental inner-join elimination deliberate and total — a NULL
    max_col row can neither dominate nor survive)."""
    reserved = {"__sk_p", "__sk_gmax", "__sk_prev", "__sk_lprev"}
    clash = reserved.intersection(df.columns)
    if clash:
        # the join/drop below would silently misroute or drop a caller
        # column of the same name — fail loudly like the sibling helpers
        raise ValueError(
            f"skyline_2d reserves {sorted(reserved)}; "
            f"input carries {sorted(clash)} — rename before calling"
        )
    df = df.filter(F.col(min_col).isNotNull() & F.col(max_col).isNotNull())
    g = df.groupBy(F.col(min_col).alias("__sk_p")).agg(
        F.max(max_col).alias("__sk_gmax")
    )
    # The pid-keyed prune window costs ONE pid-keyed exchange (a window
    # partitioned on spark_partition_id() still requires clustering —
    # ADVICE r12 corrected the earlier "no exchange" claim); rows stay
    # grouped by their original partition, and the measured end-to-end
    # win (q_skyline_orders 2.04 s → ~1.0 s warm at sf0.1/32) is what
    # justifies it, not the exchange count.
    w_local = (
        Window.partitionBy(F.spark_partition_id())
        .orderBy("__sk_p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cand = g.withColumn("__sk_lprev", F.max("__sk_gmax").over(w_local)).filter(
        F.col("__sk_lprev").isNull()
        | (F.col("__sk_gmax") > F.col("__sk_lprev"))
    )
    cand = cand.select("__sk_p", "__sk_gmax")
    # The global strict-prefix pass runs over the PRUNED frame, which
    # is skyline-sized IN EXPECTATION: |cand| ≤ Σ per-partition local
    # skylines, and random (hash) placement makes per-partition
    # skylines small. But the bound is not worst-case (VERDICT r12
    # #5): a layout whose per-partition runs ascend on BOTH dims
    # prunes nothing, and the plain single-task window would then eat
    # a data-sized frame — the regime the fenced global_cummax exists
    # for. The prune's effectiveness is invisible to static stats (a
    # runtime property), so the guard keys off the one thing stats DO
    # know: the size of g, the frame cand could degenerate to. Small
    # g (≤ _SKYLINE_PLAIN_MAX_BYTES, one healthy task's input) →
    # plain window, worst case bounded by construction; big g → the
    # fenced strict-prefix cummax on cand (its ~0.8 s fixed costs are
    # noise against data-sized work at that scale). Inflated/unknown
    # estimates fail toward the fence — the safe direction.
    g_est = _size_estimate(g)
    if g_est is None or g_est > _SKYLINE_PLAIN_MAX_BYTES:
        scored = global_cummax(
            cand, ["__sk_p"], "__sk_gmax", "__sk_prev", inclusive=False
        )
    else:
        w_g = Window.orderBy("__sk_p").rowsBetween(Window.unboundedPreceding, -1)
        scored = cand.withColumn("__sk_prev", F.max("__sk_gmax").over(w_g))
    frontier = (
        scored.filter(
            F.col("__sk_prev").isNull()
            | (F.col("__sk_gmax") > F.col("__sk_prev"))
        )
        .select("__sk_p", "__sk_gmax")
    )
    return (
        df.join(frontier, df[min_col] == frontier["__sk_p"])
        .filter(F.col(max_col) == F.col("__sk_gmax"))
        .drop("__sk_p", "__sk_gmax")
    )


@query(
    "q_skyline_orders",
    tags=("O2", "W1", "scale"),
    bench=True,
    oracle="""
WITH g AS (
  SELECT CAST(o_totalprice AS DECIMAL(14,2)) AS p,
         MAX(o_orderdate) AS pmax_d
  FROM orders GROUP BY 1
),
s AS (
  SELECT p, pmax_d,
         MAX(pmax_d) OVER (ORDER BY p
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev_max_d
  FROM g
)
SELECT o.o_orderkey,
       CAST(CAST(o.o_totalprice AS DECIMAL(14,2)) AS DOUBLE) AS price,
       CAST(o.o_orderdate AS TIMESTAMP_NS) AS order_ts
FROM orders o JOIN s ON CAST(o.o_totalprice AS DECIMAL(14,2)) = s.p
WHERE o.o_orderdate = s.pmax_d
  AND (s.prev_max_d IS NULL OR o.o_orderdate > s.prev_max_d)
ORDER BY price, o.o_orderkey
""",
)
def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT (round 9): the SKYLINE (Pareto-front) operator — orders no
    other order beats on BOTH dimensions (cheaper-or-equal price AND
    newer-or-equal date, strictly better on at least one). The
    multi-objective shortlist shape: cheapest-yet-freshest offers,
    best quality-vs-cost corpus documents, dominated-configuration
    pruning.

    Tie-exact dominance via the skyline_2d helper (aggregation + the
    strict prefix max of group-max-date over ascending price — see its
    docstring; never an O(n²) all-pairs NOT EXISTS). The helper's tie
    logic is pinned against brute-force dominance by a hypothesis
    property (tests/test_properties.py). The skyline itself is
    O(log n)-sized on independent dims.

    Determinism: 2dp decimal prices and date timestamps compare
    exactly in both engines; output keys are orderkeys (full ties both
    survive, correctly)."""
    dec = F.col("o_totalprice").cast("decimal(14,2)")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", dec.alias("price"), F.col("o_orderdate")
    )
    return (
        skyline_2d(orders, "price", "o_orderdate")
        .select(
            "o_orderkey",
            F.col("price").cast("double").alias("price"),
            F.col("o_orderdate").alias("order_ts"),
        )
        .orderBy("price", "o_orderkey")
    )


def ks_2sample(
    df: DataFrame, value_col: str, sample_col: str, a, b
) -> DataFrame:
    """Exact two-sample KOLMOGOROV-SMIRNOV statistic between the
    ``value_col`` distributions of rows where ``sample_col`` equals
    ``a`` vs ``b`` — sup |F_a(x) − F_b(x)|, evaluated at every distinct
    value (the proper CDF step points; ties handled by grouping BEFORE
    the cumulative pass, so F(x) includes all rows ≤ x). Returns ONE
    row: n_a, n_b, the exact integer deviation d_num =
    max |cum_a·n_b − cum_b·n_a|, ks_stat = d_num/(n_a·n_b) rounded to
    6dp, and at_value — the smallest value attaining the sup
    (deterministic tiebreak).

    Plan: one groupBy(value) compresses the input to distinct-value
    rows carrying both samples' counts; global_cumsums computes BOTH
    cumulative counts over ONE range exchange and ONE frozen layout;
    totals ride a 1-row broadcast; the argmax is
    TakeOrderedAndProject. Integer-exact until the display division.
    Pinned against brute-force Python KS by hypothesis property
    (tests/test_properties.py).

    NULLs in ``value_col`` are dropped (ADVICE r9): NULL has no place
    on a CDF, and the engines disagree on where it sorts (Spark ASC =
    NULLS FIRST, DuckDB = NULLS LAST), so keeping them would silently
    skew both the cumulative layout and the at_value tiebreak."""
    v = df.filter(
        F.col(sample_col).isin(a, b) & F.col(value_col).isNotNull()
    ).groupBy(
        F.col(value_col).alias("__ks_v")
    ).agg(
        F.sum(F.when(F.col(sample_col) == a, 1).otherwise(0)).alias("__ks_na"),
        F.sum(F.when(F.col(sample_col) == b, 1).otherwise(0)).alias("__ks_nb"),
    )
    c = global_cumsums(v, ["__ks_v"], {"__ks_ca": "__ks_na", "__ks_cb": "__ks_nb"})
    # totals re-read the helper's frozen range layout (its eager
    # checkpoint), not the upstream scan — the second consumer is safe
    # and cheap by construction
    t = c.agg(F.sum("__ks_na").alias("__ks_ta"), F.sum("__ks_nb").alias("__ks_tb"))
    d_num = F.abs(
        F.col("__ks_ca") * F.col("__ks_tb") - F.col("__ks_cb") * F.col("__ks_ta")
    ).cast("bigint")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            F.col("__ks_ta").cast("bigint").alias("n_a"),
            F.col("__ks_tb").cast("bigint").alias("n_b"),
            d_num.alias("d_num"),
            F.round(
                d_num.cast("double")
                / (F.col("__ks_ta").cast("double") * F.col("__ks_tb").cast("double")),
                6,
            ).alias("ks_stat"),
            F.col("__ks_v").alias("at_value"),
        )
        .orderBy(F.col("d_num").desc(), F.col("at_value").asc())
        .limit(1)
    )


@query(
    "q_ks_drift",
    tags=("A7", "W4", "scale"),
    bench=True,
    oracle="""
WITH v AS (
  SELECT value,
         SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS n_b
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
  GROUP BY value
),
c AS (
  SELECT value, n_a, n_b,
         SUM(n_a) OVER w AS cum_a, SUM(n_b) OVER w AS cum_b
  FROM v
  WINDOW w AS (ORDER BY value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
t AS (SELECT SUM(n_a) AS na, SUM(n_b) AS nb FROM v)
SELECT 'click' AS sample_a, 'purchase' AS sample_b,
       CAST(t.na AS BIGINT) AS n_a,
       CAST(t.nb AS BIGINT) AS n_b,
       CAST(ABS(c.cum_a * t.nb - c.cum_b * t.na) AS BIGINT) AS d_num,
       ROUND(CAST(ABS(c.cum_a * t.nb - c.cum_b * t.na) AS DOUBLE)
             / (CAST(t.na AS DOUBLE) * CAST(t.nb AS DOUBLE)), 6) AS ks_stat,
       c.value AS at_value
FROM c, t
ORDER BY d_num DESC, at_value ASC LIMIT 1
""",
)
def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXT (round 9): exact two-sample KOLMOGOROV-SMIRNOV statistic —
    sup |F_a(x) − F_b(x)| between the value distributions of two event
    populations. The distribution-drift test PSI (q_drift_psi) cannot
    replace: KS is binning-free, sensitive anywhere on the CDF, and its
    statistic locates WHERE the distributions diverge most (emitted as
    at_value). The train-vs-serve / before-vs-after drift gate for
    feature pipelines.

    The CDF difference must be evaluated at every distinct value in
    GLOBAL value order — the running-total shape again, computed by
    the ks_2sample helper above (one value groupBy, BOTH cumulative
    counts over ONE frozen range layout via global_cumsums, 1-row
    totals broadcast, TakeOrderedAndProject argmax; integer-exact
    deviation |cum_a·n_b − cum_b·n_a| until the display division, so
    the winner and its smallest-value tiebreak are engine-exact; the
    helper is additionally pinned against brute-force Python KS by
    hypothesis property).

    At 100 TB: the only data-sized exchanges are the value groupBy and
    the helper's range exchange over DISTINCT values; everything after
    is n_parts-row or 1-row broadcasts."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    return ks_2sample(ev, "value", "event_type", "click", "purchase").select(
        F.lit("click").alias("sample_a"),
        F.lit("purchase").alias("sample_b"),
        "n_a",
        "n_b",
        "d_num",
        "ks_stat",
        "at_value",
    )
