"""Aggregation operators (SURVEY.md §2.4, A1-A10). All EXT provenance:
the reference has no aggregation code (nearest analog is error-list
accumulation, /root/reference/pkg/export/export.go:99-167).

Flagship = q_agg_groupby, the TPC-H Q1 pricing summary: one wide scan →
map-side partial agg → tiny final agg. At 100 TB this is the canonical
"scan-heavy, shuffle-light" query: the shuffle carries only
(#groups × #partitions) rows, predicate `l_shipdate <=` is pushed to
parquet, and only 7 of 11 lineitem columns are read (column pruning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..exact import (
    REVENUE_SQL,
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    money,
    money_sql,
    qty,
    rate,
    rate_sql,
    revenue,
)
from ..registry import query

_Q1_CUTOFF = "1998-09-02 00:00:00"

# Exact-decimal term recipes shared by Spark and oracle; the revenue
# (disc-price) factor itself lives in exact.py so every module shares
# one copy of the precision-critical casts.
_EXT = money_sql("l_extendedprice")
_TAX1 = f"(CAST(1 AS DECIMAL(3,0)) + {rate_sql('l_tax')})"


def _charge() -> F.Column:
    return revenue() * (F.lit(1).cast("decimal(3,0)") + rate("l_tax"))


@query(
    "q_agg_groupby",
    bench=True,
    tags=("A1", "flagship"),
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  {dsum_sql(money_sql('l_quantity'))} AS sum_qty,
  {dsum_sql(_EXT)} AS sum_base_price,
  {dsum_sql(REVENUE_SQL)} AS sum_disc_price,
  {dsum_sql(f'{REVENUE_SQL} * {_TAX1}')} AS sum_charge,
  {davg_sql(money_sql('l_quantity'))} AS avg_qty,
  {davg_sql(_EXT)} AS avg_price,
  {davg_sql(rate_sql('l_discount'))} AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '{_Q1_CUTOFF}'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q_agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 flagship: hash group-by with sum/avg/count (TPC-H Q1 shape)."""
    # parallel=True: the eight decimal aggregates are the CPU wall; warm
    # medians at sf0.1 on 4 cores 0.91 s vs 1.09 s unfloored, floor
    # faster in 11/11 alternating pairs
    li = load_table(spark, sf_dir, "lineitem", parallel=True)
    return (
        li.filter(F.col("l_shipdate") <= F.lit(_Q1_CUTOFF).cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(qty("l_quantity")).alias("sum_qty"),
            dsum(money("l_extendedprice")).alias("sum_base_price"),
            dsum(revenue()).alias("sum_disc_price"),
            dsum(_charge()).alias("sum_charge"),
            davg(qty("l_quantity")).alias("avg_qty"),
            davg(money("l_extendedprice")).alias("avg_price"),
            davg(rate("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q_agg_global",
    tags=("A2",),
    oracle=f"""
SELECT
  {dsum_sql(money_sql('o_totalprice'))} AS total_revenue,
  {davg_sql(money_sql('o_totalprice'))} AS avg_order_value,
  COUNT(*) AS n_orders
FROM orders
""",
)
def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: global (no-group) aggregate over orders."""
    return load_table(spark, sf_dir, "orders").agg(
        dsum(money("o_totalprice")).alias("total_revenue"),
        davg(money("o_totalprice")).alias("avg_order_value"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "q_agg_count_distinct",
    tags=("A3",),
    oracle="""
SELECT
  o_orderpriority,
  COUNT(DISTINCT o_custkey) AS n_customers,
  COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: distinct aggregate (expand-then-dedup under the hood)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


@query("q_agg_approx_distinct", tags=("A4",), oracle=None)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: approximate count-distinct (HLL++; rows-only — sketch differs
    from DuckDB's HLL, so only cardinality/shape is checked). At 100 TB
    this replaces exact distinct's full shuffle with fixed-size sketches
    merged map-side."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_rollup",
    tags=("A5",),
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       {dsum_sql(money_sql('o_totalprice'))} AS revenue
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5a: ROLLUP — hierarchical subtotals (status → status+priority → total)."""
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(money("o_totalprice")).alias("revenue"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "q_agg_cube",
    tags=("A5",),
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       {dsum_sql(money_sql('o_totalprice'))} AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5b: CUBE — all grouping combinations."""
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(money("o_totalprice")).alias("revenue"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "q_agg_grouping_sets",
    tags=("A5",),
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS n,
       {dsum_sql(money_sql('o_totalprice'))} AS revenue
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5c: explicit GROUPING SETS via Spark SQL."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               {dsum_sql(money_sql('o_totalprice'))} AS revenue
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


@query(
    "q_agg_having",
    tags=("A6",),
    oracle="""
SELECT o_custkey, COUNT(*) AS n_orders
FROM orders
GROUP BY o_custkey
HAVING COUNT(*) >= 15
ORDER BY o_custkey
""",
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: HAVING — post-aggregation filter."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 15)
        .orderBy("o_custkey")
    )


@query(
    "q_agg_stats",
    tags=("A7",),
    oracle="""
SELECT c_mktsegment,
       ROUND(stddev_samp(c_acctbal), 4) AS bal_stddev,
       ROUND(var_samp(c_acctbal), 4) AS bal_var,
       ROUND(corr(c_acctbal, CAST(c_custkey AS DOUBLE)), 4) AS bal_key_corr
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: statistical aggregates (tol: rounded to 4dp — engines use
    different single-pass variance algorithms)."""
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.stddev_samp("c_acctbal"), 4).alias("bal_stddev"),
            F.round(F.var_samp("c_acctbal"), 4).alias("bal_var"),
            F.round(
                F.corr("c_acctbal", F.col("c_custkey").cast("double")), 4
            ).alias("bal_key_corr"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_agg_percentile",
    tags=("A8",),
    oracle="""
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: exact percentiles with linear interpolation (tol 4dp).

    Uses exact `percentile` (sort-based); the 100 TB path is
    percentile_approx (t-digest, fixed memory) — exposed as
    q_agg_percentile_approx (rows-only)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        )
        .orderBy("o_orderpriority")
    )


@query("q_agg_percentile_approx", tags=("A8",), oracle=None)
def q_agg_percentile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8b: approximate percentile — the fixed-memory sketch used at
    scale (rows-only: sketch differs from DuckDB's)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.percentile_approx("o_totalprice", 0.5, 10000).alias("p50_approx"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "q_agg_collect",
    tags=("A9",),
    oracle="""
SELECT c_mktsegment,
       array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') AS nations
FROM customer
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""",
)
def q_agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: collect_set — nest rows into an array (sorted + joined for
    deterministic comparison)."""
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_set("c_nationkey")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("nations")
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_agg_conditional",
    tags=("A10",),
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_disc,
       CAST(SUM(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_bulk,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def q_agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: conditional aggregation (count-if via sum-of-case)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
            .cast("long")
            .alias("n_high_disc"),
            F.sum(F.when(F.col("l_quantity") >= 25, 1).otherwise(0))
            .cast("long")
            .alias("n_bulk"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_agg_argmax",
    tags=("A1",),
    oracle="""
SELECT o_orderpriority,
       arg_max(o_orderkey, CAST(round(o_totalprice*100) AS BIGINT)*10000000 + o_orderkey)
         AS biggest_order,
       MAX(o_totalprice) AS biggest_price,
       arg_min(o_orderkey, CAST(round(o_totalprice*100) AS BIGINT)*10000000 - o_orderkey)
         AS smallest_order
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1b: arg-max/arg-min aggregates (max_by/min_by) — 'which row won'
    without a self-join or window. Tie-break is encoded into one exact
    bigint ordering key (cents * 10^7 ± orderkey) because composite
    orderings aren't portable to the oracle; exact for |price| < 9e8."""

    def _price_key(sign: int):
        cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
        return cents * F.lit(10000000) + F.lit(sign) * F.col("o_orderkey")

    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.max_by("o_orderkey", _price_key(1)).alias("biggest_order"),
            F.max("o_totalprice").alias("biggest_price"),
            F.min_by("o_orderkey", _price_key(-1)).alias("smallest_order"),
        )
        .orderBy("o_orderpriority")
    )


def _cms_oracle() -> str:
    """DuckDB twin of the Count-Min build+probe — the identical integer
    hash algebra (plans/sketches.cms_bucket_sql), unrolled per row."""
    from ..plans.sketches import CMS_PARAMS, cms_bucket_sql

    cell_legs = "\n    UNION ALL ".join(
        f"SELECT {i} AS i, {cms_bucket_sql('user_id', a, b)} AS bucket FROM events"
        for i, a, b in CMS_PARAMS
    )
    probe_legs = "\n    UNION ALL ".join(
        f"SELECT user_id, {i} AS i, {cms_bucket_sql('user_id', a, b)} AS bucket FROM cand"
        for i, a, b in CMS_PARAMS
    )
    return f"""
WITH cells AS (
  SELECT i, bucket, COUNT(*) AS n FROM (
    {cell_legs}
  ) GROUP BY i, bucket
),
cand AS (SELECT DISTINCT user_id FROM events),
probes AS (
    {probe_legs}
),
est AS (
  SELECT p.user_id, MIN(c.n) AS n_est
  FROM probes p JOIN cells c ON c.i = p.i AND c.bucket = p.bucket
  GROUP BY p.user_id
),
tru AS (SELECT user_id, COUNT(*) AS n_true FROM events GROUP BY user_id)
SELECT t.user_id,
       CAST(t.n_true AS BIGINT) AS n_true,
       CAST(e.n_est AS BIGINT) AS n_est,
       CAST(e.n_est - t.n_true AS BIGINT) AS overestimate
FROM tru t JOIN est e ON t.user_id = e.user_id
ORDER BY t.user_id
"""


@query(
    "q_cms_heavy_hitters",
    tags=("A4", "A1"),
    oracle=_cms_oracle(),
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (EXT, round 4): Count-Min frequency estimation — per-user
    event counts read from a d=4 × w=512 integer matrix instead of the
    corpus, with the exact counts alongside so the one-sided error
    (n̂ ≥ n, overestimate ≤ εN w.h.p.) is visible in the output. The
    DataFrame-native LINEAR sketch (plans/sketches.py): explicit
    integer-polynomial row hashes, so unlike the HLL/KLL binary
    registers the whole approximate structure is cross-engine
    deterministic and sits under the driver's hash gate; merge is
    cell-wise addition (mergeability pinned in tests/test_jobs.py).

    Scale shape: the build explodes each row to d coordinates and
    aggregates map-side — the shuffle carries ≤ d·w = 2048 rows no
    matter the corpus; probes broadcast (candidate set, not corpus);
    the exact-count leg is the ordinary groupBy it replaces at scale
    (present here only to expose the error)."""
    from ..plans.sketches import cms_cells, cms_estimate

    ev = load_table(spark, sf_dir, "events").select("user_id")
    cells = cms_cells(ev, "user_id")
    cand = ev.distinct()
    est = cms_estimate(cells, cand, "user_id")
    tru = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_true"))
    return (
        tru.join(est, "user_id")
        .select(
            "user_id",
            F.col("n_true").cast("bigint").alias("n_true"),
            F.col("n_est").cast("bigint").alias("n_est"),
            (F.col("n_est") - F.col("n_true")).cast("bigint").alias("overestimate"),
        )
        .orderBy("user_id")
    )


@query(
    "q_bitmap_distinct_rollup",
    tags=("A3", "A4"),
    oracle="""
SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def q_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4 (EXT, round 4): EXACT mergeable distinct counts via the
    bitmap layer (plans/sketches.build_daily_user_bitmaps) — the
    non-approximate counterpart of the HLL cells: per-(day, type,
    bucket) user bitmaps built in one pass, rolled up to per-type
    counts by OR-merging bitmaps per bucket and summing bit counts.
    The oracle is a plain COUNT(DISTINCT): their equality IS the
    mergeability proof (union of daily cells ≡ distinct over the
    unioned corpus), under the driver's hash gate.

    Scale shape: the build shuffles bitmaps (≤4 KB per 32k-key
    bucket), never user ids; the rollup reads |cells| rows. Against
    COUNT(DISTINCT) at 100 TB this replaces the id-carrying Expand
    exchange with a bitmap exchange, and — unlike HLL — serves any
    later grain EXACTLY (billing/compliance-grade) while HLL serves it
    within an error bound."""
    from ..plans.sketches import build_daily_user_bitmaps, exact_distinct

    ev = load_table(spark, sf_dir, "events")
    return exact_distinct(build_daily_user_bitmaps(ev), "event_type").select(
        "event_type", "distinct_users"
    )
