"""Physical-plan shape regressions — the 100 TB guarantees, asserted.

A query can be value-correct and still be a scale bug (full-column scan,
missed broadcast, accidental nested loop). These tests pin the plan
properties the engine's scale story depends on, so a refactor that
silently loses pushdown or adds a shuffle fails CI — SURVEY.md §4's
"rewrites we need from Catalyst, verify-only" list, executed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kube_etl_spark.registry import all_specs
from .conftest import SMOKE_SF


def _plan(spark, name: str, mode: str = "formatted") -> str:
    df = all_specs()[name].fn(spark, SMOKE_SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def _plan_through_range_checkpoint(spark, name: str) -> str:
    """Like _plan but with scale.CHECKPOINT_RANGE_LAYOUT off, so
    pruning/pushdown assertions can see the scans that normally live
    INSIDE _range_parted's eager checkpoint. Inspection only — the
    un-checkpointed form is correctness-unsafe to execute (the
    exchange-reuse-defeat regression in test_properties.py)."""
    from kube_etl_spark.queries import scale

    prev = scale.CHECKPOINT_RANGE_LAYOUT
    scale.CHECKPOINT_RANGE_LAYOUT = False
    try:
        return _plan(spark, name)
    finally:
        scale.CHECKPOINT_RANGE_LAYOUT = prev


def test_flagship_pushdown_and_pruning(spark):
    """Q1's filter must reach the parquet scan and only the 7 needed
    columns (of 11) may be read."""
    plan = _plan(spark, "q_agg_groupby")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read = next(line for line in plan.splitlines() if "ReadSchema" in line)
    for col in ("l_quantity", "l_extendedprice", "l_discount", "l_tax",
                "l_returnflag", "l_linestatus", "l_shipdate"):
        assert col in read
    for col in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"):
        assert col not in read, f"{col} read but unused"


def test_q6_pure_pushdown_aggregate(spark):
    """Q6's entire selectivity must reach the parquet scan: all three
    predicate families pushed (date range, discount band, quantity cap),
    only the 4 needed columns of 11 read, no shuffle except the
    single-row partial-agg exchange, no join. At 100 TB, this plan shape
    IS the query's runtime."""
    plan = _plan(spark, "q_tpch_q6_forecast_revenue")
    assert "Join" not in plan
    pushed = next(ln for ln in plan.splitlines() if "PushedFilters" in ln)
    for frag in ("l_shipdate", "l_discount", "LessThan(l_quantity,24"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"
    read = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in read
    for col in ("l_orderkey", "l_partkey", "l_returnflag", "l_tax"):
        assert col not in read, f"{col} read but unused"
    assert "HashAggregate" in plan


def test_q8_dims_broadcast_and_pushdown(spark):
    """Q8's dimension prunes must stay broadcast-side (region-pruned
    customer nations, the 25-row supplier-nation rename) and the date
    window must reach the orders scan — the fact tables must never
    shuffle for a dimension lookup."""
    plan = _plan(spark, "q_tpch_q8_market_share")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln for ln in pushed), pushed
    assert any("p_type" in ln and "PROMO" in ln for ln in pushed), pushed


def test_scan_project_prunes(spark):
    plan = _plan(spark, "q_scan_project")
    read = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_tax" not in read and "l_discount" not in read


def test_small_dim_broadcasts(spark):
    """nation⋈region must be a broadcast hash join, never a shuffle."""
    plan = _plan(spark, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exists_subquery_decorrelates(spark):
    """EXISTS must become a (semi) hash join — no per-row subquery, no
    nested loop."""
    plan = _plan(spark, "q_exists_subquery")
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semi_anti_join_strategies(spark):
    assert "LeftSemi" in _plan(spark, "q_join_semi")
    assert "LeftAnti" in _plan(spark, "q_join_anti")


def test_topk_uses_window_group_limit(spark):
    """W2's rn<=k filter must push into the window sort so each
    partition keeps k rows, not all rows."""
    assert "WindowGroupLimit" in _plan(spark, "q_window_topk_group")


def test_global_topk_avoids_total_sort(spark):
    """ORDER BY + LIMIT must run as TakeOrderedAndProject (per-partition
    top-k + merge), never a full sort."""
    assert "TakeOrderedAndProject" in _plan(spark, "q_topk")


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Pre-bucketing both sides on the join key removes the exchanges:
    the co-located join pattern for repeated 100 TB joins."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdemo LOCATION '{tmp_path}/warehouse'")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # force the sort-merge path (at real scale both sides are too big to
    # broadcast; smoke-sf data would otherwise broadcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        orders = spark.read.parquet(f"{SMOKE_SF}/orders.parquet")
        li = spark.read.parquet(f"{SMOKE_SF}/lineitem.parquet")
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("bdemo.orders_b")
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("bdemo.lineitem_b")
        joined = spark.table("bdemo.lineitem_b").join(
            spark.table("bdemo.orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles"
        # sanity: the join result is right
        assert joined.count() == li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP DATABASE IF EXISTS bdemo CASCADE")


def test_salted_join_matches_plain(spark):
    """Salting is physical-only: identical results to the plain join."""
    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.queries.scale import salted_join

    li = load_table(spark, SMOKE_SF, "lineitem")
    orders = load_table(spark, SMOKE_SF, "orders").select("o_orderkey", "o_orderpriority")
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    assert salted_join(li, orders, "l_orderkey", "o_orderkey").count() == plain


def test_q7_nation_filters_join_below_fact(spark):
    """TPC-H Q7 (VERDICT r1 #3): the two-nation selectivity must apply
    BEFORE the fact joins — in the optimized plan, supplier and customer
    each join their broadcast nation subset deeper in the tree than any
    lineitem/orders join, so the pruned dimensions (not the full tables)
    meet the fact. Asserted on the optimized logical plan: the joins
    whose subtree contains 'n_name' but no fact table must exist, and
    the top join must see already-nation-joined inputs."""
    df = all_specs()["q_tpch_q7_nation_volume"].fn(spark, SMOKE_SF)
    opt = df._jdf.queryExecution().optimizedPlan()

    def subtree(p):
        return p.toString()

    # walk: collect every Join node's subtree text
    def joins(p):
        out = []
        if p.nodeName() == "Join":
            out.append(p)
        for i in range(p.children().length()):
            out.extend(joins(p.children().apply(i)))
        return out

    jlist = joins(opt)
    assert jlist, "no joins in optimized plan?"
    # the nation joins: subtree mentions n_name but neither fact table
    nation_only = [
        j for j in jlist
        if "n_name" in subtree(j)
        and "l_orderkey" not in subtree(j)
        and "o_orderkey" not in subtree(j)
    ]
    assert len(nation_only) >= 2, (
        "supplier/customer must join their nation subset below the fact "
        f"joins; found {len(nation_only)} fact-free nation joins"
    )


@pytest.mark.parametrize("name", ["q_agg_groupby", "q_join_star", "q_knn_cosine"])
def test_headliners_stay_jvm_side(spark, name):
    """No Python eval in the hot queries: the whole plan must be
    codegen/JVM operators (BatchEvalPython/ArrowEvalPython absent)."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_partitioned_sink_prunes_on_read(spark, tmp_path):
    """The partitioned-sink layout (the zip-directory analog) must give
    partition-pruned reads: filtering on the partition column shows a
    PartitionFilters entry and no full-data scan of other partitions."""
    orders = spark.read.parquet(f"{SMOKE_SF}/orders.parquet")
    out = str(tmp_path / "sink")
    orders.write.partitionBy("o_orderstatus").parquet(out)
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = back._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pf = next(line for line in plan.splitlines() if "PartitionFilters" in line)
    assert "o_orderstatus" in pf, f"partition filter not pushed: {pf}"


def test_dynamic_partition_pruning(spark, tmp_path):
    """Dynamic partition pruning — the fourth join-selectivity leg
    (beside hand ordering, CBO reorder, Bloom injection): when the fact
    is PARTITIONED on the join key and the dim side carries a selective
    filter, the runtime must prune fact partitions from the dim's
    filter result (a DynamicPruning subquery in PartitionFilters), not
    scan every partition and filter post-join. On a date-partitioned
    100 TB fact this is what turns 'scan 7 years' into 'scan 3 months'."""
    li = spark.read.parquet(f"{SMOKE_SF}/lineitem.parquet").withColumn(
        "ship_month", F.date_format("l_shipdate", "yyyy-MM")
    )
    out = str(tmp_path / "fact")
    li.write.partitionBy("ship_month").parquet(out)
    fact = spark.read.parquet(out)
    months = sorted(
        r["ship_month"] for r in fact.select("ship_month").distinct().collect()
    )
    dim = spark.createDataFrame(
        [(m, i % 8) for i, m in enumerate(months)], "month string, shard int"
    )
    # Two DPP preconditions worth encoding: (a) the DIM must be the
    # broadcast build side — at smoke scale the partitioned fact is
    # small enough to broadcast itself, which leaves no dim broadcast
    # for DPP to reuse (reuseBroadcastOnly, the default); (b) the dim
    # filter must be 'likely selective' to Spark's heuristic (a
    # comparison/IN/LIKE — a bare boolean column does NOT qualify).
    j = fact.join(
        F.broadcast(dim.filter(F.col("shard") == 0)), fact.ship_month == dim.month
    ).agg(F.count(F.lit(1)).alias("n"))
    plan = j._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "dynamicpruning" in plan.lower(), f"no DPP subquery in plan:\n{plan}"


def test_contamination_is_hash_join(spark):
    """The contamination probe join must be a broadcast HASH join on the
    gram key — a contains()-style nested loop over the corpus would be
    quadratic-ish at 100 TB."""
    plan = _plan(spark, "q_contamination")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the gram-key join must be INNER and build the PROBES side
    # (broadcast(probes) is the right input ⇒ BuildRight): an outer join
    # can only build the non-preserved side, so the old probes-LEFT-join
    # shape could never broadcast the tiny side and the hash join seen
    # at smoke scale was grams — the data-sized side — auto-broadcasting
    # (ADVICE r2)
    inner_joins = [
        ln for ln in plan.splitlines() if "BroadcastHashJoin Inner" in ln
    ]
    assert inner_joins, f"no inner broadcast hash join found:\n{plan}"
    assert all("BuildRight" in ln for ln in inner_joins), inner_joins


@pytest.mark.parametrize("name", ["q_text_chunk", "q_repetition_ratio", "q_pii_scrub"])
def test_text_ops_stay_jvm_side(spark, name):
    """The round-2 text operators are pure pyspark.sql.functions: no
    Python evaluation may appear in their plans."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_cbo_reorders_joins_with_stats(spark, tmp_path):
    """The counterpart to the hand-ordered Q7: WITH table-level + column
    stats and CBO on, Catalyst itself moves the selective dimension join
    below the fact join even when the SQL writes the bad order. This is
    the stats story for 100 TB deployments — ANALYZE TABLE buys the
    reorder Q7 had to encode by hand (we hand-order because parquet-path
    reads carry no stats)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS cbodemo LOCATION '{tmp_path}/wh'")
    prev_cbo = spark.conf.get("spark.sql.cbo.enabled")
    prev_reorder = spark.conf.get("spark.sql.cbo.joinReorder.enabled")
    try:
        for src, t in (("lineitem", "li"), ("orders", "ord"), ("customer", "cust")):
            spark.read.parquet(f"{SMOKE_SF}/{src}.parquet").write.mode(
                "overwrite"
            ).saveAsTable(f"cbodemo.{t}")
            spark.sql(f"ANALYZE TABLE cbodemo.{t} COMPUTE STATISTICS")
        spark.sql("ANALYZE TABLE cbodemo.li COMPUTE STATISTICS FOR COLUMNS l_orderkey")
        spark.sql("ANALYZE TABLE cbodemo.ord COMPUTE STATISTICS FOR COLUMNS o_orderkey, o_custkey")
        spark.sql("ANALYZE TABLE cbodemo.cust COMPUTE STATISTICS FOR COLUMNS c_custkey, c_mktsegment")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        # written order: fact ⋈ fact FIRST, selective dim last (the Q7 trap)
        opt = (
            spark.sql(
                """
                SELECT count(*) FROM cbodemo.li
                JOIN cbodemo.ord ON l_orderkey = o_orderkey
                JOIN cbodemo.cust ON o_custkey = c_custkey
                WHERE c_mktsegment = 'BUILDING'
                """
            )
            ._jdf.queryExecution()
            .optimizedPlan()
        )

        def joins(p):
            out = []
            if p.nodeName() == "Join":
                out.append(p)
            for i in range(p.children().length()):
                out.extend(joins(p.children().apply(i)))
            return out

        jlist = joins(opt)
        assert len(jlist) == 2
        # the DEEPEST join must be ord⋈cust (no lineitem in its subtree):
        # CBO moved the selective dim below the fact despite the SQL order
        deepest = jlist[-1].toString()
        assert "c_mktsegment" in deepest and "l_orderkey" not in deepest, (
            f"CBO did not reorder; deepest join subtree:\n{deepest[:500]}"
        )
    finally:
        spark.conf.set("spark.sql.cbo.enabled", prev_cbo)
        spark.conf.set("spark.sql.cbo.joinReorder.enabled", prev_reorder)
        spark.sql("DROP DATABASE IF EXISTS cbodemo CASCADE")


def test_runtime_bloom_filter_reaches_fact_side(spark):
    """Third leg of the join-selectivity story (beside hand-ordering and
    CBO): the runtime Bloom-filter rewrite injects a bloom_filter_agg
    built from the SELECTIVE dim side as a semi-join filter on the fact
    side, so dim selectivity prunes fact rows before the shuffle. On by
    default in our sessions; the size thresholds are lowered here only
    because smoke data sits under the production 10 MB/10 GB defaults."""
    app_key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bcast_key = "spark.sql.autoBroadcastJoinThreshold"
    prev_app = spark.conf.get(app_key)
    prev_bcast = spark.conf.get(bcast_key)
    try:
        spark.conf.set(app_key, "1KB")
        spark.conf.set(bcast_key, "-1")  # shuffled join: the filter's target case
        li = spark.read.parquet(f"{SMOKE_SF}/lineitem.parquet")
        orders = spark.read.parquet(f"{SMOKE_SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt, "runtime bloom filter not injected"
        # built over the dim join key, applied against the fact side
        assert "o_orderkey" in next(
            l for l in opt.splitlines() if "bloom_filter_agg" in l
        )
    finally:
        spark.conf.set(app_key, prev_app)
        spark.conf.set(bcast_key, prev_bcast)


def test_pack_sequences_per_shard_window_no_python(spark):
    """q_pack_sequences must pack per-source shards independently: the
    cumulative-sum window's only data exchange is hashpartitioning on
    source (plus the presentation sort), and the whole operator stays
    JVM-side — at 100 TB the packing pass is one shuffle wide."""
    plan = _plan(spark, "q_pack_sequences")
    assert "hashpartitioning(source" in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert node not in plan


def test_shuffle_order_hash_not_range(spark):
    """q_shuffle_order's permutation must come from a hash exchange +
    per-shard sort, never a corpus-wide range sort (the ORDER BY rand()
    anti-pattern). The only rangepartitioning allowed is the final
    presentation ORDER BY over the 16-shard output."""
    plan = _plan(spark, "q_shuffle_order")
    assert "hashpartitioning" in plan
    rng = [
        ln
        for ln in plan.splitlines()
        if "rangepartitioning" in ln and "shard" not in ln
    ]
    assert not rng, f"unexpected range exchange: {rng}"


def test_sample_stratified_window_group_limit(spark):
    """The rn<=20 stratum cap must push into the window operator
    (WindowGroupLimit keeps a 20-row heap per stratum instead of
    ranking full partitions)."""
    assert "WindowGroupLimit" in _plan(spark, "q_sample_stratified")


def test_embedding_quantize_map_only(spark):
    """int8 quantization is a pure map pass: no exchange other than the
    presentation sort's rangepartitioning, no Python nodes."""
    plan = _plan(spark, "q_embedding_quantize")
    assert "hashpartitioning" not in plan, "quantization must not shuffle data"
    assert "rangepartitioning" in plan  # the presentation sort, nothing else
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan


def test_q13_orders_filter_pushed_below_outer_join(spark):
    """Q13's o_orderpriority predicate lives in the LEFT JOIN's ON
    clause; Catalyst must still push it to the orders scan (filtering
    the null-producing side of a left join is pushdown-safe). Column
    pruning: customer contributes only c_custkey."""
    plan = _plan(spark, "q_tpch_q13_custdist")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "o_orderpriority" in l]
    assert pushed, "o_orderpriority ON-clause predicate not pushed to orders scan"
    cust_read = next(
        l for l in plan.splitlines() if "ReadSchema" in l and "c_custkey" in l
    )
    assert "c_name" not in cust_read and "c_acctbal" not in cust_read


def test_q15_revenue_computed_once_no_global_window(spark):
    """Q15 compares the revenue aggregate against its own MAX. The
    aggregate must be cached (one compute, two readers) and the MAX
    must arrive by 1-row broadcast join — never a Window over an
    unpartitioned frame, which funnels all suppliers into one task."""
    plan = _plan(spark, "q_tpch_q15_top_supplier")
    assert "InMemoryRelation" in plan, "revenue subplan not cached"
    assert "Window" not in plan, "global-window max would single-task at scale"
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_bigram_pmi_two_corpus_passes_jvm_side(spark):
    """PMI needs unigram and bigram counts: exactly TWO corpus
    tokenize passes. Totals and per-word lookups must come from the
    cached vocabulary-sized count tables, not extra corpus scans; the
    whole operator stays JVM-side with a TakeOrdered top-k."""
    import re

    plan = _plan(spark, "q_bigram_pmi")
    scans = [
        l for l in plan.splitlines()
        if "Scan parquet" in l and re.match(r"^\(\d+\)", l.strip())
    ]
    assert len(scans) == 2, f"expected 2 corpus scans, got {len(scans)}"
    assert "TakeOrderedAndProject" in plan
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan


def test_boilerplate_probe_is_broadcast_no_python(spark):
    """The df>=5 boilerplate set is far smaller than the n-gram
    vocabulary: the instance-level probe must be a broadcast hash
    join (shuffling corpus-sized instances by n-gram would dwarf the
    query), and the whole operator stays JVM-side."""
    plan = _plan(spark, "q_boilerplate_ngrams")
    assert "BroadcastHashJoin" in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"):
        assert node not in plan


def test_retention_no_countdistinct_expand(spark):
    """Retention's per-cell user count must come from the (user, week)
    grain dedup — never a countDistinct Expand over raw events (which
    multiplies the shuffle by the aggregate count)."""
    plan = _plan(spark, "q_retention_cohort")
    assert "Expand" not in plan
    assert "hashpartitioning(user_id" in plan


def test_histogram_reads_value_only(spark):
    """Both histogram passes must read exactly one column: the 1-row
    bounds aggregate rides a broadcast, and the binning pass is
    map-side arithmetic."""
    plan = _plan(spark, "q_histogram_value")
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all(
        "value" in l and "user_id" not in l and "props" not in l for l in reads
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_zscore_stats_broadcast_two_scans(spark):
    """The per-type stats table (|event types| rows) must broadcast
    into the per-row outlier test — two corpus scans, no window, no
    Python, and the stats aggregate keeps map-side partials."""
    plan = _plan(spark, "q_zscore_outliers")
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan


def test_bm25_no_explode_takeordered(spark):
    """BM25's tf extraction must be a map-side array projection —
    never an explode (Generate) that multiplies the corpus by token
    count — with a TakeOrdered top-k and no Python."""
    import re

    plan = _plan(spark, "q_bm25_topk")
    assert "Generate" not in plan, "explode-based tf would blow up the corpus"
    assert "TakeOrderedAndProject" in plan
    scans = [
        l for l in plan.splitlines()
        if "Scan parquet" in l and re.match(r"^\(\d+\)", l.strip())
    ]
    assert len(scans) == 2  # stats pass + scoring pass
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan


def test_hybrid_rrf_per_leg_topk_before_fusion(spark):
    """Each retrieval leg must reduce to its own top-20 via TakeOrdered
    BEFORE fusion: the corpus is never globally ranked. The
    unpartitioned rank windows may only run above a 20-row limit."""
    plan = _plan(spark, "q_hybrid_rrf")
    assert plan.count("TakeOrderedAndProject") >= 2
    # windows exist, but each must sit above a TakeOrdered/limit output,
    # which the optimized plan expresses as Window after GlobalLimit
    assert "Window" in plan
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan


def test_profile_no_countdistinct_expand(spark):
    """The exact per-column distinct count must come from the
    (column, value)-grain dedup — a multi-column countDistinct would
    plan an Expand that multiplies the unpivoted frame again."""
    plan = _plan(spark, "q_profile_columns")
    assert "Expand" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan


def test_q17_fact_never_shuffled_for_dims(spark):
    """Q17's two small sides (brand-pruned part, per-part stats) must
    both broadcast; lineitem must never enter a sort-merge join, and
    its scan must read only the 3 needed columns of 11."""
    plan = _plan(spark, "q_tpch_q17_small_quantity")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    li_read = next(ln for ln in plan.splitlines()
                   if "ReadSchema" in ln and "l_quantity" in ln)
    for col in ("l_returnflag", "l_shipdate", "l_tax", "l_orderkey"):
        assert col not in li_read, f"{col} read but unused"


def test_copurchase_pairs_generate_join_free_within_order(spark):
    """Market-basket pair generation must stay WITHIN an order and,
    since the r12 grouped-array rewrite, must contain NO join at all:
    one groupBy(l_orderkey) builds the per-order part array and the
    pairs explode map-side from it. Never a cartesian/nested-loop
    explosion, and a reappearing self-join (3 data-sized exchanges
    where 1 suffices) should fail loudly too. Asserted on the
    un-checkpointed substrate (the query's own plan is a checkpoint
    scan)."""
    from kube_etl_spark.queries.commerce import basket_pairs

    _, pair = basket_pairs(spark, SMOKE_SF, checkpoint=False)
    plan = pair._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" not in plan
    assert "l_orderkey" in plan
    # exactly one data-sized exchange (the basket groupBy); the pair
    # groupBy's exchange carries pair keys only
    assert plan.count("Exchange hashpartitioning") == 2


def test_skipgram_join_stays_within_doc(spark):
    """The skip-gram window join must equi-join on doc_id with the
    position band as a residual filter — never a cross join over all
    token positions."""
    plan = _plan(spark, "q_skipgram_cooccur")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_fk_orphans_dims_broadcast(spark):
    """The part and customer integrity probes must broadcast the
    dimension side; the lineitem->orders probe may shuffle (both sides
    fact-sized) but never nested-loop."""
    plan = _plan(spark, "q_fk_orphans")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gini_prunes_orders_scan(spark):
    """The Gini aggregate must read only (o_custkey, o_totalprice) —
    a concentration KPI that drags the whole orders schema through
    the shuffle is wrong at any scale."""
    plan = _plan_through_range_checkpoint(spark, "q_revenue_gini")
    read = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "o_custkey" in read and "o_totalprice" in read
    for col in ("o_orderdate", "o_orderpriority", "o_orderstatus"):
        assert col not in read, f"{col} read but unused"


def test_pagerank_rounds_stay_keyed(spark):
    """Every PageRank round must be an equi-join (rank⋈edges on src)
    plus a keyed aggregate — an accidental cartesian in the iteration
    body would multiply by |nodes| at every round. Asserted on ONE
    round's plan via pagerank_round (the full pagerank's returned
    frame is a checkpoint scan — per-round lineage truncation — so
    the round algebra rightly no longer appears in its plan)."""
    from kube_etl_spark.plans.graph import pagerank_round

    edges = (
        spark.read.parquet(f"{SMOKE_SF}/lineitem.parquet")
        .selectExpr("l_partkey AS src", "l_suppkey AS dst")
        .distinct()
    )
    nodes = (
        edges.selectExpr("src AS node")
        .unionByName(edges.selectExpr("dst AS node"))
        .distinct()
    )
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    w_edges = edges.join(out_deg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("deg")).alias("w")
    )
    ranks = nodes.select("node", F.lit(1.0).alias("rank"))
    rnd = pagerank_round(nodes, ranks, w_edges, out_deg, n=10, damping=0.85)
    plan = rnd._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "CartesianProduct" not in plan
    # the dangling-mass 1-row frame is the only legitimate NLJ input;
    # it must arrive broadcast, never shuffled
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the final checkpointed query plan must be lint-small
    full = _plan(spark, "q_pagerank_copurchase", "simple")
    assert full.count("Exchange") <= 6, full


def test_sequence_ops_exchange_budget(spark):
    """Shuffle-count guards for the event-sequence family: the lag /
    cumulative / rollup chain must run in ONE user_id hash exchange
    (plus the output sort); entropy gets one extra exchange that
    carries the ALREADY-AGGREGATED (user, type) frame, never raw rows.
    A refactor that splits the window family into per-step shuffles
    fails here before it costs anything at scale."""
    import re

    def exchanges(name):
        df = all_specs()[name].fn(spark, SMOKE_SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        return re.findall(r"Exchange (\w+)partitioning\(([^)]*)\)", plan)

    for name in ("q_cusum_changepoint", "q_session_stats"):
        ex = exchanges(name)
        hashes = [e for e in ex if e[0] == "hash"]
        assert len(hashes) == 1 and "user_id" in hashes[0][1], (name, ex)
        assert len(ex) <= 2, (name, ex)  # + the deterministic output sort

    ex = exchanges("q_user_entropy")
    hashes = [e for e in ex if e[0] == "hash"]
    assert len(hashes) == 2, ex
    # raw rows shuffle once on the full grouping key; the user_id-only
    # exchange re-partitions the aggregated frame
    assert any("event_type" in h[1] for h in hashes), ex


def test_bigram_lm_probes_broadcast(spark):
    """The bigram-LM scorer probes both vocabulary-sized count tables
    (bigram and unigram) with broadcast hash joins at the instance
    grain — a shuffled join would move the corpus's exploded bigrams
    twice; Zipf bounds both build sides. No nested loop, no Python."""
    plan = _plan(spark, "q_bigram_lm_score")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_candidate_join_is_keyed(spark):
    """SemDeDup's candidate pair search must be an EQUI-join on
    centroid_id (per-cell pair space) — never a cartesian/nested-loop
    over the corpus: that would be the O(n²) scan the clustering
    exists to avoid."""
    plan = _plan(spark, "q_dedup_semantic")
    assert "CartesianProduct" not in plan
    # the candidate pair join must be a keyed INNER join (hash or
    # sort-merge on centroid_id)
    assert any(
        j in plan
        for j in ("SortMergeJoin Inner", "ShuffledHashJoin Inner", "BroadcastHashJoin Inner")
    ), plan
    # nested loops may ONLY be the deliberate centroid-broadcast cross
    # joins of the assign step (tiny k×dim build side) — never an inner/
    # theta nested loop carrying the pair space
    for ln in plan.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "Cross BuildRight" in ln, f"non-assign nested loop: {ln}"


def test_decile_lift_single_scan_no_total_join(spark):
    """Decile lift's corpus reads stay pruned and its NTILE stays the
    distributed global_ntile shape: the rank window must be __pid-
    PARTITIONED over a range exchange (never a single-task global
    sort), the only joins may be the helper's broadcast of partition-
    count-sized frames (offsets/count rows) — never a sort-merge join
    — and the cumulative share / grand total still come from windows
    over the 10-row decile aggregate, not a second corpus pass."""
    plan = _plan_through_range_checkpoint(spark, "q_decile_lift")
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" in plan, "decile rank lost its range exchange"
    rn_spec = next(
        line for line in plan.splitlines()
        if "windowspecdefinition" in line and "row_number()" in line
    )
    assert "__pid" in rn_spec, f"decile rank regressed to a GLOBAL window: {rn_spec}"
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "o_custkey" in read and "o_totalprice" in read
    assert "o_orderdate" not in read and "o_orderpriority" not in read


def test_market_basket_reuses_distinct_exchange(spark):
    """The distinct (order, part) projection feeds five consumers
    (both pair sides, both item-stat sides, the N scalar); the
    executed plan must REUSE one exchange for them rather than
    re-scanning lineitem per consumer, and the top-100 must be a
    TakeOrdered, not a global sort."""
    from .conftest import SMOKE_SF
    from kube_etl_spark.registry import all_specs

    df = all_specs()["q_market_basket"].fn(spark, SMOKE_SF)
    df.collect()  # AQE finalizes reuse at execution
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "ReusedExchange" in plan
    assert "TakeOrderedAndProject" in plan


def test_time_weighted_avg_one_exchange_family(spark):
    """TWAP's lead() window and its groupBy share the user_id hash
    partitioning — exactly one hashpartitioning exchange in the plan
    (the final orderBy's range exchange aside), and no Python."""
    plan = _plan(spark, "q_time_weighted_avg")
    assert plan.count("hashpartitioning(user_id") == 1
    for node in ("BatchEvalPython", "ArrowEvalPython", "SortMergeJoin"):
        assert node not in plan


def test_attribution_single_window_pass_no_joins(spark):
    """Last-touch attribution is one window pass over events plus a
    channel-cardinality aggregate — no join anywhere, one events
    scan."""
    plan = _plan(spark, "q_attribution_last_touch")
    for node in ("Join", "CartesianProduct"):
        assert node not in plan
    assert plan.count("Window") >= 1
    assert plan.count("hashpartitioning(user_id") == 1


def test_null_safe_join_runs_on_aggregates(spark):
    """The null-safe full outer join must consume the two ≤5-row
    pre-aggregates — HashAggregates sit BELOW the join, and each side
    reads only its key + balance columns."""
    plan = _plan(spark, "q_null_safe_join")
    join_pos = plan.find("SortMergeJoin")
    assert join_pos != -1, "expected a full-outer sort-merge join"
    # both aggregate subtrees appear after the join node in formatted
    # output (children are listed below); assert aggregation exists and
    # no corpus-sized columns are read
    assert plan.count("HashAggregate") >= 4
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all("c_name" not in l and "s_name" not in l for l in reads)


def test_scd2_intervals_single_window_no_join(spark):
    """SCD2 historization must be ONE lead() window over
    hashpartition(key) — no self-join, no per-version scan."""
    plan = _plan(spark, "q_scd2_intervals")
    for node in ("Join", "CartesianProduct"):
        assert node not in plan
    assert plan.count("hashpartitioning(key") == 1


def test_bucketed_join_no_exchange(spark):
    """The co-located bucketed join must read bucket i of each side
    directly into the sort-merge join: ZERO Exchange below the join
    (the one Exchange in the whole plan is the final groupBy's — and
    even that keys on the columns, not a repartition of the join).
    SelectedBucketsCount must show both scans bucket-pruned-ready."""
    plan = _plan(spark, "q_join_bucketed")
    tree = plan.split("(1) ")[0]  # formatted mode: tree, then node details
    join_pos = tree.find("SortMergeJoin")
    assert join_pos != -1, "expected the merge-hinted co-located SMJ"
    # the join subtree (everything below the SMJ line in the tree) must
    # contain NO Exchange: both children go scan → sort → join. The
    # only exchanges allowed in the whole plan are the post-join
    # groupBy/orderBy ones ABOVE the join.
    assert "Exchange" not in tree[join_pos:], tree
    assert plan.count("SelectedBucketsCount: 8 out of 8") >= 2
    assert "BroadcastHashJoin" not in plan


def test_key_skew_audit_single_scan(spark):
    """The three audited keys must ride ONE lineitem scan (stack(), not
    three re-reads) and two map-side-combinable aggregations."""
    plan = _plan(spark, "q_key_skew_audit")
    # exactly one scan node (one Location entry in the node details)
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Join" not in plan


def test_mode_per_group_window_group_limit(spark):
    """Mode-per-user must push the rank-1 filter into WindowGroupLimit
    (top-1 per key without materializing full per-user sorts)."""
    plan = _plan(spark, "q_mode_per_group")
    assert "WindowGroupLimit" in plan


def test_knn_classify_broadcast_probes(spark):
    """The held-out probe set must broadcast; the train corpus is
    scanned once and never shuffled before scoring."""
    plan = _plan(spark, "q_knn_classify")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_bucketed_point_lookup_prunes_buckets(spark):
    """An IN filter on the bucket column must prune the scan to only
    the buckets the 3 keys hash into — never all 8 — and grouping by
    the bucket key must keep the pre-agg side exchange-free."""
    plan = _plan(spark, "q_bucketed_point_lookup")
    line = next(ln for ln in plan.splitlines() if "SelectedBucketsCount" in ln)
    assert "out of 8" in line and "8 out of 8" not in line, line
    tree = plan.split("(1) ")[0]
    agg = tree.find("HashAggregate")
    assert agg != -1 and "Exchange" not in tree[agg:], tree


def test_rolling_active_users_collapses_before_fanout(spark):
    """The 7-day fan-out must ride the distinct (user, day) frame, not
    the raw event log: Generate (explode) sits ABOVE the distinct
    aggregate in the plan, and the scan reads only user_id + ts."""
    plan = _plan(spark, "q_rolling_active_users")
    tree = plan.split("(1) ")[0]
    gen = tree.find("Generate")
    assert gen != -1
    # the distinct's aggregate must sit BELOW the explode in the tree
    # (printed after it): fan-out consumes the collapsed frame, never
    # the raw log
    assert tree.rfind("HashAggregate") > gen, tree
    read = next(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "user_id" in read and "props" not in read and "value" not in read


def test_partition_pruned_scan_prunes_days(spark):
    """q_partition_pruned_scan's week predicate must land in the scan's
    PartitionFilters (directory-level pruning — 7 of 30 day-partitions
    listed, none of the others' files opened), NOT in PushedFilters as
    a row filter over a full scan."""
    plan = _plan(spark, "q_partition_pruned_scan")
    pf = next(line for line in plan.splitlines() if "PartitionFilters" in line)
    assert "event_date" in pf and ">=" in pf and "<=" in pf, (
        f"date range not a partition filter: {pf}"
    )
    # the predicate must NOT survive as a row-level residual: pruning
    # happened at planning, so no Filter exec node may mention the
    # partition column (a full scan + row filter is exactly the
    # regression this test fences)
    residual = [
        line
        for line in plan.splitlines()
        if "Filter" in line and "PartitionFilters" not in line and "event_date" in line
    ]
    assert not residual, f"date predicate degraded to a row filter: {residual}"


def test_schema_evolution_read_backfills_nulls(spark):
    """The mergeSchema read must resolve the union schema (channel
    present, nullable) and keep per-file column pruning — the legacy
    batch contributes NULL channel without a rewrite."""
    from kube_etl_spark.queries.scale import evolved_batches

    merged = evolved_batches(spark, SMOKE_SF)
    assert "channel" in merged.columns
    field = merged.schema["channel"]
    assert field.nullable, "evolved column must be nullable for legacy files"
    legacy_nulls = merged.filter(F.col("channel").isNull()).count()
    assert legacy_nulls > 0, "legacy batch lost its NULL backfill"


def test_nearest_event_join_is_joinless(spark):
    """q_join_nearest_event's bidirectional match must compile to the
    union-carry shape — window carries over one user-keyed sort, ZERO
    join operators (the O(|errors|·|clicks per user|) argmin join is
    exactly what the implementation exists to avoid)."""
    plan = _plan(spark, "q_join_nearest_event")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, f"nearest-event match regressed to a {node}"
    assert plan.count("Window") >= 1


def test_quantile_bucket_join_never_sorts_the_fact(spark):
    """q_quantile_bucket_join's whole point: deciles WITHOUT a global
    sort/window over the fact — and since r9, without a single-task
    data-sized sort ANYWHERE: the edge rank is global_row_number
    (range exchange + per-partition local sort + broadcast offsets).
    Exactly two Window nodes may appear — the __pid-PARTITIONED local
    rank and the n_parts-row offset cumulative — and the data-sized
    one (the row_number over the price order) must carry a partition
    spec, never compile to a global window's Exchange SinglePartition
    sort. Bucket assignment stays the broadcast of the one-row edge
    frame; never a sort-merge join or a fact-side ntile."""
    plan = _plan(spark, "q_quantile_bucket_join")
    n_window_nodes = sum(
        1 for line in plan.splitlines() if line.strip().startswith("(") and ") Window" in line
    )
    assert n_window_nodes == 2, f"expected exactly two Window nodes, got {n_window_nodes}"
    # the range exchange itself lives inside _range_parted's eager
    # checkpoint (invisible downstream); the visible contract is that
    # the data-sized row_number stays __pid-PARTITIONED
    rn_spec = next(
        line for line in plan.splitlines()
        if "windowspecdefinition" in line and "row_number()" in line
    )
    assert "__pid" in rn_spec, f"edge row_number regressed to a GLOBAL window: {rn_spec}"
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_quantile_bucket_join_approx_no_window_no_sort(spark):
    """The registered 100 TB twin (VERDICT r5 #4) must actually drop the
    exact form's single-task edge sort: NO Window node, NO Sort outside
    the final 10-row ordering, NO sort-merge join — the edge pass is one
    mergeable percentile_approx aggregate and the bucket assignment is
    the broadcast of its one-row result."""
    plan = _plan(spark, "q_quantile_bucket_join_approx")
    n_window_nodes = sum(
        1 for line in plan.splitlines() if line.strip().startswith("(") and ") Window" in line
    )
    assert n_window_nodes == 0, f"approx twin regrew a Window: {n_window_nodes}"
    assert "SortMergeJoin" not in plan
    assert "approx_percentile" in plan or "percentile_approx" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the only Sort allowed is the final presentation ordering of ≤10 rows
    sort_nodes = [
        line for line in plan.splitlines()
        if line.strip().startswith("(") and ") Sort" in line
    ]
    assert len(sort_nodes) <= 1, f"unexpected sorts: {sort_nodes}"


def test_snapshot_diff_single_key_join_rollup(spark):
    """q_snapshot_diff must be ONE key-keyed join (full outer — never
    broadcastable, SMJ/shuffled-hash are the honest strategies) feeding
    a map-side-combinable rollup; no window, no nested loop."""
    plan = _plan(spark, "q_snapshot_diff")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    n_joins = sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and ("Join" in line.split()[1] if len(line.split()) > 1 else False)
    )
    assert n_joins == 1, f"expected exactly one join, got {n_joins}"
    assert ") Window" not in plan
    assert "HashAggregate" in plan


def test_dedup_events_window_one_payload_exchange(spark):
    """q_dedup_events_window's dup detection must be a per-partition
    sorted scan over ONE payload-keyed exchange — never a self-join
    (the O(pairs) shape the LAG formulation exists to avoid)."""
    plan = _plan(spark, "q_dedup_events_window")
    for node in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert node not in plan, f"redelivery screen regressed to a {node}"
    n_window_nodes = sum(
        1 for line in plan.splitlines() if line.strip().startswith("(") and ") Window" in line
    )
    assert n_window_nodes == 1


def test_mixture_rebalance_single_corpus_scan(spark):
    """q_mixture_rebalance's global total must ride a whole-frame window
    over the |sources|-row aggregate — the naive agg+cross-join form
    scans the corpus twice (caught in this query's r6 plan audit)."""
    plan = _plan(spark, "q_mixture_rebalance")
    scans = sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and ") Scan parquet" in line
    )
    assert scans == 1, f"corpus scanned {scans}x — the total re-derived the scan"
    assert "Join" not in plan


def test_dedup_incremental_capped_hot_shingle_anti_join(spark):
    """The capped screen's plan must actually contain the skew valve:
    hot-shingle LEFT ANTI joins on both postings sides plus the
    doc-keyed size recounts — and the exact twin must contain NEITHER
    (its plan is the uncapped postings join, ≡ the oracle)."""
    capped = _plan(spark, "q_dedup_incremental_capped")
    assert "LeftAnti" in capped, "hot-shingle anti-join missing from capped plan"
    exact = _plan(spark, "q_dedup_incremental")
    assert "LeftAnti" not in exact


def test_interval_merge_windows_stay_partitioned(spark):
    """q_interval_merge's whole point: NO data-sized single-task sort.
    Both data-sized window passes (the strict prefix max of t1 and the
    span-flag running sum) must stay __pid-PARTITIONED over the one
    frozen range layout; the only global-ordered windows are the
    n_parts-row offset frames (ordered by __pid alone). Offset frames
    join back by broadcast, never sort-merge."""
    plan = _plan(spark, "q_interval_merge")
    data_windows = [
        line
        for line in plan.splitlines()
        if "windowspecdefinition" in line and ("t0" in line or "t1" in line)
    ]
    # non-empty first (the skyline-test vacuity lesson, ADVICE r9): a
    # renamed working column must fail loudly, not skip the assertion
    assert data_windows, "data-sized t0/t1 windows not found in plan (filter went vacuous)"
    for line in data_windows:
        assert "__pid" in line, f"data-sized window lost its partition spec: {line}"
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_interval_merge_pushes_the_error_filter(spark):
    """The event_type predicate must reach the parquet scan inside the
    range checkpoint — the helper must not defeat pushdown."""
    plan = _plan_through_range_checkpoint(spark, "q_interval_merge")
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l and "event_type" in l]
    assert pushed, "event_type filter not pushed to the events scan"


def test_skyline_strict_prefix_stays_partitioned(spark):
    """q_skyline_orders' cross-group dominance pass must never run as
    a global single-task window over the DATA-sized distinct-price
    frame.

    ADVICE r9 (medium): the first form filtered on 'pmax_d' — the
    DuckDB oracle's alias, which never appears in the Spark physical
    plan — so zero lines matched and the test was vacuous. Filter on
    the engine's own working column ('__sk_gmax', the strict-prefix-max
    argument) and assert the match set is NON-empty so a renamed
    working column re-vacuizes loudly instead of silently.

    r12 two-phase update: the DATA-sized pass is now the partition-
    LOCAL prune (window keyed on SPARK_PARTITION_ID over the per-price
    aggregate); the only unpartitioned __sk_gmax window legal in the
    plan is the frontier pass over the PRUNED candidate frame
    (output-bounded, the lint's post-aggregate home). Pin: the local
    prune window exists and is partitioned; at most one unpartitioned
    __sk_gmax window remains, and the general lint sweep
    (test_planlint) guards its spine mechanically."""
    plan = _plan(spark, "q_skyline_orders")
    gmax_windows = [
        line
        for line in plan.splitlines()
        if "windowspecdefinition" in line and "__sk_gmax" in line
    ]
    assert gmax_windows, "strict-prefix-max window not found in plan (filter went vacuous)"

    def _partitioned(line: str) -> bool:
        # windowspecdefinition(<part cols...>, <order cols ASC/DESC>, frame):
        # a spec whose FIRST argument carries a sort direction has no
        # partition columns (the lint's own detection rule). The
        # partition key may be an aliased projection (_w0 for the
        # spark_partition_id expression), so match structurally.
        first = line.split("windowspecdefinition(", 1)[1].split(",", 1)[0]
        return " ASC" not in first and " DESC" not in first

    local_prune = [
        l for l in gmax_windows if "__sk_lprev" in l and _partitioned(l)
    ]
    assert local_prune, (
        "partition-local skyline prune window missing or unpartitioned — "
        f"the data-sized frame would hit a global pass unpruned: {gmax_windows}"
    )
    unpart = [l for l in gmax_windows if not _partitioned(l)]
    assert len(unpart) <= 1, f"unexpected extra global windows: {unpart}"


def test_ks_drift_one_fused_cumulative_window(spark):
    """q_ks_drift's two cumulative counts must share ONE range layout
    and ONE data-sized Window node (same spec → Spark fuses both sums);
    a second __pid window would mean the layout was instantiated twice.
    The argmax row must be TakeOrderedAndProject (top-1), not a global
    sort, and totals ride a broadcast, not a sort-merge join."""
    plan = _plan(spark, "q_ks_drift")
    pid_windows = [
        line
        for line in plan.splitlines()
        if "windowspecdefinition" in line and "__pid" in line and "__ks_v" in line
    ]
    # one fused Window node emits both cumulative counts
    assert pid_windows, "data-sized cumulative window missing"
    assert all("__ks_ca" not in a or "__ks_cb" in a for a in pid_windows)
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_watch_gap_window_partitions_by_syncer(spark):
    """q_watch_gap_relist's lag window must partition by syncer_name
    (each watch stream is the unit of order) — never a global window —
    and the rules/catalog sides must broadcast."""
    plan = _plan(spark, "q_watch_gap_relist")
    lag_specs = [
        line for line in plan.splitlines() if "windowspecdefinition" in line and "lag" in line
    ]
    assert lag_specs, "lag window missing"
    assert all("syncer_name" in line for line in lag_specs)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_gapfill_segment_explode_no_grid_join(spark):
    """The round-9 gapfill rewrite's contract: gap rows are generated
    from their bracketing observation pair, so the dense grid must
    NEVER come back as a join input — no join node of any kind, an
    explode (Generate) present, and only the pick window, the
    observation-sized lead window, and the output sort may exchange
    (≤ 4 including AQE reads). Both windows stay user-partitioned."""
    for name in ("q_gapfill_locf", "q_gapfill_interpolate"):
        plan = _plan(spark, name, mode="simple")
        assert "Join" not in plan, f"{name}: the grid join came back"
        assert "Generate" in plan, f"{name}: segment explode missing"
        assert plan.count("Exchange") <= 4, f"{name}: exchange blowup"
        specs = [l for l in plan.splitlines() if "windowspecdefinition" in l]
        assert specs, f"{name}: no window specs found (filter went vacuous)"
        for line in specs:
            assert "user_id" in line, f"{name}: window lost its partition: {line}"


def test_attribution_window_rides_shuffle_join(spark):
    """q_attribution_linear's n_touch window partitions by
    (user_id, pid) so that in the shuffle-join regime (clicks past the
    broadcast threshold — the 100 TB case) the join's
    hashpartitioning(user_id) SATISFIES the window's distribution: no
    re-exchange of the click-fanned-out frame. A pid-only window spec
    would force one (hashpartitioning(pid) must never appear)."""
    import re as _re

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(spark, "q_attribution_linear", mode="simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "windowspecdefinition(user_id" in plan
    assert not _re.search(r"hashpartitioning\(pid#\d+", plan), (
        "the window re-exchanged the fanned-out frame on pid alone"
    )


def test_discovery_expansion_diff_single_join_path(spark):
    """q_discovery_expansion_diff must route BOTH catalog generations
    through ONE broadcast join (gen-tagged union BEFORE the join — the
    q_rule_change_audit twin-broadcast lesson): exactly one broadcast
    join node, no sort-merge join, and a Union present below it."""
    plan = _plan(spark, "q_discovery_expansion_diff", mode="simple")
    assert "SortMergeJoin" not in plan
    n_bc = sum(
        1 for line in plan.splitlines()
        if "BroadcastHashJoin" in line or "BroadcastNestedLoopJoin" in line
    )
    # exactly two broadcasts: the invalid/suspended anti-join on the
    # rules table, and the ONE catalog-match join both generations share
    assert n_bc == 2, f"expected anti-join + one shared match join, got {n_bc}"
    assert "Union" in plan


def test_fanout_amplification_one_scan_broadcast_rules(spark):
    """q_fanout_amplification: the op-log is eagerly checkpointed (two
    same-job consumers — per-GVK totals and the match join — the
    q_syncer_replay rule), so the outer plan reads the frozen RDD, the
    rules/agg sides ride broadcasts, and nothing sort-merge joins. The
    event-scan column prune lives inside the checkpoint and is covered
    by q_syncer_replay's shared derivation; here we pin that BOTH
    consumers read the checkpoint (two ExistingRDD scans) rather than
    one consumer re-deriving the op-log from the parquet scan."""
    plan = _plan(spark, "q_fanout_amplification", mode="simple")
    assert "SortMergeJoin" not in plan
    assert "Scan parquet" not in plan, "a consumer bypassed the op-log checkpoint"
    # the op-log checkpoint's RDD scan carries the op-log columns
    # (column-pruned to group/version/kind/namespace/seq — op is unused
    # here); the rules-table createDataFrame frames are ExistingRDD too
    # but carry neither seq nor namespace, so they filter out
    oplog_scans = [
        line for line in plan.splitlines()
        if "Scan ExistingRDD" in line and "seq" in line and "namespace" in line
    ]
    assert len(oplog_scans) == 2, (
        f"expected both consumers on the checkpointed op-log, got "
        f"{len(oplog_scans)}: {oplog_scans}"
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_relist_delta_single_aggregate_no_window_no_wide_join(spark):
    """The r11 rewrite's guarantee: believed and truth liveness come
    from ONE per-key aggregate (max_by pair with a conditional
    ordering), never from per-side windows reconciled by a wide join —
    the first cut's window+full-outer shape re-exchanged the op-log
    once per side. The only joins allowed are broadcasts (the catalog
    and the 1-row bookmark scalar)."""
    plan = _plan(spark, "q_relist_delta")
    assert "Window" not in plan
    for node in ("SortMergeJoin", "ShuffledHashJoin"):
        assert node not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan


def test_field_merge_divergence_single_aggregate(spark):
    """Same guarantee for the field-merge audit: the row winner and
    both per-field winners collapse into one per-key aggregate — no
    windows, no non-broadcast joins (the engine twin,
    cdc.field_merge_winners, has the same shape)."""
    plan = _plan(spark, "q_field_merge_divergence")
    assert "Window" not in plan
    for node in ("SortMergeJoin", "ShuffledHashJoin"):
        assert node not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan


def test_purge_horizon_audit_single_aggregate(spark):
    """The purge-horizon audit mirrors q_relist_delta's shape: the
    replay floor is a 1-row broadcast scalar cross-joined BEFORE the
    per-key aggregate — no windows, no non-broadcast joins, no Python
    eval; the per-key frame collapses straight into the GVK rollup."""
    plan = _plan(spark, "q_purge_horizon_audit")
    assert "Window" not in plan
    for node in ("SortMergeJoin", "ShuffledHashJoin"):
        assert node not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan


def test_field_merge_winners_single_exchange(spark):
    """The ENGINE's field_merge_winners itself: ONE key exchange with a
    map-side partial aggregate in front of it — the row-LWW-equal
    shuffle shape the 1M scale-truth (architecture.md §r11b; reproducer
    at commit df131c6) prices at a 1.68× constant factor. A refactor
    that reintroduced per-field windows or joins would turn every
    StateTable (flat or bucketed) merge into a multi-exchange plan;
    this pins the shape at the function boundary. (Simple mode:
    formatted mode lists each node twice — tree + details — so
    counting there is wrong, the r11 audit-query lesson.) The
    aggregate is physically a SortAggregate: max_by's struct-typed
    buffer is ineligible for hash aggregation, so each merge pays two
    per-partition sorts — a known, measured constant, not a shape
    bug."""
    from pyspark.sql import functions as F

    from kube_etl_spark.streaming.cdc import field_merge_winners

    tagged = (
        spark.range(64)
        .select(
            F.col("id").alias("seq"),
            F.concat(F.lit("k"), F.pmod(F.col("id"), F.lit(7))).alias("key"),
            F.when(F.col("id") % 9 == 0, "delete").otherwise("upsert").alias("op"),
            F.when(F.col("id") % 2 == 0, F.concat(F.lit("s"), F.col("id"))).alias("spec"),
            F.when(F.col("id") % 2 == 1, F.concat(F.lit("t"), F.col("id"))).alias("status"),
        )
        .withColumn("__del", (F.col("op") == "delete").cast("int"))
    )
    out = field_merge_winners(tagged, ["key"], "seq", ["spec", "status"])
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "Window" not in plan
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert node not in plan
    assert plan.count("Exchange") == 1, plan
    # map-side combine: the shuffle carries one row per (task, key),
    # not the raw op-log — the property that makes this shape hold at
    # 100 TB batch sizes
    assert "partial_max_by" in plan, plan


def test_owned_field_merge_single_exchange(spark):
    """The manager-aware ownership merge (cdc.owned_field_merge_winners,
    r12 — the SSA managedFields analog): everything rides ONE key
    exchange — the delete-epoch window, the per-field owner window, the
    winner/conflict windows, and the final per-key aggregate share the
    exchange and its sort. No joins; nothing data-sized leaves the key
    partitioning. Unlike the unmanaged merge there ARE Window nodes
    (ownership needs the epoch before validity and the owner before the
    winner — three chained window stages), so the pin here is exchange
    count + join absence, not window absence. Both force modes pinned."""
    from pyspark.sql import functions as F

    from kube_etl_spark.streaming.cdc import owned_field_merge_winners

    tagged = (
        spark.range(64)
        .select(
            F.col("id").alias("seq"),
            F.concat(F.lit("k"), F.pmod(F.col("id"), F.lit(7))).alias("key"),
            F.when(F.col("id") % 9 == 0, "delete").otherwise("upsert").alias("op"),
            F.when(F.col("id") % 3 == 0, "alpha").otherwise("beta").alias("mgr"),
            F.when(F.col("id") % 2 == 0, F.concat(F.lit("s"), F.col("id"))).alias("spec"),
            F.when(F.col("id") % 2 == 1, F.concat(F.lit("t"), F.col("id"))).alias("status"),
        )
        .withColumn("__del", (F.col("op") == "delete").cast("int"))
    )
    for force in (False, True):
        out = owned_field_merge_winners(
            tagged, ["key"], "seq", ["spec", "status"], "mgr", force=force
        )
        plan = out._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
                     "CartesianProduct", "BroadcastNestedLoopJoin"):
            assert node not in plan, (force, plan)
        assert plan.count("Exchange") == 1, (force, plan)


def test_ownership_audit_queries_plan_shape(spark):
    """The r12 ownership widening pair stays join-free (the takeover
    timeline's first cut scanned events once PER FIELD and reconciled
    with a SortMergeJoin — collapsed to a single stack() unpivot and
    one (key, field) window; the audit runs its owner windows and
    aggregate on one key exchange). Pin: no sort-merge/shuffled-hash
    joins anywhere (broadcasts of the config-sized catalog are fine),
    and exactly ONE Window spec in the takeover plan."""
    from kube_etl_spark.registry import all_specs

    sf = "/root/testdata/sf0.001"
    specs = all_specs()
    for name, max_windows in (
        ("q_field_ownership_audit", 3),
        ("q_ownership_takeover_timeline", 1),
    ):
        plan = specs[name].fn(spark, sf)._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        for node in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
            assert node not in plan, (name, plan)
        assert plan.count("Window") <= max_windows, (name, plan)
