#!/usr/bin/env python
"""Headline-query benchmark. Prints ONE JSON line per the driver contract:
{"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Runs every registry spec flagged bench=True at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]; per-query
time is the median of 3 runs, each a FULL materialization of the result
through the noop sink — .count() would let Catalyst prune final
projections/sorts and under-measure non-aggregating queries (ADVICE r1).

Extras beyond the contract keys:
  * "warm_steady": non-binding 5th-run wall for the checkpoint-heavy
    headliners (_WARM_STEADY) — adjudicates cold-start-dominated
    ledger trips from the JSON alone (VERDICT r11 #2).
  * "skew": the hot-key demonstration (VERDICT r1 #9) — a synthetic
    lineitem variant with ~50% of rows collapsed onto ONE order key,
    joined plain vs salted with AQE skew-join splitting disabled (the
    engines-without-AQE / post-join-groupBy case salting addresses),
    plus the plain join with AQE skew handling on for reference.
  * "udf": builtin vs Arrow pandas UDF vs row-at-a-time Python UDF on
    identical tokenize-and-count work (VERDICT r2 #8) — the measured
    basis for the builtins-first rule in docs/architecture.md.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# First-measured sf0.1 baselines for the NON-QUERY bench objects
# (BASELINE.md §2: skew first measured r2; udf/index/ivm/neardup first
# measured r3) — emitted as "vs_baseline" ratios so the 2× regression
# band covers the incremental/skew/udf layers the same way
# vs_baseline_queries covers the headline queries. Counters (e.g.
# neardup.pairs_detected) are not timings and are excluded.
_OBJECT_BASELINE: dict[str, dict[str, float]] = {
    "skew": {"plain": 9.529, "salted": 7.2147, "plain_aqe_skewjoin": 9.1122},
    "udf": {
        "builtin": 0.3356,
        "pandas_udf": 0.5852,
        "python_udf": 0.5223,
        "num_builtin": 0.1387,
        "num_pandas_udf": 0.6069,
        "num_python_udf": 3.046,
    },
    "index": {"build": 10.5199, "hybrid_probe": 0.9565},
    "ivm": {
        "maintain_per_batch": 2.0253,
        "maintain_per_batch_bucketed": 1.5167,
        "serve_view": 0.1659,
        "serve_recompute_join_smj": 0.3241,
    },
    "neardup": {"ingest_per_batch_flat": 1.7736, "ingest_per_batch_bucketed": 2.1628},
}

# First-measured sf0.1 baselines for headliner QUERIES added after r1
# (BASELINE.md §2 r3/r4/r5 tables) — emitted as "vs_baseline_queries",
# a mechanical ratio against each query's own first measurement.
_QUERY_BASELINE: dict[str, float] = {
    "q_bm25_topk": 0.87,
    "q_dedup_fuzzy": 1.45,
    "q_hybrid_rrf": 1.48,
    "q_scd2_intervals": 1.88,
    "q_ngram_novelty": 2.52,
    "q_triangle_count": 4.71,
    # r5 rows re-based in r6 (BASELINE.md measurement note): the r5 VM
    # was the fastest of any round — unchanged code ran 1.3-1.5× its r5
    # numbers on the idle r6 VM, tripping the watch VERDICT r5 #4 put on
    # q_attribution_linear. Corrected to idle r6-VM medians so the 2×
    # band measures code, not VM lottery.
    "q_attribution_linear": 1.1,
    "q_gapfill_interpolate": 3.55,
    "q_knn_quantized": 1.02,
    # r10 first measurements (idle r10 VM): the r9
    # global-order widening trio promoted to headliners (VERDICT r9 #4)
    "q_interval_merge": 1.34,
    "q_skyline_orders": 1.65,
    "q_ks_drift": 0.98,
    # r7 first measurement (idle r7 VM): the
    # 32-bit/4-band binary SimHash screen. Baselined from the IN-BENCH
    # median — unlike the other headliners this query is
    # context-sensitive (its eager signature checkpoint lands in
    # storage already holding earlier queries' blocks): standalone
    # post-warmup median 1.10 s, in-bench 1.62 s on the same VM. The
    # ratio gate compares in-bench numbers, so the baseline must use
    # the same protocol.
    "q_media_neardup": 1.62,
}


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# The driver records only the LAST 2,000 characters of stdout and
# json.loads the final line (BENCH_r05/r06 were `parsed: null` —
# first a progress-bar race, then the full payload line itself
# outgrowing the tail capture, VERDICT r6 #1). The final line is
# therefore a COMPACT payload holding exactly the contract keys plus
# the headline regression ratios, hard-capped well under the capture;
# everything else (skew/udf/index/ivm/neardup objects) goes to
# bench_full.json and a NON-final stdout line.
_FINAL_LINE_MAX = 1500
_FULL_OUT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "bench_full.json"
)


def compact_payload(
    total: float,
    timings: dict[str, float],
    sf: float | None,
    vs_baseline_queries: dict[str, float],
) -> str:
    """The driver-contract line: metric/value/unit/queries/sf plus the
    per-query baseline ratios. tests/test_bench_contract.py pins its
    length under _FINAL_LINE_MAX with the real headliner set, so
    adding bench queries can't silently outgrow the driver's
    stdout-tail capture again."""
    return json.dumps(
        {
            "metric": "headline_total_wall",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "vs_baseline_queries": vs_baseline_queries,
        },
        separators=(",", ":"),
    )


def _timed(fn, runs: int = 3) -> float:
    ts = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return round(statistics.median(ts), 4)


# Checkpoint-heavy headliners (eager/lazy localCheckpoint in their
# plan): their in-bench median carries first-run checkpoint-write cost
# that can triple on the host's slow mode while the steady-state plan
# is healthy (the r11 q_dedup_fuzzy trip: in-bench 1.88-1.90 raw vs
# warm steady-state 0.93 — BASELINE.md r11 note). VERDICT r11 #2: a
# supplementary NON-BINDING "warm_steady" reading — the 5th-run wall
# (3 median runs + 2 extra) — lands in bench_full.json / the non-final
# stdout line so a 1.5×-raw ledger trip on these queries can be
# adjudicated from BENCH_r{N}.json alone, without a manual profiling
# session. The comparable median-of-3 protocol is untouched.
_WARM_STEADY = (
    "q_dedup_fuzzy",      # eager signature checkpoint (llm.py)
    "q_interval_merge",   # checkpointed interval fence
    "q_media_neardup",    # eager signature checkpoint (media.py)
    "q_triangle_count",   # lazy checkpoints on the oriented edge list
)


def _warm_steady(fn) -> float:
    """5th-run wall: the caller has already run `fn` 3 times (the timed
    median); one more untimed warm run, then the timed 5th."""
    fn()
    t0 = time.perf_counter()
    fn()
    return round(time.perf_counter() - t0, 4)


def _skew_bench(spark, sf_dir: str) -> dict[str, float]:
    """Hot-key join pair. The synthetic fact is sized so one key's rows
    EXCEED per-task capacity (the regime salting targets): lineitem
    inflated ×16 with 75% of rows collapsed onto order key 1, projected
    to the two needed columns, map-side rebalanced. Measured shapes:
    plain shuffled join (skew split off), salted (16 salts), and plain
    with AQE skew-join splitting for reference. Found experimentally
    that below ~10⁶ rows on the hot key the technique rightly LOSES
    (replication overhead > straggler cost) — the demo must be run in
    the regime where it pays."""
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.queries.scale import salted_join

    li = (
        load_table(spark, sf_dir, "lineitem")
        .withColumn("__r", F.explode(F.sequence(F.lit(1), F.lit(16))))
        .withColumn(
            "l_orderkey",
            F.when(
                F.pmod(
                    F.col("l_partkey") + F.col("l_linenumber") + F.col("__r"),
                    F.lit(4),
                )
                < 3,
                F.lit(1).cast("long"),
            ).otherwise(F.col("l_orderkey")),
        )
        .select("l_orderkey", "l_extendedprice")
        .repartition(64)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )

    def agg(j):
        return j.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(14,2)")).alias("rev"),
        )

    def plain():
        _materialize(agg(li.join(orders, li.l_orderkey == orders.o_orderkey)))

    def salted():
        _materialize(
            agg(salted_join(li, orders, "l_orderkey", "o_orderkey", n_salts=16))
        )

    out: dict[str, float] = {}
    skew_conf = "spark.sql.adaptive.skewJoin.enabled"
    bcast_conf = "spark.sql.autoBroadcastJoinThreshold"
    prev_skew = spark.conf.get(skew_conf)
    prev_bcast = spark.conf.get(bcast_conf)
    # force the shuffled-join path — at bench SF the dim side would
    # broadcast, which no real 100 TB orders table does
    spark.conf.set(bcast_conf, "-1")
    try:
        spark.conf.set(skew_conf, "false")
        out["plain"] = _timed(plain, runs=2)
        out["salted"] = _timed(salted, runs=2)
        spark.conf.set(skew_conf, "true")
        out["plain_aqe_skewjoin"] = _timed(plain, runs=2)
    finally:
        spark.conf.set(skew_conf, prev_skew)
        spark.conf.set(bcast_conf, prev_bcast)
    return out


def _udf_bench(spark, sf_dir: str) -> dict[str, float]:
    """Builtins-first evidence (VERDICT r2 #8): the same tokenize-and-
    count work over every documents.text three ways — JVM builtin
    (split+size inside whole-stage codegen), Arrow-batched pandas UDF,
    and row-at-a-time Python UDF. The measured ordering documents WHY
    the engine keeps registered-query hot paths Python-free and treats
    pandas UDFs as the fallback, not the default."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from kube_etl_spark.catalog import load_table

    # ×20 replication: at bench sf the raw documents table is small
    # enough that per-batch fixed costs mask the per-row loop cost the
    # comparison exists to show; ~100k rows puts every variant in its
    # steady-state regime
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .withColumn("rep", F.explode(F.sequence(F.lit(1), F.lit(20))))
        .select("doc_id", "text")
    )

    # no type hints: bench.py uses `from __future__ import annotations`,
    # which turns them into strings pandas_udf's inference can't resolve
    def _tok_pandas(text):
        return text.str.split(" ").str.len().astype("int64")

    def _tok_python(text):
        return len(text.split(" "))

    n_tok_pandas = F.pandas_udf(_tok_pandas, LongType())
    n_tok_python = F.udf(_tok_python, LongType())

    variants = {
        "builtin": F.size(F.split("text", " ")).cast("long"),
        "pandas_udf": n_tok_pandas("text"),
        "python_udf": n_tok_python("text"),
    }
    # numeric kernel — the regime where the pandas tier's vectorization
    # claim actually holds (docs/architecture.md lesson 2): a logistic
    # score over a double column, numpy ufuncs vs per-row math.exp
    import math

    import numpy as np

    from pyspark.sql.types import DoubleType

    def _score_pandas(v):
        return 1.0 / (1.0 + np.exp(-((v - 50.0) / 10.0)))

    def _score_python(v):
        return 1.0 / (1.0 + math.exp(-((v - 50.0) / 10.0)))

    score_pandas = F.pandas_udf(_score_pandas, DoubleType())
    score_python = F.udf(_score_python, DoubleType())
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "value")
        .withColumn("rep", F.explode(F.sequence(F.lit(1), F.lit(20))))
        .select("event_id", "value")
    )
    num_variants = {
        "num_builtin": F.lit(1.0) / (F.lit(1.0) + F.exp(-((F.col("value") - 50.0) / 10.0))),
        "num_pandas_udf": score_pandas("value"),
        "num_python_udf": score_python("value"),
    }
    out = {}
    for name, col in variants.items():
        # one untimed warm-up per variant: the Python-worker fork and
        # Arrow-channel setup are per-session one-offs that would
        # otherwise dominate the pandas_udf number at bench scale and
        # invert the steady-state ordering the number documents
        _materialize(docs.select("doc_id", col.alias("n_tokens")))
        out[name] = _timed(
            lambda c=col: _materialize(docs.select("doc_id", c.alias("n_tokens"))),
            runs=2,
        )
    for name, col in num_variants.items():
        _materialize(ev.select("event_id", col.alias("score")))
        out[name] = _timed(
            lambda c=col: _materialize(ev.select("event_id", c.alias("score"))),
            runs=2,
        )
    return out


def _index_bench(spark, sf_dir: str) -> dict[str, float]:
    """Retrieval-index economics: the one-time build cost vs the
    per-query serve cost. The serve numbers are what the index BUYS —
    a hybrid probe reads nprobe cell directories + the query's posting
    lists, independent of corpus size — so they should stay flat as sf
    grows while build scales with the corpus."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.retrieval_index import build_index, query_index

    idx = tempfile.mkdtemp(prefix="bench-index-")
    try:
        t0 = time.perf_counter()
        build_index(spark, sf_dir, idx, k=16)
        build_s = round(time.perf_counter() - t0, 4)
        probe_v = list(
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == 0)
            .select(F.col("embedding").cast("array<double>").alias("v"))
            .head()["v"]
        )
        probe_s = _timed(
            lambda: _materialize(
                query_index(spark, idx, ["dup", "key", "window"], probe_v)
            ),
            runs=2,
        )
        return {"build": build_s, "hybrid_probe": probe_s}
    finally:
        shutil.rmtree(idx, ignore_errors=True)


def _neardup_bench(spark, sf_dir: str) -> dict[str, float]:
    """Streaming near-dup economics: an established index (the full
    corpus minus the synthesized copies) absorbs 3 trickle batches of
    newly-arriving high-id documents, flat state vs RANGE-bucketed
    state, equal pair counts asserted.

    Honest regime note (measured): at fixture scale the bucketed
    variant ties or trails the flat one (sf0.1 on 4 cores, medians of
    4 runs: 3.98 vs 3.59 s/batch; each bucketed merge is one write job
    however many buckets it touches) because per-batch cost here is
    dominated by the candidate probe + verify joins, which read the
    same state either way — the bucketing saves only the merge
    REWRITE, and a 5k-doc state rewrites in milliseconds. The rewrite
    term grows O(corpus) for flat vs O(touched buckets) for bucketed,
    so the gap the ivm bench shows directly (its state rewrite IS the
    dominant cost) appears here only when the index is large relative
    to a batch — exactly the 100 TB regime. The numbers are reported so the
    crossover claim stays measurable, not asserted."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kube_etl_spark.queries.llm import _neardup_corpus
    from kube_etl_spark.streaming.neardup import NearDupIndex

    root = tempfile.mkdtemp(prefix="bench-neardup-")
    try:
        corpus = _neardup_corpus(spark, sf_dir, limit=10**9).localCheckpoint(
            eager=True
        )
        base = corpus.filter(F.col("doc_id") < 200000)
        trickle = corpus.filter(F.col("doc_id") >= 200000)
        max_id = corpus.agg(F.max("doc_id")).collect()[0][0]
        width = max(1, int(max_id) // 12)
        out: dict[str, float] = {}
        pair_counts: dict[str, int] = {}
        for name, kwargs in [
            ("flat", {}),
            (
                "bucketed",
                dict(bucket_col=F.floor(F.col("doc_id") / width), n_buckets=16),
            ),
        ]:
            idx = NearDupIndex(spark, f"{root}/{name}", **kwargs)
            idx.ingest_batch(base, 0)
            t0 = time.perf_counter()
            for i in range(3):
                batch = trickle.filter(F.col("doc_id") % 3 == i)
                idx.ingest_batch(batch, 1 + i)
            out[f"ingest_per_batch_{name}"] = round(
                (time.perf_counter() - t0) / 3, 4
            )
            pair_counts[name] = idx.pairs_df().count()
        assert pair_counts["flat"] == pair_counts["bucketed"], pair_counts
        # vacuity guard (harness sweep r12): equal-and-ZERO would mean
        # both timed loops ingested without detecting anything — the
        # per-batch walls would measure an empty screen and the equality
        # assert would pass vacuously
        assert pair_counts["flat"] > 0, "neardup bench detected no pairs"
        out["pairs_detected"] = float(pair_counts["flat"])
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _ivm_bench(spark, sf_dir: str) -> dict[str, float]:
    """Materialized-view economics: per-batch maintenance cost of the
    incrementally-maintained orders⋈customer view vs what it buys at
    read time — serving from the maintained view (a parquet read) vs
    recomputing the join from the state tables. Maintenance is
    dominated by the fact-state rewrite (O(state) parquet churn — the
    lakehouse-format upgrade path); the serve gap is the reason the
    view exists."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.matview import MaterializedJoin

    root = tempfile.mkdtemp(prefix="bench-ivm-")
    try:
        orders = load_table(spark, sf_dir, "orders").select(
            F.col("o_orderkey"), F.col("o_custkey"), F.col("o_totalprice")
        )
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        mv = MaterializedJoin(
            StateTable(spark, f"{root}/fact", ["o_orderkey"], "seq"),
            StateTable(spark, f"{root}/dim", ["c_custkey"], "seq"),
            StateTable(spark, f"{root}/view", ["o_orderkey"], "seq"),
            fact_key="o_orderkey",
            fact_fk="o_custkey",
            dim_key="c_custkey",
        )
        mv.apply_dim_batch(cust.withColumn("op", F.lit("upsert")), 1)
        mv.apply_fact_batch(orders.withColumn("op", F.lit("upsert")), 2)
        # steady state: small fact update batches (~1% of orders each)
        t0 = time.perf_counter()
        n_batches = 3
        for i in range(n_batches):
            delta = orders.filter(F.col("o_orderkey") % 97 == i).select(
                "o_orderkey",
                "o_custkey",
                (F.col("o_totalprice") * 1.01).alias("o_totalprice"),
                F.lit("upsert").alias("op"),
            )
            mv.apply_fact_batch(delta, 3 + i)
        maintain_s = round((time.perf_counter() - t0) / n_batches, 4)

        # same maintenance with RANGE-bucketed state and a recent-keys
        # delta (the CDC-trickle shape): the batch lands in one bucket,
        # so only that bucket rewrites — vs the flat table's O(state)
        # churn. (Hash buckets would NOT help here: a uniform batch
        # touches every bucket — see StateTable's docstring.)
        max_key = orders.agg(F.max("o_orderkey")).collect()[0][0]
        width = max(1, int(max_key) // 12)
        rb = F.floor(F.col("o_orderkey") / width)
        mvb = MaterializedJoin(
            StateTable(spark, f"{root}/factb", ["o_orderkey"], "seq", n_buckets=16, bucket_col=rb),
            StateTable(spark, f"{root}/dimb", ["c_custkey"], "seq"),
            StateTable(spark, f"{root}/viewb", ["o_orderkey"], "seq", n_buckets=16, bucket_col=rb),
            fact_key="o_orderkey",
            fact_fk="o_custkey",
            dim_key="c_custkey",
        )
        mvb.apply_dim_batch(cust.withColumn("op", F.lit("upsert")), 1)
        mvb.apply_fact_batch(orders.withColumn("op", F.lit("upsert")), 2)
        t0 = time.perf_counter()
        for i in range(n_batches):
            lo = int(max_key) - (i + 1) * 1500
            delta = orders.filter(
                (F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= lo + 1500)
            ).select(
                "o_orderkey",
                "o_custkey",
                (F.col("o_totalprice") * 1.01).alias("o_totalprice"),
                F.lit("upsert").alias("op"),
            )
            mvb.apply_fact_batch(delta, 3 + i)
        maintain_bucketed_s = round((time.perf_counter() - t0) / n_batches, 4)

        serve_view = _timed(lambda: _materialize(mv.read()), runs=2)
        f, d = mv.fact.read(), mv.dim.read()
        # the recompute is timed in its AT-SCALE regime (both sides too
        # big to broadcast → sort-merge); bench-sf customer would
        # auto-broadcast and hide the join cost the view amortizes —
        # the same regime-isolation the skew bench applies
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            serve_join = _timed(
                lambda: _materialize(
                    f.drop("seq").join(d.drop("seq"), f.o_custkey == d.c_custkey)
                ),
                runs=2,
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        return {
            "maintain_per_batch": maintain_s,
            "maintain_per_batch_bucketed": maintain_bucketed_s,
            "serve_view": serve_view,
            "serve_recompute_join_smj": serve_join,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1).rstrip(".")) if m else None

    from kube_etl_spark.registry import bench_specs
    from kube_etl_spark.session import get_spark

    spark = get_spark("kube-etl-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    specs = sorted(bench_specs().items())
    # one untimed throwaway before the loop so the alphabetically-first
    # headliners stop absorbing JVM JIT / shuffle-service startup in
    # their medians (VERDICT r6 #3) — the flagship agg touches scan,
    # shuffle and codegen, which is exactly what warm-up must prime
    _materialize(specs[0][1].fn(spark, sf_dir))

    timings: dict[str, float] = {}
    warm_steady: dict[str, float] = {}
    for name, spec in specs:
        timings[name] = _timed(lambda: _materialize(spec.fn(spark, sf_dir)))
        if name in _WARM_STEADY:
            warm_steady[name] = _warm_steady(
                lambda: _materialize(spec.fn(spark, sf_dir))
            )

    skew = _skew_bench(spark, sf_dir)
    udf = _udf_bench(spark, sf_dir)
    index = _index_bench(spark, sf_dir)
    ivm = _ivm_bench(spark, sf_dir)
    neardup = _neardup_bench(spark, sf_dir)

    # object-level regression ratios vs the first-measured baselines
    # (only meaningful at the baseline's sf0.1 scale)
    vs_baseline: dict[str, dict[str, float]] = {}
    vs_baseline_queries: dict[str, float] = {}
    if sf == 0.1:
        vs_baseline_queries = {
            n: round(timings[n] / b, 3)
            for n, b in _QUERY_BASELINE.items()
            if timings.get(n)
        }
        measured = {
            "skew": skew,
            "udf": udf,
            "index": index,
            "ivm": ivm,
            "neardup": neardup,
        }
        for obj, base in _OBJECT_BASELINE.items():
            vs_baseline[obj] = {
                k: round(measured[obj][k] / b, 3)
                for k, b in base.items()
                if measured[obj].get(k)
            }

    total = round(sum(timings.values()), 4)
    full = json.dumps(
        {
            "metric": "headline_total_wall",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": sf,
            "vs_baseline": vs_baseline,
            "vs_baseline_queries": vs_baseline_queries,
            "warm_steady": warm_steady,
            "skew": skew,
            "udf": udf,
            "index": index,
            "ivm": ivm,
            "neardup": neardup,
        }
    )
    compact = compact_payload(total, timings, sf, vs_baseline_queries)
    # Output discipline, the product of two parsed:null rounds
    # (VERDICT r5 #1, r6 #1): (a) print only AFTER the JVM is down so
    # nothing Spark-side can interleave; (b) the FINAL stdout line is
    # the compact contract payload, kept under _FINAL_LINE_MAX — the
    # driver records only the last 2,000 chars of stdout and parses the
    # last line, so the full payload goes to bench_full.json and a
    # NON-final line. A stop-time failure must not discard the
    # fully-computed payload — it no longer needs the session.
    try:
        spark.stop()
    except Exception:
        pass
    try:
        # tmp + atomic rename: a disk filling MID-write must leave the
        # previous bench_full.json intact, never a torn JSON file
        tmp = _FULL_OUT + ".tmp"
        with open(tmp, "w") as f:
            f.write(full + "\n")
        os.replace(tmp, _FULL_OUT)
    except OSError:
        # a full/read-only disk must not discard the fully-computed
        # payload — it is duplicated on the non-final stdout line, and
        # the contract line depends on nothing but stdout
        pass
    sys.stdout.flush()
    print(full, flush=True)
    if len(compact) > _FINAL_LINE_MAX:  # pragma: no cover - fenced by test
        # never let the contract line outgrow the tail capture: shed the
        # ratio extras first...
        compact = compact_payload(total, timings, sf, {})
    if len(compact) > _FINAL_LINE_MAX:  # pragma: no cover - fenced by test
        # ...and if the timings dict alone still overflows (ADVICE r7:
        # this stage was promised but unimplemented), ship the bare
        # contract keys — the full per-query map survives on the
        # non-final line and in bench_full.json
        compact = compact_payload(total, {}, sf, {})
    print(compact, flush=True)


if __name__ == "__main__":
    main()
