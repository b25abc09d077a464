#!/usr/bin/env python
"""Scale-truth experiments: re-measure, one order of magnitude above
the fixtures they were tuned on, the constants and sizing rules the
engine still ships. Each flag is the reproducer of one measured table
in docs/architecture.md, and a code comment cites that result:

  --lsh          q_dedup_fuzzy's banding recall and lsh_estimate_verify's
                 EST_PRUNE=0.28 margin (queries/llm.py, §"Scale-truthed
                 constants (round 5)").
  --ivf          knn_ivf's k≈√n / nprobe sizing: top-1 recall is governed
                 by nprobe/k, not by an absolute nprobe (same section).
  --incremental  incremental_screen / screen_postings' df_cap valve:
                 lossless at cap=100 on a clean corpus (same section).
  --boilerplate  the capped-vocabulary size recount in screen_postings
                 and the fixture df_cap=30 (§round 6).
  --mediasim     media.simhash_screen's 32-bit width, 4×16-bit bands and
                 Hamming d≤4 threshold (§round 7b).
  --simprobe     the binary index's band_buckets probe sizing behind
                 run_neardup --buckets N (§round 8).
  --semprobe     semdedup's cell_buckets probe curve behind the semantic
                 --buckets (§round 9).

Every corpus is a deterministic amplification of the sf0.1 fixtures
(no RNG: all pseudo-randomness is xxhash64 of ids, so a rerun
reproduces the exact corpus). A scale-truth section in
docs/architecture.md whose flag is not listed here names the commit
that has its reproducer; tests pin the semantics it measured.

    python jobs/scale_truth.py --lsh --ivf [--replicas N] [--json out]
"""

from __future__ import annotations

import argparse
import json
import math
import sys
import time


def _spark():
    from kube_etl_spark.session import get_spark

    return get_spark(app_name="scale-truth")


# ---------------------------------------------------------------------------
# LSH: pair recall at the J=0.5 output boundary, >=50k docs
# ---------------------------------------------------------------------------

# graded junk-suffix lengths (fraction of the doc's own token count):
# J ≈ s/(s+m') for s base shingles and m' junk shingles, so these land
# true J roughly at .88/.72/.59/.50/.41/.30 — brackets the boundary
_FRACS = (0.12, 0.38, 0.68, 1.0, 1.45, 2.3)
_DUP_OFF = 500_000  # injected dup id = replica_base + orig + _DUP_OFF
_REP_OFF = 1_000_000  # replica i ids live at i*_REP_OFF


def lsh_experiment(spark, sf_dir: str, replicas: int) -> dict:
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.queries.llm import (
        _shingles,
        _tokens,
        lsh_bands,
        lsh_candidates,
        lsh_estimate_verify,
        minhash_signatures,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # per-replica consonant rotation: replica i maps each consonant j
    # places down the ring, so cross-replica shingle overlap collapses
    cons = "bcdfghjklmnpqrstvwxz"
    reps = []
    for i in range(replicas):
        rot = cons[i % len(cons) :] + cons[: i % len(cons)]
        reps.append(
            docs.select(
                (F.col("doc_id") + i * _REP_OFF).alias("doc_id"),
                F.translate("text", cons, rot).alias("text"),
            )
        )
    base = reps[0]
    for r in reps[1:]:
        base = base.unionByName(r)

    # inject near-dups: every 20th doc gets a copy with a junk-token
    # suffix whose length (as a fraction of the doc's tokens) cycles
    # through _FRACS — deterministic junk from xxhash64(doc_id, j)
    frac = F.element_at(
        F.array(*[F.lit(x) for x in _FRACS]),
        ((F.col("doc_id") % _REP_OFF) / 20 % len(_FRACS) + 1).cast("int"),
    )
    m = F.greatest(
        F.lit(1), F.ceil(frac * F.size(F.split(F.col("text"), " "))).cast("int")
    )
    junk = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), m),
            lambda j: F.concat(
                F.lit("q"), (F.abs(F.xxhash64(F.col("doc_id"), j)) % 999983).cast("string")
            ),
        ),
    )
    dups = (
        base.filter((F.col("doc_id") % _REP_OFF) % 20 == 0)
        .select(
            (F.col("doc_id") + _DUP_OFF).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" "), junk).alias("text"),
        )
    )
    corpus = base.unionByName(dups).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    n_docs = corpus.count()

    # ground truth: exact 3-gram Jaccard for each injected pair ONLY
    # (pair ids are known by construction — no O(n^2) scan)
    sh = corpus.select("doc_id", _shingles(_tokens(F.col("text"))).alias("s"))
    truth = (
        sh.filter(F.col("doc_id") % _REP_OFF >= _DUP_OFF)
        .select(
            (F.col("doc_id") - _DUP_OFF).alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.col("s").alias("sb"),
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa")),
            "doc_a",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / F.size(F.array_union("sa", "sb"))
            ).alias("true_j"),
        )
    )
    truth_rows = {(r["doc_a"], r["doc_b"]): r["true_j"] for r in truth.collect()}

    # the pipeline q_dedup_fuzzy runs, through its shared stages
    t0 = time.time()
    sig = minhash_signatures(corpus).localCheckpoint(eager=True)
    cand = lsh_candidates(lsh_bands(sig)).localCheckpoint(eager=True)
    n_cand = cand.count()
    final = lsh_estimate_verify(cand, sig)
    final_pairs = {(r["doc_a"], r["doc_b"]) for r in final.collect()}
    wall = time.time() - t0
    cand_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in cand.join(
            truth.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_semi"
        ).collect()
    }

    # bucket the injected pairs by true J and score the tiers
    from collections import defaultdict

    buckets: dict[float, dict] = defaultdict(
        lambda: {"n": 0, "band_hit": 0, "final_hit": 0, "est_lost": 0}
    )
    for pair, j in truth_rows.items():
        bkt = round(math.floor(j * 20) / 20, 2)  # 0.05-wide buckets
        s = buckets[bkt]
        s["n"] += 1
        in_band = pair in cand_pairs
        s["band_hit"] += in_band
        if j >= 0.5:
            s["final_hit"] += pair in final_pairs
            s["est_lost"] += in_band and pair not in final_pairs
    out = {}
    for bkt in sorted(buckets):
        s = buckets[bkt]
        row = {
            "n_pairs": s["n"],
            "band_recall": round(s["band_hit"] / s["n"], 4),
            "band_theory": round(1 - (1 - bkt**4) ** 8, 4),
        }
        if bkt >= 0.5:
            row["final_recall"] = round(s["final_hit"] / s["n"], 4)
            row["est_tier_losses"] = s["est_lost"]
        out[str(bkt)] = row
    return {
        "n_docs": n_docs,
        "n_injected_pairs": len(truth_rows),
        "n_candidates": n_cand,
        "pipeline_wall_s": round(wall, 2),
        "buckets": out,
    }


# ---------------------------------------------------------------------------
# Incremental screen: inverted-index dedup of a new batch vs >=50k corpus
# ---------------------------------------------------------------------------


def incremental_experiment(spark, sf_dir: str, replicas: int) -> dict:
    """Scale-truth for q_dedup_incremental's inverted-index screen
    (round 5): at replicas x 5,000 corpus docs, (a) the screen must
    stay LOSSLESS — every injected pair with true 3-gram J >= 0.5 must
    surface as is_dup on the increment side; (b) novel docs (disjoint
    consonant rotation) must stay clean; (c) the hot-shingle DF
    distribution and the effect of the df_cap skew valve are measured:
    candidate reduction bought vs true pairs lost (claimed ~zero at
    cap=100 because near-dup pairs share many RARE shingles, not only
    boilerplate)."""
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.queries.llm import (
        _shingles,
        _tokens,
        incremental_screen,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cons = "bcdfghjklmnpqrstvwxz"
    reps = []
    for i in range(replicas):
        rot = cons[i % len(cons) :] + cons[: i % len(cons)]
        reps.append(
            docs.select(
                (F.col("doc_id") + i * _REP_OFF).alias("doc_id"),
                F.translate("text", cons, rot).alias("text"),
            )
        )
    corpus = reps[0]
    for r in reps[1:]:
        corpus = corpus.unionByName(r)
    corpus = corpus.repartition(spark.sparkContext.defaultParallelism, "doc_id")

    # increment = graded near-dups of every 20th corpus doc (junk
    # suffix, the LSH experiment's injection) + novel docs on an UNUSED
    # rotation (replicas+7) that share ~no shingles with any replica
    frac = F.element_at(
        F.array(*[F.lit(x) for x in _FRACS]),
        ((F.col("doc_id") % _REP_OFF) / 20 % len(_FRACS) + 1).cast("int"),
    )
    m = F.greatest(
        F.lit(1), F.ceil(frac * F.size(F.split(F.col("text"), " "))).cast("int")
    )
    junk = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), m),
            lambda j: F.concat(
                F.lit("q"), (F.abs(F.xxhash64(F.col("doc_id"), j)) % 999983).cast("string")
            ),
        ),
    )
    dups = corpus.filter((F.col("doc_id") % _REP_OFF) % 20 == 0).select(
        (F.col("doc_id") + _DUP_OFF).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" "), junk).alias("text"),
    )
    # the novel rotation must be DISJOINT from every corpus replica's
    # rotation (used set = {i % len(cons)}): a collision would make the
    # "novel" docs byte-identical to a replica and invalidate the
    # false-positive metric. With replicas < len(cons) an unused
    # rotation always exists; beyond that the metric is undefined.
    if replicas >= len(cons):
        raise ValueError(
            f"--replicas must be < {len(cons)} so a disjoint novel rotation exists"
        )
    used = {i % len(cons) for i in range(replicas)}
    nrot = next(r for r in range(1, len(cons)) if r not in used)
    novel_rot = cons[nrot:] + cons[:nrot]
    novels = docs.select(
        (F.col("doc_id") + (replicas + 7) * _REP_OFF).alias("doc_id"),
        F.translate("text", cons, novel_rot).alias("text"),
    )
    inc = dups.unionByName(novels).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )

    cs = corpus.select(
        F.col("doc_id").alias("cid"),
        _shingles(_tokens(F.col("text"))).alias("s"),
    )
    ix = inc.select(
        F.col("doc_id").alias("iid"), _shingles(_tokens(F.col("text"))).alias("s")
    )
    cs = cs.localCheckpoint(eager=True)
    ix = ix.localCheckpoint(eager=True)
    n_corpus, n_inc = cs.count(), ix.count()

    # ground truth: exact J of each injected (base, dup) pair
    truth = (
        ix.filter(F.col("iid") % _REP_OFF >= _DUP_OFF)
        .select((F.col("iid") - _DUP_OFF).alias("cid"), F.col("iid"), F.col("s").alias("sb"))
        .join(cs.select("cid", F.col("s").alias("sa")), "cid")
        .select(
            "iid",
            "cid",
            (
                F.size(F.array_intersect("sa", "sb")).cast("double")
                / F.size(F.array_union("sa", "sb"))
            ).alias("true_j"),
        )
    )
    truth_rows = {r["iid"]: (r["cid"], r["true_j"]) for r in truth.collect()}
    true_dups = {i for i, (_, j) in truth_rows.items() if j >= 0.5}

    # corpus shingle DF distribution (the skew profile the cap targets)
    df_stats = (
        cs.select(F.explode("s").alias("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.max("df").alias("max_df"),
            F.expr("percentile(df, 0.99)").alias("p99_df"),
            F.count_if(F.col("df") > 100).alias("n_hot_over_100"),
        )
        .collect()[0]
    )

    def run(df_cap):
        t0 = time.time()
        verdicts = {
            r["inc_doc_id"]: (r["is_dup"], r["best_j"])
            for r in incremental_screen(cs, ix, df_cap=df_cap).collect()
        }
        wall = time.time() - t0
        found = {i for i, (d, _) in verdicts.items() if d}
        lost_true = sorted(true_dups - found)
        novel_fp = sum(
            1 for i, (d, _) in verdicts.items() if d and i % _REP_OFF < _DUP_OFF
        )
        return wall, verdicts, lost_true, novel_fp

    wall, verdicts, lost_true, novel_fp = run(None)
    wall_cap, _, lost_cap, novel_fp_cap = run(100)
    # stress the valve at p99: the synthetic corpus has NO boilerplate
    # (max DF 70 — every shingle is rarer than a production cap would
    # cut), so cap=100 is a no-op here; capping at the p99 DF is the
    # aggressive setting that shows what over-capping costs
    p99_cap = int(df_stats["p99_df"])
    wall_p99, _, lost_p99, novel_fp_p99 = run(p99_cap)

    return {
        "n_corpus": n_corpus,
        "n_increment": n_inc,
        "n_injected_pairs": len(truth_rows),
        "n_true_dups_j50": len(true_dups),
        "exact": {
            "wall_s": round(wall, 2),
            "lost_true_pairs": len(lost_true),
            "novel_false_positives": novel_fp,
        },
        "df_cap_100": {
            "wall_s": round(wall_cap, 2),
            "lost_true_pairs": len(lost_cap),
            "novel_false_positives": novel_fp_cap,
        },
        f"df_cap_p99_{p99_cap}": {
            "wall_s": round(wall_p99, 2),
            "lost_true_pairs": len(lost_p99),
            "novel_false_positives": novel_fp_p99,
        },
        "shingle_df": {
            "n_shingles": df_stats["n_shingles"],
            "max_df": df_stats["max_df"],
            "p99_df": float(df_stats["p99_df"]),
            "n_hot_over_100": df_stats["n_hot_over_100"],
        },
    }


# ---------------------------------------------------------------------------
# IVF: top-1 recall vs nprobe at k ≈ sqrt(n), >=30k vectors
# ---------------------------------------------------------------------------


def ivf_experiment(spark, sf_dir: str, replicas: int) -> dict:
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.queries.llm import _dot, _kmeans_centroids, assign_cells

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # replicas with deterministic per-dimension perturbation (±0.035):
    # keeps the fixture's cluster structure while making every vector
    # distinct — the dense near-dup clumps a real corpus has
    reps = []
    for i in range(replicas):
        pert = F.zip_with(
            F.col("v"),
            F.sequence(F.lit(0), F.size("v") - 1),
            lambda x, d: x
            + ((F.abs(F.xxhash64(F.col("vec_id"), F.lit(i), d)) % 1000) / 1000.0 - 0.5)
            * 0.07,
        )
        reps.append(
            emb.select(
                (F.col("vec_id") + i * _REP_OFF).alias("vec_id"),
                (pert if i else F.col("v")).alias("v"),
            )
        )
    corpus = reps[0]
    for r in reps[1:]:
        corpus = corpus.unionByName(r)
    corpus = corpus.repartition(spark.sparkContext.defaultParallelism, "vec_id")
    corpus = corpus.withColumn("norm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    corpus = corpus.withColumn(
        "vn", F.transform(F.col("v"), lambda x: x / F.col("norm"))
    ).localCheckpoint(eager=True)
    n = corpus.count()
    k = int(round(math.sqrt(n)))

    t0 = time.time()
    cents = _kmeans_centroids(
        spark, corpus.select("vec_id", F.col("vn").alias("v")), k=k
    )
    train_wall = time.time() - t0
    lists = assign_cells(
        corpus.select("vec_id", "vn"), cents, n=1, vec_col="vn"
    ).localCheckpoint(eager=True)

    # query sample: 200 deterministic vectors; ground truth by brute
    # force (cosine == dot on the normalized column)
    # pure-id selection: how many ids the predicate admits depends on
    # n — 28 at sf0.001 with --replicas 2 (4,000 vectors), 55 there at
    # the default --replicas 10 (8,000), 228 at sf0.1 (32,000) — so the
    # limit binds only at sf0.1 and smaller runs measure recall over
    # n_queries < 200 queries. The orderBy pins WHICH 200 survive
    # regardless of partition layout or defaultParallelism — a bare
    # .limit(200) on a distributed frame returns whichever partitions
    # answer first and broke the module's "reruns reproduce the exact
    # corpus" claim (ADVICE r5)
    q = (
        corpus.filter(F.col("vec_id") % (n // 200 * 7 + 1) % 157 == 3)
        .orderBy("vec_id")
        .limit(200)
    )
    q = q.select(F.col("vec_id").alias("qid"), F.col("vn").alias("qv"))
    n_q = q.count()
    from pyspark.sql import Window

    cos = _dot(F.col("qv"), F.col("vn"))
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    # two difficulty regimes from one corpus:
    #   easy  — true NN anywhere (usually the query's own perturbed
    #           replica twin, cosine ≈ .98: the near-dup-dense case);
    #   cross — true NN restricted to a DIFFERENT original vector
    #           (replica family excluded): the diffuse case where the
    #           neighbor can sit across a cell boundary.
    fam_excl = (F.col("qid") % _REP_OFF) != (F.col("vec_id") % _REP_OFF)
    scored = (
        q.crossJoin(corpus.select("vec_id", "vn"))
        .filter(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", cos.alias("cos"), fam_excl.alias("x"))
        .localCheckpoint(eager=True)
    )
    truth = {
        r["qid"]: r["vec_id"]
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    truth_x = {
        r["qid"]: r["vec_id"]
        for r in scored.filter("x")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }

    results = {}
    for nprobe in (1, 2, 4, 8, 16, 32, int(round(k / 4))):
        t0 = time.time()
        probes = assign_cells(
            q.select(F.col("qid").alias("vec_id"), F.col("qv").alias("vn")),
            cents,
            n=nprobe,
            vec_col="vn",
        ).select(F.col("vec_id").alias("qid"), "vn", "centroid_id")
        scored_p = (
            probes.withColumnRenamed("vn", "qv")
            .join(lists.select("vec_id", "vn", "centroid_id"), "centroid_id")
            .filter(F.col("qid") != F.col("vec_id"))
            .select("qid", "vec_id", cos.alias("cos"), fam_excl.alias("x"))
            .localCheckpoint(eager=True)
        )
        got = {
            r["qid"]: r["vec_id"]
            for r in scored_p.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .collect()
        }
        got_x = {
            r["qid"]: r["vec_id"]
            for r in scored_p.filter("x")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .collect()
        }
        rec = sum(1 for qid, v in truth.items() if got.get(qid) == v) / len(truth)
        rec_x = sum(1 for qid, v in truth_x.items() if got_x.get(qid) == v) / len(
            truth_x
        )
        results[str(nprobe)] = {
            "recall_at_1": round(rec, 4),
            "recall_at_1_cross": round(rec_x, 4),
            "nprobe_over_k": round(nprobe / k, 4),
            "probe_wall_s": round(time.time() - t0, 2),
        }
    return {
        "n_vectors": n,
        "k": k,
        "n_queries": n_q,
        "kmeans_wall_s": round(train_wall, 2),
        "by_nprobe": results,
    }


def boilerplate_experiment(spark, sf_dir: str, replicas: int) -> dict:
    """VERDICT r5 #7: the DF-cap valve measured on a corpus WITH real
    boilerplate — the r5 run documented the valve as untestable on the
    clean synthetic corpus (max DF 70: no shingle a production cap
    would cut). Here a fixed 40-token template preamble (ToS/cookie-
    banner shape) is prepended to 70% of corpus docs (doc_id % 10 < 7),
    so its shingles carry DF ≈ 0.7·n_corpus ≫ cap. Measured claims:

      (a) candidate-pair reduction — boilerplate-only overlaps dominate
          the uncapped candidate set (every preambled increment doc is
          a candidate against every preambled corpus doc); cap=100
          must cut candidates by an order of magnitude;
      (b) the cap trades FULL-TEXT losslessness for CONTENT semantics,
          and the trade must be measured with a DUAL truth: J_full
          (preamble included) and J_content (preamble stripped). On
          short docs a shared 40-token preamble alone pushes J_full
          past 0.5, so the exact screen must find every J_full ≥ 0.5
          pair INCLUDING unrelated docs that share only boilerplate
          (those are not false positives — they really are near-dups
          of their boilerplate); the capped screen must find every
          J_content ≥ 0.5 pair and flag ZERO boilerplate-only docs.
          Production wants the capped semantics — nobody dedups a
          corpus down to one cookie banner.
    """
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.queries.llm import _shingles, _tokens, incremental_screen

    boiler = (
        "this site uses cookies to improve your experience by continuing "
        "to browse you agree to our terms of service and privacy policy "
        "all rights reserved unauthorized reproduction is prohibited "
        "contact support for questions about your account and settings"
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cons = "bcdfghjklmnpqrstvwxz"
    if replicas >= len(cons):
        raise ValueError(f"--replicas must be < {len(cons)}")
    reps = []
    for i in range(replicas):
        rot = cons[i % len(cons) :] + cons[: i % len(cons)]
        reps.append(
            docs.select(
                (F.col("doc_id") + i * _REP_OFF).alias("doc_id"),
                F.translate("text", cons, rot).alias("text"),
            )
        )
    corpus = reps[0]
    for r in reps[1:]:
        corpus = corpus.unionByName(r)
    # template injection: 70% of docs open with the SAME preamble
    # (deterministic membership so reruns reproduce the exact corpus)
    preambled = (F.col("doc_id") % 10) < 7
    corpus = corpus.select(
        "doc_id",
        F.when(preambled, F.concat(F.lit(boiler + " "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    ).repartition(spark.sparkContext.defaultParallelism, "doc_id")

    # increment: junk-suffix near-dups of every 20th corpus doc (they
    # inherit the preamble) + novel docs on an unused rotation, ALSO
    # 70% preambled — the boilerplate-only-overlap FP pressure case
    frac = F.element_at(
        F.array(*[F.lit(x) for x in _FRACS]),
        ((F.col("doc_id") % _REP_OFF) / 20 % len(_FRACS) + 1).cast("int"),
    )
    m = F.greatest(
        F.lit(1), F.ceil(frac * F.size(F.split(F.col("text"), " "))).cast("int")
    )
    junk = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), m),
            lambda j: F.concat(
                F.lit("q"), (F.abs(F.xxhash64(F.col("doc_id"), j)) % 999983).cast("string")
            ),
        ),
    )
    dups = corpus.filter((F.col("doc_id") % _REP_OFF) % 20 == 0).select(
        (F.col("doc_id") + _DUP_OFF).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" "), junk).alias("text"),
    )
    used = {i % len(cons) for i in range(replicas)}
    nrot = next(r for r in range(1, len(cons)) if r not in used)
    novel_rot = cons[nrot:] + cons[:nrot]
    novels = docs.select(
        (F.col("doc_id") + (replicas + 7) * _REP_OFF).alias("doc_id"),
        F.translate("text", cons, novel_rot).alias("text"),
    ).select(
        "doc_id",
        F.when(preambled, F.concat(F.lit(boiler + " "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    inc = dups.unionByName(novels).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )

    cs = corpus.select(
        F.col("doc_id").alias("cid"), _shingles(_tokens(F.col("text"))).alias("s")
    ).localCheckpoint(eager=True)
    ix = inc.select(
        F.col("doc_id").alias("iid"), _shingles(_tokens(F.col("text"))).alias("s")
    ).localCheckpoint(eager=True)
    n_corpus, n_inc = cs.count(), ix.count()

    # dual ground truth: J over the full text AND J over the content
    # with the (known, fixed) preamble stripped — the latter is what a
    # data owner means by "duplicate" on a boilerplated corpus
    strip = lambda c: F.when(  # noqa: E731
        c.startswith(boiler + " "), F.substring(c, len(boiler) + 2, 2**30)
    ).otherwise(c)
    csc = corpus.select(
        F.col("doc_id").alias("cid"),
        _shingles(_tokens(strip(F.col("text")))).alias("sa_c"),
    )
    ixc = inc.select(
        F.col("doc_id").alias("iid"),
        _shingles(_tokens(strip(F.col("text")))).alias("sb_c"),
    )
    jac = lambda a, b: (  # noqa: E731
        F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))
    )
    truth = (
        ix.filter(F.col("iid") % _REP_OFF >= _DUP_OFF)
        .select((F.col("iid") - _DUP_OFF).alias("cid"), F.col("iid"), F.col("s").alias("sb"))
        .join(cs.select("cid", F.col("s").alias("sa")), "cid")
        .join(csc, "cid")
        .join(ixc, "iid")
        .select(
            "iid",
            jac(F.col("sa"), F.col("sb")).alias("j_full"),
            jac(F.col("sa_c"), F.col("sb_c")).alias("j_content"),
        )
    )
    rows = truth.collect()
    true_full = {r["iid"] for r in rows if r["j_full"] >= 0.5}
    true_content = {r["iid"] for r in rows if r["j_content"] >= 0.5}

    from kube_etl_spark.queries.llm import screen_postings

    df_stats = (
        cs.select("cid", F.explode("s").alias("sh"))
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(
            F.max("df").alias("max_df"),
            F.count_if(F.col("df") > 100).alias("n_hot_over_100"),
        )
        .collect()[0]
    )
    ixz = ix.select("iid", "s", F.size("s").alias("na"))

    def n_candidates(df_cap):
        # the EXACT candidate stage the screen runs (shared helper), so
        # the published reduction constants describe executed code
        pi, pc = screen_postings(cs, ixz, df_cap)
        return pi.join(pc, "sh").select("iid", "cid").distinct().count()

    def run(df_cap):
        t0 = time.time()
        verdicts = {
            r["inc_doc_id"]: r["is_dup"]
            for r in incremental_screen(cs, ix, df_cap=df_cap).collect()
        }
        wall = time.time() - t0
        found = {i for i, d in verdicts.items() if d}
        novel_flagged = sum(1 for i in found if i % _REP_OFF < _DUP_OFF)
        return {
            "wall_s": round(wall, 2),
            "lost_full_j50": len(true_full - found),
            "lost_content_j50": len(true_content - found),
            # exact-mode flags of novel docs are boilerplate-carried
            # real J ≥ 0.5 matches, not false positives; under the cap
            # this must drop to zero
            "novel_docs_flagged": novel_flagged,
        }

    cand_exact = n_candidates(None)
    cand_cap = n_candidates(100)
    return {
        "n_corpus": n_corpus,
        "n_increment": n_inc,
        "n_true_full_j50": len(true_full),
        "n_true_content_j50": len(true_content),
        "boiler_share": 0.7,
        "max_df": df_stats["max_df"],
        "n_hot_over_100": df_stats["n_hot_over_100"],
        "candidates_exact": cand_exact,
        "candidates_cap_100": cand_cap,
        "candidate_reduction": round(1 - cand_cap / cand_exact, 4) if cand_exact else 0.0,
        "exact": run(None),
        "df_cap_100": run(100),
    }


def mediasim_experiment(spark, sf_dir: str, replicas: int) -> dict:
    """Scale-truth for the binary-payload SimHash screen (media.
    simhash_screen, round 7 — shared with q_media_neardup so these
    constants apply to the code the query runs). Corpus: documents ×
    replicas, each replica's payload prefixed with a distinct marker
    (no accidental exact dups); ground truth: every 25th payload gets a
    planted variant with a 3-byte tail append (the EXIF-style
    perturbation). Measured: wall, band-candidate count vs the
    all-pairs space, planted recall at the shipped Hamming ≤ 4
    threshold (and ≤ 3 for the curve), and the pair-provenance split —
    replicas of the same source doc differ only in a 3-byte prefix, so
    same-source hits are GENUINE near-dups; only cross-source hits are
    chance. This run is what chose the shipped design: the 16-bit/2-band
    prototype measured recall .92 but 12.1M candidates with 4.55M
    cross-source junk; 32-bit/4-band cut candidates 43× and junk ~300×
    (docs/architecture.md §round-7 tabulates all variants).

    The candidate set is obtained by running the screen at
    hamming_max=32 (no filter) — same code path, thresholds applied
    afterwards in plain arithmetic."""
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.media import byte_jaccard_verify, simhash_screen

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.withColumn(
        "__r", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1)))
    ).select(
        (F.col("doc_id") * replicas + F.col("__r")).alias("media_id"),
        F.concat(
            F.lit("r"), F.col("__r").cast("string"), F.lit(" "), F.col("text")
        ).alias("text"),
    )
    planted = base.filter(F.col("media_id") % 25 == 0).select(
        (F.col("media_id") + 10_000_000).alias("media_id"),
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
    )
    payloads = (
        base.unionByName(planted)
        .select("media_id", F.encode("text", "utf-8").alias("payload"))
        .localCheckpoint(eager=True)
    )
    n = payloads.count()
    n_planted = payloads.filter(F.col("media_id") >= 10_000_000).count()

    t0 = time.time()
    cand = simhash_screen(payloads, hamming_max=32).localCheckpoint(eager=True)
    n_cand = cand.count()
    wall = round(time.time() - t0, 2)

    def _src(col: str):
        mid = F.col(col)
        base_id = F.when(mid >= 10_000_000, mid - 10_000_000).otherwise(mid)
        return (base_id / replicas).cast("bigint")

    is_planted = (F.col("media_b") >= 10_000_000) & (
        F.col("media_b") - 10_000_000 == F.col("media_a")
    )
    hits = cand.filter(F.col("hamming") <= 4)
    n_hits = hits.count()
    n_planted_found = hits.filter(is_planted).count()
    n_same_source = hits.filter(
        ~is_planted & (_src("media_a") == _src("media_b"))
    ).count()
    n_planted_le3 = cand.filter(is_planted & (F.col("hamming") <= 3)).count()
    # missed planted pairs: candidates whose hamming exceeded the
    # threshold vs pairs banding never surfaced at all
    planted_h_gt = cand.filter(is_planted & (F.col("hamming") > 4)).count()

    # the VERIFY stage (byte_jaccard_verify) on the screen's verdicts:
    # candidate-pair-sized work that should erase the chance pairs and
    # keep every planted/same-source pair (tail/prefix edits leave
    # byte-shingle J >= ~0.9)
    t0 = time.time()
    ver = byte_jaccard_verify(hits, payloads, 5000).localCheckpoint(eager=True)
    n_ver = ver.count()
    verify_wall = round(time.time() - t0, 2)
    ver_planted = ver.filter(is_planted).count()
    ver_same = ver.filter(~is_planted & (_src("media_a") == _src("media_b"))).count()
    return {
        "payloads": n,
        "planted_pairs": n_planted,
        "wall_s": wall,
        "all_pairs_space": n * (n - 1) // 2,
        "band_candidates": n_cand,
        "candidate_share": round(n_cand / (n * (n - 1) / 2), 6),
        "pairs_hamming_le4": n_hits,
        "planted_found_le4": n_planted_found,
        "recall_planted_le4": round(n_planted_found / n_planted, 4),
        "recall_planted_le3": round(n_planted_le3 / n_planted, 4),
        "planted_candidate_but_h_gt4": planted_h_gt,
        "planted_not_candidates": n_planted - n_planted_found - planted_h_gt,
        "same_source_pairs_le4": n_same_source,
        "cross_source_pairs_le4": n_hits - n_planted_found - n_same_source,
        "verify_wall_s": verify_wall,
        "verified_pairs": n_ver,
        "verified_planted": ver_planted,
        "verified_same_source": ver_same,
        "verified_cross_source": n_ver - ver_planted - ver_same,
    }


def _layout_pairs(flat, pruned) -> tuple[int, bool]:
    """(pair count, flat ≡ pruned pair sets) for a probe experiment's
    two layouts. Equality at zero pairs proves nothing about the probe
    swap, so an empty pair set fails the run instead of reporting it."""
    got = {tuple(r) for r in flat.pairs_df().collect()}
    if not got:
        raise AssertionError(
            "vacuous run: the flat layout detected no pairs, so layout "
            "equality is trivially true — raise --replicas"
        )
    return len(got), got == {tuple(r) for r in pruned.pairs_df().collect()}


def simprobe_experiment(
    spark, sf_dir: str, replicas: int, band_buckets: int = 256
) -> dict:
    """Scale-truth for the EXECUTED point-lookup probe swap (VERDICT r7
    #3, streaming/simdup.py): an established ~52k-payload binary index,
    then small trickle batches — the steady-state regime — ingested
    into (a) the flat layout, whose probe reads the WHOLE band index
    every batch, and (b) the value-bucketed layout
    (band_buckets=256 here; size ≳ 8·batch in production), whose probe
    reads only the batch's band-key bucket dirs.

    Measured per trickle batch: buckets touched, band-index rows the
    pruned probe actually read (post-hoc re-read of the recorded bucket
    list — IO, not wall, is the scale quantity; local per-dir overhead
    dominates wall at this dir count), the flat probe's corpus-sized
    row count read at the same point, and pair-set equality between
    the two layouts (the swap must be output-invisible).

    Expectation: pruned probe rows ∝ min(4·batch, band_buckets)/
    band_buckets of the index — i.e. ∝ batch for small batches — while
    the flat probe stays ∝ corpus. The 125 held-out trickle ids are a
    bounded driver-side pick (sorted head of the planted set)."""
    import tempfile

    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.simdup import SimDupIndex

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.withColumn(
        "__r", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1)))
    ).select(
        (F.col("doc_id") * replicas + F.col("__r")).alias("media_id"),
        F.concat(
            F.lit("r"), F.col("__r").cast("string"), F.lit(" "), F.col("text")
        ).alias("text"),
    )
    planted = base.filter(F.col("media_id") % 25 == 0).select(
        (F.col("media_id") + 10_000_000).alias("media_id"),
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
    )
    payloads = (
        base.unionByName(planted)
        .select("media_id", F.encode("text", "utf-8").alias("payload"))
        .localCheckpoint(eager=True)
    )
    held = [
        r["media_id"]
        for r in planted.select("media_id").orderBy("media_id").limit(125).collect()
    ]
    batches = [held[:5], held[5:25], held[25:125]]
    seed = payloads.filter(~F.col("media_id").isin(held)).localCheckpoint(eager=True)

    root = tempfile.mkdtemp(prefix="simprobe-")
    flat = SimDupIndex(spark, f"{root}/flat")
    pruned = SimDupIndex(
        spark,
        f"{root}/pruned",
        bucket_col=F.pmod(F.xxhash64("media_id"), F.lit(32)),
        n_buckets=32,
        band_buckets=band_buckets,
    )

    t0 = time.time()
    flat.ingest_batch(seed, 1)
    seed_flat_s = round(time.time() - t0, 2)
    t0 = time.time()
    pruned.ingest_batch(seed, 1)
    seed_pruned_s = round(time.time() - t0, 2)

    probe_log: list = []
    orig_read = StateTable.read

    def spy(self, buckets=None):
        if self.path.endswith("pruned/bands") and buckets is not None:
            probe_log.append(list(buckets))
        return orig_read(self, buckets)

    rows = []
    try:
        StateTable.read = spy
        for i, ids in enumerate(batches):
            b = payloads.filter(F.col("media_id").isin(ids))
            t0 = time.time()
            flat.ingest_batch(b, 2 + i)
            w_flat = round(time.time() - t0, 2)
            # the whole index after this batch's merge: the same point
            # the pruned buckets are re-read at below
            index_rows = flat.bands.read().count()
            probe_log.clear()
            t0 = time.time()
            pruned.ingest_batch(b, 2 + i)
            w_pruned = round(time.time() - t0, 2)
            probe_buckets = probe_log[0] if probe_log else []
            probe_rows = (
                orig_read(pruned.bands, probe_buckets).count() if probe_buckets else 0
            )
            assert probe_rows <= index_rows, (probe_rows, index_rows)
            rows.append(
                {
                    "batch_payloads": len(ids),
                    "buckets_touched": len(probe_buckets),
                    "probe_rows_pruned": probe_rows,
                    "probe_rows_flat": index_rows,
                    "probe_share": round(probe_rows / index_rows, 4),
                    "wall_flat_s": w_flat,
                    "wall_pruned_s": w_pruned,
                }
            )
    finally:
        StateTable.read = orig_read

    pairs, pairs_equal = _layout_pairs(flat, pruned)
    return {
        "corpus_payloads": payloads.count() - len(held),
        "band_index_rows": index_rows,
        "band_buckets": band_buckets,
        "seed_ingest_flat_s": seed_flat_s,
        "seed_ingest_pruned_s": seed_pruned_s,
        "trickle": rows,
        "pairs": pairs,
        "pairs_equal": pairs_equal,
    }


def semprobe_experiment(spark, sf_dir: str, replicas: int) -> dict:
    """Scale-truth for semdedup's CELL-BUCKETED probe (VERDICT r8 #2:
    the two-table swap landed in r8 with differential tests; this is
    its measured execution, matching what simdup/neardup got in r8's
    --simprobe): an established ~8k-vector index over frozen IVF
    cells, then small trickle batches — the steady-state regime —
    ingested into (a) the flat layout, whose probe reads the WHOLE
    member table every batch, and (b) the cell-bucketed layout
    (members bucketed BY centroid_id; vectors in 32 id-hash buckets
    for changed-detection), whose probe reads only the batch's
    touched cells.

    Measured per trickle batch: cells/vec-buckets touched, member rows
    the pruned probe actually read (post-hoc re-read of the recorded
    bucket lists — IO, not wall, is the scale quantity; local per-dir
    overhead dominates wall at this dir count, same caveat as
    --simprobe), the flat probe's corpus-sized member count read at
    the same point, and pair-set equality between the layouts (the
    swap must be output-invisible).

    Expectation: pruned probe rows ∝ the batch's touched cells (top-2
    fan-out ⇒ ≤ 2·batch cells of ~2n/k members each), while the flat
    probe stays ∝ corpus."""
    import tempfile

    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.queries.llm import _dot, _kmeans_centroids
    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.semdedup import SemanticDedupIndex

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # same corpus construction as --ivf: replicas with deterministic
    # per-dimension perturbation keep the fixture's cluster structure
    # while making every vector distinct
    reps = []
    for i in range(replicas):
        pert = F.zip_with(
            F.col("v"),
            F.sequence(F.lit(0), F.size("v") - 1),
            lambda x, d: x
            + ((F.abs(F.xxhash64(F.col("vec_id"), F.lit(i), d)) % 1000) / 1000.0 - 0.5)
            * 0.07,
        )
        reps.append(
            emb.select(
                (F.col("vec_id") + i * _REP_OFF).alias("vec_id"),
                (pert if i else F.col("v")).alias("v"),
            )
        )
    corpus = reps[0]
    for r in reps[1:]:
        corpus = corpus.unionByName(r)
    corpus = corpus.repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    ).localCheckpoint(eager=True)
    n = corpus.count()
    k = int(round(math.sqrt(n)))
    # norm hoisted into a column — an inline norm in the transform
    # lambda re-evaluates the O(d) dot product per element (O(d²))
    vn = corpus.withColumn(
        "n", F.sqrt(_dot(F.col("v"), F.col("v")))
    ).withColumn("vn", F.transform(F.col("v"), lambda x: x / F.col("n")))
    cents = _kmeans_centroids(
        spark, vn.select("vec_id", F.col("vn").alias("v")), k=k
    )

    held = [
        r["vec_id"]
        for r in corpus.select("vec_id").orderBy("vec_id").limit(125).collect()
    ]
    batches = [held[:5], held[5:25], held[25:125]]
    seed = corpus.filter(~F.col("vec_id").isin(held)).localCheckpoint(eager=True)

    root = tempfile.mkdtemp(prefix="semprobe-")
    flat = SemanticDedupIndex(spark, f"{root}/flat", cents)
    pruned = SemanticDedupIndex(
        spark,
        f"{root}/pruned",
        cents,
        cell_buckets=True,
        bucket_col=F.pmod(F.xxhash64("vec_id"), F.lit(32)),
        n_buckets=32,
    )

    t0 = time.time()
    flat.ingest_batch(seed, 1)
    seed_flat_s = round(time.time() - t0, 2)
    t0 = time.time()
    pruned.ingest_batch(seed, 1)
    seed_pruned_s = round(time.time() - t0, 2)

    member_log: list = []
    vec_log: list = []
    orig_read = StateTable.read

    def spy(self, buckets=None):
        if buckets is not None and self.path.startswith(f"{root}/pruned"):
            (member_log if self.path.endswith("members") else vec_log).append(
                list(buckets)
            )
        return orig_read(self, buckets)

    rows = []
    try:
        StateTable.read = spy
        for i, ids in enumerate(batches):
            b = corpus.filter(F.col("vec_id").isin(ids))
            t0 = time.time()
            flat.ingest_batch(b, 2 + i)
            w_flat = round(time.time() - t0, 2)
            # the whole member table after this batch's merge: the same
            # point the pruned cells are re-read at below
            member_rows = flat.members.read().count()
            member_log.clear()
            vec_log.clear()
            t0 = time.time()
            pruned.ingest_batch(b, 2 + i)
            w_pruned = round(time.time() - t0, 2)
            cells = member_log[0] if member_log else []
            probe_rows = (
                orig_read(pruned.members, cells).count() if cells else 0
            )
            assert probe_rows <= member_rows, (probe_rows, member_rows)
            vbuckets = vec_log[0] if vec_log else []
            vec_rows = (
                orig_read(pruned.vectors, vbuckets).count() if vbuckets else 0
            )
            rows.append(
                {
                    "batch_vecs": len(ids),
                    "cells_touched": len(cells),
                    "probe_rows_pruned": probe_rows,
                    "probe_rows_flat": member_rows,
                    "probe_share": round(probe_rows / member_rows, 4),
                    "vec_buckets_touched": len(vbuckets),
                    "vec_rows_pruned": vec_rows,
                    "wall_flat_s": w_flat,
                    "wall_pruned_s": w_pruned,
                }
            )
    finally:
        StateTable.read = orig_read

    pairs, pairs_equal = _layout_pairs(flat, pruned)
    return {
        "corpus_vecs": n,
        "cells_k": k,
        "member_rows": member_rows,
        "seed_ingest_flat_s": seed_flat_s,
        "seed_ingest_pruned_s": seed_pruned_s,
        "trickle": rows,
        "pairs": pairs,
        "pairs_equal": pairs_equal,
    }


def _parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lsh", action="store_true")
    ap.add_argument("--ivf", action="store_true")
    ap.add_argument("--incremental", action="store_true")
    ap.add_argument("--boilerplate", action="store_true")
    ap.add_argument("--mediasim", action="store_true")
    ap.add_argument("--simprobe", action="store_true")
    ap.add_argument("--semprobe", action="store_true")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--json", default=None)
    return ap


def main(argv: list[str]) -> None:
    args = _parser().parse_args(argv)
    spark = _spark()
    out: dict = {"sf_dir": args.sf_dir, "replicas": args.replicas}
    if args.lsh:
        out["lsh"] = lsh_experiment(spark, args.sf_dir, args.replicas)
    if args.ivf:
        out["ivf"] = ivf_experiment(spark, args.sf_dir, min(args.replicas + 6, 16))
    if args.incremental:
        out["incremental"] = incremental_experiment(spark, args.sf_dir, args.replicas)
    if args.boilerplate:
        out["boilerplate"] = boilerplate_experiment(spark, args.sf_dir, args.replicas)
    if args.mediasim:
        out["mediasim"] = mediasim_experiment(spark, args.sf_dir, args.replicas)
    if args.simprobe:
        out["simprobe"] = simprobe_experiment(spark, args.sf_dir, args.replicas)
    if args.semprobe:
        out["semprobe"] = semprobe_experiment(
            spark, args.sf_dir, min(args.replicas, 4)
        )
    line = json.dumps(out)
    print(line)
    if args.json:
        with open(args.json, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main(sys.argv[1:])
