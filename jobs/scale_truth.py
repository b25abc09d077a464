#!/usr/bin/env python
"""Scale-truth experiment (VERDICT r4 #3): re-measure the LSH margin
and IVF recall constants one order of magnitude above the 500-doc /
500-vector fixtures they were tuned on.

Both experiments amplify the sf0.1 fixtures deterministically (no RNG:
all pseudo-randomness is xxhash64 of ids — rerunning reproduces the
exact corpus, the same amplification trick as bench.py's skew suite):

  LSH  (--lsh):  documents ×R replicas with per-replica consonant
      rotation (replicas share almost no shingles), plus injected
      near-dup pairs spanning the exact-Jaccard range AROUND the
      J=0.5 output boundary (junk-token suffixes of graded length).
      Measures, per true-J bucket: banding recall (candidate
      generation), final pipeline recall, and — the margin claim —
      how many pairs the estimate-prune tier loses ON TOP of banding
      (EST_PRUNE=0.28 is sized to lose ~none at 2.5sigma).
  IVF  (--ivf):  embeddings ×R replicas with small deterministic
      perturbations, k-means at k≈sqrt(n) (the documented scale
      sizing, vs the fixture cap k≤16), then top-1 recall vs
      brute-force cosine for a query sample at a sweep of nprobe —
      the claim under test is that recall is governed by nprobe/k,
      not by the fixture's absolute nprobe=2.

Results are recorded in docs/architecture.md §"Scale-truthed
constants"; this script is the reproducer.

    python jobs/scale_truth.py --lsh --ivf [--replicas N] [--json out]
"""

from __future__ import annotations

import argparse
import json
import re
import math
import os
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

    # the pipeline, exactly as q_dedup_fuzzy composes it
    t0 = time.time()
    sig = minhash_signatures(corpus).localCheckpoint(eager=True)
    bands = lsh_bands(sig)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .localCheckpoint(eager=True)
    )
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
    # pure-id selection: the predicate alone admits slightly more than
    # 200 ids, and the orderBy pins WHICH 200 survive regardless of
    # partition layout or defaultParallelism — a bare .limit(200) on a
    # distributed frame returns whichever partitions answer first and
    # broke the module's "reruns reproduce the exact corpus" claim
    # (ADVICE r5)
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


def snapdiff_experiment(spark, sf_dir: str, replicas: int) -> dict:
    """Scale-truth for the poll-based CDC layer (streaming/snapdiff.py,
    round 6): at replicas × |orders| rows per snapshot, measure what
    snapshot differencing BUYS a downstream consumer per poll cycle —
    the delta path (diff + state merge + delta-sized MaterializedAgg
    maintenance) vs the naive path a non-CDC consumer runs (re-aggregate
    the full dump). Churn per poll is deterministic: 1% of keys
    repriced, 0.5% deleted, 0.5% of previously-deleted keys re-added —
    no RNG, reruns reproduce the sequence exactly.

    Honest regime note: the DIFF itself reads both full snapshots (an
    O(snapshot) join — unavoidable, that's the input), so the delta
    path's diff+merge wall is O(snapshot) too; the measured win is the
    DOWNSTREAM term — maintenance work and every further consumer see
    |delta| rows, not |snapshot|. At fixture scale the full reagg is
    cheap, so the wall ratio understates the 100 TB gap where the
    downstream is many consumers deep; the delta-size ratio is the
    scale-invariant number."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.matview import MaterializedAgg
    from kube_etl_spark.streaming.snapdiff import SnapshotDiffSource

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    snap0 = (
        base.withColumn("__r", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
        .select(
            (F.col("o_orderkey") * replicas + F.col("__r")).alias("k"),
            F.col("o_orderpriority").alias("g"),
            F.col("o_totalprice").alias("x"),
        )
        .localCheckpoint(eager=True)
    )
    n0 = snap0.count()
    root = tempfile.mkdtemp(prefix="snapdiff-truth-")
    try:
        src = SnapshotDiffSource(StateTable(spark, f"{root}/snap", ["k"], "seq"))
        ma = MaterializedAgg(
            StateTable(spark, f"{root}/fact", ["k"], "seq"),
            StateTable(spark, f"{root}/view", ["g"], "seq"),
            fact_key="k",
            group_col="g",
            value_col="x",
        )
        t0 = time.time()
        d0 = src.apply(snap0, seq=1)
        ma.apply_fact_batch(d0, 1)
        bootstrap_wall = round(time.time() - t0, 2)

        polls = []
        cur = snap0
        for p in (1, 2, 3):
            repriced = (F.col("k") % 100) == p            # 1%
            dropped = (F.col("k") % 200) == (100 + p)     # 0.5%
            prev_drop = (F.col("k") % 200) == (100 + p - 1)
            nxt = (
                cur.filter(~dropped)
                .select(
                    "k",
                    "g",
                    F.when(repriced, F.col("x") + 1.0).otherwise(F.col("x")).alias("x"),
                )
                .unionByName(snap0.filter(prev_drop) if p > 1 else cur.limit(0))
                .localCheckpoint(eager=True)
            )
            t0 = time.time()
            delta = src.apply(nxt, seq=p + 1)
            ma.apply_fact_batch(delta, p + 1)
            delta_wall = round(time.time() - t0, 2)
            t0 = time.time()
            nxt.groupBy("g").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("x").cast("decimal(20,2)")).alias("s"),
            ).write.format("noop").mode("overwrite").save()
            naive_wall = round(time.time() - t0, 2)
            polls.append(
                {
                    "delta_rows": delta.count(),
                    "delta_path_wall_s": delta_wall,
                    "naive_full_reagg_wall_s": naive_wall,
                }
            )
            cur = nxt
        # correctness anchor: maintained view ≡ direct agg of final snapshot
        view = {
            (r["g"], r["n_rows"], str(r["total"]))
            for r in ma.read().select("g", "n_rows", "total").collect()
        }
        direct = {
            (r["g"], r["n"], str(r["s"]))
            for r in cur.groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("x").cast("decimal(20,2)")).alias("s"),
            )
            .collect()
        }
        return {
            "snapshot_rows": n0,
            "bootstrap_wall_s": bootstrap_wall,
            "polls": polls,
            "delta_share": round(
                sum(q["delta_rows"] for q in polls) / (3 * n0), 5
            ),
            "view_matches_recompute": view == direct,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


def snapdiff_skew_experiment(spark, sf_dir: str, replicas: int) -> dict:
    """Scale-truth for the snapshot-sync state REGIME choice (VERDICT
    r6 #4): the r6 --snapdiff run honestly reported flat-state O(state)
    rewrites losing to naive re-agg at 1.5M rows under UNIFORM churn;
    this run measures the OTHER regime — recent-key-skewed churn (the
    common CDC trickle: appends plus edits near the head of the key
    space) merged into a RANGE-bucketed state vs the flat table, on the
    SAME snapshot sequence. Expected and measured: the bucketed table
    rewrites only the hot tail bucket(s), so its per-poll merge wall is
    O(bucket), while the flat table rewrites all state every poll.

    Churn per poll is deterministic (no RNG): every poll appends 0.2%
    NEW keys above the current max and reprices 1% of the keys in the
    TOP 2% of the key range; nothing below the hot range ever changes.

    The DIFF is computed once per poll and timed separately: it is an
    O(snapshot) full-outer join either way (that's the input format),
    so folding it into the timed path would drown the merge-regime
    difference the experiment exists to measure — the first run of
    this experiment did exactly that (apply-wall flat ≈ bucketed at
    1.5M rows) and taught the isolation.

    Correctness anchor: after all polls, flat state ≡ bucketed state ≡
    the final snapshot (exact row-set equality)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.streaming.cdc import StateTable
    from kube_etl_spark.streaming.snapdiff import snapshot_delta

    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    snap0 = (
        base.withColumn("__r", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
        .select(
            (F.col("o_orderkey") * replicas + F.col("__r")).alias("k"),
            F.col("o_orderpriority").alias("g"),
            F.col("o_totalprice").alias("x"),
        )
        .localCheckpoint(eager=True)
    )
    n0 = snap0.count()
    maxk = snap0.agg(F.max("k")).collect()[0][0]
    # RANGE buckets sized over the key domain + append headroom: the
    # hot tail (top 2% + appends) lands in the last bucket(s) only
    width = (maxk + maxk // 10) // 16 + 1
    root = tempfile.mkdtemp(prefix="snapdiff-skew-")
    try:
        flat = StateTable(spark, f"{root}/flat", ["k"], "seq")
        bucketed = StateTable(
            spark,
            f"{root}/bucketed",
            ["k"],
            "seq",
            n_buckets=16,
            bucket_col=(F.col("k") / F.lit(width)).cast("bigint"),
        )
        boot = snap0.withColumn("op", F.lit("upsert")).withColumn(
            "seq", F.lit(1).cast("bigint")
        )
        flat.merge_batch(boot)
        bucketed.merge_batch(boot)

        polls = []
        cur = snap0
        cur_max = maxk
        for p in (1, 2, 3):
            hot_lo = int(cur_max * 0.98)
            repriced = (F.col("k") >= hot_lo) & ((F.col("k") % 100) == p)
            n_new = n0 // 500  # 0.2% appends per poll
            appends = spark.range(cur_max + 1, cur_max + 1 + n_new).select(
                F.col("id").alias("k"),
                F.lit("5-LOW").alias("g"),
                (F.col("id") % 9000 + 1000).cast("double").alias("x"),
            )
            nxt = (
                cur.select(
                    "k",
                    "g",
                    F.when(repriced, F.col("x") + 1.0).otherwise(F.col("x")).alias("x"),
                )
                .unionByName(appends)
                .localCheckpoint(eager=True)
            )
            cur_max += n_new
            # ONE diff per poll, same delta merged into BOTH regimes —
            # the merge is the only timed variable
            t0 = time.time()
            delta = snapshot_delta(cur, nxt, ["k"]).localCheckpoint(eager=True)
            n_delta = delta.count()
            diff_wall = round(time.time() - t0, 2)
            seqd = delta.withColumn("seq", F.lit(p + 1).cast("bigint"))
            t0 = time.time()
            flat.merge_batch(seqd)
            flat_wall = round(time.time() - t0, 2)
            t0 = time.time()
            bucketed.merge_batch(seqd)
            bucketed_wall = round(time.time() - t0, 2)
            polls.append(
                {
                    "delta_rows": n_delta,
                    "diff_wall_s": diff_wall,
                    "flat_merge_wall_s": flat_wall,
                    "bucketed_merge_wall_s": bucketed_wall,
                }
            )
            cur = nxt
        fs = {tuple(r) for r in flat.read().drop("seq").collect()}
        bs = {tuple(r) for r in bucketed.read().drop("seq").collect()}
        snap = {tuple(r) for r in cur.collect()}
        return {
            "snapshot_rows": n0,
            "range_bucket_width": width,
            "polls": polls,
            "states_match": fs == bs == snap,
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


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
    dominates wall at this dir count), the flat probe's constant
    corpus-sized row count, and pair-set equality between the two
    layouts (the swap must be output-invisible).

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
    index_rows = flat.bands.read().count()

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
            probe_log.clear()
            t0 = time.time()
            pruned.ingest_batch(b, 2 + i)
            w_pruned = round(time.time() - t0, 2)
            probe_buckets = probe_log[0] if probe_log else []
            probe_rows = (
                orig_read(pruned.bands, probe_buckets).count() if probe_buckets else 0
            )
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

    pairs_equal = {tuple(r) for r in flat.pairs_df().collect()} == {
        tuple(r) for r in pruned.pairs_df().collect()
    }
    return {
        "corpus_payloads": payloads.count() - len(held),
        "band_index_rows": index_rows,
        "band_buckets": band_buckets,
        "seed_ingest_flat_s": seed_flat_s,
        "seed_ingest_pruned_s": seed_pruned_s,
        "trickle": rows,
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
    --simprobe), the flat probe's constant corpus-sized member count,
    and pair-set equality between the layouts (the swap must be
    output-invisible).

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
    member_rows = flat.members.read().count()

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
            member_log.clear()
            vec_log.clear()
            t0 = time.time()
            pruned.ingest_batch(b, 2 + i)
            w_pruned = round(time.time() - t0, 2)
            cells = member_log[0] if member_log else []
            probe_rows = (
                orig_read(pruned.members, cells).count() if cells else 0
            )
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

    pairs_equal = {tuple(r) for r in flat.pairs_df().collect()} == {
        tuple(r) for r in pruned.pairs_df().collect()
    }
    return {
        "corpus_vecs": n,
        "cells_k": k,
        "member_rows": member_rows,
        "seed_ingest_flat_s": seed_flat_s,
        "seed_ingest_pruned_s": seed_pruned_s,
        "trickle": rows,
        "pairs": flat.pairs_df().count(),
        "pairs_equal": pairs_equal,
    }


def grank_experiment(spark, sf_dir: str, replicas: int) -> dict:
    """Measure the distributed exact global rank (queries/scale.py
    global_row_number: range exchange + partition-local sort +
    broadcast offsets, behind an eager layout checkpoint) against the
    single-task global Window it replaces, on replicated orders keys at
    three sizes — the crossover evidence for the r9 rank-family swap.

    Honest accounting: the distributed wall INCLUDES the eager
    checkpoint's materialization (it runs at construction) plus the
    ranked write; the single-task wall is the window write alone.
    Equality is an order-independent checksum over every (okey, rn)
    pair, both forms recomputed once for the check."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.queries.scale import global_row_number

    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").cast("decimal(14,2)").alias("p"),
    )
    tiers = []
    for mult in (1, replicas, 4 * replicas):
        df = (
            base.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(mult - 1))))
            .select(
                (
                    F.col("okey") + F.col("rep").cast("long") * F.lit(10**9)
                ).alias("okey"),
                (F.col("p") + F.col("rep")).alias("p"),
            )
            .localCheckpoint(eager=True)
        )
        n = df.count()

        def _noop(frame):
            frame.write.format("noop").mode("overwrite").save()

        w = Window.orderBy("p", "okey")
        single = df.select("okey", F.row_number().over(w).cast("long").alias("rn"))
        t0 = time.perf_counter()
        _noop(single)
        t_single = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        dist = global_row_number(df, ["p", "okey"], out_col="rn").select("okey", "rn")
        _noop(dist)
        t_dist = round(time.perf_counter() - t0, 2)

        def _chk(frame):
            # bit_xor: order-independent, no ANSI long-overflow (a SUM
            # of 64-bit hashes overflows at millions of rows). Row count
            # rides along (harness sweep r12): xor alone lets a
            # duplicated-plus-dropped pair cancel out.
            r = frame.agg(
                F.expr("bit_xor(xxhash64(okey, rn))").alias("c"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            return (r["c"], r["n"])

        tiers.append(
            {
                "rows": n,
                "wall_single_task_s": t_single,
                "wall_distributed_s": t_dist,
                "equal_checksum": bool(_chk(single) == _chk(dist)),
            }
        )
        df.unpersist()
    return {"tiers": tiers}


def imerge_experiment(spark, sf_dir: str, replicas: int) -> dict:
    """Measure global_interval_merge (queries/scale.py: ONE frozen
    range layout, strict-prefix-max + span-flag prefix sums as
    broadcast offsets) against the textbook single-task Window form it
    replaces, on replicated error-event incident windows at three
    sizes — the same crossover protocol as grank_experiment.

    Replicas shift in TIME by 35 days (past the fixture's 30-day span)
    so every replica keeps the real span structure instead of
    collapsing into one giant span; interval ids stay unique per
    replica. Honest accounting: the distributed wall INCLUDES the
    eager layout checkpoint; equality is an order-independent checksum
    over every (id, span_id) pair."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.queries.scale import global_interval_merge

    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "error")
        .select(
            "event_id",
            F.expr("ts - INTERVAL 15 MINUTES").alias("t0"),
            F.expr("ts + INTERVAL 15 MINUTES").alias("t1"),
        )
    )
    tiers = []
    for mult in (1, replicas, 4 * replicas):
        df = (
            base.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(mult - 1))))
            .select(
                (
                    F.col("event_id") + F.col("rep").cast("long") * F.lit(10**9)
                ).alias("id"),
                (
                    F.col("t0")
                    + F.col("rep") * F.expr("INTERVAL 35 DAYS")
                ).alias("t0"),
                (
                    F.col("t1")
                    + F.col("rep") * F.expr("INTERVAL 35 DAYS")
                ).alias("t1"),
            )
            .localCheckpoint(eager=True)
        )
        n = df.count()

        def _noop(frame):
            frame.write.format("noop").mode("overwrite").save()

        order = [F.col("t0"), F.col("t1"), F.col("id")]
        w_strict = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, -1)
        w_run = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
        prev_end = F.max("t1").over(w_strict)
        flag = F.when(prev_end.isNull() | (F.col("t0") > prev_end), 1).otherwise(0)
        single = df.select("id", F.sum(flag).over(w_run).alias("span_id"))
        t0c = time.perf_counter()
        _noop(single)
        t_single = round(time.perf_counter() - t0c, 2)
        t0c = time.perf_counter()
        dist = global_interval_merge(df, "t0", "t1", tiebreak_cols=["id"]).select(
            "id", "span_id"
        )
        _noop(dist)
        t_dist = round(time.perf_counter() - t0c, 2)

        def _chk(frame):
            # count rides along — see grank_experiment._chk (r12 sweep)
            r = frame.agg(
                F.expr("bit_xor(xxhash64(id, span_id))").alias("c"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            return (r["c"], r["n"])

        tiers.append(
            {
                "rows": n,
                "wall_single_task_s": t_single,
                "wall_distributed_s": t_dist,
                "equal_checksum": bool(_chk(single) == _chk(dist)),
            }
        )
        df.unpersist()
    return {"tiers": tiers}


def syncer_experiment(spark, sf_dir: str, replicas: int) -> dict:
    """Scale-truth for the FULL run_syncer control+data path (VERDICT
    r9 #6): a ~replicas×100k-row op-log landed as JSON chunks, driven
    through run_syncer --once twice with a RULE HOT-RELOAD between the
    invocations (one syncer suspended, one added — the cron-style
    deployment's generation change), status write-back on throughout;
    the accumulated local state is then checked against a one-shot
    batch oracle (compile_sync per generation + independent
    last-writer-wins in plain DataFrame ops), and the status table's
    high-water carry-forward across the generation boundary is
    asserted. This re-proves the r9 status-publish + intent-sidecar
    changes at data size, not fixture size.

    Part two: the WriterLease takeover mid-publish at the same state
    size — the r9 fencing fix validated the lease AFTER the version
    write and immediately before the pointer rename, closing the
    O(write-duration) split-brain window; at ~1M rows that window is
    SECONDS wide, so this is where the fix earns its keep. The takeover
    is injected deterministically from the validate hook (the
    test_lease.py shape, at scale): the stale writer's multi-second
    version write completes, the hook observes the takeover, the
    publish abandons with the pointer untouched, and the new owner's
    full-size merge lands on intact state."""
    import json as _json
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.streaming.sync import compile_sync

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import run_syncer

    catalog_rows = [
        ("e2e.gkelabs.io", "v1", "TestCRD"),
        ("kcc.cnrm.cloud.google.com", "v1beta1", "KCCResource"),
        ("kcc.cnrm.cloud.google.com", "v1beta2", "KCCResource"),
        ("sql.cnrm.cloud.google.com", "v1beta1", "SQLInstance"),
        ("cnrm.cloud.google.com", "v1", "Apex"),
        ("apps", "v1", "Deployment"),
        ("batch", "v1", "Job"),
    ]
    # pull syncers deliberately partition the GVK space: the local
    # destination is one shared table, so two pull syncers matching the
    # same key with different sync_fields would race on content at
    # equal seq — a fixture property, not an engine one
    base_rules = [
        {"syncer_name": "s_exact", "syncer_namespace": "default", "suspend": False,
         "mode": "pull", "rule_group": "e2e.gkelabs.io", "rule_version": "v1",
         "rule_kind": "TestCRD", "namespaces": [], "sync_fields": ["spec", "status"]},
        {"syncer_name": "s_kcc_push", "syncer_namespace": "default", "suspend": False,
         "mode": "push", "rule_group": "kcc.cnrm.cloud.google.com",
         "rule_version": "*", "rule_kind": "*", "namespaces": [],
         "sync_fields": ["spec", "status"], "remote_secret": "kc-1"},
        {"syncer_name": "s_fleet", "syncer_namespace": "default", "suspend": False,
         "mode": "pull", "rule_group": "*.cnrm.cloud.google.com",
         "rule_version": "*", "rule_kind": "*", "namespaces": ["prod"],
         "sync_fields": ["spec"]},
        {"syncer_name": "s_apps", "syncer_namespace": "default", "suspend": False,
         "mode": "pull", "rule_group": "apps", "rule_version": "v1",
         "rule_kind": "Deployment", "namespaces": ["dev"],
         "sync_fields": ["spec", "status"]},
    ]
    gen2_rules = [
        {**r, "suspend": True} if r["syncer_name"] == "s_fleet" else dict(r)
        for r in base_rules
    ] + [
        {"syncer_name": "s_batch", "syncer_namespace": "default", "suspend": False,
         "mode": "pull", "rule_group": "batch", "rule_version": "v1",
         "rule_kind": "Job", "namespaces": [], "sync_fields": ["status"]},
    ]

    def oplog_frame(rep_lo: int, rep_hi: int):
        cat = spark.createDataFrame(
            [(i, *r) for i, r in enumerate(catalog_rows)],
            "idx long, group string, version string, kind string",
        )
        seq = (F.col("event_id") * replicas + F.col("rep")).cast("long")
        return (
            load_table(spark, sf_dir, "events")
            .select("event_id")
            .withColumn(
                "rep", F.explode(F.sequence(F.lit(rep_lo), F.lit(rep_hi - 1)))
            )
            .select(seq.alias("seq"), "event_id", "rep")
            .join(F.broadcast(cat), F.pmod(F.col("seq"), F.lit(7)) == F.col("idx"))
            .select(
                "seq",
                F.when(F.col("seq") % 11 == 0, "delete").otherwise("upsert").alias("op"),
                "group", "version", "kind",
                F.when(F.col("seq") % 3 == 0, F.lit("prod"))
                .otherwise(F.lit("dev")).alias("namespace"),
                F.concat(F.lit("obj-"), F.pmod(F.col("seq"), F.lit(40000))).alias("name"),
                F.create_map(
                    F.lit("team"),
                    F.concat(F.lit("t"), (F.col("seq") % 5).cast("string")),
                ).alias("labels"),
                F.create_map().cast("map<string,string>").alias("annotations"),
                F.struct(
                    F.concat(F.lit("foo-"), F.col("seq")).alias("foo"),
                    F.concat(F.lit("rid-"), F.pmod(F.col("seq"), F.lit(40000))).alias("resourceID"),
                ).alias("spec"),
                F.struct(F.concat(F.lit("bar-"), F.col("seq")).alias("bar")).alias("status"),
            )
        )

    def land_chunk(frame, oplog_dir: str, tag: str) -> None:
        staging = tempfile.mkdtemp(prefix=f"syncer-chunk-{tag}-")
        try:
            frame.coalesce(8).write.mode("overwrite").json(staging)
            n = 0
            for f in sorted(os.listdir(staging)):
                if f.startswith("part-") and f.endswith(".json"):
                    shutil.move(
                        os.path.join(staging, f),
                        os.path.join(oplog_dir, f"{tag}-{n:03d}.json"),
                    )
                    n += 1
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    split = max(1, (replicas * 3) // 5)
    root = tempfile.mkdtemp(prefix="syncer-truth-")
    out: dict = {}
    try:
        oplog_dir = os.path.join(root, "oplog")
        os.makedirs(oplog_dir)
        chunk1 = oplog_frame(0, split).localCheckpoint(eager=True)
        chunk2 = oplog_frame(split, replicas).localCheckpoint(eager=True)
        out["oplog_rows"] = chunk1.count() + chunk2.count()
        land_chunk(chunk1, oplog_dir, "c1")

        rules_path = os.path.join(root, "rules.json")
        with open(rules_path, "w") as f:
            _json.dump(base_rules, f)
        secrets_path = os.path.join(root, "secrets.json")
        with open(secrets_path, "w") as f:
            _json.dump({"default/kc-1": "cred"}, f)
        cat_path = os.path.join(root, "catalog.json")
        with open(cat_path, "w") as f:
            _json.dump(
                [{"group": g, "version": v, "kind": k} for g, v, k in catalog_rows], f
            )
        args = [
            "--rules", rules_path, "--oplog", oplog_dir,
            "--state", os.path.join(root, "state"),
            "--checkpoint", os.path.join(root, "ckpt"),
            "--secrets", secrets_path, "--catalog", cat_path, "--once",
        ]
        t0 = time.time()
        run_syncer.main(args)
        out["run1_wall_s"] = round(time.time() - t0, 2)
        status1 = {
            r["syncer_name"]: (r["condition"], r["last_sync_seq"])
            for r in spark.read.parquet(os.path.join(root, "state", "status")).collect()
        }

        # generation change between cron invocations: suspend s_fleet,
        # add s_batch; land the second chunk; same checkpoint resumes
        with open(rules_path, "w") as f:
            _json.dump(gen2_rules, f)
        land_chunk(chunk2, oplog_dir, "c2")
        t0 = time.time()
        run_syncer.main(args)
        out["run2_wall_s"] = round(time.time() - t0, 2)
        status2 = {
            r["syncer_name"]: (r["condition"], r["last_sync_seq"])
            for r in spark.read.parquet(os.path.join(root, "state", "status")).collect()
        }
        out["status_gen1"] = {k: list(v) for k, v in sorted(status1.items())}
        out["status_gen2"] = {k: list(v) for k, v in sorted(status2.items())}
        # carry-forward across the generation boundary: the suspended
        # syncer keeps its gen1 high-water; nobody's mark regresses
        out["suspended_keeps_high_water"] = bool(
            status2["s_fleet"][0] == "Suspended"
            and status2["s_fleet"][1] == status1["s_fleet"][1]
        )
        out["no_mark_regressed"] = all(
            status2[s][1] >= status1[s][1] for s in status1 if s in status2
        )

        # batch oracle for the LOCAL destination: compile each chunk
        # under its rule generation (the same engine path the golden
        # tests pin), then an INDEPENDENT last-writer-wins in plain
        # DataFrame ops replaces the streaming StateTable machinery —
        # what this harness actually scale-truths
        def rules_df(rows):
            return spark.createDataFrame(
                [tuple(r.get(c) for c in (
                    "syncer_name syncer_namespace suspend mode rule_group "
                    "rule_version rule_kind namespaces sync_fields remote_secret"
                ).split()) for r in rows],
                "syncer_name string, syncer_namespace string, suspend boolean,"
                " mode string, rule_group string, rule_version string,"
                " rule_kind string, namespaces array<string>,"
                " sync_fields array<string>, remote_secret string",
            )

        pull1 = compile_sync(chunk1, rules_df(base_rules)).filter(
            F.col("mode") == "pull"
        )
        pull2 = compile_sync(chunk2, rules_df(gen2_rules)).filter(
            F.col("mode") == "pull"
        )
        all_changes = pull1.unionByName(pull2).select(
            "group", "version", "kind", "namespace", "name", "seq", "op",
            F.to_json("spec").alias("spec_j"), F.to_json("status").alias("status_j"),
        )
        from pyspark.sql import Window as W

        key = ["group", "version", "kind", "namespace", "name"]
        w = W.partitionBy(*key).orderBy(F.col("seq").desc())
        lww = (
            all_changes.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("op") != "delete"))
            .drop("rn", "op")
        )
        # read through the state API — a raw parquet read would include
        # the delete TOMBSTONE rows StateTable.read() hides (736 of
        # them at the smoke tier; caught by this harness's first run)
        from kube_etl_spark.streaming.cdc import StateTable as _ST

        got = _ST(
            spark, os.path.join(root, "state", "local"),
            ["group", "version", "kind", "namespace", "name"], "seq",
        ).read().select(
            "group", "version", "kind", "namespace", "name", "seq",
            F.to_json("spec").alias("spec_j"), F.to_json("status").alias("status_j"),
        )

        def chk(frame):
            return frame.agg(
                F.expr(
                    "bit_xor(xxhash64(group, version, kind, namespace, name, seq,"
                    " coalesce(spec_j, '∅'), coalesce(status_j, '∅')))"
                ).alias("c"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]

        g, o = chk(got), chk(lww)
        out["local_state_rows"] = g["n"]
        out["local_state_matches_batch_oracle"] = bool(
            g["n"] == o["n"] and g["c"] == o["c"]
        )
        if not out["local_state_matches_batch_oracle"]:
            out["oracle_rows"] = o["n"]
            cols = [*key, "seq", "spec_j", "status_j"]
            out["only_in_state"] = [
                [str(x) for x in r] for r in got.select(*cols)
                .exceptAll(lww.select(*cols)).limit(5).collect()
            ]
            out["only_in_oracle"] = [
                [str(x) for x in r] for r in lww.select(*cols)
                .exceptAll(got.select(*cols)).limit(5).collect()
            ]

        # ---- part two: lease takeover mid-publish at state size ----
        from kube_etl_spark.streaming.cdc import StateTable, atomic_overwrite
        from kube_etl_spark.streaming.lease import LeaseLost, WriterLease

        lease_path = os.path.join(root, "big.lease")
        old = WriterLease(lease_path, owner="old", ttl_s=600)
        assert old.acquire()
        big_path = os.path.join(root, "big-state")
        t_old = StateTable(spark, big_path, ["k"], "seq", lease=old)
        big = chunk1.select(
            F.col("seq").alias("k"), F.col("seq").alias("seq"),
            F.col("name").alias("v"), F.lit("upsert").alias("op"),
        )
        t0 = time.time()
        t_old.merge_batch(big)
        out["takeover_initial_merge_wall_s"] = round(time.time() - t0, 2)

        def takeover_then_check():
            rec = _json.load(open(lease_path))
            rec["deadline"] = time.time() - 1
            with open(lease_path, "w") as f:
                _json.dump(rec, f)
            assert WriterLease(lease_path, owner="new", ttl_s=600).acquire()
            old.assert_held()

        import os as _os

        target_before = _os.readlink(big_path)
        stale = big.withColumn("v", F.lit("stale")).withColumn(
            "seq", F.col("seq") + 1
        )
        t0 = time.time()
        fenced = False
        try:
            atomic_overwrite(stale, big_path, validate=takeover_then_check)
        except LeaseLost:
            fenced = True
        out["stale_publish_fenced"] = fenced
        out["fenced_write_wall_s"] = round(time.time() - t0, 2)
        out["pointer_untouched"] = bool(_os.readlink(big_path) == target_before)
        new = WriterLease(lease_path, owner="new", ttl_s=600)
        assert new.acquire()
        t_new = StateTable(spark, big_path, ["k"], "seq", lease=new)
        upd = big.withColumn("v", F.lit("v2")).withColumn("seq", F.col("seq") + 2)
        t0 = time.time()
        t_new.merge_batch(upd)
        out["new_owner_merge_wall_s"] = round(time.time() - t0, 2)
        final = t_new.read().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("v") == "v2").cast("long")).alias("n_v2"),
            F.sum((F.col("v") == "stale").cast("long")).alias("n_stale"),
        ).collect()[0]
        out["takeover_state_rows"] = final["n"]
        out["takeover_state_clean"] = bool(
            final["n_stale"] == 0 and final["n_v2"] == final["n"]
        )
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def bridge_experiment(spark, sf_dir: str, replicas: int) -> dict:
    """Scale-truth for the watch-bridge 410-relist composition (VERDICT
    r10 #6): bookmark expiry mid-stream → relist → delta emission →
    syncer state ≡ LWW oracle, at the syncer harness's ~1M-row op-log
    scale. The offline audit (q_watch_gap_relist) and the fake-server
    e2e (tests/test_kubeapi.py) prove the semantics small; this proves
    the ONLINE composition at data size, including the two hard edges:

      * keys LANDED but not yet MERGED when the 410 fires, then deleted
        inside the compacted gap — the believed-live union (merged
        state ∪ landing zone) must still tombstone them;
      * GVK isolation — the relist is per-target, so gap-deletes of a
        NON-relisted GVK must remain (that target's own relist recovers
        them later), and no spurious deletes may leak across GVKs.

    Three event phases over shared key space (names mod 40k, 2 GVKs):
      phase1  (~replicas×|events| rows) landed + merged   = pre-gap
      phase1b (2 reps)                  landed, UNMERGED  = in-flight
      phase2  (2 reps, delete-heavy)    never seen        = the gap
    The 'apiserver truth' is an independent LWW over all three phases;
    the relist for the target GVK is its live keys collected driver-
    side (state-sized — the same boundary the bridge documents), fed
    through the REAL relist_delta_rows, landed, and merged by
    run_syncer --once. Oracle equality is exceptAll in both directions
    over the full payload projection."""
    import json as _json
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.streaming.kubeapi import _land_rows, relist_delta_rows

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import run_syncer

    gvks = [
        ("e2e.gkelabs.io", "v1", "TestCRD"),       # the relisted target
        ("apps", "v1", "Deployment"),              # the isolation control
    ]
    target = {"group": "e2e.gkelabs.io", "version": "v1",
              "kind": "TestCRD", "plural": "testcrds"}
    rules = [
        {"syncer_name": "s_target", "syncer_namespace": "default",
         "suspend": False, "mode": "pull", "rule_group": "e2e.gkelabs.io",
         "rule_version": "v1", "rule_kind": "TestCRD", "namespaces": [],
         "sync_fields": ["spec", "status"]},
        {"syncer_name": "s_apps", "syncer_namespace": "default",
         "suspend": False, "mode": "pull", "rule_group": "apps",
         "rule_version": "v1", "rule_kind": "Deployment", "namespaces": [],
         "sync_fields": ["spec", "status"]},
    ]

    cat = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(gvks)],
        "idx long, group string, version string, kind string",
    )

    def gen(base: int, reps: int, del_mod: int):
        seq = (
            F.lit(base) + F.col("event_id") * reps + F.col("rep")
        ).cast("long")
        return (
            load_table(spark, sf_dir, "events")
            .select("event_id")
            .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
            .select(seq.alias("seq"))
            .join(F.broadcast(cat), F.pmod(F.col("seq"), F.lit(2)) == F.col("idx"))
            .select(
                "seq",
                F.when(F.col("seq") % del_mod == 0, "delete")
                .otherwise("upsert").alias("op"),
                "group", "version", "kind",
                F.when(F.col("seq") % 3 == 0, F.lit("prod"))
                .otherwise(F.lit("dev")).alias("namespace"),
                F.concat(F.lit("obj-"), F.pmod(F.col("seq"), F.lit(40000))).alias("name"),
                F.create_map(
                    F.lit("team"),
                    F.concat(F.lit("t"), (F.col("seq") % 5).cast("string")),
                ).alias("labels"),
                F.create_map().cast("map<string,string>").alias("annotations"),
                F.struct(
                    F.concat(F.lit("foo-"), F.col("seq")).alias("foo"),
                    F.concat(F.lit("rid-"), F.pmod(F.col("seq"), F.lit(40000))).alias("resourceID"),
                ).alias("spec"),
                F.struct(F.concat(F.lit("bar-"), F.col("seq")).alias("bar")).alias("status"),
            )
        )

    def land_chunk(frame, oplog_dir: str, tag: str) -> None:
        staging = tempfile.mkdtemp(prefix=f"bridge-chunk-{tag}-")
        try:
            frame.coalesce(8).write.mode("overwrite").json(staging)
            n = 0
            for f in sorted(os.listdir(staging)):
                if f.startswith("part-") and f.endswith(".json"):
                    shutil.move(
                        os.path.join(staging, f),
                        os.path.join(oplog_dir, f"{tag}-{n:03d}.json"),
                    )
                    n += 1
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def lww_live(frame):
        w = Window.partitionBy(
            "group", "version", "kind", "namespace", "name"
        ).orderBy(
            F.col("seq").desc(), (F.col("op") == "delete").cast("int").desc()
        )
        return (
            frame.withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1").drop("__rn")
            .filter(F.col("op") != "delete").drop("op")
        )

    def canon(frame):
        return frame.select(
            "group", "version", "kind", "namespace", "name", "seq",
            F.col("spec.foo").alias("foo"),
            F.col("spec.resourceID").alias("rid"),
            F.col("status.bar").alias("bar"),
            F.col("labels")["team"].alias("team"),
        )

    root = tempfile.mkdtemp(prefix="bridge-truth-")
    out: dict = {}
    try:
        oplog_dir = os.path.join(root, "oplog")
        os.makedirs(oplog_dir)
        state = os.path.join(root, "state")
        n_events = load_table(spark, sf_dir, "events").count()
        base1b = n_events * replicas
        base2 = base1b + n_events * 2
        phase1 = gen(0, replicas, 7).localCheckpoint(eager=True)
        phase1b = gen(base1b, 2, 7).localCheckpoint(eager=True)
        phase2 = gen(base2, 2, 5).localCheckpoint(eager=True)  # delete-heavy gap
        out["oplog_rows"] = phase1.count()
        out["inflight_rows"] = phase1b.count()
        out["gap_rows"] = phase2.count()

        rules_path = os.path.join(root, "rules.json")
        with open(rules_path, "w") as f:
            _json.dump(rules, f)
        args = [
            "--rules", rules_path, "--oplog", oplog_dir,
            "--state", state,
            "--checkpoint", os.path.join(root, "ckpt"), "--once",
        ]

        # pre-gap: phase1 lands and merges
        land_chunk(phase1, oplog_dir, "c1")
        t0 = time.time()
        run_syncer.main(args)
        out["merge1_wall_s"] = round(time.time() - t0, 2)

        # in-flight: phase1b lands but the 410 fires before it merges
        land_chunk(phase1b, oplog_dir, "c2")

        # apiserver truth at list time = LWW over EVERYTHING the server
        # saw, including the compacted gap
        truth_all = lww_live(
            phase1.unionByName(phase1b).unionByName(phase2)
        ).localCheckpoint(eager=True)
        t_truth = truth_all.filter(F.col("group") == target["group"])
        relist_rows = t_truth.collect()  # state-sized, the documented boundary
        out["relist_objects"] = len(relist_rows)
        objects = [
            {
                "apiVersion": f"{target['group']}/{target['version']}",
                "kind": target["kind"],
                "metadata": {
                    "namespace": r["namespace"], "name": r["name"],
                    "resourceVersion": str(r["seq"]),
                    "labels": dict(r["labels"]),
                },
                "spec": r["spec"].asDict(),
                "status": r["status"].asDict(),
            }
            for r in relist_rows
        ]
        list_rv = str(
            phase2.agg(F.max("seq")).collect()[0][0] + 1
        )

        t0 = time.time()
        rows, n_deletes = relist_delta_rows(
            spark, target, objects, list_rv, state, landing_dir=oplog_dir
        )
        out["delta_wall_s"] = round(time.time() - t0, 2)
        out["delta_rows"] = len(rows)
        out["delta_deletes"] = n_deletes
        _land_rows(rows, oplog_dir)

        # the syncer drains everything still pending: phase1b + delta
        t0 = time.time()
        run_syncer.main(args)
        out["merge2_wall_s"] = round(time.time() - t0, 2)

        live = spark.read.parquet(os.path.join(state, "local"))
        live = live.filter(F.col("__op") != "delete").drop(
            *[c for c in live.columns if c.startswith("__")]
        )
        got_t = canon(live.filter(F.col("group") == target["group"]))
        want_t = canon(t_truth)
        out["target_state_rows"] = got_t.count()
        out["target_truth_rows"] = want_t.count()
        out["target_matches_truth"] = (
            got_t.exceptAll(want_t).count() == 0
            and want_t.exceptAll(got_t).count() == 0
        )

        # isolation: the apps GVK saw no relist, so its state is the
        # LWW of what actually LANDED (phase1 ∪ phase1b) — gap events
        # absent, and no cross-GVK deletes leaked
        want_a = canon(lww_live(phase1.unionByName(phase1b)).filter(
            F.col("group") == "apps"
        ))
        got_a = canon(live.filter(F.col("group") == "apps"))
        out["apps_state_rows"] = got_a.count()
        out["apps_matches_landed_lww"] = (
            got_a.exceptAll(want_a).count() == 0
            and want_a.exceptAll(got_a).count() == 0
        )
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _fieldmerge_oplog(spark, sf_dir: str, replicas: int):
    """The contended two-writer op-log of the field-merge experiment:
    even seqs assert ONLY spec, odd seqs ONLY status over an
    ODD key modulus (so every key's stream alternates classes), ~11%
    interleaved deletes. Eagerly checkpointed — chunk filters re-read
    it."""
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table

    k_names = 40001  # ODD: an even modulus would pin each name to one parity
    seq = (F.col("event_id") * replicas + F.col("rep")).cast("long") + 1
    is_up = F.col("op") != "delete"
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id")
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
        .select(seq.alias("seq"))
        .select(
            "seq",
            F.when(F.col("seq") % 9 == 0, "delete").otherwise("upsert").alias("op"),
            F.lit("e2e.gkelabs.io").alias("group"),
            F.lit("v1").alias("version"),
            F.lit("TestCRD").alias("kind"),
            F.when(F.col("seq") % 3 == 0, "prod").otherwise("dev").alias("namespace"),
            F.concat(F.lit("obj-"), F.pmod(F.col("seq"), F.lit(k_names))).alias("name"),
        )
        .select(
            "*",
            F.when(
                is_up,
                F.when(F.col("seq") % 2 == 0, "writer-spec").otherwise("writer-status"),
            ).alias("origin"),
            F.when(
                is_up & (F.col("seq") % 2 == 0),
                F.struct(F.concat(F.lit("foo-"), F.col("seq")).alias("foo")),
            ).alias("spec"),
            F.when(
                is_up & (F.col("seq") % 2 == 1),
                F.struct(F.concat(F.lit("bar-"), F.col("seq")).alias("bar")),
            ).alias("status"),
        )
        .localCheckpoint(eager=True)
    )


def _ownership_oplog(spark, sf_dir: str, replicas: int):
    """Three-manager contended op-log for the ownership scale-truth:
    manager by seq mod 3 — m-alpha asserts ONLY spec, m-beta ONLY
    status, m-gamma BOTH (contending with alpha on spec and beta on
    status), over an ODD key modulus coprime to 3 so every key sees all
    three classes; ~11% deletes reset ownership epochs. The modulus
    adapts to corpus size (~25 ops/key) so contention materializes at
    smoke scale too — a fixed 40001 left a 2k-row smoke run with zero
    key collisions and a vacuous conflict count."""
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table

    n_rows = load_table(spark, sf_dir, "events").count() * replicas
    k_names = max(67, n_rows // 25) | 1  # odd
    if k_names % 3 == 0:
        k_names += 2  # keep classes cycling per key (coprime to 3)
    seq = (F.col("event_id") * replicas + F.col("rep")).cast("long") + 1
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id")
        .withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
        .select(seq.alias("seq"))
        .select(
            "seq",
            F.when(F.col("seq") % 9 == 0, "delete").otherwise("upsert").alias("op"),
            F.lit("e2e.gkelabs.io").alias("group"),
            F.lit("v1").alias("version"),
            F.lit("TestCRD").alias("kind"),
            # namespace modulus COPRIME to the class modulus: seq%3
            # would make namespace ≡ manager class, splitting every
            # would-be contention across two keys (alpha's spec asserts
            # all in prod, gamma's all in dev — cs identically zero;
            # caught by this experiment's own vacuity guard)
            F.when(F.col("seq") % 5 == 0, "prod").otherwise("dev").alias("namespace"),
            F.concat(F.lit("obj-"), F.pmod(F.col("seq"), F.lit(k_names))).alias("name"),
            F.when(F.pmod(F.col("seq"), F.lit(3)) == 0, "m-alpha")
            .when(F.pmod(F.col("seq"), F.lit(3)) == 1, "m-beta")
            .otherwise("m-gamma")
            .alias("manager"),
        )
        .select(
            "*",
            F.when(
                (F.col("op") != "delete") & F.pmod(F.col("seq"), F.lit(3)).isin(0, 2),
                F.struct(F.concat(F.lit("foo-"), F.col("seq")).alias("foo")),
            ).alias("spec"),
            F.when(
                (F.col("op") != "delete") & F.pmod(F.col("seq"), F.lit(3)).isin(1, 2),
                F.struct(F.concat(F.lit("bar-"), F.col("seq")).alias("bar")),
            ).alias("status"),
        )
        .localCheckpoint(eager=True)
    )


def ownership_experiment(spark, sf_dir: str, replicas: int) -> dict:
    """Scale-truth for the manager-aware ownership merge (r12,
    cdc.owned_field_merge_winners — the managedFields analog): the
    golden suite pins the semantics at tens of rows; this proves them,
    and prices the three-window stack, at ~1M contended rows through
    the REAL StateTable(manager_col=...), merged in four out-of-order
    chunks.

    Delivery model (the boundary this experiment ALSO establishes):
    chunks arrive in seq order — the per-key ordering a watch stream
    guarantees (a key's delete is delivered before any later event of
    that key; relist deltas only append deletes ABOVE everything
    landed). Under that contract the incremental merge is exact.
    At-least-once REDELIVERY of already-merged chunks (including
    arbitrarily late low-seq ones) must be a no-op — checked. What the
    contract excludes — merging assertions ABOVE a delete before the
    delete itself arrives — is genuinely unresolvable from compacted
    state (the non-owners' post-delete assertions were already
    rejected and discarded), and a shuffled-chunk dry run of this
    harness confirmed the divergence; documented in
    owned_field_merge_winners.

    Checks:
      * non-forced state ≡ an INDEPENDENTLY formulated ownership oracle
        (row_number windows + joins over the full op-log: per (key,
        field), epoch = last delete; owner = FIRST asserter post-epoch,
        mgr-name tie-break; value = owner's LAST assertion — a
        different mechanism from the engine's min/max_by window
        aggregates, so they cannot share a bug), exceptAll both ways;
      * FORCED state values ≡ plain field_merge's values on the same
        chunks (forced ownership is per-field LWW plus ownership
        metadata — the cross-implementation identity that pins both);
      * replay idempotence: re-merging chunks 1 and 3 (and the very
        first chunk, the late-low-seq case) leaves state bit-equal;
      * vacuity: rejected-conflict counts > 0 in the final state, and
        keys where forced and non-forced values DIVERGE > 0;
      * cost: merge wall for non-forced/forced vs plain field_merge
        (the price of the ownership windows) and vs row-LWW."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kube_etl_spark.streaming.cdc import StateTable

    key_cols = ["group", "version", "kind", "namespace", "name"]
    oplog = _ownership_oplog(spark, sf_dir, replicas)
    n_rows = oplog.count()
    bounds = [(i * n_rows) // 4 for i in range(5)]
    chunks = [
        oplog.filter((F.col("seq") > bounds[i]) & (F.col("seq") <= bounds[i + 1]))
        for i in range(4)
    ]
    # IN-ORDER chunk delivery — the watch contract (see docstring);
    # the shuffled order the sibling experiments use would cross delete
    # epochs backwards, which compacted ownership state cannot resolve
    order = [0, 1, 2, 3]

    def canon(df):
        return df.select(
            *key_cols,
            F.col("spec.foo").alias("foo"),
            F.col("status.bar").alias("bar"),
        )

    def ownership_oracle():
        # independent mechanism: row_number windows + joins
        tagged = oplog.withColumn("__d", (F.col("op") == "delete").cast("int"))
        wk = Window.partitionBy(*key_cols)
        epo = tagged.withColumn(
            "epoch", F.max(F.when(F.col("__d") == 1, F.col("seq"))).over(wk)
        )
        post = F.col("epoch").isNull() | (F.col("seq") > F.col("epoch"))
        wrow = Window.partitionBy(*key_cols).orderBy(
            F.col("seq").desc(), F.col("__d").desc()
        )
        base = (
            epo.withColumn("rn", F.row_number().over(wrow))
            .filter("rn = 1")
            .filter(F.col("op") != "delete")
            .select(*key_cols)
        )
        out = base
        for f in ("spec", "status"):
            asserting = epo.filter(F.col(f).isNotNull() & post)
            wfirst = Window.partitionBy(*key_cols).orderBy(
                F.col("seq").asc(), F.col("manager").asc()
            )
            first = (
                asserting.withColumn("rn", F.row_number().over(wfirst))
                .filter("rn = 1")
                .select(*key_cols, F.col("manager").alias(f"owner_{f}"))
            )
            wlast = Window.partitionBy(*key_cols, "manager").orderBy(
                F.col("seq").desc()
            )
            last_by_mgr = (
                asserting.withColumn("rn", F.row_number().over(wlast))
                .filter("rn = 1")
                .select(*key_cols, "manager", f)
            )
            winner = last_by_mgr.join(
                first,
                [*key_cols],
            ).filter(F.col("manager") == F.col(f"owner_{f}")).select(*key_cols, f)
            out = out.join(winner, key_cols, "left")
        return canon(out.withColumn("spec", F.col("spec")).withColumn("status", F.col("status")))

    root = tempfile.mkdtemp(prefix="ownership-truth-")
    out: dict = {"oplog_rows": n_rows, "chunk_order": order}
    try:
        tables = {}
        walls = {}
        variants = {
            "owned": dict(field_merge=["spec", "status"], manager_col="manager"),
            "forced": dict(field_merge=["spec", "status"], manager_col="manager",
                           force_ownership=True),
            "plain_fm": dict(field_merge=["spec", "status"]),
            "row_lww": {},
        }
        for name, kw in variants.items():
            st = StateTable(spark, os.path.join(root, name), key_cols, "seq", **kw)
            t0 = time.time()
            for i in order:
                batch = chunks[i]
                if not kw.get("manager_col"):
                    batch = batch.drop("manager")
                st.merge_batch(batch)
            walls[name] = round(time.time() - t0, 2)
            tables[name] = st
        out["merge_wall_s"] = walls

        # at-least-once replay: redeliver a mid chunk, the last chunk,
        # and the very FIRST chunk (arbitrarily late low-seq redelivery)
        # — state must be bit-equal afterwards
        before = canon(tables["owned"].read()).localCheckpoint(eager=True)
        for i in (1, 3, 0):
            tables["owned"].merge_batch(chunks[i])
        after = canon(tables["owned"].read())
        out["replay_idempotent"] = (
            before.exceptAll(after).count() == 0
            and after.exceptAll(before).count() == 0
        )
        out["owned_over_plain_fm"] = round(walls["owned"] / walls["plain_fm"], 3)
        out["owned_over_row_lww"] = round(walls["owned"] / walls["row_lww"], 3)

        got = canon(tables["owned"].read()).localCheckpoint(eager=True)
        want = ownership_oracle().localCheckpoint(eager=True)
        out["live_keys"] = got.count()
        out["matches_ownership_oracle"] = (
            got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
        )

        forced = canon(tables["forced"].read()).localCheckpoint(eager=True)
        plain = canon(tables["plain_fm"].read())
        out["forced_values_match_plain_field_merge"] = (
            forced.exceptAll(plain).count() == 0
            and plain.exceptAll(forced).count() == 0
        )

        # vacuity: conflicts were rejected, and the modes diverge
        raw = tables["owned"]._read_raw()
        conf = raw.agg(
            F.sum(F.coalesce(F.col("__cf_spec"), F.lit(0))).alias("cs"),
            F.sum(F.coalesce(F.col("__cf_status"), F.lit(0))).alias("ct"),
        ).collect()[0]
        out["rejected_conflicts_spec"] = int(conf["cs"])
        out["rejected_conflicts_status"] = int(conf["ct"])
        assert conf["cs"] > 0 and conf["ct"] > 0, "vacuous: no conflicts rejected"
        div = (
            got.alias("s")
            .join(forced.alias("h"), key_cols)
            .filter(
                ~F.col("s.foo").eqNullSafe(F.col("h.foo"))
                | ~F.col("s.bar").eqNullSafe(F.col("h.bar"))
            )
            .count()
        )
        out["keys_forced_diverges_from_owned"] = div
        assert div > 0, "vacuous: forced ≡ non-forced — contention missing"
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def fieldmerge_experiment(spark, sf_dir: str, replicas: int) -> dict:
    """Scale-truth for the per-field SSA merge (VERDICT r10 missing #3,
    SURVEY §15.6): the golden/hypothesis suite pins the semantics at
    hundreds of rows; this proves them — and the "same single-shuffle
    shape as row LWW" cost claim — at the syncer harness's ~1M-row
    scale, through the REAL StateTable(field_merge=["spec","status"]).

    Corpus: two writer classes contend on a shared key space — even
    seqs assert ONLY spec, odd seqs assert ONLY status (the disjoint
    sync_fields hazard q_sync_conflict_audit audits; the key modulus is
    ODD so every key's seq stream alternates classes), with ~11%
    interleaved deletes (a delete asserts every field to null, so
    delete-then-single-field-reassert keys must surface with the OTHER
    field null). Merges run in four seq-range chunks delivered OUT of
    order (2,0,3,1) — per-field assertion seqs, not arrival order, must
    decide every contest.

    Checks:
      * final field-merged state ≡ an INDEPENDENTLY formulated SSA
        oracle (row_number windows over the full op-log: row winner for
        liveness/base cols; per field, the latest asserting row) —
        exceptAll both ways;
      * contention materialized: keys where whole-payload LWW loses a
        field that field merge preserves (counted vs a row-LWW
        StateTable fed the same chunks), and live keys with exactly one
        field null — both must be nonzero or the run is vacuous;
      * cost: total merge wall, field-merge vs row-LWW, same chunks —
        the single-aggregate claim as a measured ratio — plus the
        BUCKETED field-merged layout on the same chunks (uniform
        batches touch every bucket, the documented worst regime for
        hash bucketing — this prices it for THIS state family) with
        its live state asserted identical to the flat table's."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.streaming.cdc import StateTable

    key_cols = ["group", "version", "kind", "namespace", "name"]
    n_events = load_table(spark, sf_dir, "events").count()
    n_rows = n_events * replicas

    oplog = _fieldmerge_oplog(spark, sf_dir, replicas)

    def ssa_oracle(frame):
        # deliberately a DIFFERENT mechanism from field_merge_winners'
        # max_by aggregate: row_number windows + joins, so the oracle
        # cannot share a bug with the implementation
        tagged = frame.withColumn("__d", (F.col("op") == "delete").cast("int"))
        w = Window.partitionBy(*key_cols).orderBy(
            F.col("seq").desc(), F.col("__d").desc()
        )
        base = tagged.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1")
        out = base.filter(F.col("op") != "delete").select(*key_cols, "seq", "origin")
        for fld in ("spec", "status"):
            asserting = tagged.filter(F.col(fld).isNotNull() | (F.col("__d") == 1))
            fw = asserting.withColumn("__rn", F.row_number().over(w)).filter(
                "__rn = 1"
            )
            out = out.join(
                fw.select(
                    *key_cols, F.when(F.col("__d") == 0, F.col(fld)).alias(fld)
                ),
                key_cols,
                "left",
            )
        return out

    def canon(frame):
        return frame.select(
            *key_cols, "seq", "origin",
            F.col("spec.foo").alias("foo"),
            F.col("status.bar").alias("bar"),
        )

    bounds = [(i * n_rows) // 4 for i in range(5)]
    chunks = [
        oplog.filter(
            (F.col("seq") > bounds[i]) & (F.col("seq") <= bounds[i + 1])
        )
        for i in range(4)
    ]
    order = [2, 0, 3, 1]

    root = tempfile.mkdtemp(prefix="fieldmerge-truth-")
    out: dict = {"oplog_rows": oplog.count(), "chunk_order": order}
    try:
        st_field = StateTable(
            spark, os.path.join(root, "field"), key_cols, "seq",
            field_merge=["spec", "status"],
        )
        st_row = StateTable(spark, os.path.join(root, "row"), key_cols, "seq")
        st_bucketed = StateTable(
            spark, os.path.join(root, "bucketed"), key_cols, "seq",
            n_buckets=32, field_merge=["spec", "status"],
        )
        walls = {"field": 0.0, "row": 0.0, "bucketed": 0.0}
        for name, st in (
            ("field", st_field), ("row", st_row), ("bucketed", st_bucketed)
        ):
            for i in order:
                t0 = time.time()
                st.merge_batch(chunks[i])
                walls[name] += time.time() - t0
        out["merge_wall_field_s"] = round(walls["field"], 2)
        out["merge_wall_row_s"] = round(walls["row"], 2)
        out["field_over_row_wall"] = round(walls["field"] / walls["row"], 3)
        out["merge_wall_bucketed_field_s"] = round(walls["bucketed"], 2)

        got = canon(st_field.read()).localCheckpoint(eager=True)
        want = canon(ssa_oracle(oplog))
        out["live_keys"] = got.count()
        out["matches_ssa_oracle"] = (
            got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
        )
        got_b = canon(st_bucketed.read())
        out["bucketed_matches_flat"] = (
            got_b.exceptAll(got).count() == 0
            and got.exceptAll(got_b).count() == 0
        )

        # vacuity guards: the contested shapes must actually occur
        out["one_field_null_keys"] = got.filter(
            (F.col("foo").isNull() & F.col("bar").isNotNull())
            | (F.col("foo").isNotNull() & F.col("bar").isNull())
        ).count()
        r_ = canon(st_row.read()).select(
            *key_cols,
            F.col("foo").alias("r_foo"), F.col("bar").alias("r_bar"),
        )
        out["lww_divergent_keys"] = (
            got.join(r_, key_cols)
            .filter(
                (~F.col("foo").eqNullSafe(F.col("r_foo")))
                | (~F.col("bar").eqNullSafe(F.col("r_bar")))
            )
            .count()
        )
        if not (out["one_field_null_keys"] and out["lww_divergent_keys"]):
            raise AssertionError(
                f"vacuous run: the contested shapes never materialized "
                f"({out}) — raise replicas until keys see multiple writers"
            )
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--lsh", action="store_true")
    ap.add_argument("--ivf", action="store_true")
    ap.add_argument("--incremental", action="store_true")
    ap.add_argument("--boilerplate", action="store_true")
    ap.add_argument("--snapdiff", action="store_true")
    ap.add_argument("--snapdiff-skew", action="store_true")
    ap.add_argument("--mediasim", action="store_true")
    ap.add_argument("--simprobe", action="store_true")
    ap.add_argument("--semprobe", action="store_true")
    ap.add_argument("--grank", action="store_true")
    ap.add_argument("--imerge", action="store_true")
    ap.add_argument("--syncer", action="store_true")
    ap.add_argument("--bridge", action="store_true")
    ap.add_argument("--fieldmerge", action="store_true")
    ap.add_argument("--ownership", action="store_true")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--json", default=None)
    args = ap.parse_args(argv)
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
    if args.snapdiff:
        out["snapdiff"] = snapdiff_experiment(spark, args.sf_dir, args.replicas)
    if args.snapdiff_skew:
        out["snapdiff_skew"] = snapdiff_skew_experiment(
            spark, args.sf_dir, args.replicas
        )
    if args.mediasim:
        out["mediasim"] = mediasim_experiment(spark, args.sf_dir, args.replicas)
    if args.simprobe:
        out["simprobe"] = simprobe_experiment(spark, args.sf_dir, args.replicas)
    if args.semprobe:
        out["semprobe"] = semprobe_experiment(
            spark, args.sf_dir, min(args.replicas, 4)
        )
    if args.grank:
        out["grank"] = grank_experiment(spark, args.sf_dir, args.replicas)
    if args.imerge:
        out["imerge"] = imerge_experiment(spark, args.sf_dir, args.replicas)
    if args.syncer:
        out["syncer"] = syncer_experiment(spark, args.sf_dir, args.replicas)
    if args.bridge:
        out["bridge"] = bridge_experiment(spark, args.sf_dir, args.replicas)
    if args.fieldmerge:
        out["fieldmerge"] = fieldmerge_experiment(spark, args.sf_dir, args.replicas)
    if args.ownership:
        out["ownership"] = ownership_experiment(spark, args.sf_dir, args.replicas)
    line = json.dumps(out)
    print(line)
    if args.json:
        with open(args.json, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main(sys.argv[1:])
