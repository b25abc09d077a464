"""spark-submit entrypoint scripts, driven end-to-end in-process (the
CLI layer the k8s manifests invoke)."""

from __future__ import annotations

import json
import sys

import pytest

from .conftest import JOBS_DIR, SMOKE_SF


def test_run_export_cli(spark, tmp_path, capsys):
    sys.path.insert(0, JOBS_DIR)
    import run_export

    out = str(tmp_path / "exp")
    run_export.main(["--input", SMOKE_SF, "--output", out])
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["exported"]["region"] == 5
    assert spark.read.json(out).count() > 0


def test_run_syncer_cli_once(spark, tmp_path):
    sys.path.insert(0, JOBS_DIR)
    import run_syncer

    rules = [
        {
            "syncer_name": "s1",
            "syncer_namespace": "default",
            "suspend": False,
            "mode": "push",
            "rule_group": "e2e.gkelabs.io",
            "rule_version": "v1alpha1",
            "rule_kind": "TestCRD",
            "namespaces": [],
            "sync_fields": ["spec", "status"],
            "remote_secret": "kc-1",
        },
        {
            "syncer_name": "s2",
            "suspend": False,
            "mode": "pull",
            "rule_group": "e2e.gkelabs.io",
            "rule_version": "v1alpha1",
            "rule_kind": "TestCRD",
            "namespaces": [],
            "sync_fields": ["status"],
        },
    ]
    rules_path = tmp_path / "rules.json"
    rules_path.write_text(json.dumps(rules))

    oplog_dir = tmp_path / "oplog"
    oplog_dir.mkdir()
    rows = [
        {"seq": 1, "op": "upsert", "group": "e2e.gkelabs.io", "version": "v1alpha1",
         "kind": "TestCRD", "namespace": "default", "name": "obj1",
         "labels": {}, "annotations": {},
         "spec": {"foo": "f1", "resourceID": "r1"}, "status": {"bar": "b1"}},
        {"seq": 2, "op": "upsert", "group": "other.io", "version": "v1",
         "kind": "Thing", "namespace": "default", "name": "skipme",
         "labels": {}, "annotations": {}, "spec": None, "status": None},
    ]
    (oplog_dir / "b0.json").write_text("\n".join(json.dumps(r) for r in rows))

    run_syncer.main([
        "--rules", str(rules_path),
        "--oplog", str(oplog_dir),
        "--state", str(tmp_path / "state"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--once",
    ])
    # push syncer s1 lands in the remote destination derived from its
    # kubeconfig Secret; pull syncer s2 lands in the local destination
    # (krmsyncer_controller.go:477-487) — two different state tables
    remote = spark.read.parquet(str(tmp_path / "state" / "remote" / "default~kc-1"))
    got = remote.collect()
    assert len(got) == 1
    assert got[0]["name"] == "obj1"
    assert got[0]["spec"]["foo"] == "f1"
    assert got[0]["status"]["bar"] == "b1"
    local = spark.read.parquet(str(tmp_path / "state" / "local"))
    lgot = local.collect()
    assert len(lgot) == 1
    assert lgot[0]["name"] == "obj1"
    assert lgot[0]["spec"] is None  # s2 syncs status only
    assert lgot[0]["status"]["bar"] == "b1"


@pytest.mark.slow
def test_run_syncer_status_publish_skipped_on_unreadable_prev(spark, tmp_path, capsys):
    """ADVICE r8: a transient failure reading the PREVIOUS status must
    not publish a status with the carry-forward silently dropped (that
    durably regresses every syncer's last_sync_seq high-water mark).
    The batch's status publish is skipped (logged), the published
    status stays on its old version, and the next healthy batch
    publishes with the carry intact."""
    import os

    sys.path.insert(0, JOBS_DIR)
    import run_syncer

    rules = [{
        "syncer_name": "s1", "syncer_namespace": "default", "suspend": False,
        "mode": "pull", "rule_group": "e2e.gkelabs.io",
        "rule_version": "v1alpha1", "rule_kind": "TestCRD",
        "namespaces": [], "sync_fields": ["spec"],
    }]
    rules_path = tmp_path / "rules.json"
    rules_path.write_text(json.dumps(rules))
    oplog_dir = tmp_path / "oplog"
    oplog_dir.mkdir()

    def row(seq, name):
        return {"seq": seq, "op": "upsert", "group": "e2e.gkelabs.io",
                "version": "v1alpha1", "kind": "TestCRD",
                "namespace": "default", "name": name, "labels": {},
                "annotations": {}, "spec": {"foo": name}, "status": None}

    def run_once():
        run_syncer.main([
            "--rules", str(rules_path), "--oplog", str(oplog_dir),
            "--state", str(tmp_path / "state"),
            "--checkpoint", str(tmp_path / "ckpt"), "--once",
        ])

    status = tmp_path / "state" / "status"
    (oplog_dir / "b0.json").write_text(json.dumps(row(1, "obj1")))
    run_once()
    assert spark.read.parquet(str(status)).collect()[0]["last_sync_seq"] == 1
    target_before = os.readlink(str(status))

    # corrupt the live status version so the prev read fails
    junk = status.resolve() / "zzz-junk.parquet"
    junk.write_bytes(b"not parquet at all")
    (oplog_dir / "b1.json").write_text(json.dumps(row(5, "obj2")))
    run_once()
    err = capsys.readouterr().err
    assert "status publish skipped" in err
    # no new version published — the pointer did not move
    assert os.readlink(str(status)) == target_before

    # recovery: heal the read, next batch publishes with the carry
    junk.unlink()
    (oplog_dir / "b2.json").write_text(json.dumps(row(9, "obj3")))
    run_once()
    assert os.readlink(str(status)) != target_before
    got = spark.read.parquet(str(status)).collect()
    assert got[0]["last_sync_seq"] == 9

    # the one-failure streak file was cleaned up by the healthy read
    streak_path = tmp_path / "state" / "status.failstreak.json"
    assert not streak_path.exists()

    # a PERMANENTLY unreadable status must not wedge silently: the
    # fail streak persists ON DISK, so three consecutive failing
    # batches escalate even when each runs in its own --once process
    # (the cron deployment shape — an in-memory counter would reset
    # every invocation and never fire)
    import pytest

    junk2 = status.resolve() / "zzz-junk.parquet"
    junk2.write_bytes(b"still not parquet")
    for i, (seq, name) in enumerate(((11, "obj4"), (12, "obj5"), (13, "obj6"))):
        (oplog_dir / f"b{seq}.json").write_text(json.dumps(row(seq, name)))
        if i < 2:
            run_once()
            assert f"streak {i + 1}/3" in capsys.readouterr().err
            assert json.loads(streak_path.read_text())[
                "consecutive_failures"
            ] == i + 1
        else:
            with pytest.raises(Exception, match="3 consecutive batches"):
                run_once()

    # heal: the next successful publish clears the streak file
    junk2.unlink()
    (oplog_dir / "b20.json").write_text(json.dumps(row(20, "obj7")))
    run_once()
    assert not streak_path.exists()
    assert spark.read.parquet(str(status)).collect()[0]["last_sync_seq"] == 20


def test_run_syncer_hot_rule_reload(spark, tmp_path, capsys):
    """VERDICT r7 #2 — the streaming analog of the reference's
    per-event rule re-list (r.LocalClient.List inside Reconcile,
    krmsyncer_controller.go:426-429) and of its `suspend` integration
    case: a rule SUSPENDED and another ADDED between micro-batches must
    take effect on the next batch without a job restart. Also pins
    VERDICT r7 #6: the per-syncer status table is re-published every
    micro-batch (condition reflects the new rule generation; an idle or
    newly-suspended syncer keeps its last_sync_seq high-water mark)."""
    sys.path.insert(0, JOBS_DIR)
    import run_syncer

    def rule(name, mode, suspend=False, secret=None):
        return {
            "syncer_name": name,
            "syncer_namespace": "default",
            "suspend": suspend,
            "mode": mode,
            "rule_group": "e2e.gkelabs.io",
            "rule_version": "v1alpha1",
            "rule_kind": "TestCRD",
            "namespaces": [],
            "sync_fields": ["spec", "status"],
            "remote_secret": secret,
        }

    def event(seq, name):
        return {
            "seq": seq, "op": "upsert", "group": "e2e.gkelabs.io",
            "version": "v1alpha1", "kind": "TestCRD", "namespace": "default",
            "name": name, "labels": {}, "annotations": {},
            "spec": {"foo": f"f{seq}", "resourceID": f"r{seq}"},
            "status": {"bar": f"b{seq}"},
        }

    rules_path = tmp_path / "rules.json"
    rules_path.write_text(
        json.dumps([rule("s_pull", "pull"), rule("s_push", "push", secret="kc-1")])
    )
    oplog = tmp_path / "oplog"
    oplog.mkdir()
    (oplog / "b0.json").write_text(json.dumps(event(1, "obj1")))
    argv = [
        "--rules", str(rules_path),
        "--oplog", str(oplog),
        "--state", str(tmp_path / "state"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--once",
    ]
    run_syncer.main(argv)

    def status():
        return {
            r["syncer_name"]: (r["condition"], r["last_sync_seq"])
            for r in spark.read.parquet(str(tmp_path / "state" / "status")).collect()
        }

    st = status()
    assert st == {"s_pull": ("Active", 1), "s_push": ("Active", 1)}

    # BETWEEN micro-batches: suspend the push syncer, add a new one
    rules_path.write_text(json.dumps([
        rule("s_pull", "pull"),
        rule("s_push", "push", suspend=True, secret="kc-1"),
        rule("s_push2", "push", secret="kc-2"),
    ]))
    (oplog / "b1.json").write_text(json.dumps(event(2, "obj2")))
    run_syncer.main(argv)

    # the next batch routed on the NEW rule generation: the suspended
    # push syncer received nothing, the new one received only batch 2
    names = lambda p: {  # noqa: E731
        r["name"] for r in spark.read.parquet(str(tmp_path / "state" / p)).collect()
    }
    assert names("local") == {"obj1", "obj2"}
    assert names("remote/default~kc-1") == {"obj1"}
    assert names("remote/default~kc-2") == {"obj2"}

    # status re-published on the new generation: suspended syncer keeps
    # its high-water mark from the generation that was active
    st = status()
    assert st == {
        "s_pull": ("Active", 2),
        "s_push": ("Suspended", 1),
        "s_push2": ("Active", 2),
    }


def test_run_export_cli_yaml(spark, tmp_path, capsys):
    sys.path.insert(0, JOBS_DIR)
    import yaml

    import run_export

    out = str(tmp_path / "expy")
    run_export.main(["--input", SMOKE_SF, "--output", out, "--serialization", "yaml"])
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["exported"]["region"] == 5
    back = spark.read.json(out)
    row = back.filter("table_name = 'region'").first()
    assert row["path"].endswith(".yaml")
    obj = yaml.safe_load(row["payload"])
    assert "r_name" in obj and "r_regionkey" in obj


def test_run_export_cli_zip(spark, tmp_path, capsys):
    """--zip produces the reference CLI's exact deliverable: a zip whose
    entries are the tree-relative object paths with the serialized
    payloads as contents (kube-etl export --output output.zip)."""
    import zipfile

    sys.path.insert(0, JOBS_DIR)
    import run_export

    out = str(tmp_path / "exp")
    run_export.main(["--input", SMOKE_SF, "--output", out, "--zip"])
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["zip"].endswith(".zip")
    with zipfile.ZipFile(printed["zip"]) as zf:
        names = zf.namelist()
        assert len(names) == printed["zip_entries"] > 0
        # region rows exported as one file per object under the derived path
        region = [n for n in names if "/Region/" in n or "region" in n.lower()]
        assert region, names[:5]
        payload = zf.read(names[0]).decode()
        assert payload.strip(), "empty payload in zip entry"


def test_run_pretraining_cli(spark, tmp_path, capsys):
    sys.path.insert(0, JOBS_DIR)
    import run_pretraining

    out = str(tmp_path / "corpus")
    run_pretraining.main(["--input", SMOKE_SF, "--output", out, "--cap", "128"])
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["written_docs"] == stats["input_docs"] - stats[
        "dropped_quality"
    ] - stats["dropped_duplicate"]
    assert set(stats["splits"]) <= {"train", "valid", "test"}
    assert stats["splits"]["train"]["n_docs"] > stats["splits"]["test"]["n_docs"]

    from pyspark.sql import functions as F

    corpus = spark.read.parquet(out)
    # partitioned layout readable with pruning
    assert corpus.filter(F.col("split") == "train").count() == stats["splits"][
        "train"
    ]["n_docs"]
    # no content duplicates survived
    n = corpus.count()
    assert corpus.select(F.sha2("text", 256)).distinct().count() == n
    # every surviving doc passes the quality gates (re-derive)
    toks = F.split(F.col("text"), " ")
    ntk = F.size(toks)
    assert corpus.filter(ntk < 20).count() == 0
    # packing: per (split, source), intervals are contiguous — doc i's
    # first_seq derives from the running token sum before it
    w_ok = (
        corpus.groupBy("split", "source")
        .agg(
            F.sum("n_tokens").alias("tot"),
            (F.max("last_seq") + 1).alias("nseq"),
        )
        .withColumn("expect_nseq", F.ceil(F.col("tot") / 128))
        .filter(F.col("nseq") != F.col("expect_nseq"))
    )
    assert w_ok.count() == 0, w_ok.collect()
    # split is content-hash derived: same text => same split everywhere
    assert (
        corpus.select(F.substring(F.md5("text"), 1, 1).alias("d"), "split")
        .distinct()
        .groupBy("d")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )


def test_retrieval_index_build_and_probe(spark, tmp_path):
    """Index build + serve e2e: the IVF probe must be a
    partition-pruned read (only nprobe cell directories), the lexical
    probe must agree with the full-corpus BM25 query on the positive-
    score prefix, and the probe vector must find itself at cos 1.0."""
    import os

    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.retrieval_index import (
        build_index,
        dense_probe,
        lexical_probe,
        query_index,
    )

    idx = str(tmp_path / "idx")
    stats = build_index(spark, SMOKE_SF, idx, k=8)
    assert stats["n_vectors"] == 500 and stats["n_terms"] > 0
    # physical layout: one directory per centroid cell
    cell_dirs = [d for d in os.listdir(idx + "/cells") if d.startswith("centroid_id=")]
    assert 1 <= len(cell_dirs) <= 8

    probe_v = list(
        load_table(spark, SMOKE_SF, "embeddings")
        .filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .head()["v"]
    )
    dense = dense_probe(spark, idx, probe_v, nprobe=2, topk=10)
    plan = dense._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pruned = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pruned and "centroid_id" in pruned[0], "cell read not partition-pruned"
    rows = dense.collect()
    # the probe vector is in the index; its own cell is always probed
    assert rows[0]["vec_id"] == 0 and rows[0]["cos"] == 1.0

    lex = lexical_probe(spark, idx, ["dup", "key", "window"], topk=10).collect()
    from kube_etl_spark.registry import all_specs

    full = all_specs()["q_bm25_topk"].fn(spark, SMOKE_SF).collect()
    full_pos = [(r["doc_id"], r["bm25"]) for r in full if r["bm25"] > 0][:10]
    assert [(r["doc_id"], r["bm25"]) for r in lex] == full_pos

    fused = query_index(spark, idx, ["dup", "key", "window"], probe_v).collect()
    assert fused and fused[0]["rrf"] >= fused[-1]["rrf"]
    assert {"doc_id", "rank_lex", "rank_dense", "rrf"} == set(fused[0].asDict())


def test_run_retrieval_index_cli(spark, tmp_path, capsys):
    sys.path.insert(0, JOBS_DIR)
    import run_retrieval_index

    idx = str(tmp_path / "idx2")
    run_retrieval_index.main(
        ["--input", SMOKE_SF, "--index", idx, "--k", "4", "--probe-terms", "dup,key"]
    )
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["n_vectors"] == 500
    assert len(printed["probe_top5"]) == 5


@pytest.mark.slow
def test_retrieval_index_incremental_append(spark, tmp_path):
    """append ≡ rebuild for the content-keyed tables: build the index
    on half the corpus, append the other half, and the lexical probe
    must match an index built on the full corpus in one shot; the
    dense side must contain every vector, routed through the
    half-corpus centroids, and still find the probe vector at 1.0."""
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.retrieval_index import (
        append_to_index,
        build_index,
        dense_probe,
        lexical_probe,
    )

    docs = load_table(spark, SMOKE_SF, "documents")
    emb = load_table(spark, SMOKE_SF, "embeddings")

    # one-shot reference index on the full corpus
    full_idx = str(tmp_path / "full")
    build_index(spark, SMOKE_SF, full_idx, k=8)

    # incremental: build on doc_id < 250, append the rest
    half_dir = str(tmp_path / "halfdata")
    docs.filter(F.col("doc_id") < 250).write.parquet(half_dir + "/documents.parquet")
    emb.filter(F.col("vec_id") < 250).write.parquet(half_dir + "/embeddings.parquet")
    inc_idx = str(tmp_path / "inc")
    build_index(spark, half_dir, inc_idx, k=8)
    stats = append_to_index(
        spark,
        inc_idx,
        docs.filter(F.col("doc_id") >= 250),
        emb.filter(F.col("vec_id") >= 250),
    )
    assert stats["appended_vectors"] == 250

    terms = ["dup", "key", "window"]
    inc_lex = [(r["doc_id"], r["bm25"]) for r in lexical_probe(spark, inc_idx, terms).collect()]
    full_lex = [(r["doc_id"], r["bm25"]) for r in lexical_probe(spark, full_idx, terms).collect()]
    assert inc_lex == full_lex

    probe_v = list(
        emb.filter(F.col("vec_id") == 300)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .head()["v"]
    )
    rows = dense_probe(spark, inc_idx, probe_v, nprobe=2, topk=5).collect()
    # vec 300 arrived via append; it must be findable through the
    # half-corpus centroids (its own cell is the nearest → probed)
    assert rows[0]["vec_id"] == 300 and rows[0]["cos"] == 1.0
    n_indexed = spark.read.parquet(inc_idx + "/cells").count()
    assert n_indexed == 500


def test_retrieval_index_streaming_ingest(spark, tmp_path):
    """Continuous index maintenance: a document/embedding stream feeds
    append_to_index through foreachBatch micro-batches. After the
    stream drains, the lexical index must be byte-equivalent to a
    one-shot batch build (content-keyed tables are arrival-order
    independent) and every streamed vector must be searchable."""
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.retrieval_index import (
        append_to_index,
        build_index,
        dense_probe,
        lexical_probe,
    )
    from kube_etl_spark.streaming.sources import chunked_file_stream

    docs = load_table(spark, SMOKE_SF, "documents")
    emb = load_table(spark, SMOKE_SF, "embeddings")

    full_idx = str(tmp_path / "full")
    build_index(spark, SMOKE_SF, full_idx, k=8)

    # seed index on the first half; stream the rest in 2 micro-batches
    half_dir = str(tmp_path / "halfdata")
    docs.filter(F.col("doc_id") < 250).write.parquet(half_dir + "/documents.parquet")
    emb.filter(F.col("vec_id") < 250).write.parquet(half_dir + "/embeddings.parquet")
    idx = str(tmp_path / "streamed")
    build_index(spark, half_dir, idx, k=8)

    tail = (
        docs.filter(F.col("doc_id") >= 250)
        .join(emb.filter(F.col("vec_id") >= 250), docs.doc_id == emb.vec_id)
        .select(
            "doc_id", "text", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )
    stream = chunked_file_stream(
        spark, tail, str(tmp_path / "src"), n_chunks=2, order_col="doc_id"
    )

    def _ingest(batch, _bid):
        if batch.count():
            append_to_index(
                spark,
                idx,
                batch.select("doc_id", "text"),
                batch.select(F.col("doc_id").alias("vec_id"), "embedding"),
            )

    q = (
        stream.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()

    terms = ["dup", "key", "window"]
    got = [(r["doc_id"], r["bm25"]) for r in lexical_probe(spark, idx, terms).collect()]
    want = [(r["doc_id"], r["bm25"]) for r in lexical_probe(spark, full_idx, terms).collect()]
    assert got == want
    assert spark.read.parquet(idx + "/cells").count() == 500
    probe_v = list(
        emb.filter(F.col("vec_id") == 400)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .head()["v"]
    )
    rows = dense_probe(spark, idx, probe_v, nprobe=2, topk=3).collect()
    assert rows[0]["vec_id"] == 400 and rows[0]["cos"] == 1.0


def test_layout_zorder_prunes_second_dimension(spark, tmp_path):
    """Z-order clustering vs linear sort, measured from the parquet
    footers a stats-pruning reader actually consults: on a predicate
    over the SECOND key (where a linear sort by the first key gives
    zero clustering), z-order must open strictly fewer files; on a
    first-key predicate it must not be worse than ~one extra file; and
    normalization must give both dimensions equal bit weight (the raw
    interleave of different-magnitude keys degenerates to a linear
    sort — the bug this test pins)."""
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.layout import files_possibly_matching, zorder_write

    li = load_table(spark, SMOKE_SF, "lineitem")
    zdir, ldir = str(tmp_path / "z"), str(tmp_path / "lin")
    zorder_write(li, zdir, "l_orderkey", "l_partkey", n_files=8)
    (
        li.repartitionByRange(8, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(ldir)
    )
    n_z = len([f for f in __import__("os").listdir(zdir) if f.endswith(".parquet")])
    assert n_z == 8

    hi_p = li.agg(F.max("l_partkey")).collect()[0][0]
    # narrow second-key band: linear layout cannot skip anything
    band = {"l_partkey": (int(hi_p * 0.1), int(hi_p * 0.15))}
    z_open = files_possibly_matching(zdir, band)
    l_open = files_possibly_matching(ldir, band)
    assert l_open == 8, "linear sort unexpectedly clusters the second key"
    # repartitionByRange SAMPLES its boundaries, so the file layout can
    # wobble one file between runs — the claim is strict improvement
    # with a real margin, not an exact count
    assert z_open < l_open and z_open <= 5, (
        f"z-order opened {z_open}/8 files on a 5% second-key band"
    )

    # first-key predicate: the linear sort is optimal here by
    # construction (that's its one dimension); z-order pays for 2-d
    # balance but must still skip — at most half the files for a 10%
    # first-key slice
    hi_o = li.agg(F.max("l_orderkey")).collect()[0][0]
    first = {"l_orderkey": (0, int(hi_o * 0.1))}
    assert files_possibly_matching(ldir, first) <= 2  # linear: optimal
    # same sampled-boundary wobble as above: z-order must still skip
    # meaningfully on the first key, with a one-file margin
    assert files_possibly_matching(zdir, first) <= 5  # z-order: still skips


def test_run_maintenance_cli(spark, tmp_path, capsys):
    sys.path.insert(0, JOBS_DIR)
    import run_maintenance

    from kube_etl_spark.catalog import load_table

    li = load_table(spark, SMOKE_SF, "lineitem")
    small = str(tmp_path / "small")
    li.repartition(32).write.parquet(small)

    out = str(tmp_path / "compacted")
    run_maintenance.main(
        ["compact", "--input", small, "--output", out, "--target-rows", "3000"]
    )
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["files_before"] == 32
    assert printed["files_after"] == printed["rows"] // 3000 + (
        1 if printed["rows"] % 3000 else 0
    )
    assert spark.read.parquet(out).count() == printed["rows"]

    zout = str(tmp_path / "zordered")
    run_maintenance.main(
        ["zorder", "--input", small, "--output", zout, "--by",
         "l_orderkey,l_partkey", "--files", "4"]
    )
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["zordered"] == spark.read.parquet(zout).count()


def test_k8s_manifests_match_job_argparse():
    """Every deploy/k8s manifest that invokes a jobs/run_*.py must pass
    all of that job's argparse-required flags and no flag the job does
    not declare — the syncer manifest shipped for six rounds passing
    only --rules (of four required flags) and would have crashed at pod
    startup (review r8). Static check: regex the job source for
    add_argument declarations, compare to the manifest's --flag args
    after the script path."""
    import glob
    import os
    import re

    import yaml

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    checked = 0
    for mf in sorted(glob.glob(os.path.join(repo, "deploy", "k8s", "*.yaml"))):
        for doc in yaml.safe_load_all(open(mf)):
            if not doc:
                continue
            tpl = (doc.get("spec", {}).get("template")
                   or doc.get("spec", {}).get("jobTemplate", {})
                      .get("spec", {}).get("template") or {})
            for c in tpl.get("spec", {}).get("containers", []):
                args = c.get("args", [])
                scripts = [a for a in args if re.search(r"jobs/run_\w+\.py$", str(a))]
                if not scripts:
                    continue
                job = os.path.basename(scripts[0])
                src = open(os.path.join(repo, "jobs", job)).read()
                declared = set(re.findall(r'add_argument\(\s*"--([\w-]+)"', src))
                required = set(
                    re.findall(
                        r'add_argument\(\s*"--([\w-]+)",[^)]*required=True', src
                    )
                )
                tail = args[args.index(scripts[0]) + 1:]
                passed = {
                    str(a).split("=", 1)[0][2:]
                    for a in tail
                    if str(a).startswith("--")
                }
                missing = required - passed
                unknown = passed - declared
                assert not missing, f"{mf}: {job} missing required {missing}"
                assert not unknown, f"{mf}: {job} passes undeclared {unknown}"
                checked += 1
    assert checked >= 8, f"only {checked} job invocations found — glob broken?"


def test_run_maintenance_gc_cli(spark, tmp_path, capsys):
    """The gc subcommand purges delete tombstones below the seq horizon
    in BOTH state layouts (auto-detected: flat symlink vs bucket-*
    dirs), leaves live rows and above-horizon tombstones intact, and
    refuses a path that is neither."""
    import pytest

    sys.path.insert(0, JOBS_DIR)
    import run_maintenance

    from pyspark.sql import functions as F  # noqa: F401

    from kube_etl_spark.streaming.cdc import StateTable

    def seed(table):
        table.merge_batch(
            spark.createDataFrame(
                [(k, k * 10, 1, "upsert") for k in range(8)],
                "k long, v long, seq long, op string",
            )
        )
        table.merge_batch(
            spark.createDataFrame(
                [(1, 2, "delete"), (2, 9, "delete")], "k long, seq long, op string"
            )
        )

    def tombs(path):
        raw = spark.read.parquet(path)
        return {
            (r["k"], r["seq"])
            for r in raw.filter(F.col("__op") == "delete").collect()
        }

    flat = StateTable(spark, str(tmp_path / "flat"), ["k"], "seq")
    seed(flat)
    run_maintenance.main(
        ["gc", "--state", str(tmp_path / "flat"), "--before-seq", "5"]
    )
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["live_rows"] == 6
    # k=1 (seq 2 < 5) purged; k=2 (seq 9 >= 5) kept as a tombstone
    assert tombs(str(tmp_path / "flat")) == {(2, 9)}

    buck = StateTable(spark, str(tmp_path / "buck"), ["k"], "seq", n_buckets=4)
    seed(buck)
    run_maintenance.main(
        ["gc", "--state", str(tmp_path / "buck"), "--before-seq", "5"]
    )
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["live_rows"] == 6
    assert buck.read().count() == 6

    with pytest.raises(SystemExit, match="neither"):
        run_maintenance.main(
            ["gc", "--state", str(tmp_path), "--before-seq", "1"]
        )


def test_run_index_stream_cli(spark, tmp_path, capsys):
    """The continuous-maintenance CLI: drop a json batch of new docs in
    the watch dir, run --once, and the index must contain them. A
    second --once run with no new files must append nothing (the
    checkpoint already consumed them) — idempotent restart."""
    sys.path.insert(0, JOBS_DIR)
    import run_index_stream

    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.retrieval_index import build_index

    half_dir = str(tmp_path / "halfdata")
    docs = load_table(spark, SMOKE_SF, "documents")
    emb = load_table(spark, SMOKE_SF, "embeddings")
    docs.filter(F.col("doc_id") < 400).write.parquet(half_dir + "/documents.parquet")
    emb.filter(F.col("vec_id") < 400).write.parquet(half_dir + "/embeddings.parquet")
    idx = str(tmp_path / "idx")
    build_index(spark, half_dir, idx, k=4)

    watch = tmp_path / "watch"
    watch.mkdir()
    tail = (
        docs.filter(F.col("doc_id") >= 400)
        .join(emb.filter(F.col("vec_id") >= 400), docs.doc_id == emb.vec_id)
        .select("doc_id", "text", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    (watch / "batch-0.json").write_text("\n".join(tail.toJSON().collect()))

    argv = ["--watch", str(watch), "--index", idx, "--checkpoint", str(tmp_path / "ckpt"), "--once"]
    run_index_stream.main(argv)
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["rows"] == 100
    assert spark.read.parquet(idx + "/cells").count() == 500

    # restart with nothing new: checkpoint makes it a no-op
    run_index_stream.main(argv)
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["rows"] == 0
    assert spark.read.parquet(idx + "/cells").count() == 500


@pytest.mark.slow
def test_retrieval_index_compliance_delete(spark, tmp_path):
    """delete_from_index must remove the docs everywhere (cells,
    postings, doclens, stats), rewrite ONLY the touched cell
    directories (untouched cells keep their files byte-identical), and
    leave the lexical index equal to a fresh build on the reduced
    corpus."""
    import os

    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.retrieval_index import (
        build_index,
        delete_from_index,
        lexical_probe,
    )

    idx = str(tmp_path / "idx")
    build_index(spark, SMOKE_SF, idx, k=8)
    victims = [3, 7, 11, 400]
    cells_before = spark.read.parquet(idx + "/cells")
    victim_cells = {
        r["centroid_id"]
        for r in cells_before.filter(F.col("vec_id").isin(victims))
        .select("centroid_id")
        .collect()
    }
    untouched = [
        d
        for d in os.listdir(idx + "/cells")
        if d.startswith("centroid_id=")
        and int(d.split("=")[1]) not in victim_cells
    ]
    mtimes_before = {
        d: sorted(os.listdir(os.path.join(idx, "cells", d))) for d in untouched
    }

    res = delete_from_index(spark, idx, victims)
    assert res["deleted"] == 4
    assert res["touched_cells"] == len(victim_cells)

    cells = spark.read.parquet(idx + "/cells")
    assert cells.count() == 500 - len(victims)
    assert cells.filter(F.col("vec_id").isin(victims)).count() == 0
    post = spark.read.parquet(idx + "/postings")
    assert post.filter(F.col("doc_id").isin(victims)).count() == 0
    # untouched cell directories kept their exact files
    for d in untouched:
        assert sorted(os.listdir(os.path.join(idx, "cells", d))) == mtimes_before[d]

    # lexical index == fresh build on the reduced corpus
    red_dir = str(tmp_path / "reduced")
    docs = load_table(spark, SMOKE_SF, "documents")
    emb = load_table(spark, SMOKE_SF, "embeddings")
    docs.filter(~F.col("doc_id").isin(victims)).write.parquet(red_dir + "/documents.parquet")
    emb.filter(~F.col("vec_id").isin(victims)).write.parquet(red_dir + "/embeddings.parquet")
    ref_idx = str(tmp_path / "ref")
    build_index(spark, red_dir, ref_idx, k=8)
    terms = ["dup", "key", "window"]
    got = [(r["doc_id"], r["bm25"]) for r in lexical_probe(spark, idx, terms).collect()]
    want = [(r["doc_id"], r["bm25"]) for r in lexical_probe(spark, ref_idx, terms).collect()]
    assert got == want


@pytest.mark.slow
def test_retrieval_index_delete_recovers_from_mid_commit_crash(spark, tmp_path):
    """Review r9: the dense-side rewrite is an in-place dynamic
    partition overwrite — a crash mid-commit could lose a touched
    cell's SURVIVING vectors with no way back. delete_from_index now
    snapshots the touched cell dirs via hard links + an intent journal
    before mutating; a crash is simulated by corrupting a touched cell
    dir while the journal still exists — the next delete call restores
    the pre-delete state and re-runs to the correct result."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from kube_etl_spark.plans.retrieval_index import (
        _backup_cells,
        build_index,
        delete_from_index,
    )

    idx = str(tmp_path / "idx")
    build_index(spark, SMOKE_SF, idx, k=8)
    cells_dir = idx + "/cells"
    victims = [3, 7, 11, 400]
    touched = [
        r["centroid_id"]
        for r in spark.read.parquet(cells_dir)
        .filter(F.col("vec_id").isin(victims))
        .select("centroid_id")
        .distinct()
        .collect()
    ]

    # simulate the crashed delete: backup + intent published (as the
    # real path does pre-rewrite), then the rewrite 'dies mid-commit' —
    # one touched cell dir wiped, another left intact
    _backup_cells(cells_dir, touched)
    wiped = os.path.join(cells_dir, f"centroid_id={touched[0]}")
    shutil.rmtree(wiped)
    assert os.path.exists(cells_dir + ".delete-intent.json")

    # the next delete run recovers first, then deletes normally
    res = delete_from_index(spark, idx, victims)
    assert res["deleted"] == 4
    assert not os.path.exists(cells_dir + ".delete-intent.json")
    assert not os.path.exists(cells_dir + ".backup")
    cells = spark.read.parquet(cells_dir)
    # every surviving vector of the 'lost' cell came back, victims gone
    assert cells.count() == 500 - len(victims)
    assert cells.filter(F.col("vec_id").isin(victims)).count() == 0
    # and the recovered cell still holds its non-victim members
    survivors_in_wiped = cells.filter(
        F.col("centroid_id") == touched[0]
    ).count()
    assert survivors_in_wiped > 0


def test_epoch_manifests(spark, tmp_path):
    """Epoch manifests: deterministic across rebuilds, epochs sample
    independently (different subsets/orders), the mixture upsamples the
    tail domain relative to the head, and per-(epoch, shard) positions
    are a contiguous 1..n ranking."""
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.epochs import build_manifests, mixture_rates

    docs = load_table(spark, SMOKE_SF, "documents")
    out1, out2 = str(tmp_path / "m1"), str(tmp_path / "m2")
    stats = build_manifests(spark, docs, out1, n_epochs=2)
    build_manifests(spark, docs, out2, n_epochs=2)

    m1 = spark.read.parquet(out1)
    m2 = spark.read.parquet(out2)
    key = ["epoch", "shard", "pos", "doc_id"]
    assert [tuple(r) for r in m1.select(key).orderBy(key).collect()] == [
        tuple(r) for r in m2.select(key).orderBy(key).collect()
    ], "manifest build is not deterministic"

    # rates: the tail (most-upweighted) domain samples at 1.0; the head
    # downsamples toward the sqrt-share mixture (rate ≈ sqrt ratio)
    rates = {r["source"]: (r["share"], r["rate"]) for r in mixture_rates(docs).collect()}
    head = max(rates, key=lambda s: rates[s][0])
    tail = min(rates, key=lambda s: rates[s][0])
    assert abs(rates[tail][1] - 1.0) < 1e-9
    assert rates[head][1] < 1.0
    import math

    expect = math.sqrt(rates[tail][0] / rates[head][0])
    assert abs(rates[head][1] - expect) < 1e-9

    # epochs sample independent subsets
    e0 = {r["doc_id"] for r in m1.filter(F.col("epoch") == 0).collect()}
    e1 = {r["doc_id"] for r in m1.filter(F.col("epoch") == 1).collect()}
    assert e0 and e1 and e0 != e1

    # per-(epoch, shard) positions are exactly 1..n
    bad = (
        m1.groupBy("epoch", "shard")
        .agg(F.count(F.lit(1)).alias("n"), F.max("pos").alias("mx"), F.min("pos").alias("mn"))
        .filter((F.col("mx") != F.col("n")) | (F.col("mn") != 1))
    )
    assert bad.count() == 0, bad.collect()

    # the manifest's epoch partition is prunable
    assert m1.filter(F.col("epoch") == 0).count() == stats["epochs"]["0"]


def test_vocab_build_and_encode_roundtrip(spark, tmp_path):
    """Vocabulary ids are deterministic (count desc, token asc; 0
    reserved for <unk>) and id-encoding round-trips: decoding every
    in-vocab position reproduces the original token, OOV positions are
    exactly the below-min-count tokens."""
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.pretraining import build_vocab, encode_corpus

    corpus = load_table(spark, SMOKE_SF, "documents")
    vocab = build_vocab(corpus, min_count=5)
    v = vocab.collect()
    # ids are 1..V in (count desc, token asc) order
    ordered = sorted(v, key=lambda r: (-r["count"], r["token"]))
    assert [r["id"] for r in ordered] == list(range(1, len(v) + 1))

    enc = encode_corpus(corpus, vocab)
    id2tok = {r["id"]: r["token"] for r in v}
    sample = enc.join(corpus.select("doc_id", "text"), "doc_id").limit(50).collect()
    assert sample
    for row in sample:
        toks = row["text"].split(" ")
        ids = row["token_ids"]
        assert len(toks) == len(ids)
        for t, i in zip(toks, ids):
            if i == 0:
                assert t not in id2tok.values() or t not in {r["token"] for r in v}
            else:
                assert id2tok[i] == t


@pytest.mark.slow
def test_run_audit_cli(spark, tmp_path, capsys):
    """The audit battery over clean fixtures: integrity intact (zero
    orphans), stationary stream (PSI under the 0.1 alarm), synthetic
    uniform money FAILING Benford (high deviation — the alarm working),
    row counts present for every table, and the parquet report
    readable for run-over-run diffing."""
    sys.path.insert(0, JOBS_DIR)
    import run_audit

    out = str(tmp_path / "audit")
    run_audit.main(["--input", SMOKE_SF, "--output", out])
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    rows = {(r["check"], r["subject"]): r["value"] for r in printed["report"]}

    orphans = {k: v for k, v in rows.items() if k[0] == "fk_orphans"}
    assert len(orphans) == 4 and all(v == 0.0 for v in orphans.values()), orphans
    assert rows[("drift_psi_max", "events.value")] < 0.1
    assert rows[("benford_max_deviation", "orders.o_totalprice")] > 0.05
    counts = {k[1]: v for k, v in rows.items() if k[0] == "row_count"}
    assert counts["events"] == 1000.0
    assert len(counts) == 8 and all(v > 0 for v in counts.values())
    nulls = {k: v for k, v in rows.items() if k[0] == "null_fraction"}
    assert all(v == 0.0 for v in nulls.values()), nulls

    back = spark.read.parquet(out)
    assert back.count() == len(printed["report"])


def test_hll_sketch_rollup_merge_algebra(spark):
    """Mergeable distinct sketches: (a) per-cell estimates within the
    lgK=12 error envelope of exact distincts; (b) the merge algebra is
    EXACT — union-of-day-sketches estimates equal a direct sketch over
    the raw data (register merge is pointwise max), per event type and
    globally; (c) the rollup reads only |cells| rows."""
    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.sketches import build_daily_sketches, estimate_distinct
    from pyspark.sql import functions as F

    ev = load_table(spark, SMOKE_SF, "events")
    cells = build_daily_sketches(ev).cache()

    # (a) per-type estimates vs exact, 5% tolerance (3σ at lgK=12)
    est = {
        r["event_type"]: r["distinct_users_est"]
        for r in estimate_distinct(cells, "event_type").collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for t, e in exact.items():
        assert abs(est[t] - e) <= max(2, 0.05 * e), (t, est[t], e)

    # (b) merged day-cells == direct sketch over raw rows, exactly
    direct = {
        r["event_type"]: r["d"]
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12))).alias("d"))
        .collect()
    }
    assert est == direct
    total_merged = estimate_distinct(cells).collect()[0]["distinct_users_est"]
    total_direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id", F.lit(12)))
    ).collect()[0][0]
    assert total_merged == total_direct

    # (c) the rollup input is cell-sized — bounded by days × types
    # (data-INDEPENDENT: the same ≤155 cells at any corpus size; the
    # smoke fixture only has 1000 events, so a ratio test would lie)
    n_days = ev.select(F.date_trunc("day", F.col("ts").cast("timestamp"))).distinct().count()
    n_types = ev.select("event_type").distinct().count()
    assert cells.count() <= n_days * n_types
    cells.unpersist()


def test_pagerank_matches_reference_implementation(spark):
    """Join-based PageRank vs an independent driver-side implementation
    on a small graph with a dangling node and a hub; Σrank = 1 every
    time, values within float-summation tolerance, and the hub ranks
    strictly above the leaves."""
    from kube_etl_spark.plans.graph import pagerank

    # 1→2, 1→3, 2→3, 3→1, 4→3 (4 has in-degree 0; 5 dangling via 3→5)
    edge_list = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (3, 5)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=20).collect()}

    # independent reference (plain Python, same formulation)
    nodes = sorted({n for e in edge_list for n in e})
    n = len(nodes)
    out = {}
    for s, d in edge_list:
        out.setdefault(s, []).append(d)
    ranks = {v: 1.0 / n for v in nodes}
    damping = 0.85
    for _ in range(20):
        contrib = {v: 0.0 for v in nodes}
        dangling = sum(r for v, r in ranks.items() if v not in out)
        for s, ds in out.items():
            for d in ds:
                contrib[d] += ranks[s] / len(ds)
        ranks = {
            v: (1 - damping) / n + damping * (contrib[v] + dangling / n)
            for v in nodes
        }

    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert set(got) == set(nodes)
    for v in nodes:
        assert abs(got[v] - ranks[v]) < 1e-9, (v, got[v], ranks[v])
    # 3 receives from 1, 2 and 4: the hub outranks the in-degree-0 node
    assert got[3] > got[4]


def test_audit_alert_evaluation(spark):
    """evaluate_alerts turns the report into actionable verdicts: the
    clean fixtures alert on NOTHING, a doctored report row alerts on
    exactly the thresholds it crosses, and threshold-less checks
    (row_count, benford) never alert."""
    from pyspark.sql import functions as F

    from kube_etl_spark.plans.audit import audit_report, evaluate_alerts

    verdicts = evaluate_alerts(audit_report(spark, SMOKE_SF))
    rows = verdicts.collect()
    assert rows and not any(r["alert"] for r in rows), [
        (r["check"], r["subject"]) for r in rows if r["alert"]
    ]

    doctored = spark.createDataFrame(
        [
            ("fk_orphans", "lineitem->orders", 3.0),
            ("drift_psi_max", "events.value", 0.9),
            ("drift_psi_max", "events.value2", 0.1),
            ("benford_max_deviation", "orders.o_totalprice", 99.0),
            ("row_count", "orders", 0.0),
        ],
        "check string, subject string, value double",
    )
    got = {
        (r["check"], r["subject"]): r["alert"]
        for r in evaluate_alerts(doctored).collect()
    }
    assert got[("fk_orphans", "lineitem->orders")] is True
    assert got[("drift_psi_max", "events.value")] is True
    assert got[("drift_psi_max", "events.value2")] is False
    assert got[("benford_max_deviation", "orders.o_totalprice")] is False
    assert got[("row_count", "orders")] is False


def test_kll_quantile_sketch_rollup(spark):
    """Mergeable quantile sketches (the percentile counterpart of the
    HLL layer): (a) merged-cell quantile estimates honor the KLL rank
    guarantee — the estimate's TRUE rank sits within ±3% of the target
    rank (k=200 bounds rank error at ~1.65%, 99% confidence; 3% is the
    slack for the smoke corpus size). Checked across TWO independent
    rollups because KLL merge is NOT deterministic (randomized
    compaction + partial-merge order) — the rank bound is the
    guarantee, run-to-run equality is not. (b) row totals survive the
    rollup and the cell count is day×type-bounded."""
    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.sketches import (
        build_daily_value_sketches,
        estimate_quantiles,
    )
    from pyspark.sql import functions as F

    ev = load_table(spark, SMOKE_SF, "events")
    cells = build_daily_value_sketches(ev).cache()

    got = {
        r["event_type"]: r
        for r in estimate_quantiles(cells, [0.5, 0.95], "event_type").collect()
    }
    values = {
        r["event_type"]: sorted(v for v in r["vs"])
        for r in ev.groupBy("event_type")
        .agg(F.collect_list(F.col("value").cast("double")).alias("vs"))
        .collect()
    }
    assert set(got) == set(values)
    import bisect

    for t, vs in values.items():
        assert got[t]["n_rows"] == len(vs)
        for prob, col in [(0.5, "p50"), (0.95, "p95")]:
            est = got[t][col]
            rank = bisect.bisect_right(vs, est) / len(vs)
            assert abs(rank - prob) <= 0.03, (t, col, est, rank)

    # a SECOND independent rollup must honor the same rank bound
    # (its values may legitimately differ from the first — see (a))
    for r in estimate_quantiles(cells, [0.5, 0.95], "event_type").collect():
        vs = values[r["event_type"]]
        for prob, col in [(0.5, "p50"), (0.95, "p95")]:
            rank = bisect.bisect_right(vs, r[col]) / len(vs)
            assert abs(rank - prob) <= 0.03, (r["event_type"], col, r[col], rank)

    # (b) cell-bounded rollup input; global rollup keeps every row
    n_days = ev.select(F.date_trunc("day", F.col("ts").cast("timestamp"))).distinct().count()
    n_types = ev.select("event_type").distinct().count()
    assert cells.count() <= n_days * n_types
    assert estimate_quantiles(cells, [0.5]).collect()[0]["n_rows"] == ev.count()
    cells.unpersist()


def test_theta_sketch_set_algebra(spark):
    """Theta-sketch audience overlap: every estimated |A|, |B|, |A∩B|,
    |A\\B| is within the lgK=12 envelope of the exact set sizes, and
    the identity |A| = |A∩B| + |A\\B| holds (theta difference/
    intersection operate on the same retained-hash sample)."""
    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.sketches import (
        build_type_theta_sketches,
        estimate_overlap,
    )
    from pyspark.sql import functions as F

    ev = load_table(spark, SMOKE_SF, "events")
    got = {
        (r["type_a"], r["type_b"]): r
        for r in estimate_overlap(build_type_theta_sketches(ev)).collect()
    }
    users = {
        r["event_type"]: set(r["us"])
        for r in ev.groupBy("event_type")
        .agg(F.collect_set("user_id").alias("us"))
        .collect()
    }
    types = sorted(users)
    assert got and set(got) == {
        (x, y) for i, x in enumerate(types) for y in types[i + 1 :]
    }
    for (ta, tb), r in got.items():
        A, B = users[ta], users[tb]
        for est, exact in [
            (r["n_a"], len(A)),
            (r["n_b"], len(B)),
            (r["n_both"], len(A & B)),
            (r["n_only_a"], len(A - B)),
        ]:
            assert abs(est - exact) <= max(2, 0.05 * exact), (ta, tb, est, exact)
        # exact-mode artifact: while every sketch retains all hashes
        # (distincts < 2^lg_k), intersection + difference partition A
        # exactly; once sampling kicks in this becomes approximate, so
        # the identity is held to the estimate tolerance, not 1e-6
        assert abs(r["n_a"] - (r["n_both"] + r["n_only_a"])) <= max(
            2, 0.05 * r["n_a"]
        )


def test_run_neardup_cli(spark, tmp_path, capsys):
    """The continuous near-dup CLI: feed the LSH corpus in two json
    drops with the synthesized copies arriving SECOND (cross-batch
    detection), run --once twice, and the accumulated pair set must
    equal the one-shot batch q_dedup_fuzzy result; a third run with
    nothing new is a checkpointed no-op."""
    sys.path.insert(0, JOBS_DIR)
    import run_neardup

    from pyspark.sql import functions as F

    from kube_etl_spark.queries.llm import _neardup_corpus
    from kube_etl_spark.registry import all_specs

    corpus = _neardup_corpus(spark, SMOKE_SF, limit=10**9)
    watch = tmp_path / "watch"
    watch.mkdir()
    originals = corpus.filter(F.col("doc_id") < 200000)
    copies = corpus.filter(F.col("doc_id") >= 200000)
    (watch / "batch-0.json").write_text("\n".join(originals.toJSON().collect()))

    argv = [
        "--watch", str(watch), "--state", str(tmp_path / "state"),
        "--checkpoint", str(tmp_path / "ckpt"), "--once",
    ]
    run_neardup.main(argv)
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["docs_indexed"] == originals.count()

    (watch / "batch-1.json").write_text("\n".join(copies.toJSON().collect()))
    run_neardup.main(argv)
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["docs_indexed"] == corpus.count()

    from kube_etl_spark.streaming.neardup import NearDupIndex

    index = NearDupIndex(spark, str(tmp_path / "state"))
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"] for r in index.pairs_df().collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in all_specs()["q_dedup_fuzzy"].fn(spark, SMOKE_SF).collect()
    }
    assert got == want

    run_neardup.main(argv)  # nothing new: checkpointed no-op
    third = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert third["docs_indexed"] == corpus.count()
    assert third["pairs"] == len(want)


def test_retrieval_index_delete_empties_whole_cell(spark, tmp_path):
    """Deleting EVERY vector of a cell must actually forget them:
    dynamic partition overwrite only replaces partitions present in
    the written data, so an emptied cell's directory must be dropped
    explicitly — the case the 4-victim test can never trigger."""
    import os

    from pyspark.sql import functions as F

    from kube_etl_spark.plans.retrieval_index import (
        build_index,
        delete_from_index,
    )

    idx = str(tmp_path / "idx")
    build_index(spark, SMOKE_SF, idx, k=8)
    cells = spark.read.parquet(idx + "/cells")
    # pick the smallest cell and delete all of its members
    target = (
        cells.groupBy("centroid_id").count().orderBy("count", "centroid_id").first()
    )["centroid_id"]
    victims = [
        r["vec_id"]
        for r in cells.filter(F.col("centroid_id") == target).collect()
    ]
    assert victims
    res = delete_from_index(spark, idx, victims)
    assert res["deleted"] == len(victims)
    after = spark.read.parquet(idx + "/cells")
    assert after.filter(F.col("vec_id").isin(victims)).count() == 0
    assert after.filter(F.col("centroid_id") == target).count() == 0
    assert not os.path.exists(
        os.path.join(idx, "cells", f"centroid_id={target}")
    ), "emptied cell directory still holds deleted vectors"
    # sparse tables forgot them too, via the atomic publish path
    assert (
        spark.read.parquet(idx + "/postings")
        .filter(F.col("doc_id").isin(victims))
        .count()
        == 0
    )


def test_run_substrdup_cli(spark, tmp_path, capsys):
    """The continuous span-detection CLI: originals in drop 1, copies in
    drop 2 (cross-batch retroactive spans), two --once runs; the
    accumulated span set must equal the one-shot batch query and a
    third run with nothing new is a checkpointed no-op."""
    sys.path.insert(0, JOBS_DIR)
    import run_substrdup

    from pyspark.sql import functions as F

    from kube_etl_spark.queries.llm import _neardup_corpus, repeated_spans

    corpus = _neardup_corpus(spark, SMOKE_SF, limit=10**9)
    watch = tmp_path / "watch"
    watch.mkdir()
    (watch / "batch-0.json").write_text(
        "\n".join(corpus.filter(F.col("doc_id") < 200000).toJSON().collect())
    )
    argv = [
        "--watch", str(watch), "--state", str(tmp_path / "state"),
        "--checkpoint", str(tmp_path / "ckpt"), "--once",
    ]
    run_substrdup.main(argv)
    capsys.readouterr()

    (watch / "batch-1.json").write_text(
        "\n".join(corpus.filter(F.col("doc_id") >= 200000).toJSON().collect())
    )
    run_substrdup.main(argv)
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    from kube_etl_spark.streaming.substrdup import SubstringDupIndex

    index = SubstringDupIndex(spark, str(tmp_path / "state"))
    got = {
        (r["doc_id"], r["span_start"], r["span_tokens"])
        for r in index.spans_df().collect()
    }
    want = {
        (r["doc_id"], r["span_start"], r["span_tokens"])
        for r in repeated_spans(corpus, w=10).collect()
    }
    assert want and got == want
    assert second["spans"] == len(want)

    run_substrdup.main(argv)  # nothing new
    third = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert third["spans"] == len(want)
    assert third["grams_indexed"] == second["grams_indexed"]


def test_quantile_labels_distinct_for_close_probs(spark):
    """Nearby probs must map to DISTINCT column labels (ADVICE r3:
    0.999 and 1.0 both rounded to p100; 0.001 and 0.004 both to p00 —
    duplicate names make the frame ambiguous)."""
    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.sketches import (
        build_daily_value_sketches,
        estimate_quantiles,
    )

    from .conftest import SMOKE_SF

    ev = load_table(spark, SMOKE_SF, "events")
    cells = build_daily_value_sketches(ev)
    probs = [0.001, 0.004, 0.5, 0.95, 0.999, 1.0]
    cols = estimate_quantiles(cells, probs).columns
    qcols = [c for c in cols if c.startswith("p")]
    assert len(qcols) == len(set(qcols)) == len(probs), qcols
    assert "p50" in qcols and "p95" in qcols  # stable legacy labels
    assert "p99_9" in qcols and "p100" in qcols and "p0_1" in qcols, qcols


def test_cms_linearity_and_upper_bound(spark):
    """Count-Min is a LINEAR sketch: the cell-wise sum of per-day
    matrices must equal the whole-corpus matrix EXACTLY (not
    approximately — that is what makes incremental maintenance free),
    and every point estimate must upper-bound the true count."""
    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.sketches import cms_cells, cms_estimate, cms_merge

    ev = load_table(spark, SMOKE_SF, "events").select(
        "user_id", F.date_trunc("day", F.col("ts").cast("timestamp")).alias("day")
    )
    days = [r["day"] for r in ev.select("day").distinct().collect()]
    assert len(days) >= 2
    per_day = [cms_cells(ev.filter(F.col("day") == d), "user_id") for d in days]
    merged = {
        (r["i"], r["bucket"]): r["n"] for r in cms_merge(*per_day).collect()
    }
    direct = {
        (r["i"], r["bucket"]): r["n"] for r in cms_cells(ev, "user_id").collect()
    }
    assert merged == direct  # exact, not within-tolerance

    cand = ev.select("user_id").distinct()
    est = {
        r["user_id"]: r["n_est"]
        for r in cms_estimate(cms_cells(ev, "user_id"), cand, "user_id").collect()
    }
    true = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(est) == set(true)
    assert all(est[u] >= true[u] for u in true)  # one-sided error


def test_run_freq_cli(spark, tmp_path, capsys):
    """The continuous frequency-estimation CLI: two ingest drops + a
    deletion drop across --once runs; the served matrix must equal a
    fresh batch build over (all events − deleted user's events), and
    --compact folds history without changing it."""
    sys.path.insert(0, JOBS_DIR)
    import run_freq

    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.plans.sketches import cms_cells
    from kube_etl_spark.streaming.freq import CountMinIndex

    ev = load_table(spark, SMOKE_SF, "events").select("event_id", "user_id")
    watch, dels = tmp_path / "watch", tmp_path / "dels"
    watch.mkdir(), dels.mkdir()
    (watch / "b0.json").write_text(
        "\n".join(ev.filter(F.col("event_id") % 2 == 0).toJSON().collect())
    )
    # --lease on both runs: the second acquire proves a released lease
    # is re-takeable (at a bumped fencing token) and every merge inside
    # runs lease-guarded
    argv = [
        "--watch", str(watch), "--state", str(tmp_path / "state"),
        "--checkpoint", str(tmp_path / "ckpt"), "--deletes", str(dels), "--once",
        "--lease",
    ]
    run_freq.main(argv)
    capsys.readouterr()

    victim = ev.groupBy("user_id").count().orderBy(F.col("count").desc(), "user_id").first()["user_id"]
    (watch / "b1.json").write_text(
        "\n".join(ev.filter(F.col("event_id") % 2 == 1).toJSON().collect())
    )
    (dels / "d0.json").write_text(
        "\n".join(ev.filter(F.col("user_id") == victim).toJSON().collect())
    )
    run_freq.main([*argv, "--compact"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    idx = CountMinIndex(spark, str(tmp_path / "state"), key_col="user_id")
    served = {
        (r["i"], r["bucket"]): r["n"]
        for r in idx.matrix().filter(F.col("n") != 0).collect()
    }
    want = {
        (r["i"], r["bucket"]): r["n"]
        for r in cms_cells(
            ev.filter(F.col("user_id") != victim), "user_id"
        ).collect()
        if r["n"] != 0
    }
    assert want and served == want
    assert out["cells"] == len(want)


def test_cms_compact_is_lease_fenced(spark, tmp_path):
    """compact() publishes via _atomic_overwrite directly, bypassing
    merge_batch's lease check — it must carry its own (ADVICE r4): a
    writer fenced off after the drain would otherwise overwrite the
    new owner's state with its stale folded matrix. Raise, don't
    publish; the state the new owner wrote must survive."""
    import json as _json
    import time as _time

    from pyspark.sql import functions as F

    from kube_etl_spark.streaming.freq import CountMinIndex
    from kube_etl_spark.streaming.lease import LeaseLost, WriterLease

    lease_path = str(tmp_path / "state.lease")
    old = WriterLease(lease_path, owner="old", ttl_s=60)
    assert old.acquire()
    idx_old = CountMinIndex(spark, str(tmp_path / "state"), "user_id", lease=old)
    rows = spark.range(0, 50).select((F.col("id") % 7).alias("user_id"))
    idx_old.ingest_batch(rows, 0)

    # writer pause: deadline passes, a new owner takes over and ingests
    rec = _json.load(open(lease_path))
    rec["deadline"] = _time.time() - 1
    with open(lease_path, "w") as f:
        _json.dump(rec, f)
    new = WriterLease(lease_path, owner="new", ttl_s=60)
    assert new.acquire()
    idx_new = CountMinIndex(spark, str(tmp_path / "state"), "user_id", lease=new)
    idx_new.ingest_batch(rows.withColumn("user_id", F.col("user_id") + 100), 1)
    want = {
        (r["i"], r["bucket"]): r["n"]
        for r in idx_new.matrix().filter(F.col("n") != 0).collect()
    }

    with pytest.raises(LeaseLost):
        idx_old.compact()  # stale fold must NOT publish
    got = {
        (r["i"], r["bucket"]): r["n"]
        for r in idx_new.matrix().filter(F.col("n") != 0).collect()
    }
    assert got == want  # both batches intact — the stale fold never landed
    idx_new.compact()  # the live owner's fold still works
    assert {
        (r["i"], r["bucket"]): r["n"]
        for r in idx_new.matrix().filter(F.col("n") != 0).collect()
    } == want


def test_run_attribution_cli(spark, tmp_path, capsys):
    """The sixth continuous job (VERDICT r4 #7): watermarked stream-
    stream interval join as a managed CLI. Two --once drains over a
    ts-ordered split of the events fixture, the split boundary placed
    INSIDE a known click→purchase pair so the join must carry click
    state across runs through the stream checkpoint; the final pairs
    table must equal the batch twin (q_stream_stream_join semantics)
    exactly, and rerunning over the same data must not duplicate."""
    sys.path.insert(0, JOBS_DIR)
    import run_attribution

    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.streaming.attribution import interval_join, split_sides

    # ms-truncated timestamps survive the json round-trip losslessly
    ev = load_table(spark, "/root/testdata/sf0.01", "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.timestamp_millis(F.unix_millis(F.col("ts").cast("timestamp"))).alias("ts"),
    )
    c, p = split_sides(ev)
    expected = {
        (r["click_id"], r["purchase_id"], r["user_id"])
        for r in interval_join(c, p).collect()
    }
    assert len(expected) >= 5  # non-vacuous fixture

    # boundary inside the latest pair: its click lands in drop 1, its
    # purchase in drop 2 — provable cross-run join state
    pair_ts = (
        interval_join(c, p)
        .join(
            ev.select(F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")),
            "purchase_id",
        )
        .orderBy(F.col("pts").desc())
        .first()
    )
    boundary = pair_ts["pts"]

    watch = tmp_path / "watch"
    watch.mkdir()
    argv = [
        "--watch", str(watch), "--state", str(tmp_path / "state"),
        "--checkpoint", str(tmp_path / "ckpt"), "--once", "--lease",
    ]
    (watch / "d1.json").write_text(
        "\n".join(ev.filter(F.col("ts") < F.lit(boundary)).toJSON().collect())
    )
    run_attribution.main(argv)
    out1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # drop-1-complete pairs only; the straddling pair must NOT be there
    sub = {
        (r["click_id"], r["purchase_id"], r["user_id"])
        for r in interval_join(
            *split_sides(ev.filter(F.col("ts") < F.lit(boundary)))
        ).collect()
    }
    assert out1["pairs"] == len(sub) < len(expected)

    (watch / "d2.json").write_text(
        "\n".join(ev.filter(F.col("ts") >= F.lit(boundary)).toJSON().collect())
    )
    run_attribution.main(argv)
    capsys.readouterr()
    got = {
        tuple(r)
        for r in spark.read.parquet(str(tmp_path / "state"))
        .select("click_id", "purchase_id", "user_id")
        .collect()
    }
    assert got == expected  # cross-run state carried; stream ≡ batch

    # redelivery: draining again with nothing new must not duplicate
    run_attribution.main(argv)
    out3 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out3["pairs"] == len(expected)


def test_run_snapshot_sync_cli(spark, tmp_path, capsys):
    """Poll-based CDC job e2e: three full snapshot drops → state equals
    the LAST snapshot exactly (adds/changes/deletes applied as deltas);
    the applied-marker makes a re-run a no-op; and losing the marker is
    harmless: older snapshots re-diff non-empty against the NEWER state,
    but their merges land at stale seqs and the monotone-seq guard
    discards them — the latest snapshot re-diffs empty and state is
    bit-preserved (the crash-window contract in run_snapshot_sync's
    docstring)."""
    import json as _json
    import os

    from jobs import run_snapshot_sync

    watch = tmp_path / "snapshots"
    watch.mkdir()
    snaps = {
        "snap-0001": [(1, "a", 10.0), (2, "a", 20.0), (3, "b", 30.0)],
        "snap-0002": [(1, "a", 10.0), (2, "a", 25.0), (4, "b", 40.0)],
        "snap-0003": [(1, "b", 10.0), (2, "a", 25.0), (4, "b", 40.0)],
    }
    for name, rows in snaps.items():
        spark.createDataFrame(rows, "uid long, g string, x double").coalesce(
            1
        ).write.parquet(str(watch / name))
    state = str(tmp_path / "synced")
    argv = ["--watch", str(watch), "--state", state, "--keys", "uid", "--once"]
    run_snapshot_sync.main(argv)
    lines = [
        _json.loads(l)
        for l in capsys.readouterr().out.splitlines()
        if l.startswith("{")
    ]
    assert [r["snapshot"] for r in lines] == sorted(snaps)
    assert [r["delta_rows"] for r in lines] == [3, 3, 1]  # delta-sized, not dump-sized
    from kube_etl_spark.streaming.cdc import StateTable

    got = {
        (r["uid"], r["g"], r["x"])
        for r in StateTable(spark, state, ["uid"], "seq").read().drop("seq").collect()
    }
    assert got == set(snaps["snap-0003"])
    # re-run: marker skips everything
    run_snapshot_sync.main(argv)
    assert not [l for l in capsys.readouterr().out.splitlines() if l.startswith("{")]
    # crash window: marker lost AFTER merges — older snapshots re-diff
    # non-empty (they describe rolling state BACK), but their stale-seq
    # merges are discarded by the max-seq winner rule; the latest
    # snapshot re-diffs EMPTY and state survives bit-for-bit
    os.remove(state + ".applied.json")
    run_snapshot_sync.main(argv)
    replay = [
        _json.loads(l)
        for l in capsys.readouterr().out.splitlines()
        if l.startswith("{")
    ]
    assert replay[-1]["delta_rows"] == 0  # latest snapshot: empty re-diff
    got2 = {
        (r["uid"], r["g"], r["x"])
        for r in StateTable(spark, state, ["uid"], "seq").read().drop("seq").collect()
    }
    assert got2 == got


def test_snapshot_sync_natural_ordering(tmp_path):
    """ADVICE r6: an exporter emitting UNPADDED names (snap-2, snap-10)
    must still be applied in numeric order — lexicographic ordering
    would diff snapshots out of order and merge newer data at lower
    seqs. Zero-padded names keep their order too, and the seq restore
    goes through SnapshotDiffSource's public `seq` parameter."""
    import os

    from jobs.run_snapshot_sync import _pending, _snap_order

    for name in ("snap-1", "snap-2", "snap-10", "snap-9"):
        d = tmp_path / name
        d.mkdir()
        (d / "_SUCCESS").touch()
    assert _pending(str(tmp_path), [])[0] == [
        "snap-1", "snap-2", "snap-9", "snap-10"
    ]
    assert _pending(str(tmp_path), ["snap-1", "snap-2"])[0] == [
        "snap-9", "snap-10"
    ]
    # padded names unaffected
    assert sorted(["snap-0010", "snap-0002"], key=_snap_order) == [
        "snap-0002", "snap-0010"
    ]
    # a LATE-committing lower-numbered snapshot (exporter finished
    # snap-9 after snap-10 was applied) must be returned as STALE, not
    # applied — applying it would roll state back at a winning seq
    to_apply, stale = _pending(str(tmp_path), ["snap-1", "snap-2", "snap-10"])
    assert to_apply == [] and stale == ["snap-9"]
    # incomplete dataset (no _SUCCESS) never pending
    os.remove(tmp_path / "snap-9" / "_SUCCESS")
    assert "snap-9" not in _pending(str(tmp_path), [])[0]


def test_run_neardup_media_cli(spark, tmp_path, capsys):
    """--media mode: feed the binary fixture corpus as two base64 json
    drops with the planted variants arriving SECOND (cross-batch
    detection), run --once twice, and the accumulated pair set must
    equal the one-shot q_media_neardup screen."""
    import base64

    sys.path.insert(0, JOBS_DIR)
    import run_neardup

    from pyspark.sql import functions as F

    from kube_etl_spark.catalog import load_table
    from kube_etl_spark.registry import all_specs

    docs = (
        load_table(spark, SMOKE_SF, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id", "text")
    )
    variants = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" v2")).alias("text"),
    )

    def drop(df, path):
        rows = [
            json.dumps(
                {
                    "media_id": r["doc_id"],
                    "payload_b64": base64.b64encode(
                        r["text"].encode("utf-8")
                    ).decode("ascii"),
                }
            )
            for r in df.collect()
        ]
        path.write_text("\n".join(rows))

    watch = tmp_path / "watch"
    watch.mkdir()
    drop(docs, watch / "batch-0.json")
    argv = [
        "--watch", str(watch), "--state", str(tmp_path / "state"),
        "--checkpoint", str(tmp_path / "ckpt"), "--once", "--media",
    ]
    run_neardup.main(argv)
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["docs_indexed"] == docs.count()

    drop(variants, watch / "batch-1.json")
    run_neardup.main(argv)
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    from kube_etl_spark.streaming.simdup import SimDupIndex

    index = SimDupIndex(spark, str(tmp_path / "state"))
    got = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in index.pairs_df().collect()
    }
    want = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in all_specs()["q_media_neardup"].fn(spark, SMOKE_SF).collect()
    }
    assert want and got == want


def test_run_neardup_semantic_cli(spark, tmp_path, capsys):
    """--semantic end-to-end WITH the cell-bucketed scale layout
    (VERDICT r8 #2: the two-table swap landed in r8 with differential
    tests but no job path): drop embedding batches as json, run --once
    twice, and the accumulated pairs must equal the one-shot batch
    query q_dedup_semantic — through the CLI, the frozen-centroid
    parquet handoff, checkpoint restart, and bucket-pruned probes."""
    sys.path.insert(0, JOBS_DIR)
    import run_neardup

    import pytest
    from pyspark.sql import functions as F

    from kube_etl_spark.queries.llm import (
        _dot,
        _kmeans_centroids,
        _neardup_embeddings,
    )
    from kube_etl_spark.registry import all_specs

    emb = _neardup_embeddings(spark, SMOKE_SF, limit=10**9).select("vec_id", "v")
    # norm hoisted into a column (the O(d²) inline-lambda trap)
    vn = emb.withColumn(
        "n", F.sqrt(_dot(F.col("v"), F.col("v")))
    ).withColumn("vn", F.transform(F.col("v"), lambda x: x / F.col("n")))
    k = max(4, min(16, emb.count() // 64))
    cent = _kmeans_centroids(spark, vn.select("vec_id", F.col("vn").alias("v")), k=k)
    cent_path = str(tmp_path / "centroids.parquet")
    cent.write.parquet(cent_path)

    def drop(df, path):
        rows = [
            json.dumps({"vec_id": r["vec_id"], "v": list(r["v"])})
            for r in df.collect()
        ]
        path.write_text("\n".join(rows))

    watch = tmp_path / "watch"
    watch.mkdir()
    drop(emb.filter(F.col("vec_id") < 100000), watch / "batch-0.json")
    argv = [
        "--watch", str(watch), "--state", str(tmp_path / "state"),
        "--checkpoint", str(tmp_path / "ckpt"), "--once", "--semantic",
        "--centroids", cent_path, "--buckets", "8",
    ]
    run_neardup.main(argv)
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["vectors_indexed"] == emb.filter(F.col("vec_id") < 100000).count()

    drop(emb.filter(F.col("vec_id") >= 100000), watch / "batch-1.json")
    run_neardup.main(argv)
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["vectors_indexed"] == emb.count()

    from kube_etl_spark.streaming.semdedup import SemanticDedupIndex

    index = SemanticDedupIndex(
        spark, str(tmp_path / "state"), cent,
        cell_buckets=True,
        bucket_col=F.pmod(F.xxhash64("vec_id"), F.lit(8)),
        n_buckets=8,
    )
    got = {
        (r["vec_a"], r["vec_b"]): r["cos"] for r in index.pairs_df().collect()
    }
    want = {
        (r["vec_a"], r["vec_b"]): r["cos"]
        for r in all_specs()["q_dedup_semantic"].fn(spark, SMOKE_SF).collect()
    }
    assert want and got == want
    assert second["pairs"] == len(want)

    # re-run with nothing new: checkpointed no-op, state unchanged
    run_neardup.main(argv)
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert {
        (r["vec_a"], r["vec_b"]): r["cos"] for r in index.pairs_df().collect()
    } == want

    # flag hygiene
    with pytest.raises(SystemExit, match="mutually exclusive"):
        run_neardup.main([*argv, "--media"])
    with pytest.raises(SystemExit, match="requires --centroids"):
        run_neardup.main([a for a in argv if a not in ("--centroids", cent_path)])


def test_snapshot_sync_numbering_reset_fails_loudly(spark, tmp_path):
    """An exporter whose numbering RESET (redeploy, counter reset)
    produces an unbounded run of below-horizon snapshots; silently
    consuming them would freeze the sync forever while polling
    healthily. More than 3 pending with nothing applicable must raise,
    naming the newest applied snapshot (review r7 second pass). A
    single late straggler still skips quietly."""
    import pytest

    sys.path.insert(0, JOBS_DIR)
    import run_snapshot_sync
    from pyspark.sql import functions as F  # noqa: F401

    watch = tmp_path / "watch"
    watch.mkdir()
    state = tmp_path / "state"

    def drop(name, ks):
        d = watch / name
        spark.createDataFrame([(k, k * 10) for k in ks], "k long, x long") \
            .coalesce(1).write.mode("overwrite").parquet(str(d))

    drop("snap-100", [1, 2, 3])
    argv = ["--watch", str(watch), "--state", str(state), "--keys", "k", "--once"]
    run_snapshot_sync.main(argv)

    # one straggler: consumed quietly as superseded
    drop("snap-99", [1, 2])
    run_snapshot_sync.main(argv)
    applied = json.loads((tmp_path / "state.applied.json").read_text())["applied"]
    assert "snap-99" in applied

    # numbering reset: 4 fresh below-horizon snapshots, nothing applicable
    for i in (1, 2, 3, 4):
        drop(f"snap-{i}", [i])
    with pytest.raises(SystemExit, match="numbering regression"):
        run_snapshot_sync.main(argv)


@pytest.mark.slow
def test_snapshot_sync_slow_drip_reset_fails_loudly(spark, tmp_path):
    """ADVICE r7 (medium): a reset exporter emitting at (or slower
    than) the poll cadence yields at most ONE below-horizon snapshot
    per poll, so the original per-poll `len(stale) > 3` guard never
    fired and the sync froze silently forever. The skip counter is now
    CUMULATIVE since the last successful apply — and persisted in the
    marker, so a cron-driven --once cadence accumulates across
    processes. A successful apply in between resets the counter."""
    import pytest

    sys.path.insert(0, JOBS_DIR)
    import run_snapshot_sync

    watch = tmp_path / "watch"
    watch.mkdir()
    state = tmp_path / "state"

    def drop(name, ks):
        d = watch / name
        spark.createDataFrame([(k, k * 10) for k in ks], "k long, x long") \
            .coalesce(1).write.mode("overwrite").parquet(str(d))

    drop("snap-100", [1, 2, 3])
    argv = ["--watch", str(watch), "--state", str(state), "--keys", "k", "--once"]
    run_snapshot_sync.main(argv)

    # drip one below-horizon snapshot per poll: three skip quietly...
    for i in (1, 2, 3):
        drop(f"snap-{i}", [i])
        run_snapshot_sync.main(argv)
    marker = json.loads((tmp_path / "state.applied.json").read_text())
    assert marker["skips_since_apply"] == 3

    # ...a successful apply resets the counter...
    drop("snap-101", [9])
    run_snapshot_sync.main(argv)
    marker = json.loads((tmp_path / "state.applied.json").read_text())
    assert marker["skips_since_apply"] == 0
    assert "snap-101" in marker["applied"]

    # ...then four more dripped skips accumulate to the loud failure
    for i in (4, 5, 6):
        drop(f"snap-{i}", [i])
        run_snapshot_sync.main(argv)
    drop("snap-7", [7])
    with pytest.raises(SystemExit, match="numbering regression"):
        run_snapshot_sync.main(argv)


def test_kube_etl_front_door_covers_every_job():
    """The single-binary front door (jobs/kube_etl.py — the reference's
    cobra root command, main.go:25-37) must map a subcommand to EVERY
    job module under jobs/ and to nothing stale, so a new job cannot
    ship without a `kube-etl <sub>` spelling."""
    import glob
    import os

    sys.path.insert(0, JOBS_DIR)
    import kube_etl

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    modules = {
        os.path.splitext(os.path.basename(p))[0]
        for p in glob.glob(os.path.join(repo, "jobs", "*.py"))
    } - {"kube_etl"}
    assert set(kube_etl.SUBCOMMANDS.values()) == modules
    # every mapped module exposes main(argv) (the dispatch contract)
    import importlib

    for mod_name in kube_etl.SUBCOMMANDS.values():
        assert callable(getattr(importlib.import_module(mod_name), "main"))


def test_kube_etl_dispatch_and_errors(spark, tmp_path, capsys):
    """`kube-etl export --output ...` must behave exactly like
    run_export.main (argv forwards verbatim); an unknown subcommand and
    a bare invocation must exit 2 with the usage text; --help exits 0."""
    sys.path.insert(0, JOBS_DIR)
    import kube_etl

    out = str(tmp_path / "exp")
    kube_etl.main(["export", "--input", SMOKE_SF, "--output", out])
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["exported"]["region"] == 5
    assert spark.read.json(out).count() > 0

    with pytest.raises(SystemExit) as exc:
        kube_etl.main(["definitely-not-a-job"])
    assert exc.value.code == 2
    assert "unknown subcommand" in capsys.readouterr().err

    with pytest.raises(SystemExit) as exc:
        kube_etl.main([])
    assert exc.value.code == 2

    kube_etl.main(["--help"])
    assert "subcommands" in capsys.readouterr().out


def test_plan_audit_dump_needs_dump_dir(capsys):
    """`plan_audit --dump` takes its directory from --dump-dir and
    refuses to run without one, before a Spark session starts."""
    sys.path.insert(0, JOBS_DIR)
    import plan_audit

    with pytest.raises(SystemExit) as exc:
        plan_audit.main(["--dump", "q_agg_groupby"])
    assert exc.value.code == 2
    assert "--dump needs --dump-dir" in capsys.readouterr().err


@pytest.mark.slow
def test_scale_truth_smoke_every_flag(tmp_path):
    """One run of jobs/scale_truth.py with every experiment flag its
    parser defines, at smoke scale. The argv comes from the parser, so
    a flag cannot ship without this run covering it. --replicas 2: at
    1 the semantic probe finds no pairs. Every flag must leave its
    section, every boolean check in the JSON must hold, and every pair
    count must be nonzero (an equality over zero pairs proves
    nothing)."""
    import argparse
    import os
    import subprocess

    sys.path.insert(0, JOBS_DIR)
    import scale_truth

    flags = [
        a
        for a in scale_truth._parser()._actions
        if isinstance(a, argparse._StoreTrueAction)
    ]
    assert flags
    out = tmp_path / "scale_truth.json"
    root = os.path.dirname(JOBS_DIR)
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p
    )
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(JOBS_DIR, "scale_truth.py"),
            *(a.option_strings[0] for a in flags),
            "--sf-dir", SMOKE_SF,
            "--replicas", "2",
            "--json", str(out),
        ],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(out.read_text())
    assert {a.dest for a in flags} <= set(got)

    def walk(node, path):
        if isinstance(node, dict):
            for k, v in node.items():
                if k == "pairs":
                    assert v > 0, f"{path}.{k} == 0"
                if k == "probe_share":
                    assert v <= 1, f"{path}.{k} == {v}"
                walk(v, f"{path}.{k}")
        elif isinstance(node, list):
            for i, v in enumerate(node):
                walk(v, f"{path}[{i}]")
        elif isinstance(node, bool):
            assert node, f"{path} is false"

    walk(got, "$")
    # the query-sample yield ivf_experiment's comment states for this scale
    assert got["ivf"]["n_queries"] == 28
