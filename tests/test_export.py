"""Export-job e2e — the analog of the reference's export test
(/root/reference/pkg/export/export_test.go:41-135: run export, open the
zip, assert the golden path exists)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kube_etl_spark.catalog import TABLES, load_table
from kube_etl_spark.plans.export_job import run_export

from .conftest import SMOKE_SF


def test_export_roundtrip(spark, tmp_path):
    out = str(tmp_path / "export")
    counts = run_export(spark, SMOKE_SF, out)
    # every catalog table exported, with its full row count
    for t in TABLES:
        assert counts[t] == load_table(spark, SMOKE_SF, t).count(), t
    back = spark.read.json(out)
    # the counts observed on the write are what the output holds
    assert counts == {
        r["table_name"]: r["count"] for r in back.groupBy("table_name").count().collect()
    }
    # golden-path check (export_test.go's `_cluster/core/Namespace/...`
    # analog): region AFRICA has regionkey 0 → path AFRICA/core/region/0.json
    golden = back.filter(
        (F.col("table_name") == "region") & (F.col("path") == "AFRICA/core/region/0.json")
    )
    assert golden.count() == 1
    # payload is a faithful JSON serialization of the row
    row = golden.first()
    assert '"r_name":"AFRICA"' in row["payload"]
    # partition pruning works on the re-read (the zip-layout analog):
    # one table's subtree is addressable without scanning the rest
    assert (
        spark.read.json(out + "/table_name=nation").count()
        == load_table(spark, SMOKE_SF, "nation").count()
    )


def test_export_failed_table_keeps_the_rest(spark, tmp_path):
    """A table that fails to plan is reported in the one joined error,
    and every other table is still written with its full count."""
    out = str(tmp_path / "export")
    with pytest.raises(RuntimeError) as ei:
        run_export(spark, SMOKE_SF, out, tables=("region", "no_such_table", "nation"))
    msg = str(ei.value)
    assert "no_such_table" in msg
    assert "region" not in msg and "nation" not in msg
    back = spark.read.json(out)
    assert {
        r["table_name"]: r["count"] for r in back.groupBy("table_name").count().collect()
    } == {t: load_table(spark, SMOKE_SF, t).count() for t in ("region", "nation")}


def test_export_empty_table_absent_from_counts(spark, tmp_path):
    src = str(tmp_path / "sf")
    for t in ("region", "nation"):
        df = load_table(spark, SMOKE_SF, t)
        (df.limit(0) if t == "region" else df).write.parquet(f"{src}/{t}.parquet")
    counts = run_export(spark, src, str(tmp_path / "export"), tables=("region", "nation"))
    assert counts == {"nation": load_table(spark, SMOKE_SF, "nation").count()}


def test_export_jobs_stay_in_callers_job_group(spark, tmp_path):
    """The per-table frames are planned on pool threads; each of their
    jobs (one schema inference per table) must land in the caller's job
    group, so a group cancel or a per-op job ledger sees the whole
    export. A fresh copy of the tables keeps the catalog's schema cache
    from hiding those jobs."""
    import shutil

    src = str(tmp_path / "sf")
    shutil.copytree(SMOKE_SF, src)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = "export-job-group-test"
    sc.setJobGroup(group, group)
    try:
        run_export(spark, src, str(tmp_path / "export"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    assert len(tracker.getJobIdsForGroup(group)) >= len(TABLES)


def test_export_paths_stable_across_reexports(spark, tmp_path):
    """ADVICE r8: the PK-violating lineitem fixture's disambiguator is
    a per-key ORDINAL, not a content digest — re-exporting must
    reproduce every path exactly (a digest changed a row's path on any
    field change, diverging from the reference's metadata-derived
    path contract), and editing ONE row's content must leave every
    OTHER key group's paths untouched."""
    from kube_etl_spark.plans.export_job import export_table

    # crafted lineitem with a colliding composite key (10, 1)
    rows = [
        (10, 1, "N", 100.0),
        (10, 1, "N", 200.0),  # same (orderkey, linenumber), distinct row
        (11, 1, "A", 300.0),
        (12, 2, "R", 400.0),
    ]
    schema = "l_orderkey long, l_linenumber int, l_returnflag string, l_extendedprice double"
    src = str(tmp_path / "sf")
    spark.createDataFrame(rows, schema).write.parquet(src + "/lineitem.parquet")

    def paths():
        return {
            r["path"]
            for r in export_table(spark, src, "lineitem").select("path").collect()
        }

    first = paths()
    assert len(first) == 4  # colliding key disambiguated, no overwrite
    assert {"A/core/lineitem/11-1-1.json", "R/core/lineitem/12-2-1.json"} <= first
    assert {p for p in first if "/10-1-" in p} == {
        "N/core/lineitem/10-1-1.json",
        "N/core/lineitem/10-1-2.json",
    }
    assert paths() == first  # re-export is path-stable

    # edit one row of the COLLIDING group: other key groups' paths hold
    rows2 = [(10, 1, "N", 150.0) if r == (10, 1, "N", 100.0) else r for r in rows]
    src2 = str(tmp_path / "sf2")
    spark.createDataFrame(rows2, schema).write.parquet(src2 + "/lineitem.parquet")
    second = {
        r["path"]
        for r in export_table(spark, src2, "lineitem").select("path").collect()
    }
    assert {p for p in second if "/10-1-" not in p} == {
        p for p in first if "/10-1-" not in p
    }
    # and the edited group keeps its ordinal path FAMILY (names don't
    # encode content)
    assert {p for p in second if "/10-1-" in p} == {
        "N/core/lineitem/10-1-1.json",
        "N/core/lineitem/10-1-2.json",
    }


def test_export_yaml_tree_layout(spark, tmp_path):
    """YAML serialization option (reference parity: export.go:152
    marshals objects to YAML; the zip stores <ns>/<group>/<kind>/
    <name>.yaml — pkg/sink/zip.go:38-45). Materialize the nation table
    as a real file tree and assert the golden path exists and parses
    back to the row."""
    import yaml

    from kube_etl_spark.plans.export_job import export_table, materialize_tree

    df = export_table(spark, SMOKE_SF, "nation", serialization="yaml")
    root = str(tmp_path / "tree")
    n = materialize_tree(df, root, archive=True)
    assert n == load_table(spark, SMOKE_SF, "nation").count()
    # nation 0 is ALGERIA in TPC-H-ish fixtures; look it up instead of assuming
    row0 = load_table(spark, SMOKE_SF, "nation").filter(F.col("n_nationkey") == 0).first()
    golden = f"{root}/{row0['n_name']}/core/nation/0.yaml"
    import os

    assert os.path.exists(golden), f"missing {golden}"
    with open(golden) as f:
        obj = yaml.safe_load(f)
    assert obj["n_nationkey"] == 0 and obj["n_name"] == row0["n_name"]
    # json stays the default, side by side
    jdf = export_table(spark, SMOKE_SF, "nation")
    assert jdf.filter(F.col("path").endswith(".json")).count() == n
    # zip artifact parity (pkg/sink/zip.go:22-53): open the archive and
    # find the golden entry under its tree-relative name, the direct
    # analog of export_test.go:41-135's `_cluster/core/Namespace/...`
    # golden check
    import zipfile

    with zipfile.ZipFile(root + ".zip") as zf:
        names = set(zf.namelist())
        entry = f"{row0['n_name']}/core/nation/0.yaml"
        assert entry in names, f"{entry} not in zip ({sorted(names)[:5]}...)"
        assert len(names) == n
        assert yaml.safe_load(zf.read(entry))["n_nationkey"] == 0
