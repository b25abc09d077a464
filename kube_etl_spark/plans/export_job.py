"""The `kube-etl export` batch pipeline, Spark-first (SURVEY.md §3.1).

Reference (all /root/reference/pkg/export/export.go): discover every
listable resource type (:98-128), full List per type (:130), derive the
hierarchical path `<ns>/<group>/<kind>/<name>.yaml` with defaulting
(""-namespace → "_cluster", ""-group → "core", :136-150), serialize each
object (:152), write into a zip (:158, pkg/sink/zip.go:38-45).

Spark mapping: the "catalog" is our fixture table list; each table is
scanned once; the derived-path projection is when/coalesce/concat_ws;
serialization is to_json(struct(*)); the zip becomes a directory tree
partitioned by (table_name) — partition values in paths, exactly the
reference's layout trick, but splittable and parallel.

Scale: the reference Lists each type unpaginated into memory
(export.go:130 — its scalability cliff) and writes sequentially; here
every table scan is partitioned, the only "shuffle" is the sink write,
and output files are sized by Spark's file writer, not one-file-per-
object (100 TB of 1-object files would be a small-files disaster —
the layout keeps the path as a COLUMN, giving the same addressability
without the filesystem blowup).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..catalog import TABLES, load_table

# Per-table (namespace-ish, name-ish) column mapping — the analog of the
# object's metadata fields used for path derivation. The name columns
# (second element, 1..n) must be the table's UNIQUE key: a k8s object
# name is unique within (namespace, kind), and a colliding derived path
# would make any one-file-per-object materialization silently overwrite
# objects (found r8 — lineitem's old single-column name dropped 2,713
# of 9,890 zip entries at sf0.001; its key is composite).
_KEYS: dict[str, tuple[str, tuple[str, ...]]] = {
    "region": ("r_name", ("r_regionkey",)),
    "nation": ("n_name", ("n_nationkey",)),
    "customer": ("c_mktsegment", ("c_custkey",)),
    "supplier": ("s_name", ("s_suppkey",)),
    "part": ("p_brand", ("p_partkey",)),
    "orders": ("o_orderpriority", ("o_orderkey",)),
    "lineitem": ("l_returnflag", ("l_orderkey", "l_linenumber")),
    "events": ("event_type", ("event_id",)),
    "documents": ("lang", ("doc_id",)),
    "embeddings": ("label", ("vec_id",)),
}

# Tables whose declared key is NOT unique in the fixtures (the synthetic
# lineitem violates TPC-H's (orderkey, linenumber) PK — even the 4-column
# superset collides once at sf0.001, though full rows are unique): their
# object names get a per-key ordinal suffix (row_number over the key
# group, content-ordered), so full-row uniqueness guarantees path
# uniqueness. The ordinal replaced r8's 8-hex content-digest suffix
# (ADVICE r8): a content digest made the SAME logical object's path
# change whenever any field changed, so re-exports were never
# path-stable and the name diverged from the reference's
# metadata-derived path contract (k8s names never encode content);
# with the ordinal, re-exporting an unchanged key group reproduces its
# paths exactly. A real k8s source can't collide at all (server names
# are unique per namespace/kind by construction).
_ORDINAL_SUFFIX: frozenset[str] = frozenset({"lineitem"})


def export_table(
    spark: SparkSession, sf_dir: str, name: str, serialization: str = "json"
) -> DataFrame:
    """One table → (table_name, path, payload): derived hierarchical
    path with empty-segment defaulting + serialization of the row.

    serialization='json' (default, oracle-checked) uses to_json — pure
    JVM. serialization='yaml' matches the reference's output format
    (export.go:152 marshals via sigs.k8s.io/yaml, i.e. JSON-equivalent
    YAML): rows serialize JVM-side to JSON first, then an Arrow-batched
    mapInPandas converts payloads to YAML text per partition — Python
    touches only the already-serialized strings, never row structs."""
    if serialization not in ("json", "yaml"):
        raise ValueError(f"serialization must be json|yaml, got {serialization!r}")
    ns_col, name_cols = _KEYS[name]
    df = load_table(spark, sf_dir, name)
    ns = F.when(
        F.col(ns_col).cast("string").isNull() | (F.col(ns_col).cast("string") == ""),
        "_cluster",
    ).otherwise(F.col(ns_col).cast("string"))
    # composite keys join with '-' (k8s-name-safe), e.g. lineitem
    # 42-3.json — one path per OBJECT, the reference's invariant
    payload = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    obj_name = F.concat_ws("-", *[F.col(c).cast("string") for c in name_cols])
    if name in _ORDINAL_SUFFIX:
        # one shuffle on the composite key, group sizes ~1-2 rows; ties
        # inside a key group are ordered by the serialized row (full
        # rows are unique — FIXTURES.md), so the numbering is
        # deterministic and stable across re-exports of unchanged rows
        w = Window.partitionBy(*[F.col(c) for c in name_cols]).orderBy(payload)
        obj_name = F.concat_ws(
            "-", obj_name, F.row_number().over(w).cast("string")
        )
    path = F.concat_ws(
        "/",
        ns,
        F.lit("core"),
        F.lit(name),
        F.concat(obj_name, F.lit(f".{serialization}")),
    )
    out = df.select(
        F.lit(name).alias("table_name"),
        path.alias("path"),
        payload.alias("payload"),
    )
    if serialization == "yaml":
        out = out.mapInPandas(_json_payloads_to_yaml, schema=out.schema)
    return out


def _json_payloads_to_yaml(batches):
    """mapInPandas worker: JSON payload column → YAML text (the exact
    transform sigs.k8s.io/yaml performs: parse JSON, dump YAML with
    sorted keys)."""
    import json as _json

    import yaml as _yaml

    for pdf in batches:
        pdf = pdf.copy()
        pdf["payload"] = [
            _yaml.safe_dump(_json.loads(p), sort_keys=True, default_flow_style=False)
            for p in pdf["payload"]
        ]
        yield pdf


def materialize_tree(df: DataFrame, root: str, archive: bool = False) -> int:
    """Write each (path, payload) row as a real file under `root` — the
    reference's one-file-per-object zip layout (pkg/sink/zip.go:38-45),
    for interop with consumers of that layout. Runs on the executors
    (foreachPartition); needs `root` on a shared filesystem. This is the
    INTEROP path for control-plane-sized exports — for data-scale
    exports use run_export's partitioned dataset (one file per object at
    100 TB is a small-files disaster). Returns the number of files.

    archive=True additionally zips the tree into `<root>.zip` with
    archive-relative entry names — byte-layout parity with the
    reference's ZipSink artifact (NewZipSink + Write(path, data),
    pkg/sink/zip.go:22-53; golden check export_test.go:41-135). The zip
    is written driver-side over the already-materialized files: a zip is
    a single sequential artifact, so parallelizing its creation buys
    nothing and the interop path is small by definition.

    The projected frame is persisted so the plan — including the
    mapInPandas YAML conversion when serialization='yaml' — computes
    ONCE for the write pass and the count reads the cached partitions
    (VERDICT r2 #3: foreachPartition + count used to run it twice)."""
    import os as _os

    def _write(rows):
        for r in rows:
            p = _os.path.join(root, r["path"])
            _os.makedirs(_os.path.dirname(p), exist_ok=True)
            with open(p, "w") as f:
                f.write(r["payload"])

    slim = df.select("path", "payload").persist()
    try:
        n = slim.count()
        # one file per OBJECT is the layout's contract: colliding paths
        # would silently overwrite objects in the tree (and drop entries
        # from the zip). Refuse loudly instead (found r8 via the zip
        # entry-count mismatch).
        distinct = slim.select("path").distinct().count()
        if distinct != n:
            raise ValueError(
                f"{n - distinct} duplicate export paths of {n} rows — the "
                "_KEYS name columns are not a unique key for some table"
            )
        slim.foreachPartition(_write)
    finally:
        slim.unpersist()
    if archive:
        zip_tree(root, root + ".zip")
    return n


def zip_tree(root: str, zip_path: str) -> int:
    """Zip a materialized export tree into the reference's artifact:
    one entry per file, entry name = the tree-relative path (exactly
    what ZipSink.Write(path, data) produces — pkg/sink/zip.go:38-45).
    Deterministic entry order (sorted) so the artifact is reproducible.
    Returns the number of entries."""
    import os as _os
    import zipfile as _zipfile

    entries = []
    for dirpath, _dirs, files in _os.walk(root):
        for fn in files:
            full = _os.path.join(dirpath, fn)
            entries.append((_os.path.relpath(full, root), full))
    entries.sort()
    with _zipfile.ZipFile(zip_path, "w", _zipfile.ZIP_DEFLATED) as zf:
        for rel, full in entries:
            zf.write(full, arcname=rel)
    return len(entries)


def run_export(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    tables: tuple[str, ...] = TABLES,
    serialization: str = "json",
) -> dict[str, int]:
    """The full export job: scan every catalog table, derive paths,
    write one partitioned JSON dataset (partition column = table_name,
    the zip-directory analog). Returns per-table row counts; a table
    with no rows is absent. Errors are accumulated per-table and raised
    joined at the end, matching errors.Join in export.go:99-167.

    The reference lists its types one after another (export.go:111-163).
    Here each table's frame is planned on a thread pool, because
    planning a Parquet scan runs a schema-inference job of its own; the
    threads inherit the caller's job group and local properties. The
    counts are observed on the write itself, so the output is never
    read back."""

    @inheritable_thread_target(spark)
    def plan(t: str):
        try:
            return export_table(spark, sf_dir, t, serialization=serialization), None
        except Exception as ex:  # tolerate per-type failure, keep going
            return None, f"{t}: {ex}"

    workers = max(1, min(len(tables), spark.sparkContext.defaultParallelism))
    with ThreadPoolExecutor(max_workers=workers) as pool:
        planned = list(pool.map(plan, tables))
    frames = [(t, f) for t, (f, _) in zip(tables, planned) if f is not None]
    errs = [e for _, e in planned if e is not None]
    counts: dict[str, int] = {}
    if frames:
        out = frames[0][1]
        for _, f in frames[1:]:
            out = out.unionByName(f)
        obs = Observation()
        out = out.observe(
            obs, *[F.count_if(F.col("table_name") == t).alias(t) for t, _ in frames]
        )
        out.write.mode("overwrite").partitionBy("table_name").json(out_dir)
        counts = {t: n for t, n in obs.get.items() if n}
    if errs:
        raise RuntimeError("; ".join(errs))
    return counts
