"""Scan-parallelism floor (catalog._read_parquet).

The fixture parquet is written as ONE row group per file, so a scan —
and with it everything below the first exchange — runs as one task no
matter the core count. Callers whose first stage does heavy per-row
work opt in via load_table(..., parallel=True); catalog appends a
hash repartition on the table's leading (key) column when the atomic
split count is below the session's parallelism and the file clears a
size floor. These tests pin
the behaviors the change must keep: (a) opt-in only — the default read
is untouched, (b) the floor fires only above the byte threshold,
(c) the floored read is row-identical to the raw read, (d) the split
probe is metadata-only and cached per (path, target)."""

from __future__ import annotations

import pytest

import kube_etl_spark.catalog as cat

from .conftest import SMOKE_SF


@pytest.fixture
def fresh_caches():
    """Isolate the module-level caches; restore the threshold after."""
    saved = (dict(cat._SPLITS_CACHE), cat._PARALLEL_READ_MIN_BYTES)
    cat._SPLITS_CACHE.clear()
    cat._DF_CACHE.clear()
    yield
    cat._SPLITS_CACHE.clear()
    cat._SPLITS_CACHE.update(saved[0])
    cat._PARALLEL_READ_MIN_BYTES = saved[1]
    cat._DF_CACHE.clear()


def test_default_read_is_untouched(spark, fresh_caches):
    cat._PARALLEL_READ_MIN_BYTES = 0
    df = cat.load_table(spark, SMOKE_SF, "lineitem")
    assert df.rdd.getNumPartitions() == 1


def test_floor_fires_for_opted_in_reader(spark, fresh_caches):
    cat._PARALLEL_READ_MIN_BYTES = 0
    df = cat.load_table(spark, SMOKE_SF, "lineitem", parallel=True)
    assert df.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_floor_respects_threshold(spark, fresh_caches):
    cat._PARALLEL_READ_MIN_BYTES = 1 << 40  # nothing qualifies
    df = cat.load_table(spark, SMOKE_SF, "lineitem", parallel=True)
    assert df.rdd.getNumPartitions() == 1


def test_floored_read_is_row_identical(spark, fresh_caches):
    cat._PARALLEL_READ_MIN_BYTES = 0
    base = cat.load_table(spark, SMOKE_SF, "orders")
    par = cat.load_table(spark, SMOKE_SF, "orders", parallel=True)
    assert par.schema == base.schema
    assert sorted(par.collect()) == sorted(base.collect())


def test_keyed_floor_hash_partitions_without_presort(spark, fresh_caches):
    """The floor must be a HASH repartition on the table's leading key
    column (deterministic without round-robin's partition-local
    pre-sort) and stay row-identical to the raw read."""
    cat._PARALLEL_READ_MIN_BYTES = 0
    df = cat.load_table(spark, SMOKE_SF, "lineitem", parallel=True)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "hashpartitioning(l_orderkey" in plan
    assert "RoundRobinPartitioning" not in plan
    base = cat.load_table(spark, SMOKE_SF, "lineitem")
    assert df.schema == base.schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, base.collect()))


def test_split_probe_is_cached_metadata(fresh_caches, tmp_path, monkeypatch):
    """A directory of 3 files x 2 row groups: a target at or below the
    file count answers from the listing alone (no footer opened); a
    larger target on the same path reads the footers and returns the
    true row-group count; each (path, target) is probed once."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t.parquet")
    os.makedirs(path)
    for i in range(3):
        table = pa.table({"x": list(range(i * 10, i * 10 + 10))})
        part = os.path.join(path, f"part-{i}.parquet")
        pq.write_table(table, part, row_group_size=5)
    size = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))

    opened = []
    real = pq.ParquetFile

    def spy(f, *a, **kw):
        opened.append(f)
        return real(f, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", spy)

    assert cat._atomic_splits(path, 3) == (3, size)
    assert cat._atomic_splits(path, 2) == (3, size)
    assert opened == []  # early exit: file count alone reaches the target
    assert cat._atomic_splits(path, 16) == (6, size)
    assert len(opened) == 3  # one footer per file
    assert cat._atomic_splits(path, 16) == (6, size)
    assert len(opened) == 3  # cached per (path, target)
