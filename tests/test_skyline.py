"""Fast-tier guard for skyline_2d's runtime branch choice.

skyline_2d reads the optimizer's size estimate of its per-value frame
(scale._size_estimate) and picks the plain single-task window or the
fenced global_cummax. The hypothesis properties in test_properties.py
cover both branches in depth but sit in the slow tier; this test keeps
one fixed, cheap run of each branch in the default tier, each checked
against brute-force pairwise dominance."""

from __future__ import annotations

import kube_etl_spark.queries.scale as sc


def _bruteforce(rows):
    """ids of rows no other row dominates (p lower-or-equal, d
    higher-or-equal, one strict); rows with a NULL dimension are out."""
    pts = [(i, p, d) for i, p, d in rows if p is not None and d is not None]
    return {
        i
        for i, p, d in pts
        if not any(
            pj <= p and dj >= d and (pj < p or dj > d)
            for j, pj, dj in pts
            if j != i
        )
    }


def test_skyline_2d_both_branches_match_bruteforce(spark, tmp_path, monkeypatch):
    ties = [
        (0, 3, 5), (1, 3, 5), (2, 1, 2), (3, 1, 2), (4, 2, 7), (5, 0, 0),
        (6, 2, 7), (7, 4, 8), (8, 5, 8), (9, 0, 1), (10, 6, 9), (11, None, 9),
    ]
    ascending = [(i, i, i) for i in range(12)]  # the local prune keeps all

    def parquet(rows, name):
        # a file scan carries a real size estimate; a frame built from a
        # Python list estimates Long.MaxValue and always takes the fence
        path = str(tmp_path / name)
        spark.createDataFrame(rows, "id long, p long, d long").write.parquet(path)
        return spark.read.parquet(path)

    frames = [
        (ties, parquet(ties, "ties").repartition(3)),
        # per-partition runs ascend on both dims
        (ascending, parquet(ascending, "asc").repartitionByRange(3, "p")),
    ]

    fenced = []
    real_cummax = sc.global_cummax

    def spy(*a, **kw):
        fenced.append(1)
        return real_cummax(*a, **kw)

    monkeypatch.setattr(sc, "global_cummax", spy)
    plain_max = sc._SKYLINE_PLAIN_MAX_BYTES
    for rows, df in frames:
        expect = _bruteforce(rows)
        assert expect  # a vacuous frontier would prove nothing
        est = sc._size_estimate(df)
        assert est is not None and 0 < est <= plain_max  # default is plain
        for limit, want_fenced in ((plain_max, False), (0, True)):
            monkeypatch.setattr(sc, "_SKYLINE_PLAIN_MAX_BYTES", limit)
            fenced.clear()
            got = {r["id"] for r in sc.skyline_2d(df, "p", "d").collect()}
            assert got == expect
            assert bool(fenced) == want_fenced
