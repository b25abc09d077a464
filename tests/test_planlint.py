"""Global plan lint — every registered query, one sweep of scale rules.

test_planshape.py pins specific queries' plans in depth; this sweep is
the broad guard that FUTURE queries can't silently ship the classic
scale killers: a cartesian product, a row-at-a-time Python UDF outside
the declared UDF operators, or an unbounded lineage/plan blowup (the
pagerank/triangle bug class: a frame consumed N times whose subtree
re-executes N times and whose plan text grows exponentially).
"""

from __future__ import annotations

import re

import pytest

from kube_etl_spark.registry import all_specs
from .conftest import SMOKE_SF

# A window frame that ENDS at UNBOUNDED FOLLOWING but does not START at
# UNBOUNDED PRECEDING (e.g. rowsBetween(0, unboundedFollowing)) is
# evaluated by Spark's UnboundedFollowingWindowFunctionFrame, which
# re-scans the partition tail for EVERY row — O(n²) per partition
# (measured: 24 s vs 2.76 s on the 1 M-row gapfill grid). The whole-
# partition frame (unboundedpreceding, unboundedfollowing) is a single
# O(n) aggregate buffer and is allowed. Express forward carries as
# backward carries over the reversed order instead.
_QUADRATIC_FRAME = re.compile(
    r"specifiedwindowframe\((?:Row|Range)Frame,"
    r" (?!unboundedpreceding\$\(\))[^,]*(?:\$\(\))?, unboundedfollowing\$\(\)\)"
)

# Row-at-a-time Python UDFs are the declared slow-path surface of
# exactly these operators (U1 scalar UDF, U4 UDTF) — anywhere else a
# BatchEvalPython node is a hot-path bug.
ROW_UDF_ALLOWED = {"q_udf_scalar", "q_udtf_explode"}
# Arrow-batched Python (pandas UDF / applyInPandas / mapInPandas) is
# the declared surface of the U2/U3 operators and the media family
# (binary decode can't be a JVM expression).
ARROW_ALLOWED_PREFIXES = ("q_udf_pandas", "q_udaf_grouped_map", "q_media_")
# One plan may hold at most this many exchange nodes / characters:
# generous for real multi-stage analytics (max today: q_market_basket
# at 17 exchanges, ~30 KB), far below the exponential-unroll regime
# (pre-fix pagerank: 1909 exchanges, 1.4 MB; triangle: 284, 220 KB).
MAX_EXCHANGES = 24
MAX_PLAN_CHARS = 120_000


def _parse_tree(plan: str) -> list[tuple[int, str]]:
    """The simple-mode physical plan as (depth, node-text) lines. Depth
    comes from the tree-drawing prefix (groups of three chars: ':- ',
    '+- ', ':  ', '   '); header/footer lines are dropped."""
    out = []
    for ln in plan.splitlines():
        m = re.match(r"^((?::- |\+- |:  |   )*)(\S.*)$", ln)
        if not m or m.group(2).startswith("=="):
            continue
        out.append((len(m.group(1)) // 3, m.group(2)))
    return out


_BROADCAST = re.compile(r"Broadcast(Exchange|HashJoin|NestedLoopJoin)")


def _twin_broadcast_unions(plan: str) -> bool:
    """Flag a Union with two structurally-identical child branches that
    each carry a broadcast join (VERDICT r8 #3). That exact shape — the
    same builder invoked twice, both branches broadcast-joining the
    same frame, unioned then aggregated — non-deterministically dropped
    a row on FIRST execution under machine load (q_rule_change_audit,
    r8; 13 reconstruction runs could not isolate the trigger, so tests
    cannot catch it — only the shape can be fenced). Rewrite pattern:
    route both generations through ONE join path (tag rows before the
    join, split after) instead of unioning twin broadcast branches.
    Union children always share a schema, so structural twinhood (the
    operator-sequence signature, expr-ids stripped) is the whole test."""
    lines = _parse_tree(plan)
    for i, (d, text) in enumerate(lines):
        if not text.startswith("Union"):
            continue
        # children: maximal subtrees at depth d+1 under this node
        branches: list[list[tuple[int, str]]] = []
        j = i + 1
        while j < len(lines) and lines[j][0] > d:
            if lines[j][0] == d + 1:
                branches.append([])
            if branches:  # tolerate depth jumps from subquery sections
                branches[-1].append((lines[j][0] - d, lines[j][1]))
            j += 1
        def _line_sig(bd: int, bt: str) -> tuple:
            # operator name plus the SCAN IDENTITY: branches over
            # different source tables are not twins even when their
            # operator sequences coincide (q_fk_orphans: three FK
            # checks over different dims union legally). The codegen
            # prefix '*(N) ' is stripped FIRST — split('(') on it
            # would collapse every codegen'd operator name to '*',
            # degrading the signature to line-count + scan identity
            op = re.sub(r"^\*\(\d+\) ", "", bt)
            op = re.sub(r"#\d+L?", "#", op).split("(")[0].split("[")[0].strip()
            # e.g. "Location: InMemoryFileIndex(1 paths)[file:/...]"
            loc = re.search(r"Location: [^\[]*\[([^\]]*)\]", bt)
            return (bd, op, loc.group(1) if loc else "")

        sigs = [tuple(_line_sig(bd, bt) for bd, bt in br) for br in branches]
        seen: set = set()
        for sig, br in zip(sigs, branches):
            has_bc = any(_BROADCAST.search(bt) for _, bt in br)
            if not has_bc:
                continue
            if sig in seen:
                return True
            seen.add(sig)
    return False


# Unary pass-through nodes that preserve the cardinality class of the
# frame below them — walking a Window's input spine skips these.
_SPINE_PASS_THROUGH = {
    "Sort", "Exchange", "Project", "Filter", "Coalesce",
    "AQEShuffleRead", "ReusedExchange", "Window", "InputAdapter",
    "ColumnarToRow", "WholeStageCodegen",
}
# Nodes whose OUTPUT is bounded (not data-sized): aggregates collapse
# to |groups| rows, top-k/group-limit to k rows. An unpartitioned
# window is legal only over these.
_SPINE_BOUNDED = {
    "HashAggregate", "SortAggregate", "ObjectHashAggregate",
    "TakeOrderedAndProject", "WindowGroupLimit", "LocalTableScan",
}


def _unpartitioned_data_windows(plan: str) -> list[str]:
    """Flag a Window node whose spec has NO partition columns and whose
    input spine is a data-sized frame (scan/join/generate/union) — the
    Exchange SinglePartition + one-sorting-task shape that cannot
    survive 100 TB (VERDICT r9 #3). Legal homes for a global window:
    post-aggregate frames (|groups| rows — the scale.py __pid offsets
    pattern) and top-k outputs. Data-sized total orders must go through
    the fenced scale.py helpers (global_row_number & co.) instead.

    Detection: in the plan text, windowspecdefinition's argument list
    is partition columns (bare ``col#id``) then order columns
    (``col#id ASC/DESC ...``) then the frame — so a spec whose FIRST
    argument carries a sort direction (or that has no arguments at
    all, the whole-frame form) is unpartitioned."""
    lines = _parse_tree(plan)
    bad = []
    for i, (d, text) in enumerate(lines):
        stripped = re.sub(r"^\*\(\d+\) ", "", text)
        if not stripped.startswith("Window"):
            continue
        specs = re.findall(
            r"windowspecdefinition\(([^()]*?)(?=specifiedwindowframe|\))", text
        )
        unpart = any(
            (not (args := [a for a in s.rstrip(", ").split(", ") if a]))
            or re.search(r" (ASC|DESC)\b", args[0])
            for s in specs
        )
        if not unpart:
            continue
        spine = None
        for dd, tt in lines[i + 1:]:
            if dd <= d:
                break
            op = re.sub(r"^\*\(\d+\) ", "", tt)
            op = op.split("(")[0].split("[")[0].split(" ")[0].strip().rstrip(",")
            if op in _SPINE_PASS_THROUGH:
                continue
            spine = op
            break
        if spine is not None and spine not in _SPINE_BOUNDED:
            bad.append(f"global window over data-sized input ({spine}): {text[:100]}")
    return bad


def _fails(name, plan: str) -> list[str]:
    out = []
    if "CartesianProduct" in plan:
        out.append("CartesianProduct")
    if "BatchEvalPython" in plan and name not in ROW_UDF_ALLOWED:
        out.append("row-Python UDF outside the declared UDF operators")
    if (
        ("ArrowEvalPython" in plan or "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan)
        and not name.startswith(ARROW_ALLOWED_PREFIXES)
    ):
        out.append("Arrow/pandas exec outside the declared surfaces")
    if _QUADRATIC_FRAME.search(plan):
        out.append(
            "O(n²) window frame: ends at UNBOUNDED FOLLOWING without "
            "starting at UNBOUNDED PRECEDING — mirror it as a backward "
            "carry over the reversed order"
        )
    if _twin_broadcast_unions(plan):
        out.append(
            "Union of twin same-shape broadcast subtrees — the "
            "load-dependent first-execution row-drop hazard "
            "(q_rule_change_audit r8); route both branches through one "
            "join path instead"
        )
    out.extend(_unpartitioned_data_windows(plan))
    n_exch = plan.count("Exchange")
    if n_exch > MAX_EXCHANGES:
        out.append(f"{n_exch} exchanges (lineage blowup?)")
    if len(plan) > MAX_PLAN_CHARS:
        out.append(f"plan text {len(plan)} chars (lineage blowup?)")
    return out


def test_twin_broadcast_union_rule_fires_on_the_hazard_shape(spark):
    """The rule must reject a deliberately-built replica of the
    q_rule_change_audit pre-fix shape (two invocations of the same
    builder, each broadcast-joining the same frame, unioned and
    aggregated) and must PASS the single-join-path rewrite that fixed
    it (one union of the small sides BEFORE the single broadcast
    join)."""
    from pyspark.sql import functions as F

    dim = spark.range(10).withColumnRenamed("id", "k").withColumn(
        "attr", F.col("k") * 2
    )

    def branch(tag):
        rows = spark.createDataFrame([(i, tag) for i in range(5)], "k long, gen string")
        return rows.join(F.broadcast(dim), "k").select("k", "gen", "attr")

    hazardous = (
        branch("old")
        .unionByName(branch("new"))
        .groupBy("k")
        .agg(F.count_distinct("gen").alias("gens"))
    )
    plan = hazardous._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert _twin_broadcast_unions(plan), plan

    # the fix pattern: tag rows, union the SMALL sides, join once
    rows = spark.createDataFrame(
        [(i, g) for i in range(5) for g in ("old", "new")], "k long, gen string"
    )
    fixed = rows.join(F.broadcast(dim), "k").groupBy("k").agg(
        F.count_distinct("gen").alias("gens")
    )
    fixed_plan = fixed._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert not _twin_broadcast_unions(fixed_plan), fixed_plan

    # non-twin unions of broadcast branches stay legal: different
    # operator shapes under the union are not the hazard
    other = (
        branch("old")
        .filter(F.col("attr") > 2)
        .unionByName(branch("new"))
        .groupBy("k")
        .agg(F.count_distinct("gen").alias("gens"))
    )
    other_plan = other._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert not _twin_broadcast_unions(other_plan), other_plan


def test_unpartitioned_window_rule_fires_on_the_hazard_shape(spark):
    """The rule must reject a row_number over an unpartitioned window
    on a raw (data-sized) frame — the single-task global sort — and
    must PASS (a) the same window over an aggregate output (the
    scale.py __pid-offsets pattern: |groups|-row frames are legal
    global-window homes), (b) a properly partitioned window on a raw
    frame, and (c) a global window over a top-k output."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    def plan_of(df):
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )

    raw = spark.range(100).withColumn("k", F.col("id") % 7)

    hazardous = raw.withColumn("rn", F.row_number().over(W.orderBy("id")))
    assert _unpartitioned_data_windows(plan_of(hazardous)), plan_of(hazardous)

    over_agg = (
        raw.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rn", F.row_number().over(W.orderBy("n", "k")))
    )
    assert not _unpartitioned_data_windows(plan_of(over_agg)), plan_of(over_agg)

    partitioned = raw.withColumn(
        "rn", F.row_number().over(W.partitionBy("k").orderBy("id"))
    )
    assert not _unpartitioned_data_windows(plan_of(partitioned)), plan_of(partitioned)

    over_topk = raw.orderBy(F.col("id").desc()).limit(5).withColumn(
        "rn", F.row_number().over(W.orderBy("id"))
    )
    assert not _unpartitioned_data_windows(plan_of(over_topk)), plan_of(over_topk)


def test_all_plans_pass_lint(spark):
    violations = {}
    for name, spec in all_specs().items():
        df = spec.fn(spark, SMOKE_SF)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
        bad = _fails(name, plan)
        if bad:
            violations[name] = bad
    assert not violations, f"plan lint violations: {violations}"


def test_partition_dependent_expressions_stay_fenced():
    """Source-level fence for the r9 range-boundary hazard class:
    spark_partition_id, monotonically_increasing_id and rand() produce
    PARTITION-LAYOUT-DEPENDENT values, so any frame carrying them that
    is consumed by more than one physical subtree can silently combine
    two different layouts (each instantiation of an exchange samples
    its own boundaries / ids / seeds — reproduced wrong answers under
    spark.sql.exchange.reuse=false). The ONLY sanctioned source use is
    scale._range_parted, which freezes the stamped layout with an
    eager checkpoint before anyone consumes it. New uses must either
    go through _range_parted or bring their own checkpoint + a hostile
    repro test. (q_sample's seeded Bernoulli .sample is rows-only by
    declared contract — sampling RNGs are per-partition — and is
    allowlisted where it lives.)"""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parent.parent
    hits = []
    for sub in ("kube_etl_spark", "jobs"):
        for py in sorted((root / sub).rglob("*.py")):
            rel = py.relative_to(root).as_posix()
            for i, line in enumerate(py.read_text().splitlines(), 1):
                code = line.split("#", 1)[0]
                if re.search(
                    r"spark_partition_id\s*\(|monotonically_increasing_id\s*\(|F\.rand\s*\(",
                    code,
                ):
                    hits.append(f"{rel}:{i}: {line.strip()}")
    allowed = ("kube_etl_spark/queries/scale.py",)
    bad = [h for h in hits if not h.startswith(allowed)]
    assert not bad, (
        "partition-layout-dependent expression outside the fenced "
        f"helper (route through scale._range_parted): {bad}"
    )
    # the fence itself must still exist where we think it does
    assert any("queries/scale.py" in h for h in hits), hits


def test_streaming_driver_frames_are_local_relations():
    """Source-level fence for Python-fed scans on the streaming path: a
    ``spark.createDataFrame(<list>)`` frame plans as a scan that Python
    workers feed, so every job over it starts them (0.25-0.35 s a scan
    warm on 4 cores, against about 0.01 s for a JVM-local relation).
    Small frames built on the driver under ``kube_etl_spark/streaming/``
    and in ``jobs/run_syncer.py`` go through ``session.local_frame``.
    It and ``session.config_frame`` (which rebuilds collected JVM rows
    with the JVM session's ``createDataFrame``) hold the only sanctioned
    calls. Calls are found in the syntax tree, so docstrings and
    comments that name the API pass."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    files = [
        *sorted((root / "kube_etl_spark" / "streaming").rglob("*.py")),
        root / "jobs" / "run_syncer.py",
        root / "kube_etl_spark" / "session.py",
    ]
    hits = []
    for py in files:
        rel = py.relative_to(root).as_posix()
        tree = ast.parse(py.read_text())
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(node, fn.name)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                hits.append((rel, owner.get(node), node.lineno))
    fence = {
        ("kube_etl_spark/session.py", "local_frame"),
        ("kube_etl_spark/session.py", "config_frame"),
    }
    bad = [h for h in hits if h[:2] not in fence]
    assert not bad, (
        "createDataFrame outside session.local_frame on the streaming "
        f"path (build the frame with local_frame): {bad}"
    )
    # the fence itself must still exist where we think it does
    assert {h[:2] for h in hits} == fence, hits
