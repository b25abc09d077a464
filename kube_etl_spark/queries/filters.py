"""Projections, filters and predicates (SURVEY.md §2.2, P1-P9).

These re-express the reference's per-object field handling as columnar
DataFrame expressions. P-semantics with citations:
  P1 nested-field projection  — krmsyncer_controller.go:561-584
  P2 drop/normalize           — krmsyncer_controller.go:518-521
  P3 defaults + derived path  — pkg/export/export.go:136-150
  P4 composite-key equality   — krmsyncer_controller.go:406
  P5 suffix glob              — krmsyncer_controller.go:395-404
  P6 membership (array / in)  — export.go:119; krmsyncer_controller.go:462-474
  P7 substring exclusion      — export.go:124
  P8 rule validation          — krmsyncer_controller.go:105-116

All run on the fixture tables (the driver's oracle can only see those),
with the reference's *shapes* mapped onto them. Predicates here are
Catalyst-pushable (verified: PushedFilters in .explain) — unlike the
reference, which filters client-side after a full fetch (a missed
pushdown, krmsyncer_controller.go:462-474).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query


@query(
    "q_project_nested",
    tags=("P1",),
    oracle="""
SELECT o_orderkey,
       CAST(o_orderkey AS VARCHAR) AS resource_id,
       o_orderstatus AS status_state,
       o_orderpriority AS spec_priority
FROM orders
WHERE o_totalprice > 400000
ORDER BY o_orderkey
""",
)
def q_project_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: build a spec/status document per row, then project dotted
    paths out of it (obj.spec.resourceID, obj.status.state) — the
    columnar analog of filterFields' nested-path copy."""
    orders = load_table(spark, sf_dir, "orders")
    obj = F.struct(
        F.struct(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderkey").cast("string").alias("resourceID"),
        ).alias("spec"),
        F.struct(F.col("o_orderstatus").alias("state")).alias("status"),
    )
    return (
        orders.filter(F.col("o_totalprice") > 400000)
        .withColumn("obj", obj)
        .select(
            "o_orderkey",
            F.col("obj.spec.resourceID").alias("resource_id"),
            F.col("obj.status.state").alias("status_state"),
            F.col("obj.spec.priority").alias("spec_priority"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q_drop_normalize",
    tags=("P2",),
    oracle="""
SELECT c_custkey, c_name, c_nationkey,
       CAST(NULL AS DOUBLE) AS c_acctbal,
       CAST(NULL AS VARCHAR) AS c_mktsegment
FROM customer
WHERE c_custkey <= 500
ORDER BY c_custkey
""",
)
def q_drop_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: normalization — volatile columns cleared before the sink
    (resourceVersion/uid/generation analog)."""
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 500)
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            F.lit(None).cast("double").alias("c_acctbal"),
            F.lit(None).cast("string").alias("c_mktsegment"),
        )
        .orderBy("c_custkey")
    )


@query(
    "q_case_coalesce_concat",
    tags=("P3", "F7"),
    oracle="""
SELECT event_id,
       CASE WHEN user_id % 5 = 0 THEN '_cluster'
            ELSE 'ns-' || CAST(user_id AS VARCHAR) END AS namespace,
       CASE WHEN event_type = 'click' THEN 'core' ELSE event_type END AS grp,
       (CASE WHEN user_id % 5 = 0 THEN '_cluster'
             ELSE 'ns-' || CAST(user_id AS VARCHAR) END)
         || '/' || (CASE WHEN event_type = 'click' THEN 'core' ELSE event_type END)
         || '/Event/' || CAST(event_id AS VARCHAR) || '.yaml' AS path
FROM events
WHERE event_id < 500
ORDER BY event_id
""",
)
def q_case_coalesce_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: export path derivation — ''→'_cluster' / ''→'core' defaulting
    + path concat (export.go:136-150)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    ns = F.when(F.col("user_id") % 5 == 0, F.lit("_cluster")).otherwise(
        F.concat(F.lit("ns-"), F.col("user_id").cast("string"))
    )
    grp = F.when(F.col("event_type") == "click", F.lit("core")).otherwise(
        F.col("event_type")
    )
    return ev.select(
        "event_id",
        ns.alias("namespace"),
        grp.alias("grp"),
        F.concat_ws(
            "/", ns, grp, F.lit("Event"), F.concat(F.col("event_id").cast("string"), F.lit(".yaml"))
        ).alias("path"),
    ).orderBy("event_id")


@query(
    "q_filter_conjunction",
    tags=("P4",),
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity
FROM lineitem
WHERE l_returnflag = 'A' AND l_linestatus = 'F' AND l_quantity > 49
ORDER BY l_orderkey, l_linenumber
""",
)
def q_filter_conjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: multi-column equality conjunction (GVK-match analog) —
    pushed to the parquet scan."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_returnflag") == "A")
            & (F.col("l_linestatus") == "F")
            & (F.col("l_quantity") > 49)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q_filter_like_suffix",
    tags=("P5",),
    oracle="""
SELECT p_partkey, p_name
FROM part
WHERE p_name LIKE '%bolt'
ORDER BY p_partkey
""",
)
def q_filter_like_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: suffix-glob predicate (*.cnrm... analog) via endswith."""
    return (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").endswith("bolt"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


@query(
    "q_filter_array_contains",
    tags=("P6",),
    oracle="""
SELECT p_partkey, p_name
FROM part
WHERE list_contains(string_split(p_name, ' '), 'gear')
ORDER BY p_partkey
""",
)
def q_filter_array_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6a: array membership (Verbs-contains-'list' analog,
    export.go:119) — token array built by split."""
    return (
        load_table(spark, sf_dir, "part")
        .filter(F.array_contains(F.split(F.col("p_name"), " "), "gear"))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


@query(
    "q_filter_isin",
    tags=("P6",),
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_filter_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6b: in-list membership (namespace ∈ rule.namespaces analog,
    krmsyncer_controller.go:462-474)."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority")
    )


@query(
    "q_filter_not_contains",
    tags=("P7",),
    oracle="""
SELECT p_brand, COUNT(*) AS n
FROM part
WHERE NOT contains(p_name, 'red')
GROUP BY p_brand
ORDER BY p_brand
""",
)
def q_filter_not_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: substring-exclusion predicate (subresource '/' skip analog,
    export.go:124)."""
    return (
        load_table(spark, sf_dir, "part")
        .filter(~F.col("p_name").contains("red"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("p_brand")
    )


# Rule rows mirroring the glob-validation unit table
# (syncer/controllers/krmsyncer_glob_test.go:24-89): a '*' in version/kind
# is only legal when the group is a '*.cnrm.cloud.google.com'-family glob.
_RULE_ROWS = [
    ("exact", "e2e.gkelabs.io", "v1", "TestCRD"),
    ("kcc_glob_ok", "*.cnrm.cloud.google.com", "*", "*"),
    ("kcc_exact_group_glob_ok", "kcc.cnrm.cloud.google.com", "*", "*"),
    ("kcc_apex_glob_ok", "cnrm.cloud.google.com", "*", "*"),
    ("bad_version_glob", "e2e.gkelabs.io", "*", "TestCRD"),
    ("bad_kind_glob", "e2e.gkelabs.io", "v1", "*"),
    ("bad_group_glob", "*.example.com", "*", "*"),
    ("bad_spoof_suffix", "*.evilcnrm.cloud.google.com", "*", "*"),
    ("bad_embedded_glob", "apps", "v1", "Deploy*"),
    ("kcc_exact", "kcc.cnrm.cloud.google.com", "v1beta1", "KCCResource"),
]

_RULE_VALUES = ", ".join(f"('{a}', '{b}', '{c}', '{d}')" for a, b, c, d in _RULE_ROWS)


@query(
    "q_validate_rules",
    tags=("P8",),
    oracle=f"""
SELECT rule_name,
       CAST(
         (NOT (grp LIKE '%*%' OR version LIKE '%*%' OR kind LIKE '%*%'))
         OR ((grp = '*.cnrm.cloud.google.com'
              OR grp LIKE '%.cnrm.cloud.google.com'
              OR grp = 'cnrm.cloud.google.com')
             AND version = '*' AND kind = '*')
       AS INTEGER) AS valid
FROM (VALUES {_RULE_VALUES}) AS r(rule_name, grp, version, kind)
ORDER BY rule_name
""",
)
def q_validate_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: rule validation — exact validateRule semantics
    (krmsyncer_controller.go:105-116): '*' anywhere makes a glob rule;
    legal only when group is KCC-family (literal *.cnrm glob, dotted
    suffix, or apex) AND version and kind are both '*'. The engine's
    validate_rules judges each row; with no sync_fields, only the glob
    branch can reject."""
    from ..streaming.sync import validate_rules

    rules = spark.createDataFrame(
        _RULE_ROWS,
        "rule_name string, rule_group string, rule_version string, rule_kind string",
    ).withColumn("sync_fields", F.array().cast("array<string>"))
    return (
        validate_rules(rules)
        .select("rule_name", F.col("valid").cast("int").alias("valid"))
        .orderBy("rule_name")
    )


# ---------------------------------------------------------------------------
# Syncer status write-back (VERDICT r1 gap #2): the Reconcile loop's
# condition updates rendered as a table. Fixture: four syncers covering
# the three condition branches (krmsyncer_controller.go:83-100, 238-246)
# plus a namespace-scoped glob syncer; a discovery GVK catalog; a tiny
# op-log. The engine path is streaming/sync.py:syncer_status — this
# query only binds the fixture.
_SYNCER_RULE_ROWS = [
    # (syncer, suspend, mode, group, version, kind, namespaces, sync_fields)
    ("s_active", False, "pull", "e2e.gkelabs.io", "v1", "TestCRD", None, None),
    ("s_active", False, "pull", "kcc.cnrm.cloud.google.com", "*", "*", None, None),
    ("s_globfleet", False, "push", "*.cnrm.cloud.google.com", "*", "*", ["prod"], None),
    ("s_suspended", True, "pull", "apps", "v1", "Deployment", None, None),
    ("s_invalid", False, "pull", "e2e.gkelabs.io", "*", "TestCRD", None, None),
    ("s_invalid", False, "pull", "batch", "v1", "Job", None, None),
]

_SYNCER_CATALOG_ROWS = [
    ("e2e.gkelabs.io", "v1", "TestCRD"),
    ("kcc.cnrm.cloud.google.com", "v1beta1", "KCCResource"),
    ("kcc.cnrm.cloud.google.com", "v1beta2", "KCCResource"),
    ("sql.cnrm.cloud.google.com", "v1beta1", "SQLInstance"),
    ("cnrm.cloud.google.com", "v1", "Apex"),
    ("apps", "v1", "Deployment"),
    ("batch", "v1", "Job"),
]

_SYNCER_OPLOG_ROWS = [
    ("e2e.gkelabs.io", "v1", "TestCRD", "prod", 1),
    ("kcc.cnrm.cloud.google.com", "v1beta1", "KCCResource", "dev", 2),
    ("sql.cnrm.cloud.google.com", "v1beta1", "SQLInstance", "prod", 3),
    ("apps", "v1", "Deployment", "prod", 4),
    ("cnrm.cloud.google.com", "v1", "Apex", "dev", 5),
    ("e2e.gkelabs.io", "v1", "TestCRD", "dev", 6),
]


def _sql_rows(rows) -> str:
    def lit(v):
        if v is None:
            return "CAST(NULL AS VARCHAR[])"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, list):
            return "[" + ", ".join(f"'{x}'" for x in v) + "]"
        if isinstance(v, int):
            return str(v)
        return f"'{v}'"

    return ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)


_INVALID_GLOB_SQL_MSG = (
    "glob only legal for version/kind when group is KCC "
    "(e.g. *.cnrm.cloud.google.com)"
)

# The match predicate, ANSI-SQL mirror of sync.rule_match_condition.
_GVK_MATCH_SQL = """
     (r.is_kcc_glob AND r.rule_group = '*.cnrm.cloud.google.com'
      AND {o}.grp LIKE '%cnrm.cloud.google.com')
  OR (r.is_kcc_glob AND r.rule_group <> '*.cnrm.cloud.google.com'
      AND {o}.grp = r.rule_group)
  OR (NOT r.is_kcc_glob AND {o}.grp = r.rule_group
      AND {o}.version = r.rule_version AND {o}.kind = r.rule_kind)
"""


@query(
    "q_syncer_status",
    tags=("S3", "P8", "P9"),
    oracle=f"""
WITH rules(syncer_name, suspend, mode, rule_group, rule_version, rule_kind,
           namespaces, sync_fields) AS (
  VALUES {_sql_rows(_SYNCER_RULE_ROWS)}
),
val AS (
  SELECT *,
    (rule_group LIKE '%*%' OR rule_version LIKE '%*%' OR rule_kind LIKE '%*%')
      AND NOT ((rule_group = '*.cnrm.cloud.google.com'
                OR rule_group LIKE '%.cnrm.cloud.google.com'
                OR rule_group = 'cnrm.cloud.google.com')
               AND rule_version = '*' AND rule_kind = '*') AS invalid,
    ((rule_group = '*.cnrm.cloud.google.com'
      OR rule_group LIKE '%.cnrm.cloud.google.com'
      OR rule_group = 'cnrm.cloud.google.com')
     AND rule_version = '*' AND rule_kind = '*') AS is_kcc_glob
  FROM rules
),
per AS (
  SELECT syncer_name,
         MAX(CASE WHEN suspend THEN 1 ELSE 0 END) AS suspended,
         CAST(COUNT(*) AS BIGINT) AS n_rules,
         CAST(SUM(CASE WHEN invalid THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid
  FROM val GROUP BY syncer_name
),
active AS (
  SELECT v.* FROM val v JOIN per p USING (syncer_name)
  WHERE p.suspended = 0 AND p.n_invalid = 0
),
catalog(grp, version, kind) AS (VALUES {_sql_rows(_SYNCER_CATALOG_ROWS)}),
gvks AS (
  SELECT r.syncer_name,
         COUNT(DISTINCT c.grp || '|' || c.version || '|' || c.kind) AS matched_gvks
  FROM catalog c JOIN active r ON {_GVK_MATCH_SQL.format(o='c')}
  GROUP BY r.syncer_name
),
oplog(grp, version, kind, namespace, seq) AS (VALUES {_sql_rows(_SYNCER_OPLOG_ROWS)}),
seqs AS (
  SELECT r.syncer_name, MAX(o.seq) AS last_sync_seq
  FROM oplog o JOIN active r
    ON ({_GVK_MATCH_SQL.format(o='o')})
   AND (r.namespaces IS NULL OR len(r.namespaces) = 0
        OR list_contains(r.namespaces, o.namespace))
  GROUP BY r.syncer_name
)
SELECT p.syncer_name,
       CASE WHEN p.suspended = 1 THEN 'Suspended'
            WHEN p.n_invalid > 0 THEN 'InvalidRule'
            ELSE 'Active' END AS condition,
       CASE WHEN p.suspended = 1 THEN 'SuspendedBySpec'
            WHEN p.n_invalid > 0 THEN 'InvalidGlob'
            ELSE 'Active' END AS reason,
       CASE WHEN p.suspended = 1 THEN 'Controller is suspended'
            WHEN p.n_invalid > 0 THEN '{_INVALID_GLOB_SQL_MSG}'
            ELSE 'Controller is active' END AS message,
       p.n_rules, p.n_invalid,
       CAST(COALESCE(g.matched_gvks, 0) AS BIGINT) AS matched_gvks,
       CAST(COALESCE(s.last_sync_seq, -1) AS BIGINT) AS last_sync_seq
FROM per p LEFT JOIN gvks g USING (syncer_name) LEFT JOIN seqs s USING (syncer_name)
ORDER BY p.syncer_name
""",
)
def q_syncer_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syncer status write-back analog: per-syncer Condition rows
    (Suspended / InvalidRule / Active with reason + message), matched-GVK
    count from discovery expansion, and last applied op-log seq —
    mirroring Reconcile's Status().Update
    (krmsyncer_controller.go:77-100, 238-246)."""
    from ..streaming.sync import RULE_SCHEMA, syncer_status

    rules = spark.createDataFrame(_SYNCER_RULE_ROWS, RULE_SCHEMA)
    catalog = spark.createDataFrame(
        _SYNCER_CATALOG_ROWS, "group string, version string, kind string"
    )
    oplog = spark.createDataFrame(
        _SYNCER_OPLOG_ROWS,
        "group string, version string, kind string, namespace string, seq bigint",
    )
    return syncer_status(rules, catalog, oplog).orderBy("syncer_name")


# Rule-change audit (VERDICT r7 #7b): the second rule generation — the
# edit an operator is about to apply. vs _SYNCER_RULE_ROWS: s_active is
# SUSPENDED, s_invalid's bad glob is FIXED (v1 instead of *), s_new is
# ADDED, s_suspended is REMOVED; s_globfleet unchanged.
_SYNCER_RULE_ROWS_GEN2 = [
    ("s_active", True, "pull", "e2e.gkelabs.io", "v1", "TestCRD", None, None),
    ("s_active", True, "pull", "kcc.cnrm.cloud.google.com", "*", "*", None, None),
    ("s_globfleet", False, "push", "*.cnrm.cloud.google.com", "*", "*", ["prod"], None),
    ("s_invalid", False, "pull", "e2e.gkelabs.io", "v1", "TestCRD", None, None),
    ("s_invalid", False, "pull", "batch", "v1", "Job", None, None),
    ("s_new", False, "pull", "apps", "v1", "Deployment", None, None),
]

_RULESET_SQL = """
  SELECT *,
    (rule_group LIKE '%*%' OR rule_version LIKE '%*%' OR rule_kind LIKE '%*%')
      AND NOT ((rule_group = '*.cnrm.cloud.google.com'
                OR rule_group LIKE '%.cnrm.cloud.google.com'
                OR rule_group = 'cnrm.cloud.google.com')
               AND rule_version = '*' AND rule_kind = '*') AS invalid,
    ((rule_group = '*.cnrm.cloud.google.com'
      OR rule_group LIKE '%.cnrm.cloud.google.com'
      OR rule_group = 'cnrm.cloud.google.com')
     AND rule_version = '*' AND rule_kind = '*') AS is_kcc_glob
  FROM {src}
"""


@query(
    "q_rule_change_audit",
    tags=("P8", "P9", "S1"),
    oracle=f"""
WITH rules_old(syncer_name, suspend, mode, rule_group, rule_version, rule_kind,
               namespaces, sync_fields) AS (
  VALUES {_sql_rows(_SYNCER_RULE_ROWS)}
),
rules_new(syncer_name, suspend, mode, rule_group, rule_version, rule_kind,
          namespaces, sync_fields) AS (
  VALUES {_sql_rows(_SYNCER_RULE_ROWS_GEN2)}
),
val_old AS ({_RULESET_SQL.format(src='rules_old')}),
val_new AS ({_RULESET_SQL.format(src='rules_new')}),
act_old AS (
  SELECT v.* FROM val_old v
  WHERE NOT EXISTS (SELECT 1 FROM val_old x
                    WHERE x.syncer_name = v.syncer_name AND (x.invalid OR x.suspend))
),
act_new AS (
  SELECT v.* FROM val_new v
  WHERE NOT EXISTS (SELECT 1 FROM val_new x
                    WHERE x.syncer_name = v.syncer_name AND (x.invalid OR x.suspend))
),
catalog(grp, version, kind) AS (VALUES {_sql_rows(_SYNCER_CATALOG_ROWS)}),
gens AS (
  SELECT DISTINCT c.grp, c.version, c.kind, r.syncer_name, 'old' AS gen
  FROM catalog c JOIN act_old r ON {_GVK_MATCH_SQL.format(o='c')}
  UNION ALL
  SELECT DISTINCT c.grp, c.version, c.kind, r.syncer_name, 'new' AS gen
  FROM catalog c JOIN act_new r ON {_GVK_MATCH_SQL.format(o='c')}
),
per AS (
  SELECT grp, version, kind,
    COALESCE(list_sort(list(DISTINCT syncer_name) FILTER (WHERE gen = 'old')),
             []) AS old_set,
    COALESCE(list_sort(list(DISTINCT syncer_name) FILTER (WHERE gen = 'new')),
             []) AS new_set
  FROM gens GROUP BY grp, version, kind
)
SELECT grp AS "group", version, kind,
  CAST(len(old_set) AS BIGINT) AS n_old,
  CAST(len(new_set) AS BIGINT) AS n_new,
  COALESCE(array_to_string(
      list_sort(list_filter(new_set, x -> NOT list_contains(old_set, x))), ','
  ), '') AS gained,
  COALESCE(array_to_string(
      list_sort(list_filter(old_set, x -> NOT list_contains(new_set, x))), ','
  ), '') AS lost
FROM per
WHERE len(list_filter(new_set, x -> NOT list_contains(old_set, x))) > 0
   OR len(list_filter(old_set, x -> NOT list_contains(new_set, x))) > 0
ORDER BY "group", version, kind
""",
)
def q_rule_change_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P9 extension (VERDICT r7 #7b): diff two rule-table
    generations and report the ROUTING impact — per discovery GVK, the
    syncers that would gain or lose it, with before/after counts. The
    'what will this rule edit actually change' answer an operator wants
    before applying a KRMSyncer edit; a syncer with ANY invalid rule
    (or suspend) syncs nothing, exactly as the reference aborts the
    whole reconcile on rule-expansion failure
    (krmsyncer_controller.go:238-246), so validity flips show up as
    routing changes. Match semantics are streaming/sync.py's
    rule_match_condition — the same engine path q_syncer_status and
    q_rules_fanout exercise. Scale: rule tables are config-sized and
    broadcast; the catalog join is discovery-sized; no data-sized input
    at all."""
    from ..streaming.sync import RULE_SCHEMA, active_rules, rule_match_condition

    catalog = spark.createDataFrame(
        _SYNCER_CATALOG_ROWS, "group string, version string, kind string"
    )

    # Both generations travel through ONE rule gate + ONE catalog join,
    # distinguished by a gen prefix on the syncer name (active_rules
    # projects the fixed rule columns, so a side column would not
    # survive). The single-path plan is deliberate: the first cut ran
    # the same catalog join twice (once per generation) and unioned —
    # same-schema twin broadcast subplans — and the FIRST execution of
    # that plan non-deterministically dropped a generation-only row
    # (reproduced twice, first collect() only; re-executions were
    # correct). One join path, no twin broadcasts, no reuse hazard.
    rows = [
        (f"{gen}:{r[0]}", *r[1:])
        for gen, rs in (("old", _SYNCER_RULE_ROWS), ("new", _SYNCER_RULE_ROWS_GEN2))
        for r in rs
    ]
    # the gate poisons a syncer per generation: names are gen-prefixed
    active = active_rules(spark.createDataFrame(rows, RULE_SCHEMA))
    both = (
        catalog.join(
            F.broadcast(active),
            rule_match_condition(catalog, active, check_namespace=False),
        )
        .select(
            "group",
            "version",
            "kind",
            F.substring_index("syncer_name", ":", 1).alias("gen"),
            F.substring_index("syncer_name", ":", -1).alias("syncer_name"),
        )
        .distinct()
    )
    per = both.groupBy("group", "version", "kind").agg(
        F.sort_array(
            F.collect_set(F.when(F.col("gen") == "old", F.col("syncer_name")))
        ).alias("old_set"),
        F.sort_array(
            F.collect_set(F.when(F.col("gen") == "new", F.col("syncer_name")))
        ).alias("new_set"),
    )
    gained = F.array_sort(F.array_except("new_set", "old_set"))
    lost = F.array_sort(F.array_except("old_set", "new_set"))
    return (
        per.select(
            "group",
            "version",
            "kind",
            F.size("old_set").cast("bigint").alias("n_old"),
            F.size("new_set").cast("bigint").alias("n_new"),
            F.array_join(gained, ",").alias("gained"),
            F.array_join(lost, ",").alias("lost"),
        )
        .filter((F.col("gained") != "") | (F.col("lost") != ""))
        .orderBy("group", "version", "kind")
    )


@query(
    "q_syncer_replay",
    tags=("P8", "P9", "S3", "ST"),
    oracle=f"""
WITH rules(syncer_name, suspend, mode, rule_group, rule_version, rule_kind,
           namespaces, sync_fields) AS (
  VALUES {_sql_rows(_SYNCER_RULE_ROWS)}
),
val AS ({_RULESET_SQL.format(src='rules')}),
act AS (
  SELECT v.* FROM val v
  WHERE NOT EXISTS (SELECT 1 FROM val x
                    WHERE x.syncer_name = v.syncer_name AND (x.invalid OR x.suspend))
),
catalog(idx, grp, version, kind) AS (
  VALUES {_sql_rows([(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)])}
),
ops AS (
  SELECT c.grp, c.version, c.kind,
         CASE WHEN e.event_id % 3 = 0 THEN 'prod' ELSE 'dev' END AS namespace,
         e.event_id AS seq
  FROM events e JOIN catalog c ON e.event_id % 7 = c.idx
),
matched AS (
  SELECT DISTINCT r.syncer_name, o.grp, o.version, o.kind, o.seq
  FROM ops o JOIN act r
    ON ({_GVK_MATCH_SQL.format(o='o')})
   AND (r.namespaces IS NULL OR len(r.namespaces) = 0
        OR list_contains(r.namespaces, o.namespace))
),
hw AS (SELECT syncer_name, MAX(seq) AS high_water FROM matched GROUP BY syncer_name)
SELECT m.syncer_name,
       CAST(h.high_water AS BIGINT) AS high_water,
       CAST(h.high_water // 2 AS BIGINT) AS reset_mark,
       CAST(COUNT(*) AS BIGINT) AS n_replay,
       CAST(MIN(m.seq) AS BIGINT) AS first_replay_seq,
       CAST(COUNT(DISTINCT m.grp || '|' || m.version || '|' || m.kind)
            AS BIGINT) AS n_gvks
FROM matched m JOIN hw h USING (syncer_name)
WHERE m.seq > h.high_water // 2
GROUP BY m.syncer_name, h.high_water
ORDER BY m.syncer_name
""",
)
def q_syncer_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P9/S3 extension (VERDICT r8 #7a): the syncer REPLAY/backfill
    audit — given each active syncer's status high-water mark, which
    matching op-log events re-apply after a marker RESET (the lost/
    regressed-status restart: controller-runtime re-lists and requeues
    everything newer than what status survives,
    krmsyncer_controller.go:77-100; application is an idempotent MERGE,
    so replay converges — this query prices the re-work). The reset is
    simulated at half the high-water (integer DIV, cross-engine exact);
    per syncer: the mark, the replay row count, its first seq, and the
    distinct GVKs it spans.

    Fixture: the shared rule/catalog fixtures routed over a DATA-SIZED
    op-log derived from the events table (event_id → catalog row by
    mod-7, namespace by mod-3, seq = event_id) — unlike
    q_syncer_status's 6-row op-log, the replay set here is thousands of
    rows, so the query exercises the broadcast-rules ⋈ data-sized-oplog
    shape the real syncer runs.

    Scale: rules/catalog are config-sized broadcasts; the op-log join
    is one broadcast join over the event scan; matched reduces
    map-side to per-syncer aggregates. No shuffle carries event rows
    except the distinct."""
    from ..catalog import load_table
    from ..streaming.sync import RULE_SCHEMA, active_rules, rule_match_condition

    rules = spark.createDataFrame(_SYNCER_RULE_ROWS, RULE_SCHEMA)
    active = active_rules(rules)
    cat = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)],
        "idx long, group string, version string, kind string",
    )
    ops = (
        load_table(spark, sf_dir, "events")
        .select("event_id")
        .join(F.broadcast(cat), F.pmod(F.col("event_id"), F.lit(7)) == F.col("idx"))
        .select(
            "group",
            "version",
            "kind",
            F.when(F.col("event_id") % 3 == 0, F.lit("prod"))
            .otherwise(F.lit("dev"))
            .alias("namespace"),
            F.col("event_id").alias("seq"),
        )
    )
    # matched feeds TWO consumers (the high-water aggregate and the
    # replay join) launched in one job — without truncation the event
    # scan + match join + distinct execute twice (column pruning gives
    # the two subtrees different canonical forms, so ReuseExchange
    # can't dedupe them); eager localCheckpoint materializes once
    # (the measured rule for concurrent same-job consumers)
    matched = (
        ops.join(F.broadcast(active), rule_match_condition(ops, active))
        .select("syncer_name", "group", "version", "kind", "seq")
        .distinct()
        .localCheckpoint(eager=True)
    )
    hw = matched.groupBy("syncer_name").agg(F.max("seq").alias("high_water"))
    return (
        matched.join(F.broadcast(hw), "syncer_name")
        .withColumn("reset_mark", F.expr("high_water DIV 2"))
        .filter(F.col("seq") > F.col("reset_mark"))
        .groupBy("syncer_name", "high_water", "reset_mark")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_replay"),
            F.min("seq").cast("bigint").alias("first_replay_seq"),
            F.count_distinct("group", "version", "kind")
            .cast("bigint")
            .alias("n_gvks"),
        )
        .select(
            "syncer_name",
            F.col("high_water").cast("bigint").alias("high_water"),
            F.col("reset_mark").cast("bigint").alias("reset_mark"),
            "n_replay",
            "first_replay_seq",
            "n_gvks",
        )
        .orderBy("syncer_name")
    )


@query(
    "q_watch_gap_relist",
    tags=("P8", "P9", "S3", "ST"),
    oracle=f"""
WITH rules(syncer_name, suspend, mode, rule_group, rule_version, rule_kind,
           namespaces, sync_fields) AS (
  VALUES {{rule_rows}}
),
val AS ({{ruleset}}),
act AS (
  SELECT v.* FROM val v
  WHERE NOT EXISTS (SELECT 1 FROM val x
                    WHERE x.syncer_name = v.syncer_name AND (x.invalid OR x.suspend))
),
catalog(idx, grp, version, kind) AS (
  VALUES {{catalog_rows}}
),
ops AS (
  SELECT c.grp, c.version, c.kind,
         CASE WHEN e.event_id % 3 = 0 THEN 'prod' ELSE 'dev' END AS namespace,
         e.event_id AS seq
  FROM events e JOIN catalog c ON e.event_id % 7 = c.idx
  WHERE (e.event_id // 40) % 4 <> 0
),
matched AS (
  SELECT DISTINCT r.syncer_name, o.seq
  FROM ops o JOIN act r
    ON ({{gvk_match}})
   AND (r.namespaces IS NULL OR len(r.namespaces) = 0
        OR list_contains(r.namespaces, o.namespace))
),
g AS (
  SELECT syncer_name, seq,
         seq - LAG(seq) OVER (PARTITION BY syncer_name ORDER BY seq) AS gap
  FROM matched
)
SELECT syncer_name,
       CAST(COUNT(*) AS BIGINT) AS n_ops,
       CAST(COUNT(*) FILTER (WHERE gap > 25) AS BIGINT) AS n_relists,
       CAST(MAX(gap) AS BIGINT) AS max_gap,
       ROUND(COUNT(*) FILTER (WHERE gap > 25) * 1.0 / COUNT(*), 6) AS relist_rate
FROM g GROUP BY syncer_name ORDER BY syncer_name
""".format(
        rule_rows=_sql_rows(_SYNCER_RULE_ROWS),
        ruleset=_RULESET_SQL.format(src="rules"),
        catalog_rows=_sql_rows([(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)]),
        gvk_match=_GVK_MATCH_SQL.format(o="o"),
    ),
)
def q_watch_gap_relist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P9/S3 extension (round 9): the watch-stream CONTINUITY audit
    — q_syncer_replay prices re-work after a status reset; this query
    detects where each syncer was FORCED to relist in the first place.
    A watch consumer tracks a per-stream sequence high-water; when the
    next delivered op jumps the sequence by more than the retained
    window, the intervening range was compacted away and the consumer
    must fall back to a full re-list (the resourceVersion-too-old /
    watch-bookmark-gap contract: controller-runtime re-lists on
    ErrResourceExpired, reference watch loop
    krmsyncer_controller.go:77-100). Per active syncer: ops seen, gap
    events exceeding the threshold (25 sequence numbers), the worst
    gap, and the relist rate.

    Fixture: the shared rule/catalog fixtures over the same data-sized
    op-log as q_syncer_replay (event_id → catalog row by mod-7,
    namespace by mod-3, seq = event_id), with LOG COMPACTION simulated
    deterministically: every fourth 40-sequence block is dropped
    ((seq DIV 40) % 4 = 0), so each surviving stream crosses a ≥40-wide
    hole once per 160-sequence cycle — natural inter-op steps stay ≤ 21
    (the mod-7 × mod-3 residue lattice), cleanly below the threshold.

    Scale: rules are a config-sized broadcast over one event scan; the
    gap window partitions by syncer (each syncer's watch stream is the
    natural unit of order — the same per-stream contract the real
    consumer has); the rollup is syncer-sized."""
    from ..catalog import load_table
    from ..streaming.sync import RULE_SCHEMA, active_rules, rule_match_condition

    rules = spark.createDataFrame(_SYNCER_RULE_ROWS, RULE_SCHEMA)
    active = active_rules(rules)
    cat = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)],
        "idx long, group string, version string, kind string",
    )
    ops = (
        load_table(spark, sf_dir, "events")
        .select("event_id")
        .filter(F.expr("(event_id DIV 40) % 4 <> 0"))
        .join(F.broadcast(cat), F.pmod(F.col("event_id"), F.lit(7)) == F.col("idx"))
        .select(
            "group",
            "version",
            "kind",
            F.when(F.col("event_id") % 3 == 0, F.lit("prod"))
            .otherwise(F.lit("dev"))
            .alias("namespace"),
            F.col("event_id").alias("seq"),
        )
    )
    matched = (
        ops.join(F.broadcast(active), rule_match_condition(ops, active))
        .select("syncer_name", "seq")
        .distinct()
    )
    w = Window.partitionBy("syncer_name").orderBy("seq")
    g = matched.withColumn("gap", F.col("seq") - F.lag("seq").over(w))
    n_ops = F.count(F.lit(1))
    n_relists = F.sum(F.when(F.col("gap") > 25, 1).otherwise(0))
    return (
        g.groupBy("syncer_name")
        .agg(
            n_ops.cast("bigint").alias("n_ops"),
            n_relists.cast("bigint").alias("n_relists"),
            F.max("gap").cast("bigint").alias("max_gap"),
            F.round(
                n_relists.cast("double") / n_ops.cast("double"), 6
            ).alias("relist_rate"),
        )
        .orderBy("syncer_name")
    )


# Discovery-expansion diff (round 10): the registration-time dual of
# q_rule_change_audit. The reference re-expands glob rules against LIVE
# discovery on every reconcile (ServerGroupsAndResources,
# krmsyncer_controller.go:221-234; expandRule :151-199), so installing
# or removing a CRD silently changes which GVK watches a re-reconcile
# registers. Generation 2 of the catalog: a new KCC CRD family appears
# (pubsub.cnrm.cloud.google.com), the kcc group grows a served version,
# a non-KCC type appears (matches nothing), and the sql KCC CRD is
# uninstalled.
_SYNCER_CATALOG_ROWS_GEN2 = [
    ("e2e.gkelabs.io", "v1", "TestCRD"),
    ("kcc.cnrm.cloud.google.com", "v1beta1", "KCCResource"),
    ("kcc.cnrm.cloud.google.com", "v1beta2", "KCCResource"),
    ("kcc.cnrm.cloud.google.com", "v1beta3", "KCCResource"),
    ("pubsub.cnrm.cloud.google.com", "v1beta1", "PubSubTopic"),
    ("cnrm.cloud.google.com", "v1", "Apex"),
    ("apps", "v1", "Deployment"),
    ("apps", "v1", "StatefulSet"),
    ("batch", "v1", "Job"),
]


@query(
    "q_discovery_expansion_diff",
    tags=("P8", "S1"),
    oracle=f"""
WITH rules(syncer_name, suspend, mode, rule_group, rule_version, rule_kind,
           namespaces, sync_fields) AS (
  VALUES {_sql_rows(_SYNCER_RULE_ROWS)}
),
val AS ({_RULESET_SQL.format(src='rules')}),
act AS (
  SELECT v.* FROM val v
  WHERE NOT EXISTS (SELECT 1 FROM val x
                    WHERE x.syncer_name = v.syncer_name AND (x.invalid OR x.suspend))
),
cat_old(grp, version, kind) AS (VALUES {_sql_rows(_SYNCER_CATALOG_ROWS)}),
cat_new(grp, version, kind) AS (VALUES {_sql_rows(_SYNCER_CATALOG_ROWS_GEN2)}),
cats AS (
  SELECT *, 'old' AS gen FROM cat_old
  UNION ALL
  SELECT *, 'new' AS gen FROM cat_new
),
gens AS (
  SELECT DISTINCT r.syncer_name, c.gen,
         c.grp || '/' || c.version || '/' || c.kind AS gvk
  FROM cats c JOIN act r ON {_GVK_MATCH_SQL.format(o='c')}
),
per AS (
  SELECT syncer_name,
    COALESCE(list_sort(list(DISTINCT gvk) FILTER (WHERE gen = 'old')), []) AS old_set,
    COALESCE(list_sort(list(DISTINCT gvk) FILTER (WHERE gen = 'new')), []) AS new_set
  FROM gens GROUP BY syncer_name
)
SELECT syncer_name,
  CAST(len(old_set) AS BIGINT) AS n_old,
  CAST(len(new_set) AS BIGINT) AS n_new,
  COALESCE(array_to_string(
      list_sort(list_filter(new_set, x -> NOT list_contains(old_set, x))), ','
  ), '') AS gained,
  COALESCE(array_to_string(
      list_sort(list_filter(old_set, x -> NOT list_contains(new_set, x))), ','
  ), '') AS lost
FROM per ORDER BY syncer_name
""",
)
def q_discovery_expansion_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/S1 extension (round 10): the DISCOVERY-expansion diff — fixed
    rules, two catalog generations. q_rule_change_audit answers "what
    does this rule edit change"; this answers the registration-time
    dual, "what does this CRD install/uninstall change": the reference
    re-expands every glob rule against live discovery on each reconcile
    (ServerGroupsAndResources, krmsyncer_controller.go:221-234;
    expandRule :151-199), so a grown catalog silently widens glob
    syncers' watch sets and a removed CRD narrows them. Per active
    syncer: expanded-GVK counts under each catalog generation and the
    gained/lost GVK lists.

    Expansion is GVK-level (check_namespace=False — server-advertised
    types carry no namespace, :200-233). Single-path plan: both catalog
    generations are gen-tagged and unioned BEFORE the one
    broadcast(rules) join — the q_rule_change_audit twin-broadcast
    lesson, now machine-fenced by the plan lint.

    Scale: catalogs and rules are both config-sized; the plan is one
    broadcast join plus a syncer-sized rollup — nothing data-sized
    anywhere."""
    from ..streaming.sync import RULE_SCHEMA, active_rules, rule_match_condition

    rules = spark.createDataFrame(_SYNCER_RULE_ROWS, RULE_SCHEMA)
    active = active_rules(rules)
    cat_schema = "group string, version string, kind string"
    cats = (
        spark.createDataFrame(_SYNCER_CATALOG_ROWS, cat_schema)
        .withColumn("gen", F.lit("old"))
        .unionByName(
            spark.createDataFrame(_SYNCER_CATALOG_ROWS_GEN2, cat_schema)
            .withColumn("gen", F.lit("new"))
        )
    )
    matched = (
        cats.join(
            F.broadcast(active),
            rule_match_condition(cats, active, check_namespace=False),
        )
        .select(
            "syncer_name",
            "gen",
            F.concat_ws("/", "group", "version", "kind").alias("gvk"),
        )
        .distinct()
    )
    per = matched.groupBy("syncer_name").agg(
        F.sort_array(
            F.collect_set(F.when(F.col("gen") == "old", F.col("gvk")))
        ).alias("old_set"),
        F.sort_array(
            F.collect_set(F.when(F.col("gen") == "new", F.col("gvk")))
        ).alias("new_set"),
    )
    return (
        per.select(
            "syncer_name",
            F.size("old_set").cast("bigint").alias("n_old"),
            F.size("new_set").cast("bigint").alias("n_new"),
            F.array_join(
                F.array_sort(F.array_except("new_set", "old_set")), ","
            ).alias("gained"),
            F.array_join(
                F.array_sort(F.array_except("old_set", "new_set")), ","
            ).alias("lost"),
        )
        .orderBy("syncer_name")
    )


# Fan-out amplification (round 10): rules sized so the WRITE-side cost
# of a rule set is visible — one syncer per patch-shape branch of the
# reference's sink (krmsyncer_controller.go:586-624: the main SSA apply
# always happens; a SEPARATE status subresource patch fires only when
# 'status' is synced, :592-622). sync_fields=None exercises the CRD
# default (["status"], types.go:37-39).
_FANOUT_RULE_ROWS = [
    ("f_status_default", False, "pull", "e2e.gkelabs.io", "v1", "TestCRD", None, None),
    ("f_spec_only", False, "push", "kcc.cnrm.cloud.google.com", "*", "*", None, ["spec"]),
    ("f_full", False, "pull", "*.cnrm.cloud.google.com", "*", "*", ["prod"], ["spec", "status"]),
    ("f_rid", False, "pull", "apps", "v1", "Deployment", ["dev"], ["spec.resourceID"]),
]


@query(
    "q_fanout_amplification",
    tags=("J9", "S8", "S10", "ST"),
    oracle=f"""
WITH rules(syncer_name, suspend, mode, rule_group, rule_version, rule_kind,
           namespaces, sync_fields) AS (
  VALUES {_sql_rows(_FANOUT_RULE_ROWS)}
),
val AS ({_RULESET_SQL.format(src='rules')}),
act AS (
  SELECT v.* FROM val v
  WHERE NOT EXISTS (SELECT 1 FROM val x
                    WHERE x.syncer_name = v.syncer_name AND (x.invalid OR x.suspend))
),
catalog(idx, grp, version, kind) AS (
  VALUES {_sql_rows([(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)])}
),
ops AS (
  SELECT c.grp, c.version, c.kind,
         CASE WHEN e.event_id % 3 = 0 THEN 'prod' ELSE 'dev' END AS namespace,
         e.event_id AS seq
  FROM events e JOIN catalog c ON e.event_id % 7 = c.idx
),
tot AS (
  SELECT grp, version, kind, COUNT(*) AS n_events
  FROM ops GROUP BY grp, version, kind
),
m AS (
  SELECT o.grp, o.version, o.kind, r.syncer_name,
         1 + CASE WHEN r.sync_fields IS NULL OR len(r.sync_fields) = 0
                    OR list_contains(r.sync_fields, 'status')
                  THEN 1 ELSE 0 END AS patches
  FROM ops o JOIN act r
    ON ({_GVK_MATCH_SQL.format(o='o')})
   AND (r.namespaces IS NULL OR len(r.namespaces) = 0
        OR list_contains(r.namespaces, o.namespace))
),
agg AS (
  SELECT grp, version, kind,
         COUNT(DISTINCT syncer_name) AS n_syncers,
         COUNT(*) AS n_sync_ops,
         SUM(patches) AS n_patches
  FROM m GROUP BY grp, version, kind
)
SELECT t.grp AS "group", t.version, t.kind,
  CAST(t.n_events AS BIGINT) AS n_events,
  CAST(COALESCE(a.n_syncers, 0) AS BIGINT) AS n_syncers,
  CAST(COALESCE(a.n_sync_ops, 0) AS BIGINT) AS n_sync_ops,
  CAST(COALESCE(a.n_patches, 0) AS BIGINT) AS n_patches,
  ROUND(COALESCE(a.n_patches, 0) * 1.0 / t.n_events, 6) AS amplification
FROM tot t LEFT JOIN agg a USING (grp, version, kind)
ORDER BY "group", version, kind
""",
)
def q_fanout_amplification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9/S8/S10 extension (round 10): WRITE AMPLIFICATION of a rule
    set over the op-log — per source GVK: events arriving, matching
    syncers, sync operations (event × matching rule — the reference's
    inner reconcile loop, krmsyncer_controller.go:431-530), and
    destination PATCHES. Patches per sync = 1 (the main SSA apply,
    :586-599) + 1 when 'status' is in sync_fields (the separate status
    subresource patch, :592-622; the CRD default IS ["status"], so a
    default rule costs 2 patches per event). The capacity-planning
    answer an operator needs before enabling a fleet-wide glob rule:
    amplification = destination patches per source event.

    Fixture: one syncer per patch-shape branch (_FANOUT_RULE_ROWS) over
    the same data-sized op-log as q_syncer_replay (event_id → catalog
    row by mod-7, namespace by mod-3). The op-log frame feeds TWO
    consumers (per-GVK totals and the match join) in one job, so it is
    eagerly checkpointed — the measured rule for concurrent same-job
    consumers (q_syncer_replay's r9 lesson: column pruning defeats
    ReuseExchange).

    Scale: rules broadcast; one broadcast join over the event scan;
    both rollups are GVK-sized (7 rows); the totals side joins back by
    broadcast. ROUND(·,6) on an integer-ratio display column follows
    the q_watch_gap_relist precedent."""
    from ..catalog import load_table
    from ..streaming.sync import RULE_SCHEMA, active_rules, rule_match_condition

    rules = spark.createDataFrame(_FANOUT_RULE_ROWS, RULE_SCHEMA)
    active = active_rules(rules).withColumn(
        "patches",
        (F.lit(1) + F.array_contains("sync_fields", "status").cast("int")).cast(
            "bigint"
        ),
    )
    cat = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)],
        "idx long, group string, version string, kind string",
    )
    ops = (
        load_table(spark, sf_dir, "events")
        .select("event_id")
        .join(F.broadcast(cat), F.pmod(F.col("event_id"), F.lit(7)) == F.col("idx"))
        .select(
            "group",
            "version",
            "kind",
            F.when(F.col("event_id") % 3 == 0, F.lit("prod"))
            .otherwise(F.lit("dev"))
            .alias("namespace"),
            F.col("event_id").alias("seq"),
        )
        .localCheckpoint(eager=True)
    )
    tot = ops.groupBy("group", "version", "kind").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    agg = (
        ops.join(F.broadcast(active), rule_match_condition(ops, active))
        .groupBy("group", "version", "kind")
        .agg(
            F.count_distinct("syncer_name").cast("bigint").alias("n_syncers"),
            F.count(F.lit(1)).cast("bigint").alias("n_sync_ops"),
            F.sum("patches").cast("bigint").alias("n_patches"),
        )
    )
    return (
        tot.join(F.broadcast(agg), ["group", "version", "kind"], "left")
        .select(
            "group",
            "version",
            "kind",
            "n_events",
            F.coalesce("n_syncers", F.lit(0)).cast("bigint").alias("n_syncers"),
            F.coalesce("n_sync_ops", F.lit(0)).cast("bigint").alias("n_sync_ops"),
            F.coalesce("n_patches", F.lit(0)).cast("bigint").alias("n_patches"),
            F.round(
                F.coalesce("n_patches", F.lit(0)).cast("double")
                / F.col("n_events").cast("double"),
                6,
            ).alias("amplification"),
        )
        .orderBy("group", "version", "kind")
    )


@query(
    "q_oplog_compaction_ratio",
    tags=("ST6", "W6", "A1"),
    oracle=f"""
WITH catalog(idx, grp, version, kind) AS (
  VALUES {_sql_rows([(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)])}
),
ops AS (
  SELECT c.grp, c.version, c.kind,
         CASE WHEN e.event_id % 3 = 0 THEN 'prod' ELSE 'dev' END AS namespace,
         CONCAT('obj-', CAST(e.event_id % 97 AS VARCHAR)) AS name,
         CASE WHEN e.event_id % 11 = 0 THEN 'delete' ELSE 'upsert' END AS op,
         e.event_id AS seq
  FROM events e JOIN catalog c ON e.event_id % 7 = c.idx
),
per_key AS (
  SELECT grp, version, kind, namespace, name,
         COUNT(*) AS n_ops_k,
         arg_max(op, seq) AS last_op
  FROM ops GROUP BY grp, version, kind, namespace, name
)
SELECT grp AS "group", version, kind,
  CAST(SUM(n_ops_k) AS BIGINT) AS n_ops,
  CAST(COUNT(*) AS BIGINT) AS n_keys,
  CAST(COUNT(*) FILTER (WHERE last_op <> 'delete') AS BIGINT) AS n_live,
  ROUND(COUNT(*) FILTER (WHERE last_op <> 'delete') * 1.0 / SUM(n_ops_k), 6)
    AS compaction_ratio
FROM per_key GROUP BY grp, version, kind
ORDER BY "group", version, kind
""",
)
def q_oplog_compaction_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6/W6 extension (round 10): the INFORMER-CACHE economics — per
    GVK, how much smaller is the latest-state compaction than the
    op-log that produced it. The reference's informer cache serves
    every read from the compacted latest-state-per-key view instead of
    the watch history (krmsyncer_controller.go:327-375); this query
    prices that choice: n_ops (watch events), n_keys (distinct
    objects), n_live (keys whose LATEST op is not a delete — what the
    cache actually holds), and the compaction ratio live/ops. The
    capacity answer for sizing state tables vs op-log retention.

    Key lattice: name = event_id mod 97 under the mod-7 GVK and mod-3
    namespace split (pairwise coprime ⇒ 2,037 distinct keys by CRT), so
    keys see ~5 updates each at driver scale and ~1/11 of ops are
    deletes — real compaction traffic at every SF. (First cut used
    mod 2000, whose 42k-key lattice made every key UNIQUE below sf0.1 —
    a compaction query with no compaction; caught in the oracle dry
    run.)

    Scale shape: ONE pass — a per-key aggregate (max_by(op, seq) picks
    the latest op exactly; seq is unique) followed by the GVK-sized
    rollup. n_ops rides SUM(per-key counts), so the op-log is never
    scanned twice and nothing is checkpointed. Both exchanges carry
    keys, never payloads."""
    from ..catalog import load_table

    cat = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)],
        "idx long, group string, version string, kind string",
    )
    ops = (
        load_table(spark, sf_dir, "events")
        .select("event_id")
        .join(F.broadcast(cat), F.pmod(F.col("event_id"), F.lit(7)) == F.col("idx"))
        .select(
            "group",
            "version",
            "kind",
            F.when(F.col("event_id") % 3 == 0, F.lit("prod"))
            .otherwise(F.lit("dev"))
            .alias("namespace"),
            F.concat(
                F.lit("obj-"), F.pmod(F.col("event_id"), F.lit(97)).cast("string")
            ).alias("name"),
            F.when(F.col("event_id") % 11 == 0, "delete")
            .otherwise("upsert")
            .alias("op"),
            F.col("event_id").alias("seq"),
        )
    )
    per_key = ops.groupBy("group", "version", "kind", "namespace", "name").agg(
        F.count(F.lit(1)).alias("n_ops_k"),
        F.max_by("op", "seq").alias("last_op"),
    )
    live = F.sum((F.col("last_op") != "delete").cast("long"))
    return (
        per_key.groupBy("group", "version", "kind")
        .agg(
            F.sum("n_ops_k").cast("bigint").alias("n_ops"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            live.cast("bigint").alias("n_live"),
            F.round(
                live.cast("double") / F.sum("n_ops_k").cast("double"), 6
            ).alias("compaction_ratio"),
        )
        .orderBy("group", "version", "kind")
    )


# Sync-conflict audit (round 10): pull syncers deliberately OVERLAP —
# the shared-destination multi-writer configuration smell this query
# exists to surface (the syncer_experiment fixture had to be designed
# around exactly this hazard: two pull syncers matching one key race on
# content at equal seq under SSA last-writer-wins,
# krmsyncer_controller.go:586-599 ForceOwnership).
_CONFLICT_RULE_ROWS = [
    ("c_all_kcc", False, "pull", "kcc.cnrm.cloud.google.com", "*", "*", None, None),
    ("c_fleet", False, "pull", "*.cnrm.cloud.google.com", "*", "*", ["prod"], None),
    ("c_exact", False, "pull", "kcc.cnrm.cloud.google.com", "v1beta1", "KCCResource", None, None),
    ("c_apps_push", False, "push", "apps", "v1", "Deployment", None, None),
]


@query(
    "q_sync_conflict_audit",
    tags=("P8", "S8", "J9"),
    oracle=f"""
WITH rules(syncer_name, suspend, mode, rule_group, rule_version, rule_kind,
           namespaces, sync_fields) AS (
  VALUES {_sql_rows(_CONFLICT_RULE_ROWS)}
),
val AS ({_RULESET_SQL.format(src='rules')}),
act AS (
  SELECT v.* FROM val v
  WHERE NOT EXISTS (SELECT 1 FROM val x
                    WHERE x.syncer_name = v.syncer_name AND (x.invalid OR x.suspend))
),
catalog(idx, grp, version, kind) AS (
  VALUES {_sql_rows([(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)])}
),
ops AS (
  SELECT c.grp, c.version, c.kind,
         CASE WHEN e.event_id % 3 = 0 THEN 'prod' ELSE 'dev' END AS namespace,
         CONCAT('obj-', CAST(e.event_id % 97 AS VARCHAR)) AS name
  FROM events e JOIN catalog c ON e.event_id % 7 = c.idx
),
m AS (
  SELECT DISTINCT r.mode, o.grp, o.version, o.kind, o.namespace, o.name,
         r.syncer_name
  FROM ops o JOIN act r
    ON ({_GVK_MATCH_SQL.format(o='o')})
   AND (r.namespaces IS NULL OR len(r.namespaces) = 0
        OR list_contains(r.namespaces, o.namespace))
),
per_key AS (
  SELECT mode, grp, version, kind, namespace, name,
         COUNT(DISTINCT syncer_name) AS n_writers
  FROM m GROUP BY mode, grp, version, kind, namespace, name
)
SELECT mode, grp AS "group", version, kind,
  CAST(COUNT(*) AS BIGINT) AS n_keys,
  CAST(COUNT(*) FILTER (WHERE n_writers >= 2) AS BIGINT) AS n_contended,
  CAST(MAX(n_writers) AS BIGINT) AS max_writers
FROM per_key GROUP BY mode, grp, version, kind
ORDER BY mode, "group", version, kind
""",
)
def q_sync_conflict_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/S8 extension (round 10): the MULTI-WRITER conflict audit —
    per destination mode and GVK, how many synced keys have TWO OR MORE
    active syncers writing them. Pull syncers share one local
    destination, so overlapping rules make the same key a multi-writer
    cell: under the reference's SSA apply with ForceOwnership
    (krmsyncer_controller.go:586-599) the writers silently steal
    ownership back and forth — last event wins, and which syncer's
    sync_fields projection lands is timing-dependent. The operator
    wants this list BEFORE enabling an overlapping glob rule; the
    engine's own scale harness had to design its fixture around
    exactly this hazard.

    Fixture: _CONFLICT_RULE_ROWS overlap deliberately (an exact-group
    KCC glob × a *.cnrm fleet glob × one exact GVK rule): kcc/v1beta1
    prod keys carry 3 writers, kcc dev 2, sql/apex prod 1 — every
    contention tier is represented at every SF.

    Scale shape: rules broadcast over one event scan; per-key distinct
    writers via one keyed aggregate (the DISTINCT collapses each
    (key, syncer) pair map-side); the GVK rollup is config-sized. The
    fan-out join output carries only key + syncer columns, never
    payloads."""
    from ..catalog import load_table
    from ..streaming.sync import RULE_SCHEMA, active_rules, rule_match_condition

    rules = spark.createDataFrame(_CONFLICT_RULE_ROWS, RULE_SCHEMA)
    active = active_rules(rules)
    cat = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)],
        "idx long, group string, version string, kind string",
    )
    ops = (
        load_table(spark, sf_dir, "events")
        .select("event_id")
        .join(F.broadcast(cat), F.pmod(F.col("event_id"), F.lit(7)) == F.col("idx"))
        .select(
            "group",
            "version",
            "kind",
            F.when(F.col("event_id") % 3 == 0, F.lit("prod"))
            .otherwise(F.lit("dev"))
            .alias("namespace"),
            F.concat(
                F.lit("obj-"), F.pmod(F.col("event_id"), F.lit(97)).cast("string")
            ).alias("name"),
        )
    )
    per_key = (
        ops.join(F.broadcast(active), rule_match_condition(ops, active))
        .groupBy("mode", "group", "version", "kind", "namespace", "name")
        .agg(F.count_distinct("syncer_name").alias("n_writers"))
    )
    return (
        per_key.groupBy("mode", "group", "version", "kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum((F.col("n_writers") >= 2).cast("long"))
            .cast("bigint")
            .alias("n_contended"),
            F.max("n_writers").cast("bigint").alias("max_writers"),
        )
        .orderBy("mode", "group", "version", "kind")
    )


# Round-11 widening: the offline audit twins of the r11 engine work —
# the 410-relist recovery delta (jobs/run_watch_bridge.py
# --syncer-state) and the per-field merge divergence (StateTable
# field_merge). Shared op-log lattice: catalog by mod-7, namespace by
# mod-3, names by a coprime modulus so keys collide across phases.


@query(
    "q_relist_delta",
    tags=("S3", "ST7", "J5"),
    oracle=f"""
WITH catalog(idx, grp, version, kind) AS (
  VALUES {_sql_rows([(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)])}
),
ops AS (
  SELECT c.grp, c.version, c.kind,
         CASE WHEN e.event_id % 3 = 0 THEN 'prod' ELSE 'dev' END AS namespace,
         CONCAT('obj-', CAST(e.event_id % 97 AS VARCHAR)) AS name,
         CASE WHEN e.event_id % 11 = 0 THEN 'delete' ELSE 'upsert' END AS op,
         e.event_id AS seq
  FROM events e JOIN catalog c ON e.event_id % 7 = c.idx
),
b AS (SELECT CAST((MAX(seq) * 3) // 5 AS BIGINT) AS bm FROM ops),
believed AS (
  SELECT grp, version, kind, namespace, name FROM (
    SELECT o.*, ROW_NUMBER() OVER (
      PARTITION BY o.grp, o.version, o.kind, o.namespace, o.name
      ORDER BY o.seq DESC) AS rn
    FROM ops o, b WHERE o.seq <= b.bm
  ) WHERE rn = 1 AND op <> 'delete'
),
truth AS (
  SELECT grp, version, kind, namespace, name FROM (
    SELECT o.*, ROW_NUMBER() OVER (
      PARTITION BY o.grp, o.version, o.kind, o.namespace, o.name
      ORDER BY o.seq DESC) AS rn
    FROM ops o
  ) WHERE rn = 1 AND op <> 'delete'
),
j AS (
  SELECT COALESCE(bl.grp, t.grp) AS grp,
         COALESCE(bl.version, t.version) AS version,
         COALESCE(bl.kind, t.kind) AS kind,
         (bl.name IS NOT NULL) AS in_believed,
         (t.name IS NOT NULL) AS in_truth
  FROM believed bl FULL OUTER JOIN truth t
    ON bl.grp = t.grp AND bl.version = t.version AND bl.kind = t.kind
   AND bl.namespace = t.namespace AND bl.name = t.name
)
SELECT grp AS "group", version, kind,
  CAST(COUNT(*) FILTER (WHERE in_believed) AS BIGINT) AS n_believed,
  CAST(COUNT(*) FILTER (WHERE in_truth) AS BIGINT) AS n_truth,
  CAST(COUNT(*) FILTER (WHERE in_believed AND NOT in_truth) AS BIGINT)
    AS n_gap_deletes,
  CAST(COUNT(*) FILTER (WHERE in_truth AND NOT in_believed) AS BIGINT)
    AS n_gap_creates,
  CAST(COUNT(*) FILTER (WHERE in_truth) + COUNT(*) FILTER (WHERE in_believed AND NOT in_truth) AS BIGINT)
    AS n_delta_rows
FROM j GROUP BY grp, version, kind
ORDER BY "group", version, kind
""",
)
def q_relist_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/ST7 extension (round 11): the 410-RECOVERY DELTA, priced per
    GVK — the offline audit twin of the watch bridge's --syncer-state
    emission (jobs/run_watch_bridge.py, kubeapi.relist_delta_rows; the
    contract controller-runtime implements on ErrResourceExpired). A
    consumer whose bookmark froze at 3/5 of the stream BELIEVES the
    LWW-live keys of the prefix; the relist reveals the LWW-live truth
    of the whole stream. The delta that converges the consumer is every
    truth key re-upserted plus a DELETE for every believed-live key the
    truth no longer contains: n_believed, n_truth (= re-upserts),
    n_gap_deletes (what plain re-upserting would leak forever),
    n_gap_creates, n_delta_rows. The capacity answer for how much
    landing-zone traffic a relist costs at each GVK's churn.

    Scale shape: ONE op-log scan and ONE key-partitioned hash
    aggregate compute BOTH compactions together — max_by(op, seq) for
    the truth side and max_by(op, seq | seq ≤ bookmark) for the
    believed side (max_by skips null orderings, which scopes the
    second contest to the prefix; seq unique ⇒ deterministic). The
    bookmark is a 1-row broadcast scalar, never a collect; no window,
    no self-join, no full-outer reconciliation — the per-key frame
    collapses straight into the GVK-sized rollup. This is the same
    single-shuffle shape as the engine twin (cdc.field_merge_winners'
    aggregate) and of q_oplog_compaction_ratio, whose key lattice
    (mod 97 names) it mirrors so ~1/11 deletes land in the gap window
    at every SF. (First cut compacted each side with its own
    row_number window and full-outer-joined them, re-exchanging the
    same scan for every contest; the plan audit collapsed it to this
    form.)"""
    keys = ["group", "version", "kind", "namespace", "name"]
    cat = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)],
        "idx long, group string, version string, kind string",
    )
    ops = (
        load_table(spark, sf_dir, "events")
        .select("event_id")
        .join(F.broadcast(cat), F.pmod(F.col("event_id"), F.lit(7)) == F.col("idx"))
        .select(
            "group", "version", "kind",
            F.when(F.col("event_id") % 3 == 0, F.lit("prod"))
            .otherwise(F.lit("dev")).alias("namespace"),
            F.concat(
                F.lit("obj-"), F.pmod(F.col("event_id"), F.lit(97)).cast("string")
            ).alias("name"),
            F.when(F.col("event_id") % 11 == 0, "delete")
            .otherwise("upsert").alias("op"),
            F.col("event_id").alias("seq"),
        )
    )
    bm = ops.agg(
        F.expr("CAST(MAX(seq) * 3 DIV 5 AS BIGINT)").alias("bm")
    )
    per_key = (
        ops.crossJoin(F.broadcast(bm))
        .groupBy(*keys)
        .agg(
            F.max_by("op", "seq").alias("last_all"),
            F.max_by(
                "op", F.when(F.col("seq") <= F.col("bm"), F.col("seq"))
            ).alias("last_pre"),
        )
        .select(
            "group", "version", "kind",
            (F.col("last_all") != "delete").alias("in_truth"),
            (
                F.col("last_pre").isNotNull() & (F.col("last_pre") != "delete")
            ).alias("in_believed"),
        )
    )
    # keys dead on BOTH sides must not manufacture all-zero GVK groups
    # the oracle's join form never emits
    per_key = per_key.filter(F.col("in_truth") | F.col("in_believed"))
    cnt = lambda c: F.sum(c.cast("long")).cast("bigint")  # noqa: E731
    gap_del = cnt(F.col("in_believed") & ~F.col("in_truth"))
    n_truth = cnt(F.col("in_truth"))
    return (
        per_key.groupBy("group", "version", "kind")
        .agg(
            cnt(F.col("in_believed")).alias("n_believed"),
            n_truth.alias("n_truth"),
            gap_del.alias("n_gap_deletes"),
            cnt(F.col("in_truth") & ~F.col("in_believed")).alias("n_gap_creates"),
            (n_truth + gap_del).cast("bigint").alias("n_delta_rows"),
        )
        .orderBy("group", "version", "kind")
    )


@query(
    "q_field_merge_divergence",
    tags=("ST6", "P8", "W6"),
    oracle=f"""
WITH catalog(idx, grp, version, kind) AS (
  VALUES {_sql_rows([(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)])}
),
ops AS (
  SELECT c.grp, c.version, c.kind,
         -- mod-5 namespace: coprime to the mod-3 WRITER class below, so
         -- every namespace sees all three writer classes (a mod-3 split
         -- would alias namespace==writer and make status drops vacuous)
         CASE WHEN e.event_id % 5 = 0 THEN 'prod' ELSE 'dev' END AS namespace,
         CONCAT('obj-', CAST(e.event_id % 53 AS VARCHAR)) AS name,
         CASE WHEN e.event_id % 13 = 0 THEN 'delete' ELSE 'upsert' END AS op,
         CASE WHEN e.event_id % 13 <> 0 AND e.event_id % 3 IN (0, 2)
              THEN CONCAT('foo-', CAST(e.event_id AS VARCHAR)) END AS spec_val,
         CASE WHEN e.event_id % 13 <> 0 AND e.event_id % 3 IN (1, 2)
              THEN CONCAT('bar-', CAST(e.event_id AS VARCHAR)) END AS status_val,
         e.event_id AS seq
  FROM events e JOIN catalog c ON e.event_id % 7 = c.idx
),
winner AS (
  SELECT * FROM (
    SELECT o.*, ROW_NUMBER() OVER (
      PARTITION BY grp, version, kind, namespace, name
      ORDER BY seq DESC) AS rn
    FROM ops o
  ) WHERE rn = 1
),
fspec AS (
  SELECT grp, version, kind, namespace, name,
         CASE WHEN op = 'delete' THEN NULL ELSE spec_val END AS fm_spec
  FROM (
    SELECT o.*, ROW_NUMBER() OVER (
      PARTITION BY grp, version, kind, namespace, name
      ORDER BY seq DESC) AS rn
    FROM ops o WHERE spec_val IS NOT NULL OR op = 'delete'
  ) WHERE rn = 1
),
fstatus AS (
  SELECT grp, version, kind, namespace, name,
         CASE WHEN op = 'delete' THEN NULL ELSE status_val END AS fm_status
  FROM (
    SELECT o.*, ROW_NUMBER() OVER (
      PARTITION BY grp, version, kind, namespace, name
      ORDER BY seq DESC) AS rn
    FROM ops o WHERE status_val IS NOT NULL OR op = 'delete'
  ) WHERE rn = 1
),
k AS (
  SELECT w.grp, w.version, w.kind, w.op AS last_op,
         w.spec_val AS row_spec, w.status_val AS row_status,
         s.fm_spec, t.fm_status
  FROM winner w
  LEFT JOIN fspec s ON w.grp = s.grp AND w.version = s.version
    AND w.kind = s.kind AND w.namespace = s.namespace AND w.name = s.name
  LEFT JOIN fstatus t ON w.grp = t.grp AND w.version = t.version
    AND w.kind = t.kind AND w.namespace = t.namespace AND w.name = t.name
)
SELECT grp AS "group", version, kind,
  CAST(COUNT(*) FILTER (WHERE last_op <> 'delete') AS BIGINT) AS n_live,
  CAST(COUNT(*) FILTER (WHERE last_op <> 'delete'
        AND fm_spec IS NOT NULL AND row_spec IS NULL) AS BIGINT)
    AS n_lww_drops_spec,
  CAST(COUNT(*) FILTER (WHERE last_op <> 'delete'
        AND fm_status IS NOT NULL AND row_status IS NULL) AS BIGINT)
    AS n_lww_drops_status,
  ROUND((COUNT(*) FILTER (WHERE last_op <> 'delete'
           AND fm_spec IS NOT NULL AND row_spec IS NULL)
       + COUNT(*) FILTER (WHERE last_op <> 'delete'
           AND fm_status IS NOT NULL AND row_status IS NULL)) * 1.0
      / GREATEST(COUNT(*) FILTER (WHERE last_op <> 'delete'), 1), 6)
    AS divergence_ratio
FROM k GROUP BY grp, version, kind
ORDER BY "group", version, kind
""",
)
def q_field_merge_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6/P8 extension (round 11): per GVK, how many live keys LOSE a
    field under whole-payload LWW that per-field merge preserves — the
    offline audit twin of StateTable field_merge (run_syncer
    --field-merge; the SSA ownership semantics of
    krmsyncer_controller.go:586-624). Three writer classes by seq mod 3
    (spec-only, status-only, both — the disjoint-sync_fields shape
    q_sync_conflict_audit flags); deletes (mod 13) assert both fields
    to null, so no pre-delete field resurrects into the count. A key
    diverges when its row-LWW winner carries NULL for a field whose
    per-field latest assertion is non-null: exactly the rows the
    default merge silently erases on every writer alternation.

    Scale shape: ONE op-log scan and ONE key-partitioned hash
    aggregate compute all three contests together, exactly like the
    engine twin (cdc.field_merge_winners): the row winner is
    max_by((op, spec, status), seq); each per-field winner is
    max_by(value-or-null-on-delete, seq | the row asserts the field) —
    max_by skips null orderings, which scopes each field's contest to
    its asserting rows. seq unique ⇒ deterministic; no windows, no
    joins; the per-key frame collapses straight into the GVK-sized
    rollup. (First cut used three row_number windows over filtered
    subsets reconciled by two joins, re-exchanging the same scan for
    every contest; the plan audit collapsed it to this form.)"""
    keys = ["group", "version", "kind", "namespace", "name"]
    cat = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)],
        "idx long, group string, version string, kind string",
    )
    e = F.col("event_id")
    not_del = e % 13 != 0
    ops = (
        load_table(spark, sf_dir, "events")
        .select("event_id")
        .join(F.broadcast(cat), F.pmod(e, F.lit(7)) == F.col("idx"))
        .select(
            "group", "version", "kind",
            # mod-5 namespace, coprime to the mod-3 writer class (see SQL)
            F.when(e % 5 == 0, F.lit("prod")).otherwise(F.lit("dev")).alias("namespace"),
            F.concat(F.lit("obj-"), F.pmod(e, F.lit(53)).cast("string")).alias("name"),
            F.when(~not_del, "delete").otherwise("upsert").alias("op"),
            F.when(
                not_del & F.pmod(e, F.lit(3)).isin(0, 2),
                F.concat(F.lit("foo-"), e.cast("string")),
            ).alias("spec_val"),
            F.when(
                not_del & F.pmod(e, F.lit(3)).isin(1, 2),
                F.concat(F.lit("bar-"), e.cast("string")),
            ).alias("status_val"),
            e.alias("seq"),
        )
    )
    def field_winner(col):
        # latest ASSERTION of the field: a non-null value, or a delete
        # (which asserts null); non-asserting rows get a null ordering
        # and are skipped by max_by
        asserts = F.col(col).isNotNull() | (F.col("op") == "delete")
        return F.max_by(
            F.when(F.col("op") != "delete", F.col(col)),
            F.when(asserts, F.col("seq")),
        )

    k = ops.groupBy(*keys).agg(
        F.max_by("op", "seq").alias("last_op"),
        F.max_by("spec_val", "seq").alias("row_spec"),
        F.max_by("status_val", "seq").alias("row_status"),
        field_winner("spec_val").alias("fm_spec"),
        field_winner("status_val").alias("fm_status"),
    )
    live = F.col("last_op") != "delete"
    drops_spec = live & F.col("fm_spec").isNotNull() & F.col("row_spec").isNull()
    drops_status = (
        live & F.col("fm_status").isNotNull() & F.col("row_status").isNull()
    )
    cnt = lambda c: F.sum(c.cast("long")).cast("bigint")  # noqa: E731
    return (
        k.groupBy("group", "version", "kind")
        .agg(
            cnt(live).alias("n_live"),
            cnt(drops_spec).alias("n_lww_drops_spec"),
            cnt(drops_status).alias("n_lww_drops_status"),
            F.round(
                (cnt(drops_spec) + cnt(drops_status))
                / F.greatest(cnt(live), F.lit(1)),
                6,
            ).alias("divergence_ratio"),
        )
        .orderBy("group", "version", "kind")
    )


@query(
    "q_purge_horizon_audit",
    tags=("ST6", "A10"),
    oracle=f"""
WITH catalog(idx, grp, version, kind) AS (
  VALUES {_sql_rows([(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)])}
),
ops AS (
  SELECT c.grp, c.version, c.kind,
         CASE WHEN (e.event_id // 37) % 3 = 0 THEN 'prod' ELSE 'dev' END AS namespace,
         CONCAT('obj-', CAST(e.event_id // 37 AS VARCHAR)) AS name,
         CASE WHEN e.event_id % 11 = 0 THEN 'delete' ELSE 'upsert' END AS op,
         e.event_id AS seq
  FROM events e JOIN catalog c ON (e.event_id // 37) % 7 = c.idx
),
per_key AS (
  SELECT grp, version, kind, namespace, name,
         arg_max(op, seq) AS last_op, MAX(seq) AS last_seq
  FROM ops GROUP BY grp, version, kind, namespace, name
),
f AS (SELECT MAX(last_seq) * 4 // 5 AS floor_seq FROM per_key)
SELECT grp AS "group", version, kind,
  CAST(COUNT(*) AS BIGINT) AS n_keys,
  CAST(COUNT(*) FILTER (WHERE last_op = 'delete') AS BIGINT) AS n_tombstones,
  CAST(COUNT(*) FILTER (WHERE last_op = 'delete' AND last_seq < floor_seq)
    AS BIGINT) AS n_purgeable,
  CAST(COUNT(*) FILTER (WHERE last_op = 'delete' AND last_seq >= floor_seq)
    AS BIGINT) AS n_retained
FROM per_key, f
GROUP BY grp, version, kind
ORDER BY "group", version, kind
""",
)
def q_purge_horizon_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST6/A10 extension (round 11): the purge_tombstones OPERATOR INPUT
    — per GVK, how many delete tombstones a state compaction at a given
    replay floor may drop (seq < floor: no replay can resurrect them,
    cdc.StateTable.purge_tombstones' horizon contract) and how many it
    must RETAIN (seq >= floor: still suppressing in-window
    redeliveries). The floor models the stream checkpoint's committed
    seq at 80% of the log (MAX(seq)*4 div 5, integer arithmetic — no
    float parity risk). This is the capacity/compliance dashboard for
    tombstone growth: retained tombstones are the steady-state extra
    rows a state table carries per GVK, the same accounting the
    reference gets from etcd's compaction of old revisions
    (krmsyncer_controller.go:327-375 trusts the informer cache because
    etcd compacts behind it).

    Key lattice: BLOCK keys (name = seq div 37, namespace/GVK from the
    block) — keys live for one 37-seq window and never recur, so
    per-GVK last seqs spread uniformly over the log and BOTH branches
    materialize at every SF (2/1, 20/6, 197/49 purgeable/retained at
    the three SFs). The recurring mod-97 lattice the sibling audits use
    would be VACUOUS here: every key recurs within 2,037 seqs, so every
    last_seq sits above any sane floor and n_purgeable is identically
    zero — the same class of fixture bug q_oplog_compaction_ratio's
    dry run caught (its mod-2000 first cut).

    Scale shape (mirrors q_relist_delta): the floor is a 1-row
    broadcast scalar cross-joined BEFORE the per-key aggregate — one
    per-key hash aggregate on one key exchange, then the GVK-sized
    rollup; no window, no non-broadcast join, nothing checkpointed."""
    keys = ["group", "version", "kind", "namespace", "name"]
    cat = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)],
        "idx long, group string, version string, kind string",
    )
    block = F.expr("event_id div 37")
    ops = (
        load_table(spark, sf_dir, "events")
        .select("event_id")
        .join(F.broadcast(cat), F.pmod(block, F.lit(7)) == F.col("idx"))
        .select(
            "group", "version", "kind",
            F.when(F.pmod(block, F.lit(3)) == 0, F.lit("prod"))
            .otherwise(F.lit("dev")).alias("namespace"),
            F.concat(F.lit("obj-"), block.cast("string")).alias("name"),
            F.when(F.col("event_id") % 11 == 0, "delete")
            .otherwise("upsert").alias("op"),
            F.col("event_id").alias("seq"),
        )
    )
    fl = ops.agg(F.expr("MAX(seq) * 4 DIV 5").alias("floor_seq"))
    per_key = (
        ops.crossJoin(F.broadcast(fl))
        .groupBy(*keys)
        .agg(
            F.max_by("op", "seq").alias("last_op"),
            F.max("seq").alias("last_seq"),
            F.max("floor_seq").alias("floor_seq"),
        )
    )
    tomb = F.col("last_op") == "delete"

    def _cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    return (
        per_key.groupBy("group", "version", "kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            _cnt(tomb).alias("n_tombstones"),
            _cnt(tomb & (F.col("last_seq") < F.col("floor_seq"))).alias(
                "n_purgeable"
            ),
            _cnt(tomb & (F.col("last_seq") >= F.col("floor_seq"))).alias(
                "n_retained"
            ),
        )
        .orderBy("group", "version", "kind")
    )


# Round-12 widening: the offline audit twin of the r12 engine work —
# manager-aware per-field OWNERSHIP (cdc.owned_field_merge_winners, the
# SSA managedFields analog). Same coprime op-log lattice as
# q_field_merge_divergence, plus a writer IDENTITY: three managers by
# seq mod 3 (alpha: spec, beta: status, gamma: BOTH — gamma contends
# with alpha on spec and beta on status on every shared key).


@query(
    "q_field_ownership_audit",
    tags=("S8", "ST6", "P8"),
    oracle=f"""
WITH catalog(idx, grp, version, kind) AS (
  VALUES {_sql_rows([(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)])}
),
ops AS (
  SELECT c.grp, c.version, c.kind,
         CASE WHEN e.event_id % 5 = 0 THEN 'prod' ELSE 'dev' END AS namespace,
         CONCAT('obj-', CAST(e.event_id % 53 AS VARCHAR)) AS name,
         CASE WHEN e.event_id % 13 = 0 THEN 'delete' ELSE 'upsert' END AS op,
         CASE e.event_id % 3 WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
              ELSE 'gamma' END AS mgr,
         CASE WHEN e.event_id % 13 <> 0 AND e.event_id % 3 IN (0, 2)
              THEN CONCAT('foo-', CAST(e.event_id AS VARCHAR)) END AS spec_val,
         CASE WHEN e.event_id % 13 <> 0 AND e.event_id % 3 IN (1, 2)
              THEN CONCAT('bar-', CAST(e.event_id AS VARCHAR)) END AS status_val,
         e.event_id AS seq
  FROM events e JOIN catalog c ON e.event_id % 7 = c.idx
),
epo AS (
  SELECT o.*, MAX(CASE WHEN op = 'delete' THEN seq END) OVER kw AS epoch
  FROM ops o
  WINDOW kw AS (PARTITION BY grp, version, kind, namespace, name)
),
v AS (
  SELECT *, (epoch IS NULL OR seq > epoch) AS post FROM epo
),
w AS (
  SELECT *,
    arg_min(mgr, CASE WHEN spec_val IS NOT NULL AND post THEN seq END)
      OVER kw AS owner_spec,
    arg_max(mgr, CASE WHEN spec_val IS NOT NULL AND post THEN seq END)
      OVER kw AS lastm_spec,
    arg_min(mgr, CASE WHEN status_val IS NOT NULL AND post THEN seq END)
      OVER kw AS owner_status,
    arg_max(mgr, CASE WHEN status_val IS NOT NULL AND post THEN seq END)
      OVER kw AS lastm_status
  FROM v
  WINDOW kw AS (PARTITION BY grp, version, kind, namespace, name)
),
k AS (
  SELECT grp, version, kind, namespace, name,
    arg_max(op, seq) AS last_op,
    MAX(owner_spec) AS owner_spec, MAX(lastm_spec) AS lastm_spec,
    MAX(owner_status) AS owner_status, MAX(lastm_status) AS lastm_status,
    MAX(CASE WHEN spec_val IS NOT NULL AND post AND mgr <> owner_spec
             THEN 1 ELSE 0 END) AS contested_spec,
    MAX(CASE WHEN status_val IS NOT NULL AND post AND mgr <> owner_status
             THEN 1 ELSE 0 END) AS contested_status
  FROM w GROUP BY grp, version, kind, namespace, name
)
SELECT grp AS "group", version, kind,
  CAST(COUNT(*) FILTER (WHERE last_op <> 'delete') AS BIGINT) AS n_live,
  CAST(COUNT(owner_spec) AS BIGINT) AS n_owned_spec,
  CAST(SUM(contested_spec) AS BIGINT) AS n_contested_spec,
  CAST(COUNT(*) FILTER (WHERE owner_spec IS NOT NULL
         AND lastm_spec <> owner_spec) AS BIGINT) AS n_stolen_spec,
  CAST(COUNT(owner_status) AS BIGINT) AS n_owned_status,
  CAST(SUM(contested_status) AS BIGINT) AS n_contested_status,
  CAST(COUNT(*) FILTER (WHERE owner_status IS NOT NULL
         AND lastm_status <> owner_status) AS BIGINT) AS n_stolen_status
FROM k GROUP BY grp, version, kind
ORDER BY "group", version, kind
""",
)
def q_field_ownership_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/ST6/P8 extension (round 12): the OWNERSHIP audit — per GVK,
    how many live keys have each managed field OWNED, how many of those
    fields are CONTESTED (a post-epoch assertion by a non-owner
    manager: the write non-forced SSA rejects as a conflict), and how
    many would be STOLEN under ForceOwnership (the LATEST asserter is
    not the owner — exactly the keys where forced and non-forced merge
    outcomes diverge, krmsyncer_controller.go:586-599). The offline
    twin of cdc.owned_field_merge_winners / StateTable(manager_col=…),
    and the dashboard an operator reads before flipping ForceOwnership
    on an overlapping syncer pair (q_sync_conflict_audit says WHERE
    multi-writer keys exist; this says what force would DO to them).

    Ownership semantics match the engine: owner = manager of the
    earliest assertion in the current delete epoch (deletes clear
    managedFields, so ownership restarts after each delete); stolen
    compares the latest asserter against that owner.

    Fixture: three managers by seq mod 3 — alpha asserts spec, beta
    status, gamma BOTH — over the mod-53/5/7 coprime key lattice with
    mod-13 deletes, so every key sees all three writer classes over
    time and both contested and stolen materialize at every SF for
    both fields.

    Scale shape: the same plan family as the engine merge — one key
    exchange carrying the epoch window, one owner-per-field window
    (sharing the exchange and sort), then the per-key aggregate and
    the GVK-sized rollup. No self-joins, nothing data-sized leaves the
    key partitioning; max_by/min_by skip null orderings, which scopes
    each field's contest to its asserting rows (the same trick as
    q_field_merge_divergence)."""
    keys = ["group", "version", "kind", "namespace", "name"]
    cat = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)],
        "idx long, group string, version string, kind string",
    )
    e = F.col("event_id")
    not_del = e % 13 != 0
    cls = F.pmod(e, F.lit(3))
    ops = (
        load_table(spark, sf_dir, "events")
        .select("event_id")
        .join(F.broadcast(cat), F.pmod(e, F.lit(7)) == F.col("idx"))
        .select(
            "group", "version", "kind",
            F.when(e % 5 == 0, F.lit("prod")).otherwise(F.lit("dev")).alias("namespace"),
            F.concat(F.lit("obj-"), F.pmod(e, F.lit(53)).cast("string")).alias("name"),
            F.when(~not_del, "delete").otherwise("upsert").alias("op"),
            F.when(cls == 0, "alpha").when(cls == 1, "beta").otherwise("gamma").alias("mgr"),
            F.when(
                not_del & cls.isin(0, 2), F.concat(F.lit("foo-"), e.cast("string"))
            ).alias("spec_val"),
            F.when(
                not_del & cls.isin(1, 2), F.concat(F.lit("bar-"), e.cast("string"))
            ).alias("status_val"),
            e.alias("seq"),
        )
    )
    from pyspark.sql import Window

    wk = Window.partitionBy(*keys)
    cur = ops.withColumn(
        "epoch", F.max(F.when(F.col("op") == "delete", F.col("seq"))).over(wk)
    )
    post = F.col("epoch").isNull() | (F.col("seq") > F.col("epoch"))
    for f in ("spec", "status"):
        valid = F.col(f"{f}_val").isNotNull() & post
        cur = cur.withColumn(f"valid_{f}", valid).withColumn(
            f"owner_{f}",
            F.min_by("mgr", F.when(valid, F.col("seq"))).over(wk),
        )
    aggs = [F.max_by("op", "seq").alias("last_op")]
    for f in ("spec", "status"):
        aggs.extend(
            [
                F.max(F.col(f"owner_{f}")).alias(f"owner_{f}"),
                F.max_by("mgr", F.when(F.col(f"valid_{f}"), F.col("seq"))).alias(
                    f"lastm_{f}"
                ),
                F.max(
                    F.when(
                        F.col(f"valid_{f}") & (F.col("mgr") != F.col(f"owner_{f}")),
                        1,
                    ).otherwise(0)
                ).alias(f"contested_{f}"),
            ]
        )
    k = cur.groupBy(*keys).agg(*aggs)

    def _cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    rollup = [_cnt(F.col("last_op") != "delete").alias("n_live")]
    for f in ("spec", "status"):
        owner = F.col(f"owner_{f}")
        rollup.extend(
            [
                _cnt(owner.isNotNull()).alias(f"n_owned_{f}"),
                F.sum(F.col(f"contested_{f}")).cast("bigint").alias(
                    f"n_contested_{f}"
                ),
                _cnt(owner.isNotNull() & (F.col(f"lastm_{f}") != owner)).alias(
                    f"n_stolen_{f}"
                ),
            ]
        )
    return (
        k.groupBy("group", "version", "kind")
        .agg(*rollup)
        .orderBy("group", "version", "kind")
    )


@query(
    "q_ownership_takeover_timeline",
    tags=("W3", "S8", "ST6"),
    oracle=f"""
WITH catalog(idx, grp, version, kind) AS (
  VALUES {_sql_rows([(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)])}
),
ops AS (
  SELECT c.grp, c.version, c.kind,
         CASE WHEN e.event_id % 5 = 0 THEN 'prod' ELSE 'dev' END AS namespace,
         CONCAT('obj-', CAST(e.event_id % 53 AS VARCHAR)) AS name,
         CASE e.event_id % 3 WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
              ELSE 'gamma' END AS mgr,
         CASE WHEN e.event_id % 13 <> 0 AND e.event_id % 3 IN (0, 2)
              THEN 1 ELSE 0 END AS a_spec,
         CASE WHEN e.event_id % 13 <> 0 AND e.event_id % 3 IN (1, 2)
              THEN 1 ELSE 0 END AS a_status,
         e.event_id AS seq
  FROM events e JOIN catalog c ON e.event_id % 7 = c.idx
),
tspec AS (
  SELECT grp, version, kind, namespace, name,
    COUNT(*) FILTER (WHERE prev IS NOT NULL AND prev <> mgr) AS takeovers
  FROM (
    SELECT o.*, LAG(mgr) OVER (
      PARTITION BY grp, version, kind, namespace, name ORDER BY seq) AS prev
    FROM ops o WHERE a_spec = 1
  ) GROUP BY grp, version, kind, namespace, name
),
tstatus AS (
  SELECT grp, version, kind, namespace, name,
    COUNT(*) FILTER (WHERE prev IS NOT NULL AND prev <> mgr) AS takeovers
  FROM (
    SELECT o.*, LAG(mgr) OVER (
      PARTITION BY grp, version, kind, namespace, name ORDER BY seq) AS prev
    FROM ops o WHERE a_status = 1
  ) GROUP BY grp, version, kind, namespace, name
)
SELECT s.grp AS "group", s.version, s.kind,
  CAST(COUNT(*) AS BIGINT) AS n_keys,
  CAST(SUM(s.takeovers) AS BIGINT) AS spec_takeovers,
  CAST(COUNT(*) FILTER (WHERE s.takeovers > 0) AS BIGINT) AS n_keys_spec_churn,
  CAST(MAX(s.takeovers) AS BIGINT) AS max_spec_takeovers,
  CAST(SUM(t.takeovers) AS BIGINT) AS status_takeovers,
  CAST(COUNT(*) FILTER (WHERE t.takeovers > 0) AS BIGINT) AS n_keys_status_churn
FROM tspec s JOIN tstatus t
  ON s.grp = t.grp AND s.version = t.version AND s.kind = t.kind
 AND s.namespace = t.namespace AND s.name = t.name
GROUP BY s.grp, s.version, s.kind
ORDER BY "group", s.version, s.kind
""",
)
def q_ownership_takeover_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/S8/ST6 extension (round 12): the FORCED-ownership churn
    timeline — per GVK, how many ownership TRANSFERS each managed field
    would suffer under ForceOwnership (every assertion whose manager
    differs from the field's previous asserter takes the field,
    krmsyncer_controller.go:586-599), plus how many keys churn at all
    and the worst per-key count. Where q_field_ownership_audit prices
    the END-STATE divergence (stolen = latest asserter ≠ first owner),
    this prices the PATH: a key with 2 writers alternating N times
    suffers N-1 transfers — the flapping that makes forced mode
    operationally noisy even when the end state looks settled. Same
    manager lattice as the audit (alpha: spec, beta: status, gamma:
    both), so the two queries read together.

    Scale shape: ONE event scan — the two per-field timelines unpivot
    (stack) into (key, field, mgr, seq) rows, so a single
    (key, field)-partitioned lag() window computes both fields'
    transfer flags on one exchange; the per-(key, field) aggregate
    reuses that partitioning, then one per-key regroup (keys with both
    fields asserted — the same key set as the oracle's inner join) and
    the GVK rollup. The first cut built each field's timeline as its
    own scan + window + aggregate and joined them (2 scans, 5 shuffles,
    a SortMergeJoin); the plan audit collapsed it to this form (1 scan,
    no join) — the same collapse discipline as the r11 audit queries.

    Determinism: seq unique per key (event_id), lag ordered by seq;
    counts only — no floats."""
    keys = ["group", "version", "kind", "namespace", "name"]
    cat = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)],
        "idx long, group string, version string, kind string",
    )
    e = F.col("event_id")
    not_del = e % 13 != 0
    cls = F.pmod(e, F.lit(3))
    ops = (
        load_table(spark, sf_dir, "events")
        .select("event_id")
        .join(F.broadcast(cat), F.pmod(e, F.lit(7)) == F.col("idx"))
        .select(
            "group", "version", "kind",
            F.when(e % 5 == 0, F.lit("prod")).otherwise(F.lit("dev")).alias("namespace"),
            F.concat(F.lit("obj-"), F.pmod(e, F.lit(53)).cast("string")).alias("name"),
            F.when(cls == 0, "alpha").when(cls == 1, "beta").otherwise("gamma").alias("mgr"),
            (not_del & cls.isin(0, 2)).cast("int").alias("a_spec"),
            (not_del & cls.isin(1, 2)).cast("int").alias("a_status"),
            e.alias("seq"),
        )
    )
    from pyspark.sql import Window

    ex = ops.select(
        *keys, "mgr", "seq",
        F.expr("stack(2, 'spec', a_spec, 'status', a_status) as (field, asserted)"),
    ).filter(F.col("asserted") == 1)
    w = Window.partitionBy(*keys, "field").orderBy("seq")
    tk = (
        ex.withColumn("prev", F.lag("mgr").over(w))
        .groupBy(*keys, "field")
        .agg(
            F.sum(
                (F.col("prev").isNotNull() & (F.col("prev") != F.col("mgr")))
                .cast("long")
            ).alias("takeovers")
        )
    )
    is_f = lambda f: F.col("field") == f  # noqa: E731
    per_key = (
        tk.groupBy(*keys)
        .agg(
            F.sum(F.when(is_f("spec"), F.col("takeovers"))).alias("takeovers_spec"),
            F.sum(F.when(is_f("status"), F.col("takeovers"))).alias("takeovers_status"),
            F.count(F.lit(1)).alias("__nf"),
        )
        .filter(F.col("__nf") == 2)  # keys with BOTH fields asserted
    )
    return (
        per_key.groupBy("group", "version", "kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum("takeovers_spec").cast("bigint").alias("spec_takeovers"),
            F.sum((F.col("takeovers_spec") > 0).cast("long"))
            .cast("bigint")
            .alias("n_keys_spec_churn"),
            F.max("takeovers_spec").cast("bigint").alias("max_spec_takeovers"),
            F.sum("takeovers_status").cast("bigint").alias("status_takeovers"),
            F.sum((F.col("takeovers_status") > 0).cast("long"))
            .cast("bigint")
            .alias("n_keys_status_churn"),
        )
        .orderBy("group", "version", "kind")
    )


@query(
    "q_landing_backlog_audit",
    tags=("S3", "ST6", "A1"),
    oracle=f"""
WITH catalog(idx, grp, version, kind) AS (
  VALUES {_sql_rows([(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)])}
),
ops AS (
  SELECT c.grp, c.version, c.kind,
         CASE WHEN (e.event_id // 37) % 3 = 0 THEN 'prod' ELSE 'dev' END AS namespace,
         CONCAT('obj-', CAST(e.event_id // 37 AS VARCHAR)) AS name,
         CASE WHEN e.event_id % 11 = 0 THEN 'delete' ELSE 'upsert' END AS op,
         e.event_id AS seq
  FROM events e JOIN catalog c ON (e.event_id // 37) % 7 = c.idx
),
w AS (SELECT MAX(seq) * 4 // 5 AS wm FROM ops),
per_key AS (
  SELECT grp, version, kind, namespace, name,
         arg_max(op, seq) AS last_op,
         MIN(seq) AS first_seq,
         COUNT(*) FILTER (WHERE seq > wm) AS n_backlog_ops,
         MAX(wm) AS wm
  FROM ops, w GROUP BY grp, version, kind, namespace, name
)
SELECT grp AS "group", version, kind,
  CAST(COUNT(*) AS BIGINT) AS n_keys,
  CAST(COUNT(*) FILTER (WHERE last_op <> 'delete') AS BIGINT) AS n_live,
  CAST(SUM(n_backlog_ops) AS BIGINT) AS n_backlog_rows,
  CAST(COUNT(*) FILTER (WHERE n_backlog_ops > 0) AS BIGINT) AS n_backlog_keys,
  CAST(COUNT(*) FILTER (WHERE first_seq > wm) AS BIGINT) AS n_keys_backlog_only
FROM per_key GROUP BY grp, version, kind
ORDER BY "group", version, kind
""",
)
def q_landing_backlog_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/ST6/A1 extension (round 12): the LANDING-ZONE BACKLOG audit —
    per GVK, how much of the op-log sits ABOVE the syncer stream's
    committed watermark (modeled at 80% of the log, the same floor
    convention as q_purge_horizon_audit): backlog rows, keys touched by
    the backlog, and keys that exist ONLY in the backlog (born after
    the watermark — the rows relist_delta_rows' believed-live union
    must read from the LANDING ZONE because no state row covers them,
    and exactly what checkpoint-committed pruning must retain;
    kubeapi.prune_committed_landing deletes only committed files for
    this reason). The capacity dashboard for the retention valve: a
    growing n_backlog_rows under a stationary watermark means the
    syncer is falling behind its feed; n_keys_backlog_only prices the
    410-recovery exposure if the backlog were lost.

    Key lattice: BLOCK keys (name = seq div 37 — the purge-horizon
    lattice) so keys are born throughout the log and the backlog-only
    branch materializes at every SF; the recurring mod-97 lattice
    would make n_keys_backlog_only identically zero.

    Scale shape: the watermark is a 1-row broadcast scalar
    cross-joined before ONE per-key hash aggregate on one key
    exchange, then the GVK-sized rollup — the q_purge_horizon_audit
    plan family. All counts, no floats."""
    keys = ["group", "version", "kind", "namespace", "name"]
    cat = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(_SYNCER_CATALOG_ROWS)],
        "idx long, group string, version string, kind string",
    )
    block = F.expr("event_id div 37")
    ops = (
        load_table(spark, sf_dir, "events")
        .select("event_id")
        .join(F.broadcast(cat), F.pmod(block, F.lit(7)) == F.col("idx"))
        .select(
            "group", "version", "kind",
            F.when(F.pmod(block, F.lit(3)) == 0, F.lit("prod"))
            .otherwise(F.lit("dev")).alias("namespace"),
            F.concat(F.lit("obj-"), block.cast("string")).alias("name"),
            F.when(F.col("event_id") % 11 == 0, "delete")
            .otherwise("upsert").alias("op"),
            F.col("event_id").alias("seq"),
        )
    )
    wm = ops.agg(F.expr("MAX(seq) * 4 DIV 5").alias("wm"))
    per_key = (
        ops.crossJoin(F.broadcast(wm))
        .groupBy(*keys)
        .agg(
            F.max_by("op", "seq").alias("last_op"),
            F.min("seq").alias("first_seq"),
            F.sum((F.col("seq") > F.col("wm")).cast("long")).alias("n_backlog_ops"),
            F.max("wm").alias("wm"),
        )
    )

    def _cnt(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    return (
        per_key.groupBy("group", "version", "kind")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            _cnt(F.col("last_op") != "delete").alias("n_live"),
            F.sum("n_backlog_ops").cast("bigint").alias("n_backlog_rows"),
            _cnt(F.col("n_backlog_ops") > 0).alias("n_backlog_keys"),
            _cnt(F.col("first_seq") > F.col("wm")).alias("n_keys_backlog_only"),
        )
        .orderBy("group", "version", "kind")
    )
