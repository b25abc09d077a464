"""The KRMSyncer engine, Spark-first (SURVEY.md §3.3 / M3b): a rule
table compiled into a dataflow —

  op-log stream → broadcast-join(rules: equality+glob+in-list, suspend
  gate) → fan-out (1 event × N matching rules) → syncFields projection +
  metadata normalization → per-destination idempotent MERGE/DELETE.

Reference semantics, each mapped with citations into /root/reference/:
  * Rule schema + defaults: syncer/api/v1alpha1/krmsyncer_types.go:24-84
    (namespaces empty ⇒ all :33; sync_fields default ["status"] :37-39;
    mode "" ⇒ pull :77).
  * Glob validation: only `*.cnrm.cloud.google.com`-family group globs,
    and then version+kind must both be `*`
    (syncer/controllers/krmsyncer_controller.go:105-116).
  * Match predicate: exact GVK equality OR the KCC suffix glob
    (krmsyncer_controller.go:156-192, 395-407, 456-459).
  * Namespace in-list, applied per event (krmsyncer_controller.go:462-474).
  * Suspend gate (krmsyncer_controller.go:83-93, 432-434).
  * Fan-out: an event is processed once per matching syncer
    (krmsyncer_controller.go:431-530) — duplicates by design.
  * Projection: sync_fields ⊆ {spec, status, spec.resourceID}; GVK,
    name, namespace, labels, annotations always retained
    (krmsyncer_controller.go:561-584); resourceVersion/uid stripped
    (:518-521).
  * Sink: last-writer-wins idempotent upsert / delete propagation
    (krmsyncer_controller.go:586-624, 489-504) → cdc.StateTable.

Scale notes: the rule table is tiny → broadcast; the only shuffle in
the whole pipeline is the per-destination MERGE compaction keyed on the
object key. Glob expansion happens at plan time in the reference
(discovery expansion); here the glob predicate is evaluated inside the
broadcast join — same result, and Catalyst folds the rule constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Leading dot required: '*.evilcnrm.cloud.google.com' must NOT validate
# (krmsyncer_controller.go:105-116 matches the '.cnrm.…' dotted family).
KCC_SUFFIX = ".cnrm.cloud.google.com"
ALWAYS_KEPT = ("group", "version", "kind", "namespace", "name", "labels", "annotations")
VALID_SYNC_FIELDS = ("spec", "status", "spec.resourceID")


# The rule table's columns, in order (krmsyncer_types.go:24-84 flattened
# to one row per rule).
RULE_SCHEMA = (
    "syncer_name string, suspend boolean, mode string, rule_group string, "
    "rule_version string, rule_kind string, namespaces array<string>, "
    "sync_fields array<string>"
)
INVALID_GLOB_MSG = (
    "glob only legal for version/kind when group is KCC "
    "(e.g. *.cnrm.cloud.google.com)"
)


def _mode_or_pull() -> F.Column:
    """The mode column with its CRD default: empty ⇒ pull (types.go:77)."""
    return F.when(F.col("mode").isNull() | (F.col("mode") == ""), "pull").otherwise(
        F.col("mode")
    )


def normalize_rules(rules: DataFrame) -> DataFrame:
    """Apply the CRD defaults (types.go:33-39, 77): empty mode ⇒ pull,
    empty sync_fields ⇒ ["status"], null namespaces ⇒ [] (= all)."""
    return rules.select(
        "syncer_name",
        F.coalesce("suspend", F.lit(False)).alias("suspend"),
        _mode_or_pull().alias("mode"),
        "rule_group",
        "rule_version",
        "rule_kind",
        F.coalesce("namespaces", F.array().cast("array<string>")).alias("namespaces"),
        F.when(
            F.col("sync_fields").isNull() | (F.size("sync_fields") == 0),
            F.array(F.lit("status")),
        )
        .otherwise(F.col("sync_fields"))
        .alias("sync_fields"),
    )


def _is_kcc_group(g: F.Column | None = None) -> F.Column:
    """The reference's isKCC test (krmsyncer_controller.go:108-110):
    any group with the dotted suffix (which subsumes the literal glob
    `*.cnrm.cloud.google.com` — it ends with the suffix too), or the
    bare apex group. ONE implementation (review r9): validation and
    event matching previously carried separate copies of this
    predicate, so a future tightening applied to one would silently
    diverge the two. `g` defaults to the rule_group column; pass a
    dataframe-qualified column when building a join condition."""
    g = F.col("rule_group") if g is None else g
    return g.endswith(KCC_SUFFIX) | (g == KCC_SUFFIX[1:])


def validate_rules(rules: DataFrame) -> DataFrame:
    """P8: accept/reject each rule with a reason column — the exact
    validateRule semantics (krmsyncer_controller.go:105-116): a '*'
    ANYWHERE in group/version/kind makes the rule a glob rule, and a
    glob rule is legal only when the group is KCC-family AND version
    and kind are both exactly '*'."""
    has_glob = (
        F.col("rule_group").contains("*")
        | F.col("rule_version").contains("*")
        | F.col("rule_kind").contains("*")
    )
    legal_glob = (
        _is_kcc_group() & (F.col("rule_version") == "*") & (F.col("rule_kind") == "*")
    )
    bad_fields = F.exists(
        "sync_fields", lambda x: ~x.isin(*[F.lit(v) for v in VALID_SYNC_FIELDS])
    )
    reason = (
        F.when(bad_fields, "invalid sync_fields entry")
        .when(has_glob & ~legal_glob, INVALID_GLOB_MSG)
        .otherwise(F.lit(None).cast("string"))
    )
    return rules.withColumn("reject_reason", reason).withColumn(
        "valid", F.col("reject_reason").isNull()
    )


def active_rules(rules: DataFrame) -> DataFrame:
    """The one rule gate: the normalized rules that run. A syncer with
    ANY invalid or suspended rule runs none of them — the reference
    returns before starting watchers on suspend (krmsyncer_controller.go:
    83-93) and aborts the whole reconcile on a rule-expansion failure
    (:238-246), which syncer_status publishes as Suspended/InvalidRule.
    The poisoned syncers are a broadcast left-anti join on syncer_name;
    their names are not deduplicated, since the anti-join does not need
    it and a distinct costs one more Spark job. The result has the
    RULE_SCHEMA columns."""
    val = validate_rules(normalize_rules(rules))
    bad = val.filter(~F.col("valid") | F.col("suspend")).select("syncer_name")
    return val.join(F.broadcast(bad), "syncer_name", "left_anti").drop(
        "reject_reason", "valid"
    )


def rule_match_condition(
    obj: DataFrame, rules: DataFrame, check_namespace: bool = True
) -> F.Column:
    """The per-event match predicate — exact ruleMatchesGVK semantics
    (krmsyncer_controller.go:395-407):
      * KCC glob rule with the literal group `*.cnrm.cloud.google.com`
        → event group matched by the DOT-LESS suffix
        'cnrm.cloud.google.com' (the apex group itself matches);
      * other KCC glob rule (exact group, version/kind '*') → event
        group must equal the rule group literally;
      * non-glob rule → exact (group, version, kind) equality.
    Then the namespace in-list (:462-474)."""
    is_kcc_glob = (
        _is_kcc_group(rules["rule_group"])
        & (rules["rule_version"] == "*")
        & (rules["rule_kind"] == "*")
    )
    star_glob = rules["rule_group"] == "*" + KCC_SUFFIX
    exact = (
        (obj["group"] == rules["rule_group"])
        & (obj["version"] == rules["rule_version"])
        & (obj["kind"] == rules["rule_kind"])
    )
    gvk_match = (
        (is_kcc_glob & star_glob & obj["group"].endswith(KCC_SUFFIX[1:]))
        | (is_kcc_glob & ~star_glob & (obj["group"] == rules["rule_group"]))
        | (~is_kcc_glob & exact)
    )
    if not check_namespace:
        # GVK-only matching — discovery expansion (expandRule) applies
        # the rule to server-advertised GVKs, which carry no namespace
        # (krmsyncer_controller.go:200-233).
        return gvk_match
    ns_ok = (F.size(rules["namespaces"]) == 0) | F.array_contains(
        rules["namespaces"], obj["namespace"]
    )
    return gvk_match & ns_ok


def project_sync_fields(matched: DataFrame) -> DataFrame:
    """P1+P2: keep GVK/name/namespace/labels/annotations always; copy
    spec/status/spec.resourceID per the rule's sync_fields; strip
    resource_version/uid (normalization). spec.resourceID projection
    rebuilds a spec struct containing only resourceID
    (krmsyncer_controller.go:571-582)."""
    has = lambda f: F.array_contains("sync_fields", f)  # noqa: E731
    # Null literals take the INPUT's spec/status types, so the engine
    # works for any payload schema, not just the test fixture's.
    spec_type = matched.schema["spec"].dataType
    status_type = matched.schema["status"].dataType
    spec_fields = [f.name for f in spec_type.fields]
    rid_only = F.struct(
        *[
            (F.col(f"spec.{name}") if name == "resourceID" else F.lit(None).cast(
                dict(zip(spec_fields, [fl.dataType for fl in spec_type.fields]))[name]
            )).alias(name)
            for name in spec_fields
        ]
    )
    spec = (
        F.when(has("spec"), F.col("spec"))
        .when(
            has("spec.resourceID"),
            F.when(F.col("spec.resourceID").isNotNull(), rid_only),
        )
        .otherwise(F.lit(None).cast(spec_type))
    )
    status = F.when(has("status"), F.col("status")).otherwise(
        F.lit(None).cast(status_type)
    )
    return matched.select(
        "syncer_name",
        "mode",
        *ALWAYS_KEPT,
        spec.alias("spec"),
        status.alias("status"),
        "op",
        "seq",
    )


def compile_sync(oplog: DataFrame, rules: DataFrame) -> DataFrame:
    """Compile the rule table against an op-log (stream or batch) into
    the synced-change DataFrame: one output row per (event × matching
    active rule), projected and normalized. Works identically on a
    readStream op-log (the broadcast join and projection are
    stream-compatible); deletes pass through with null payload. Only
    `active_rules` run: a syncer with any invalid or suspended rule
    emits nothing, as its syncer_status condition reports."""
    active = active_rules(rules)
    matched = oplog.join(F.broadcast(active), rule_match_condition(oplog, active))
    return project_sync_fields(matched)


def syncer_status(
    rules: DataFrame, catalog: DataFrame, oplog: DataFrame
) -> DataFrame:
    """The Reconcile status write-back, as a table: one row per syncer
    with the condition the reference would set on the KRMSyncer CR —
    Suspended (suspend gate, krmsyncer_controller.go:83-93),
    InvalidRule/InvalidGlob (rule expansion failure aborts the whole
    reconcile, :238-246), else Active (:95-100) — plus the observable
    progress the controller derives: matched-GVK count (discovery
    expansion of valid rules against the server catalog, :200-233) and
    the last applied op-log seq for the syncer's scope.

    `catalog` is the discovery analog: (group, version, kind) rows the
    server advertises. `oplog` carries (group, version, kind, namespace,
    seq). Scale: per-syncer rollups are tiny keyed aggregates; the rule
    sides broadcast; the only data-sized input is the op-log, reduced
    map-side to MAX(seq) per syncer.
    """
    val = validate_rules(normalize_rules(rules))
    per = val.groupBy("syncer_name").agg(
        F.max(F.col("suspend").cast("int")).alias("suspended"),
        F.count(F.lit(1)).cast("bigint").alias("n_rules"),
        F.sum((~F.col("valid")).cast("int")).cast("bigint").alias("n_invalid"),
        F.min(F.when(~F.col("valid"), F.col("reject_reason"))).alias("first_reject"),
    )
    # matched GVKs and seqs come from the same gate compile_sync runs
    active = active_rules(rules)
    gvks = (
        catalog.join(
            F.broadcast(active), rule_match_condition(catalog, active, check_namespace=False)
        )
        .groupBy("syncer_name")
        .agg(F.count_distinct("group", "version", "kind").alias("matched_gvks"))
    )
    seqs = (
        oplog.join(F.broadcast(active), rule_match_condition(oplog, active))
        .groupBy("syncer_name")
        .agg(F.max("seq").alias("last_sync_seq"))
    )
    cond = (
        F.when(F.col("suspended") == 1, F.lit("Suspended"))
        .when(F.col("n_invalid") > 0, F.lit("InvalidRule"))
        .otherwise(F.lit("Active"))
    )
    reason = (
        F.when(F.col("suspended") == 1, F.lit("SuspendedBySpec"))
        .when(F.col("n_invalid") > 0, F.lit("InvalidGlob"))
        .otherwise(F.lit("Active"))
    )
    message = (
        F.when(F.col("suspended") == 1, F.lit("Controller is suspended"))
        .when(F.col("n_invalid") > 0, F.col("first_reject"))
        .otherwise(F.lit("Controller is active"))
    )
    return (
        per.join(gvks, "syncer_name", "left")
        .join(seqs, "syncer_name", "left")
        .select(
            "syncer_name",
            cond.alias("condition"),
            reason.alias("reason"),
            message.alias("message"),
            "n_rules",
            "n_invalid",
            F.coalesce("matched_gvks", F.lit(0)).cast("bigint").alias("matched_gvks"),
            F.coalesce("last_sync_seq", F.lit(-1)).cast("bigint").alias("last_sync_seq"),
        )
    )


class DestinationRegistry:
    """The remote-cluster client cache, Spark-shaped: destinations are
    keyed on (namespace, secret_name) and built lazily exactly once —
    mirroring getOrCreateRemoteCluster's keyed cache
    (krmsyncer_controller.go:327-375: key = "<ns>/<secret>", hit returns
    the cached cluster; miss resolves the credential, builds the client,
    caches it). Here a "destination" is whatever the factory returns
    (StateTable, writer, catalog handle); credential resolution is the
    `resolve_credential` hook — the seam where a real deployment reads
    its kubeconfig/connection secret. Failures are NOT cached (the
    reference returns the error and retries next reconcile)."""

    def __init__(self, factory, resolve_credential=None):
        self._factory = factory
        self._resolve = resolve_credential or (lambda ns, name: {"namespace": ns, "secret": name})
        self._cache: dict[str, object] = {}

    def get_or_create(self, namespace: str, secret_name: str):
        key = f"{namespace}/{secret_name}"
        if key in self._cache:
            return self._cache[key]
        cred = self._resolve(namespace, secret_name)
        if cred is None:
            raise KeyError(f"secret {key} does not contain a credential")
        dest = self._factory(cred)
        self._cache[key] = dest
        return dest

    def __len__(self) -> int:
        return len(self._cache)


def syncer_routes(rules: DataFrame) -> dict[str, tuple[str, str, str | None]]:
    """Routing metadata per syncer, from the syncer CR analog:
    name -> (mode, syncer_namespace, remote_secret). Mode defaults to
    pull (types.go:77); the secret ref lives on the CR's
    spec.remote.clusterConfig.kubeConfigSecretRef and the Secret must
    sit in the CR's own namespace (getRemoteClient,
    krmsyncer_controller.go:540-545). Driver-side collect is correct
    here: the rule table is the tiny config relation the reference
    re-Lists on every event."""
    cols = rules.columns
    ns = (
        F.coalesce(F.col("syncer_namespace"), F.lit("default"))
        if "syncer_namespace" in cols
        else F.lit("default")
    )
    secret = (
        F.col("remote_secret") if "remote_secret" in cols
        else F.lit(None).cast("string")
    )
    return {
        r["syncer_name"]: (r["m"], r["ns"], r["sec"])
        for r in rules.select(
            "syncer_name", _mode_or_pull().alias("m"), ns.alias("ns"), secret.alias("sec")
        )
        .distinct()
        .collect()
    }


def sync_to_destinations(
    changes: DataFrame,
    rules: DataFrame,
    local_dest,
    registry: "DestinationRegistry",
) -> tuple[dict[str, object], dict[str, str]]:
    """Mode-aware write fan-out — the reference's destination selection
    (krmsyncer_controller.go:477-487): push-mode changes MERGE into the
    REMOTE destination built from the syncer's kubeconfig Secret
    (getRemoteClient, :534-559, cached per (namespace, secret) by
    `registry`); pull-mode changes MERGE into the LOCAL destination
    (`local_dest`, the local cluster — shared by every pull syncer).
    A push syncer with no secret ref, or whose secret can't resolve,
    is skipped and reported — the reference logs the error and
    continues with the next rule (:479-484, 535-537).

    Returns (written, skipped): destination per synced syncer_name, and
    skip reason per unroutable one. Each destination takes ONE merge
    of all its syncers' changes (pull syncers share the local one, and
    a merge rewrites the destination's state). The compiled changes
    are persisted for the duration of the fan-out so the broadcast
    join + projection compute once, not once per destination."""
    routes = syncer_routes(rules)
    changes = changes.persist()
    try:
        written: dict[str, object] = {}
        skipped: dict[str, str] = {}
        by_dest: dict[int, tuple[object, list[str]]] = {}
        for row in changes.select("syncer_name").distinct().collect():
            name = row["syncer_name"]
            mode, ns, secret = routes[name]
            if mode == "push":
                if secret is None:
                    # getRemoteClient: "KubeConfigSecretRef not specified"
                    skipped[name] = "KubeConfigSecretRef not specified"
                    continue
                try:
                    dest = registry.get_or_create(ns, secret)
                except (KeyError, ValueError) as ex:
                    # "Failed to get remote client" -> continue (:479-484);
                    # ValueError = a present-but-malformed kubeconfig
                    # Secret (streaming/kubeconfig.py) — same skip path
                    skipped[name] = str(ex)
                    continue
            else:
                dest = local_dest
            by_dest.setdefault(id(dest), (dest, []))[1].append(name)
            written[name] = dest
        for dest, names in by_dest.values():
            # a manager-aware destination (StateTable(manager_col=
            # "syncer_name") — the managedFields analog, r12) consumes
            # the syncer identity as the field MANAGER instead of
            # having it dropped: the reference's field manager for an
            # SSA apply IS the applying controller
            # (krmsyncer_controller.go:586-599 applies as the syncer)
            keep_mgr = getattr(dest, "manager_col", None)
            drops = [c for c in ("syncer_name", "mode") if c != keep_mgr]
            dest.merge_batch(
                changes.filter(F.col("syncer_name").isin(names)).drop(*drops)
            )
        return written, skipped
    finally:
        changes.unpersist()


def sync_to_state(
    changes: DataFrame,
    make_state,
) -> dict[str, "object"]:
    """Batch driver: route compiled changes into one StateTable per
    (syncer_name) destination via idempotent MERGE — the two-cluster
    write fan-out. `make_state(syncer_name) -> StateTable`. Returns the
    state tables written. (The streaming driver wraps compile_sync +
    this routing inside foreachBatch — see tests/test_sync.py.)

    This is the mode-BLIND harness used by the projection golden tests
    (one isolated destination per syncer). Production routing is
    `sync_to_destinations`, which implements the reference's
    push-remote / pull-local destination selection.

    The compiled changes are persisted for the duration of the fan-out:
    without it, the broadcast join + projection would recompute once
    per destination (plus once for the name-discovery collect)."""
    changes = changes.persist()
    try:
        states: dict[str, object] = {}
        for row in changes.select("syncer_name").distinct().collect():
            name = row["syncer_name"]
            st = make_state(name)
            st.merge_batch(
                changes.filter(F.col("syncer_name") == name).drop("syncer_name", "mode")
            )
            states[name] = st
        return states
    finally:
        changes.unpersist()
