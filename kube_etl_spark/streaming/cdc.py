"""CDC: upsert/delete op-log application (ST6/ST7) and an idempotent
streaming MERGE sink.

Reference provenance: the KRMSyncer is exactly this pipeline — watch
events are upserts (server-side apply, idempotent,
/root/reference/syncer/controllers/krmsyncer_controller.go:586-599) or
retractions (source NotFound → destination Delete, :417-423, 489-504).
Last-writer-wins per key; at-least-once delivery made exactly-once in
*effect* by idempotent application.

Spark design:
  * `latest_op` is the pure DataFrame compaction — the batch
    semantics of MERGE, shared by the registry queries (ST6/ST7) and
    the streaming sink.
  * `StateTable` is a parquet-backed upsert target whose `merge_batch`
    is idempotent on (key, seq): replaying a micro-batch (at-least-once
    delivery after a failure) converges to the same state because the
    winner per key is decided by seq, not arrival. Commit is an atomic
    pointer swap (write a new version dir → rename a symlink), the same
    trick as a transactional table format in miniature; on a real
    deployment this is `MERGE INTO` on Delta/Iceberg — the calling
    convention (foreachBatch(state.merge_batch)) is identical.

Scale notes: the compaction is one hash shuffle of (old ∪ batch) on the
key. A flat table's old side is the whole state; a bucketed one
(``n_buckets``) reads and rewrites only the buckets the batch maps to,
all in one write job. Every published version dir records the schema of
its rows (``_schema.json``), so opening the state reads with it instead
of running a Parquet schema-inference job.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType


def atomic_write_json(path: str, obj: dict) -> None:
    """Publish a small JSON artifact with the tmp-file + rename
    discipline (atomic on POSIX; readers never see a torn file). The
    one shared copy of the pattern — health.json, the writer lease,
    and any future control-plane artifact publish through here so the
    discipline can't drift between copies."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.rename(tmp, path)


_INTERNAL_FIELD_PREFIXES = ("__seq_", "__mgr_", "__own_", "__cf_")


def _internal_state_cols(columns: list[str]) -> list[str]:
    """The MERGE-internal columns of a persisted state frame: ``__op``,
    the ownership merge's per-key delete-epoch marker ``__epoch``,
    plus the per-field merge artifacts (``__seq_<field>`` assertion
    seqs; under manager-aware ownership also ``__mgr_<field>`` owner,
    ``__own_<field>`` ownership-established seq, ``__cf_<field>``
    cumulative conflict counter) — recognized by their payload twin
    being present, exactly what the merge writers emit (they only emit
    ``__seq_<f>`` etc. alongside ``<f>`` itself). A blanket
    ``__``-prefix drop silently lost pre-existing payload columns that
    legitimately start with ``__`` (ADVICE r11)."""
    return [
        c
        for c in columns
        if c in ("__op", "__epoch")
        or any(
            c.startswith(p) and c[len(p):] in columns
            for p in _INTERNAL_FIELD_PREFIXES
        )
    ]


def latest_op(oplog: DataFrame, key_cols: list[str], seq_cols: list[str]) -> DataFrame:
    """Last op per key, ordered by seq_cols (all descending)."""
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in seq_cols])
    return (
        oplog.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def field_merge_winners(
    tagged: DataFrame,
    key_cols: list[str],
    seq_col: str,
    field_merge: list[str],
    op_col: str = "op",
    delete_value: str = "delete",
) -> DataFrame:
    """Per-field LWW, the SSA-apply analog for contended keys
    (krmsyncer_controller.go:586-624 patches spec and the status
    subresource as separate per-owner documents): the row-level
    winner (max seq, deletes win ties) contributes the base columns
    and liveness; each ``field_merge`` column independently keeps
    its latest ASSERTION — a non-null value, or a delete, which
    asserts every field to null, so deletes still dominate and
    nothing resurrects. A writer that never projects a field (its
    projection leaves it NULL, sync.project_sync_fields) therefore
    cannot null out another writer's field; asserting an EXPLICIT
    null is not expressible, the same boundary the syncer's own
    omit-don't-null projection has.

    Per-field assertion seqs persist as hidden ``__seq_<field>``
    columns (stripped by read()), so out-of-order delivery across
    merges resolves by assertion time, not state-compaction time.
    One per-key aggregate on one key exchange with map-side partial
    combine — the same single-shuffle scale shape as the row-level
    latest_op path (physically a SortAggregate: max_by's struct
    buffer is ineligible for hash aggregation, so each merge pays
    two per-partition sorts — the bulk of the measured 1.68× over
    row LWW, architecture.md §r11b; shape pinned in
    tests/test_planshape.py). max_by skips null ordering values,
    which is what scopes each field's contest to its asserting
    rows. ``tagged`` must carry a ``__del`` int column (1 on delete
    rows) — StateTable.merge_batch calls through here for both
    layouts, so they cannot drift semantically."""
    seq = F.col(seq_col)
    is_del = F.col(op_col) == delete_value
    base_cols = [
        c
        for c in tagged.columns
        if c not in (*key_cols, *field_merge, "__del")
        and not c.startswith("__seq_")
    ]
    aggs = [
        F.max_by(
            F.struct(*base_cols), F.struct(seq, F.col("__del"))
        ).alias("__w")
    ]
    for f in field_merge:
        prev = (
            F.col(f"__seq_{f}")
            if f"__seq_{f}" in tagged.columns
            else F.lit(None).cast("long")
        )
        fseq = F.coalesce(
            prev, F.when(F.col(f).isNotNull() | is_del, seq)
        )
        aggs.append(
            F.max_by(
                F.struct(
                    F.when(~is_del, F.col(f)).alias("v"), fseq.alias("s")
                ),
                F.when(fseq.isNotNull(), F.struct(fseq, F.col("__del"))),
            ).alias(f"__fw_{f}")
        )
    won = tagged.groupBy(*key_cols).agg(*aggs)
    return won.select(
        *key_cols,
        *[F.col(f"__w.{c}").alias(c) for c in base_cols if c != op_col],
        *[F.col(f"__fw_{f}.v").alias(f) for f in field_merge],
        *[F.col(f"__fw_{f}.s").alias(f"__seq_{f}") for f in field_merge],
        F.when(F.col(f"__w.{op_col}") == delete_value, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("__op"),
    )


def owned_field_merge_winners(
    tagged: DataFrame,
    key_cols: list[str],
    seq_col: str,
    field_merge: list[str],
    manager_col: str,
    op_col: str = "op",
    delete_value: str = "delete",
    force: bool = False,
) -> DataFrame:
    """Manager-aware per-field merge — the managedFields OWNERSHIP
    analog (VERDICT r11 #3). Plain field_merge resolves a same-field
    contention silently by seq; real server-side apply tracks each
    field's owner by MANAGER and surfaces a conflict unless the writer
    passes ForceOwnership (krmsyncer_controller.go:586-599 sets exactly
    that option). Here:

      * a field's OWNER is the manager of its EARLIEST assertion in
        the current delete epoch (``__own_<f>`` persists that seq so
        incremental merges and full-history recomputes agree);
      * non-forced (``force=False``): the field's value is the OWNER's
        latest assertion; another manager's write is a CONFLICT —
        rejected, and counted in the persisted ``__cf_<f>`` audit
        column (the reference returns a 409 Conflict; a batch engine
        can't bounce a row back to its writer, so the rejection is
        recorded instead);
      * forced (``force=True``): latest assertion wins regardless of
        manager — ownership TRANSFERS to the taker (``__own_<f>``
        restarts at the taking seq) and each takeover increments
        ``__cf_<f>``;
      * a delete asserts every field to null AND resets ownership —
        the next asserter after the delete owns the field, mirroring
        object deletion clearing managedFields. The key's delete
        epoch persists as a hidden ``__epoch`` column on LIVE rows
        too: without it, an at-least-once REDELIVERY of pre-delete
        assertions after the key went live again would pass the
        epoch filter, flip ownership back to a pre-delete asserter,
        and resurrect its value (caught by the replay leg of the 1M-row
        ownership scale-truth, docs/architecture.md §"Manager-aware
        field ownership"; its reproducer is at commit df131c6).

    Delivery contract: chunks must respect PER-KEY seq order for ALL
    ops — a watch delivers each key's events in order, and relist
    deltas only append above everything landed. Redelivering
    already-merged batches (including arbitrarily late low-seq ones)
    is a no-op on values and ownership. The contract is required, not
    just convenient, because compaction keeps only each field OWNER's
    latest assertion: a non-owner's newer assertion is discarded at
    merge time, so a lower-seq FIRST delivery arriving later could
    flip ownership to a manager whose discarded newer assertion can no
    longer be recovered (the round-12 property-test counterexample),
    and the same argument covers assertions ABOVE a delete merging
    before the delete itself. Under ordered delivery, neither
    situation can arise: every new batch row of a key outranks
    everything compacted for that key, so ownership decisions are
    final when made with the full batch in hand.

    Honest semantic delta from true SSA: the reference resolves
    conflicts at APPLY time (arrival order); a distributed batch merge
    must be replay-idempotent, so ownership is decided by the earliest
    ASSERTION SEQ instead — identical under the ordered per-key
    delivery contracted above, deterministic under redelivery/replay,
    and the same seq-not-arrival substitution the whole CDC layer
    already makes.

    Scale shape: ONE hash exchange on the key carrying three window
    passes (delete epoch → per-field owner → per-field winner/conflict
    count; all share the exchange and its sort) and the final per-key
    SortAggregate. Nothing data-sized leaves the key partitioning.
    ``tagged`` must carry ``__del`` (like field_merge_winners) and the
    manager column; state rows contribute their persisted
    ``__seq_/__mgr_/__own_/__cf_`` columns (absent ⇒ null)."""
    seq = F.col(seq_col)
    is_del = F.col(op_col) == delete_value
    internal = {
        f"{p}{f}" for p in _INTERNAL_FIELD_PREFIXES for f in field_merge
    } | {"__epoch"}
    base_cols = [
        c
        for c in tagged.columns
        if c not in (*key_cols, *field_merge, "__del", manager_col)
        and c not in internal
    ]
    wk = Window.partitionBy(*key_cols)

    def col_or_null(name: str, typ: str) -> F.Column:
        return (
            F.col(name) if name in tagged.columns else F.lit(None).cast(typ)
        )

    # stage 0: the key's delete epoch — max over the batch's delete
    # seqs AND the epoch persisted on state rows (live rows carry it
    # too; see docstring), then per-row assertion material per field
    if "__epoch" in tagged.columns:
        work0 = tagged.withColumnRenamed("__epoch", "__prev_epoch")
        prev_epoch = F.col("__prev_epoch")
    else:
        work0 = tagged
        prev_epoch = F.lit(None).cast("long")
    cur = work0.withColumn(
        "__epoch",
        F.max(F.greatest(F.when(is_del, seq), prev_epoch)).over(wk),
    )
    post_epoch = lambda s: F.col("__epoch").isNull() | (s > F.col("__epoch"))  # noqa: E731
    for f in field_merge:
        fseq = F.coalesce(col_or_null(f"__seq_{f}", "long"), seq)
        cur = (
            cur.withColumn(f"__as_{f}", fseq)
            .withColumn(
                f"__am_{f}",
                F.coalesce(col_or_null(f"__mgr_{f}", "string"), F.col(manager_col)),
            )
            .withColumn(
                f"__ao_{f}", F.coalesce(col_or_null(f"__own_{f}", "long"), seq)
            )
            .withColumn(
                f"__valid_{f}",
                # a NULL-manager assertion cannot contest a field: it
                # would win the struct-min owner contest with a null
                # manager that nothing can then match, silently nulling
                # the field for everyone. SSA requires a field manager
                # (the reference always applies AS some controller), so
                # manager-less rows carry row-level liveness/base
                # columns only — pinned in test_sync.py
                F.col(f).isNotNull()
                & ~is_del
                & post_epoch(fseq)
                & F.col(f"__am_{f}").isNotNull(),
            )
        )
    # stage 1: the owner of each field (epoch-scoped earliest assertion;
    # forced mode takes the LATEST assertion's manager instead).
    # Same-seq assertions by DIFFERENT managers (two symmetric syncers
    # relaying one source event) tie-break deterministically by manager
    # name: non-forced ownership to the lexicographically FIRST (struct
    # min), forced takeover to the lexicographically LAST (the ordering
    # struct carries the manager) — the reference's equivalent is
    # arrival order, which a commutative batch merge cannot use.
    for f in field_merge:
        own_struct = F.struct(F.col(f"__ao_{f}"), F.col(f"__am_{f}"))
        owner = (
            F.max_by(
                own_struct,
                F.when(
                    F.col(f"__valid_{f}"),
                    F.struct(F.col(f"__as_{f}"), F.col(f"__am_{f}")),
                ),
            )
            if force
            else F.min(F.when(F.col(f"__valid_{f}"), own_struct))
        )
        cur = cur.withColumn(f"__owner_{f}", owner.over(wk))
    # stage 2: winner by the owner + the conflict audit counter
    for f in field_merge:
        owner_m = F.col(f"__owner_{f}")[f"__am_{f}"]
        mine = F.col(f"__valid_{f}") & (F.col(f"__am_{f}") == owner_m)
        win = F.max_by(
            F.struct(F.col(f).alias("v"), F.col(f"__as_{f}").alias("s")),
            F.when(mine, F.col(f"__as_{f}")),
        ).over(wk)
        prev_cf = col_or_null(f"__cf_{f}", "long")
        if force:
            # takeover: the final owner differs from the persisted one
            prev_mgr = F.max(col_or_null(f"__mgr_{f}", "string")).over(wk)
            took = (
                prev_mgr.isNotNull()
                & owner_m.isNotNull()
                & (owner_m != prev_mgr)
            )
            contrib = F.coalesce(prev_cf, F.lit(0))
            cf = F.sum(contrib).over(wk) + F.when(took, F.lit(1)).otherwise(
                F.lit(0)
            )
            # ownership-established seq: kept across the owner's own
            # re-assertions, restarted at a takeover
            own_seq = F.when(took, win["s"]).otherwise(
                F.col(f"__owner_{f}")[f"__ao_{f}"]
            )
        else:
            # rejected BATCH assertions only (state rows carry
            # __mgr_<f> and are never re-counted)
            rejected = (
                F.col(f"__valid_{f}")
                & (F.col(f"__am_{f}") != owner_m)
                & col_or_null(f"__mgr_{f}", "string").isNull()
            )
            contrib = F.coalesce(
                prev_cf, F.when(rejected, F.lit(1)).otherwise(F.lit(0))
            )
            cf = F.sum(contrib).over(wk)
            own_seq = F.col(f"__owner_{f}")[f"__ao_{f}"]
        cur = (
            cur.withColumn(f"__fw_{f}", win)
            .withColumn(f"__fcf_{f}", cf)
            .withColumn(f"__fown_{f}", own_seq)
        )
    # stage 3: collapse to one row per key (window values are constant
    # within a key, so max() just reads them; the row-level winner for
    # the base columns is the same (seq, deletes-win-ties) contest as
    # the unmanaged paths)
    aggs = [
        F.max_by(F.struct(*base_cols), F.struct(seq, F.col("__del"))).alias("__w"),
        F.max(F.col("__epoch")).alias("__epoch"),  # persisted on live rows
    ]
    for f in field_merge:
        aggs.extend(
            [
                F.max(F.col(f"__fw_{f}")).alias(f"__fw_{f}"),
                F.max(F.col(f"__owner_{f}")[f"__am_{f}"]).alias(f"__m_{f}"),
                F.max(F.col(f"__fown_{f}")).alias(f"__o_{f}"),
                F.max(F.col(f"__fcf_{f}")).alias(f"__c_{f}"),
            ]
        )
    won = cur.groupBy(*key_cols).agg(*aggs)
    out_fields: list[F.Column] = []
    for f in field_merge:
        has = F.col(f"__fw_{f}").isNotNull()
        out_fields.extend(
            [
                F.col(f"__fw_{f}.v").alias(f),
                F.when(has, F.col(f"__fw_{f}.s")).alias(f"__seq_{f}"),
                F.when(has, F.col(f"__m_{f}")).alias(f"__mgr_{f}"),
                F.when(has, F.col(f"__o_{f}")).alias(f"__own_{f}"),
                F.coalesce(F.col(f"__c_{f}"), F.lit(0)).alias(f"__cf_{f}"),
            ]
        )
    return won.select(
        *key_cols,
        *[F.col(f"__w.{c}").alias(c) for c in base_cols if c != op_col],
        *out_fields,
        F.col("__epoch"),
        F.when(F.col(f"__w.{op_col}") == delete_value, F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("__op"),
    )


# Beside the Parquet files of every published version dir: the schema
# of its rows. Spark's file listing skips ``_``-prefixed names, so
# readers that do not know the file never see it.
SCHEMA_FILE = "_schema.json"


def _nullable(t: DataType) -> DataType:
    """``t`` with every field, array element and map value nullable —
    the schema Spark's Parquet inference reports for the same files."""
    if isinstance(t, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in t.fields]
        )
    if isinstance(t, ArrayType):
        return ArrayType(_nullable(t.elementType), True)
    if isinstance(t, MapType):
        return MapType(_nullable(t.keyType), _nullable(t.valueType), True)
    return t


def write_schema(version: str, schema: StructType) -> None:
    """Record the all-nullable ``schema`` of the rows in ``version``.
    Called after the version's files are complete and before its
    pointer swap. Nullable because a later merge may hold a null
    (a tombstone, a column the batch lacks) where this batch declared
    none, and the schema must describe every version a read unions."""
    atomic_write_json(os.path.join(version, SCHEMA_FILE), _nullable(schema).jsonValue())


def read_state_dirs(spark: SparkSession, dirs: list[str]) -> DataFrame:
    """Read version dirs with their recorded schema when every dir has
    one and all agree; otherwise (dirs written before the schema was
    recorded, or buckets whose schemas differ) infer it from the files
    as Spark does, which costs one job."""
    stored = []
    for d in dirs:
        try:
            with open(os.path.join(d, SCHEMA_FILE)) as f:
                stored.append(json.load(f))
        except FileNotFoundError:
            break
    if len(stored) == len(dirs) and all(s == stored[0] for s in stored):
        return spark.read.schema(StructType.fromJson(stored[0])).parquet(*dirs)
    return spark.read.parquet(*dirs)


def _layout_on_disk(path: str) -> bool | None:
    """The layout already at ``path``: False for the flat symlink
    publish, True for a bucketed directory (``bucket-*`` pointers or
    its ``_layout.json``), None when neither exists yet."""
    if os.path.islink(path):
        return False
    if os.path.isdir(path) and any(
        d.startswith("bucket-") or d == StateTable._SIDECAR
        for d in os.listdir(path)
    ):
        return True
    return None


class StateTable:
    """Parquet-backed keyed state with idempotent MERGE (the destination
    cluster analog). Not concurrency-safe across writers — one streaming
    query owns a state table, matching the reference's one-controller-
    per-destination model (ST8's registry enforces that).

    Two on-disk layouts, chosen by ``n_buckets``:

      * flat (None): ``path`` is a symlink to the current version dir;
        every merge rewrites the whole table;
      * bucketed (N): ``path`` is a directory of ``bucket-NNNNNN``
        symlinks, one per value of ``bucket_col`` (default: a hash of
        the key columns mod N; any bigint expression over the row
        works). A merge reads and rewrites ONLY the buckets the batch
        maps to, and ``read(buckets=…)`` / ``buckets_for`` prune a
        probe to the buckets its keys map to. Hash buckets balance
        load but give a UNIFORM batch no locality (it touches every
        bucket); RANGE buckets (e.g. floor(key / width)) turn the
        recent-keys CDC trickle into a one-bucket rewrite. Choose by
        the feed's key distribution.

    A bucketed merge is a transactional table format's partition-level
    MERGE commit in miniature: the winners of every touched bucket are
    written by ONE job, then each bucket publishes by a metadata-only
    move and its own pointer swap, so its Spark job count does not
    grow with the buckets it touches (measured in docs/architecture.md
    §"The bucketed-layout family").

    Crash contract: a crash or a lost lease mid-publish leaves SOME
    touched buckets on the new version and the rest on the old — each
    individually consistent, untouched buckets on their exact previous
    version dir — and replaying the batch converges every bucket
    (seq-decided winners, per bucket)."""

    _SIDECAR_SUFFIX = "._spec.json"  # flat: beside the symlink
    _SIDECAR = "_layout.json"  # bucketed: inside the table directory

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        seq_col: str | list[str],
        *,
        lease=None,
        field_merge: list[str] | None = None,
        manager_col: str | None = None,
        force_ownership: bool = False,
        n_buckets: int | None = None,
        bucket_col: F.Column | None = None,
        _purge_only: bool = False,
    ):
        if bucket_col is not None and n_buckets is None:
            raise ValueError("bucket_col requires n_buckets")
        self.spark = spark
        self.path = path
        self.key_cols = key_cols
        # one or more ordering columns; ties on the first break on the
        # next, so winners are deterministic when callers provide a
        # full ordering (see rollup.py for why that matters)
        self.seq_cols = [seq_col] if isinstance(seq_col, str) else list(seq_col)
        # optional WriterLease (streaming/lease.py): when set, merges
        # re-validate ownership immediately before publishing, so a
        # fenced-off stale writer raises LeaseLost instead of
        # clobbering state
        self.lease = lease
        # OPT-IN per-field merge (VERDICT r10 missing #3, the SSA
        # analog for contended keys): each named payload column keeps
        # its own latest ASSERTION, so two syncers projecting disjoint
        # sync_fields onto one key converge instead of nulling each
        # other's field (krmsyncer_controller.go:586-624); see
        # field_merge_winners. manager_col adds per-field OWNERSHIP
        # (VERDICT r11 #3, see owned_field_merge_winners). Both are
        # merge SPEC (sidecar-guarded); force_ownership is an
        # APPLY-TIME option, toggleable per opener like the reference's
        # per-apply ForceOwnership.
        self.field_merge = list(field_merge or [])
        if self.field_merge and len(self.seq_cols) != 1:
            raise ValueError("field_merge requires a single seq column")
        self.manager_col = manager_col
        self.force_ownership = bool(force_ownership)
        if manager_col and not self.field_merge:
            raise ValueError("manager_col requires field_merge columns")
        self._purge_only = _purge_only
        on_disk = _layout_on_disk(path)
        if _purge_only:
            # key- and spec-blind handle (open_read / open_for_purge):
            # the layout comes from disk
            self.bucketed, self.n_buckets, self._bucket_expr = bool(on_disk), None, None
            return
        self.bucketed = n_buckets is not None
        self.n_buckets = n_buckets
        self._bucket_expr = (
            None
            if not self.bucketed
            else bucket_col
            if bucket_col is not None
            else F.pmod(F.xxhash64(*key_cols), F.lit(n_buckets))
        )
        # opening one layout as the other would shadow the existing
        # state (bucket dirs written INSIDE the flat table's version
        # dir read as an empty index; a flat publish would migrate the
        # bucket directory into a version dir). Layout migration is an
        # explicit rebuild, not an open flag.
        if on_disk is not None and on_disk != self.bucketed:
            kinds = ("flat", "bucketed")
            raise ValueError(
                f"{path} holds a {kinds[on_disk]} StateTable layout; opening "
                f"it as {kinds[self.bucketed]} would shadow the existing "
                "state — rebuild into a new directory instead"
            )
        if self.bucketed:
            os.makedirs(path, exist_ok=True)
        self._check_spec_sidecar()

    def _check_spec_sidecar(self) -> None:
        """Persist the state's spec on first open and refuse a
        mismatched reopen:

          * merge mode, both layouts (ADVICE r11): a row-LWW opener
            compacts away the ``__seq_<field>`` history a field-merge
            opener depends on (likewise manager_col's audit trail);
          * bucket spec, bucketed only (ADVICE r8): n_buckets, key_cols
            and the bucket expression's canonical string — routing
            under a drifted spec (say, --buckets edited against an
            existing PVC) silently probes/merges the wrong bucket dirs.

        Flat: ``<path>._spec.json`` BESIDE the symlink (it survives
        version swaps); bucketed: ``<path>/_layout.json``. Missing keys
        (older sidecars) ≡ off; a sidecar-less state is stamped with
        the opener's spec (a one-time grandfather). Read-only handles
        never compact or route, so they skip the guard."""
        spec: dict = {"version": 1}
        if self.bucketed:
            side = os.path.join(self.path, self._SIDECAR)
            spec.update(
                n_buckets=int(self.n_buckets),
                key_cols=list(self.key_cols),
                bucket_expr=str(self._bucket_expr),
            )
        else:
            side = f"{self.path}{self._SIDECAR_SUFFIX}"
            os.makedirs(os.path.dirname(side) or ".", exist_ok=True)
        spec.update(field_merge=list(self.field_merge), manager_col=self.manager_col)
        if not os.path.exists(side):
            atomic_write_json(side, spec)
            return
        with open(side) as f:
            stored = json.load(f)
        drift = {
            k: (stored.get(k), v)
            for k, v in spec.items()
            if k != "version" and (stored.get(k) or None) != (v or None)
        }
        if drift:
            what, why, knob = (
                ("laid out under a different bucket spec",
                 "pruned reads and merges would route to the wrong bucket dirs",
                 "spec")
                if self.bucketed
                else ("last merged under a different merge spec",
                      "a mismatched merge compacts away or fabricates "
                      "per-field assertion/ownership history",
                      "merge mode")
            )
            raise ValueError(
                f"{self.path} was {what} — refusing to open ({why}). Drift "
                f"(stored, requested): {drift}. Rebuild into a new directory "
                f"to change the {knob}."
            )

    @classmethod
    def open_read(cls, spark: SparkSession, path: str):
        """Merge-mode-blind READ handle for pure readers
        (relist_delta_rows' believed-live scan, audits): ``read()`` is
        identical under every merge mode, and the sidecar guard exists
        to stop mismatched COMPACTION, not reads. The layout is read
        from disk; an empty path reads as an empty flat table."""
        return cls(spark, path, ["__read_only__"], "seq", _purge_only=True)

    @classmethod
    def open_for_purge(
        cls,
        spark: SparkSession,
        path: str,
        seq_col: str | list[str] = "seq",
        lease=None,
    ):
        """Key- and spec-blind maintenance handle (ADVICE r8). The
        layout is detected from disk — a symlink at ``path`` is flat, a
        directory of ``bucket-*`` pointers bucketed, a missing path an
        empty flat table, anything else raises. Only
        ``purge_tombstones`` and a full ``read()`` work (both
        dir-driven); merges and routing raise rather than run under
        placeholder keys. Pass the state's WriterLease when the owning
        job may be live: the purge rewrite is a publish like any other,
        and an unfenced one races the owner's merges (review r9)."""
        if os.path.exists(path) and _layout_on_disk(path) is None:
            raise ValueError(
                f"{path} is neither a flat StateTable symlink nor a "
                "bucketed state directory"
            )
        return cls(spark, path, ["__purge_only__"], seq_col, lease=lease,
                   _purge_only=True)

    def _assert_routable(self, op: str, bucketed: bool = True) -> None:
        if self._purge_only:
            raise RuntimeError(
                f"{op} is unavailable on a purge-only StateTable "
                "(open_for_purge / open_read): its keys and bucket spec are "
                "placeholders, so a merge would compact to wrong winners "
                "and value-derived routing would hit wrong buckets"
            )
        if bucketed and not self.bucketed:
            raise ValueError(f"{op} needs a bucketed StateTable (n_buckets)")

    def _fence(self):
        """The publish-time lease check (None without a lease)."""
        return None if self.lease is None else self.lease.assert_held

    def _bucket_col(self) -> F.Column:
        return self._bucket_expr.cast("bigint")

    def _bucket_path(self, b: int) -> str:
        return os.path.join(self.path, f"bucket-{b:06d}")

    def _live_paths(self, buckets: list[int] | None = None) -> list[str]:
        """The published dirs a read covers: the flat table, or the
        live bucket pointers — all, or the named ``buckets`` (ids with
        no live bucket are skipped). Bucket version dirs share the
        ``bucket-`` prefix; the live buckets are the symlinks."""
        if not self.bucketed:
            paths = [self.path]
        elif buckets is None:
            paths = [
                os.path.join(self.path, d)
                for d in sorted(os.listdir(self.path))
                if d.startswith("bucket-")
            ]
        else:
            paths = [self._bucket_path(int(b)) for b in sorted(set(buckets))]
        return [
            p
            for p in paths
            if (os.path.islink(p) or not self.bucketed)
            and os.path.exists(os.path.join(p, "_SUCCESS"))
        ]

    def _read_raw(self, buckets: list[int] | None = None) -> DataFrame | None:
        """Persisted state INCLUDING delete tombstones (internal). The
        live pointers are resolved once, so the recorded schema and the
        files read come from the same version dirs even if a publish
        swaps a pointer meanwhile."""
        paths = [os.path.realpath(p) for p in self._live_paths(buckets)]
        return read_state_dirs(self.spark, paths) if paths else None

    def read(self, buckets: list[int] | None = None) -> DataFrame | None:
        """Live rows only — delete tombstones and per-field merge seqs
        (``__seq_<field>``) are internal MERGE artifacts, never visible
        to consumers. States written by builds that pre-date tombstones
        lack the ``__op`` column and are all live rows.

        ``buckets`` (bucketed; VERDICT r7 #3, the executed point-lookup
        swap) prunes the read to the named bucket dirs: a probe that
        knows its keys' buckets (``buckets_for``) reads O(touched
        buckets · bucket size) instead of O(state) — the file-layout
        analog of a point-lookup store's keyed GET."""
        if buckets is not None:
            self._assert_routable("read(buckets=…)")
        raw = self._read_raw(buckets)
        if raw is None or "__op" not in raw.columns:
            return raw
        internal = _internal_state_cols(raw.columns)
        return raw.filter(F.col("__op") != "delete").drop(*internal)

    def buckets_for(self, df: DataFrame) -> list[int]:
        """Distinct storage buckets the frame's rows map to under this
        table's bucket expression — the probe side of the point-lookup
        swap. Driver-side collect is bounded by n_buckets (the same
        bound merge_batch's bucket-discovery collect relies on)."""
        self._assert_routable("buckets_for")
        return sorted(
            r["__b"]
            for r in df.withColumn("__b", self._bucket_col())
            .select("__b")
            .distinct()
            .collect()
        )

    def merge_batch(self, batch: DataFrame, op_col: str = "op", delete_value: str = "delete") -> None:
        """Idempotent MERGE: union old state with the batch, keep the
        max-seq row per key; keys whose winner is a delete persist as a
        TOMBSTONE row (hidden by `read()`) rather than vanishing —
        without it, a delete at seq D interleaved with at-least-once
        redelivery of an earlier uncommitted upsert (seq b < D) would
        re-insert the deleted key with no competing row, resurrecting
        e.g. GDPR-deleted content. Replaying the same batch is a no-op
        (same winners). A NULL op (schema-permissive sources omitting
        the field) is treated as an upsert — never silently dropped.
        An empty batch publishes nothing (review r9: replayed snapshots
        and quiet monitor batches hit this every cycle).

        Fencing runs INSIDE each publish, after the version write and
        immediately before the pointer rename (review r9): a check that
        only precedes the write leaves the whole write duration as a
        window where a fenced-off stale writer still publishes."""
        self._assert_routable("merge_batch", bucketed=False)
        if self.bucketed:
            self._merge_buckets(batch, op_col, delete_value)
        elif batch.head(1):
            self._atomic_overwrite(
                self._winners(self._read_raw(), batch, self.key_cols, op_col, delete_value)
            )

    def _merge_buckets(self, batch: DataFrame, op_col: str, delete_value: str) -> None:
        """The bucketed merge, one write job for every touched bucket:

          1. checkpoint the bucket-tagged batch once (the collect and
             the write then read it without re-running or re-planning
             its lineage) and collect its buckets — the emptiness probe;
          2. read only those buckets, tagging each old row with the
             bucket it was read from;
          3. compute winners once, partitioned by (bucket, key) — not
             the key alone: under a value-derived bucket (band_buckets)
             a key can hold an old row in bucket X while its new row
             routes to Y, and X must still get its tombstone;
          4. write every touched bucket in one job, partitionBy the
             bucket into a staging dir beside the buckets;
          5. move each staged bucket (metadata only) into a fresh
             version dir and ``publish`` it like the flat table.

        All reads of the batch and of the old buckets happen before the
        first pointer swap."""
        tagged = batch.withColumn("__b", self._bucket_col()).localCheckpoint(
            eager=True
        )
        touched = sorted(r["__b"] for r in tagged.select("__b").distinct().collect())
        if not touched:
            return
        old = self._read_raw(touched)
        if old is not None:
            old = old.withColumn(
                "__b",
                F.regexp_extract(
                    F.col("_metadata.file_path"), r"bucket-(-?\d+)[^/]*/[^/]+$", 1
                ).cast("bigint"),
            )
        staging = os.path.join(self.path, f"_staging-{uuid.uuid4().hex[:8]}")
        winners = self._winners(
            old, tagged, ["__b", *self.key_cols], op_col, delete_value
        )
        winners.write.partitionBy("__b").parquet(staging)
        # the partition column lives in the dir name, not in the files
        schema = StructType([f for f in winners.schema.fields if f.name != "__b"])
        versions = []
        for b in touched:
            version = f"{self._bucket_path(b)}.v-{uuid.uuid4().hex[:8]}"
            os.rename(os.path.join(staging, f"__b={b}"), version)
            write_schema(version, schema)
            open(os.path.join(version, "_SUCCESS"), "w").close()
            versions.append((version, self._bucket_path(b)))
        shutil.rmtree(staging, ignore_errors=True)  # only markers left
        # a writer fenced off mid-loop stops at the next bucket's
        # publish; its unpublished version dirs are garbage that
        # bucket's next publish sweeps
        for version, link in versions:
            publish(version, link, validate=self._fence())
        # a crashed merge's leftover staging dir is swept only now, after
        # this merge's publishes passed the lease check (publish's GC
        # order): before it, another ``_staging-*`` dir may be the new
        # owner's in-flight write
        for d in os.listdir(self.path):
            if d.startswith("_staging-"):
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)

    def _winners(
        self,
        old: DataFrame | None,
        batch: DataFrame,
        keys: list[str],
        op_col: str,
        delete_value: str,
    ) -> DataFrame:
        """One row per ``keys`` over (old state ∪ batch) — row-level
        LWW, or the per-field merge under field_merge / manager_col —
        with ``__op`` marking the delete winners kept as tombstones."""
        incoming = batch
        if old is not None:
            old_ops = (
                old.withColumnRenamed("__op", op_col)
                if "__op" in old.columns
                else old.withColumn(op_col, F.lit("upsert"))
            )
            incoming = old_ops.unionByName(batch, allowMissingColumns=True)
        # deletes WIN seq ties (one micro-batch both inserting and
        # GDPR-deleting a key): a lost delete is a silent compliance
        # failure, a lost same-seq upsert is recoverable by re-ingest
        tagged = incoming.withColumn(
            op_col, F.coalesce(F.col(op_col), F.lit("upsert"))
        ).withColumn("__del", (F.col(op_col) == delete_value).cast("int"))
        seq = self.seq_cols[0]
        if self.manager_col:
            return owned_field_merge_winners(
                tagged, keys, seq, self.field_merge, self.manager_col,
                op_col, delete_value, force=self.force_ownership,
            )
        if self.field_merge:
            return field_merge_winners(
                tagged, keys, seq, self.field_merge, op_col, delete_value
            )
        winners = latest_op(tagged, keys, [*self.seq_cols, "__del"]).drop("__del")
        return winners.withColumn(
            "__op",
            F.when(F.col(op_col) == delete_value, F.lit("delete")).otherwise(
                F.lit("upsert")
            ),
        ).drop(op_col)

    def ownership(self) -> DataFrame | None:
        """The per-field OWNERSHIP report (manager-aware states only):
        one row per (key, field) that currently has an owner — owner
        manager, the seq that established ownership, the owner's latest
        assertion seq, and the cumulative conflict counter (non-forced:
        rejected foreign assertions; forced: takeovers). The conflict
        counter is AT-LEAST-ONCE under crash-replay (a replayed batch
        re-counts its rejections) — audit-grade, matching the at-least-
        once delivery the merge itself absorbs idempotently."""
        if not self.manager_col:
            raise RuntimeError("ownership() requires manager_col")
        raw = self._read_raw()
        if raw is None:
            return None
        return reduce(DataFrame.unionByName, [
            raw.filter(F.col(f"__mgr_{f}").isNotNull()).select(
                *self.key_cols,
                F.lit(f).alias("field"),
                F.col(f"__mgr_{f}").alias("owner"),
                F.col(f"__own_{f}").alias("owned_since_seq"),
                F.col(f"__seq_{f}").alias("last_assert_seq"),
                F.coalesce(F.col(f"__cf_{f}"), F.lit(0)).alias("conflicts"),
            )
            for f in self.field_merge
        ])

    def purge_tombstones(self, before_seq: int) -> None:
        """Drop tombstones whose seq predates a caller-chosen horizon —
        the compaction valve for tombstone growth. Safe once the caller
        knows no replay can carry a seq under the horizon (e.g. the
        stream checkpoint has committed past it); purging earlier
        re-opens the resurrection window `merge_batch` closes. Only a
        published dir (the flat table, or a live bucket) that holds
        such tombstones is rewritten."""
        dead_old = (F.col("__op") == "delete") & (
            F.col(self.seq_cols[0]) < F.lit(int(before_seq))
        )
        for p in self._live_paths():
            raw = read_state_dirs(self.spark, [os.path.realpath(p)])
            if "__op" in raw.columns and raw.filter(dead_old).head(1):
                atomic_overwrite(raw.filter(~dead_old), p, validate=self._fence())

    def _atomic_overwrite(self, df: DataFrame) -> None:
        atomic_overwrite(df, self.path, validate=self._fence())


def atomic_overwrite(df: DataFrame, path: str, validate=None) -> None:
    """Version-dir + symlink pointer swap, write half: write ``df`` into
    a fresh version dir beside ``path``, then ``publish`` it. `path` is
    a symlink to the current version directory; publishing = os.rename
    of a new symlink over it, which POSIX guarantees atomic — a crash at
    any point leaves the pointer on a complete old or complete new
    version, never nothing. On object stores this role is played by a
    transactional table format's commit log."""
    # Migration: a table first written as a PLAIN directory (pre-
    # versioning build) becomes a version dir on its first publish — a
    # metadata-only rename, done BEFORE the write below lazily reads the
    # old table. The one exception to the never-nothing guarantee: a
    # crash between the rename and the symlink leaves `path` absent
    # with the data intact in an orphan version dir, which the adoption
    # branch self-heals on the next publish attempt.
    if os.path.isdir(path) and not os.path.islink(path):
        migrated = f"{path}.v-{uuid.uuid4().hex[:8]}"
        os.rename(path, migrated)
        os.symlink(os.path.basename(migrated), path)
    elif not os.path.exists(path):
        # adopt an orphaned version dir (crash mid-migration, above):
        # re-point the link at the newest complete version so the
        # caller's lazy read of `path` resolves again
        parent = os.path.dirname(path) or "."
        base = os.path.basename(path)
        orphans = (
            sorted(
                (
                    os.path.join(parent, d)
                    for d in os.listdir(parent)
                    if d.startswith(f"{base}.v-")
                    and os.path.exists(os.path.join(parent, d, "_SUCCESS"))
                ),
                key=os.path.getmtime,
            )
            if os.path.isdir(parent)  # brand-new table: nothing to adopt
            else []
        )
        if orphans:
            os.symlink(os.path.basename(orphans[-1]), path)
    version = f"{path}.v-{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(version)
    write_schema(version, df.schema)
    publish(version, path, validate)


def publish(version: str, path: str, validate=None) -> None:
    """Publish half of the pointer swap: point ``path`` at the complete
    ``version`` dir beside it, then garbage-collect. Both layouts
    publish through here — the flat table once per merge, a bucketed
    table once per touched bucket.

    ``validate`` (review r9): a zero-arg fencing hook invoked
    immediately BEFORE the pointer rename. A lease check that runs only
    before the write leaves an O(write-duration) window in which a
    fenced-off stale writer still publishes — and its grace GC then
    deletes the new owner's version dirs. Raising abandons the publish
    with the pointer untouched; the orphaned version dir is garbage the
    next rightful publish sweeps."""
    if validate is not None:
        validate()
    old_target = os.readlink(path) if os.path.islink(path) else None
    tmp_link = f"{path}.ln-{uuid.uuid4().hex[:8]}"
    # relative link target: version dirs always sit beside the link, so
    # the basename resolves for relative and absolute paths alike
    os.symlink(os.path.basename(version), tmp_link)
    os.rename(tmp_link, path)  # atomic publish
    # Grace GC (VERDICT r4): keep exactly ONE previous version — a
    # separate READER that resolved the symlink just before this
    # publish still holds paths into it (the documented read contract:
    # resolve-to-read windows span at most one publish cycle; see
    # docs/pipelines.md). Everything older, including crashed
    # publishes' partial version dirs and stale ``.ln-`` staging links
    # (ADVICE r5), is garbage: the lease guarantees they are ours.
    parent = os.path.dirname(path) or "."
    base = os.path.basename(path)
    keep = {os.path.basename(version)}
    if old_target is not None:
        keep.add(os.path.basename(old_target))
    for d in os.listdir(parent):
        if d.startswith(f"{base}.v-") and d not in keep:
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
        elif d.startswith(f"{base}.ln-"):
            try:
                os.remove(os.path.join(parent, d))
            except OSError:
                pass


def run_cdc_stream(
    stream: DataFrame,
    state: StateTable,
    checkpoint_dir: str,
    op_col: str = "op",
) -> None:
    """Wire an op-log stream into the state table via foreachBatch and
    block until all available data is processed (availableNow). The
    foreachBatch function is idempotent (merge keyed on seq), so
    at-least-once redelivery after restart converges — the reference's
    SSA-apply trick (krmsyncer_controller.go:586-599) in Spark terms."""

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        state.merge_batch(batch, op_col=op_col)

    (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def scd2_history(
    oplog: DataFrame,
    key_cols: list[str],
    seq_col: str = "seq",
    ts_col: str = "ts",
) -> DataFrame:
    """SCD Type-2 historization of an op-log: instead of compacting to
    the latest state (`latest_op` — SCD1), keep EVERY version as a row
    with its validity interval:

      valid_from = the op's event time
      valid_to   = the next op's event time for the same key (null =
                   still current)
      is_current = no later op exists AND the row isn't a delete
                   tombstone; deletes close the interval and emit no
                   current row.

    The warehouse-standard dimension historization, and the natural
    extension of the reference's sync semantics: the destination holds
    the current version (krmsyncer_controller.go:586-599), SCD2 holds
    all of them with time travel by `WHERE valid_from <= t AND
    (valid_to IS NULL OR valid_to > t)`.

    Scale shape: ONE window over hashpartition(key) ordered by seq —
    the lead() pass computes every interval in a single shuffle;
    deletes are filtered after interval computation so they correctly
    close their predecessor. Works identically in foreachBatch: merge
    new ops, recompute intervals for affected keys only (the state
    table analog would partition by key-hash)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(seq_col).asc())
    with_next = oplog.select(
        *key_cols,
        seq_col,
        F.col(ts_col).alias("valid_from"),
        "op",
        "payload",
        F.lead(ts_col).over(w).alias("valid_to"),
    )
    return (
        with_next.filter(F.col("op") != "delete")
        .select(
            *key_cols,
            seq_col,
            "payload",
            "valid_from",
            "valid_to",
            (F.col("valid_to").isNull()).alias("is_current"),
        )
    )


class Scd2Table:
    """Incrementally-maintained SCD2 dimension — the materialized-view
    form of `scd2_history`, merged per micro-batch.

    Two persisted tables: the append-only per-key op-log (the recompute
    source of truth — SCD2 intervals for a key depend on ALL of its
    ops, including delete tombstones that the history view drops) and
    the derived history. A merge (a) folds the batch into the op-log,
    idempotent on (key, seq) so at-least-once replay is a no-op, then
    (b) recomputes intervals ONLY for the keys present in the batch and
    splices them over the previous history — delta-scoped incremental
    view maintenance, never a full recompute.

    Scale notes: both tables would be hash-partitioned by key at
    production scale so the splice's anti-join/semi-join touch only
    affected partitions (same note as StateTable); the recompute itself
    is one lead() window over the affected keys' ops."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        seq_col: str = "seq",
        ts_col: str = "ts",
    ):
        self.spark = spark
        self.oplog_path = path + ".oplog"
        self.history_path = path
        self.key_cols = key_cols
        self.seq_col = seq_col
        self.ts_col = ts_col

    def _read(self, path: str) -> DataFrame | None:
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            return None
        return self.spark.read.parquet(path)

    def history(self) -> DataFrame | None:
        return self._read(self.history_path)

    def merge_batch(self, batch: DataFrame, _bid: int | None = None) -> None:
        old_log = self._read(self.oplog_path)
        log = (
            old_log.unionByName(batch, allowMissingColumns=True)
            if old_log is not None
            else batch
        )
        log = log.dropDuplicates([*self.key_cols, self.seq_col]).persist()
        log.count()  # materialize before any overwrite below
        affected = batch.select(*self.key_cols).distinct()
        recomputed = scd2_history(
            log.join(F.broadcast(affected), self.key_cols, "left_semi"),
            self.key_cols,
            self.seq_col,
            self.ts_col,
        )
        old_hist = self.history()
        if old_hist is not None:
            kept = old_hist.join(F.broadcast(affected), self.key_cols, "left_anti")
            new_hist = kept.unionByName(recomputed)
        else:
            new_hist = recomputed
        new_hist = new_hist.persist()
        new_hist.count()
        atomic_overwrite(log, self.oplog_path)
        atomic_overwrite(new_hist, self.history_path)
        log.unpersist()
        new_hist.unpersist()


def as_of(history: DataFrame, t, ts_fmt: str = "yyyy-MM-dd HH:mm:ss") -> DataFrame:
    """Time travel over an SCD2 history: the version of every key that
    was current at time `t` — rows whose validity interval contains t.
    A pure filter (partition-prunable when the history is stored
    partitioned by a valid_from bucket)."""
    tcol = F.lit(t).cast("timestamp") if isinstance(t, str) else F.lit(t)
    return history.filter(
        (F.col("valid_from") <= tcol)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > tcol))
    )


def changed_ids(
    new_state: DataFrame,
    stored: DataFrame | None,
    id_col: str,
    value_col: str,
) -> DataFrame | None:
    """Ids present in BOTH `new_state` and `stored` whose `value_col`
    differs (null-safe, structural for arrays) — the shared
    changed-content detector of the incremental pair indexes
    (neardup/simdup/semdedup), one implementation so a semantics fix
    lands everywhere (review r7). Each side is reduced to the id's
    full sorted VALUE SET (ADVICE r7: an arbitrary-row-per-id pick
    would compare arbitrary rows under multi-row-per-id states — e.g.
    one row per IVF cell — and silently miss changes; the set compare
    costs the same single id-keyed exchange per side). NULL values
    drop out of the set, so null-vs-value still differs and
    null-vs-null still matches. Returns an eagerly-checkpointed
    1-column frame (consumed by retraction AND cleanup merges that
    mutate the state it derives from), or None when `stored` is None
    or nothing changed."""
    if stored is None:
        return None

    def _value_set(df: DataFrame, out: str) -> DataFrame:
        return df.groupBy(id_col).agg(
            F.sort_array(F.collect_set(value_col)).alias(out)
        )

    ch = (
        _value_set(new_state, "__new")
        .join(_value_set(stored, "__old"), id_col)
        .filter(~F.col("__new").eqNullSafe(F.col("__old")))
        .select(id_col)
        .localCheckpoint(eager=True)
    )
    return ch if ch.head(1) else None


def retract_pairs(
    pairs: StateTable,
    ids: DataFrame,
    a_col: str,
    b_col: str,
    value_col: str,
    seq: int,
) -> None:
    """Delete every row of a (a, b)-keyed pairs StateTable that
    references an id on EITHER side — the shared retraction step of the
    near-dup indexes' compliance deletion (streaming/neardup.py,
    streaming/semdedup.py). ids: a 1-column frame named ``doc-id-like``
    whose column matches neither key (any single column works — it is
    renamed onto each side)."""
    cur = pairs.read()
    if cur is None:
        return
    id_col = ids.columns[0]
    dead = (
        cur.join(F.broadcast(ids.select(F.col(id_col).alias(a_col))), a_col)
        .select(a_col, b_col)
        .unionByName(
            cur.join(F.broadcast(ids.select(F.col(id_col).alias(b_col))), b_col)
            .select(a_col, b_col)
        )
        .dropDuplicates([a_col, b_col])
    )
    # tombstone value typed from the table's OWN schema — a hardcoded
    # double forced every pairs table to store doubles (review r7)
    value_type = dict(cur.dtypes)[value_col]
    pairs.merge_batch(
        dead.withColumn(value_col, F.lit(None).cast(value_type))
        .withColumn("seq", F.lit(int(seq)).cast("bigint"))
        .withColumn("op", F.lit("delete"))
    )
