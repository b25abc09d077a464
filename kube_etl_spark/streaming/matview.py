"""Incrementally-maintained materialized join view (EXT; the
streaming-warehouse feature on top of the CDC machinery in cdc.py).

A denormalized fact⋈dim view (e.g. orders enriched with their
customer row) kept current from BOTH sides' change feeds without ever
re-running the full join:

  * a fact batch touches only its own keys: join the batch against the
    CURRENT dim state, upsert those view rows (fact deletes delete);
  * a dim batch touches the fact rows that reference the changed dim
    keys: semi-select them from fact state, re-join, upsert.

Single applier, one monotonically increasing batch_seq across both
feeds (the reference's one-controller-per-destination model, ST8) —
replaying a batch recomputes identical rows under the same seq, so the
view converges exactly like the CDC MERGE sink.

Scale shape: per batch the work is |batch| ⋈ dim-state (broadcast the
batch side when small) and, for dim changes, a key-pruned slice of
fact state — never the full fact table. State tables are parquet-backed
here; swapping StateTable for a key-partitioned lakehouse table keeps
the same algebra at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame
from .cdc import StateTable


class MaterializedJoin:
    """Maintains view = fact ⋈ dim on fact[fact_fk] == dim[dim_key],
    keyed by fact_key. Dim misses produce no view row (inner-join
    semantics); a late-arriving dim row materializes the matching
    facts on its first dim batch."""

    def __init__(
        self,
        fact_state: StateTable,
        dim_state: StateTable,
        view_state: StateTable,
        fact_key: str,
        fact_fk: str,
        dim_key: str,
    ):
        self.fact = fact_state
        self.dim = dim_state
        self.view = view_state
        self.fact_key = fact_key
        self.fact_fk = fact_fk
        self.dim_key = dim_key

    def _join(self, facts: DataFrame, dims: DataFrame) -> DataFrame:
        # both state tables carry their own seq; the view gets a fresh
        # one per batch, so strip them before joining
        f = facts.drop("seq")
        d = dims.drop("seq")
        return f.join(d, f[self.fact_fk] == d[self.dim_key]).drop(self.dim_key)

    def _upsert_view(self, rows: DataFrame, batch_seq: int, op: F.Column) -> None:
        self.view.merge_batch(
            rows.withColumn("seq", F.lit(batch_seq).cast("bigint")).withColumn(
                "op", op
            )
        )

    def apply_fact_batch(self, batch: DataFrame, batch_seq: int) -> None:
        """batch: fact rows + an 'op' column (upsert/delete). Updates
        fact state, then refreshes exactly the batch's view keys."""
        # NULL op = upsert (the StateTable.merge_batch contract) — the
        # view filters below compare op, and NULL would fall out of
        # BOTH the upsert and delete branches, leaving a stale view row
        batch = batch.withColumn("op", F.coalesce(F.col("op"), F.lit("upsert")))
        self.fact.merge_batch(
            batch.withColumn("seq", F.lit(batch_seq).cast("bigint"))
        )
        dims = self.dim.read()
        if dims is None:
            # no dim state yet: nothing materialized, nothing to refresh
            return
        upserts = batch.filter(F.col("op") != "delete").drop("op")
        joined = self._join(upserts, dims)
        self._upsert_view(joined, batch_seq, F.lit("upsert"))
        # view keys that must go: explicit fact deletes, plus upserts
        # whose (possibly re-pointed) fk no longer matches any dim row —
        # without this, an fk change to a missing dim would leave the
        # stale enriched row in the view
        deletes = batch.filter(F.col("op") == "delete").select(self.fact_key)
        unmatched = upserts.select(self.fact_key).join(
            joined.select(self.fact_key), self.fact_key, "left_anti"
        )
        doomed_keys = deletes.unionByName(unmatched)
        full = self.view.read()
        if full is not None:
            doomed = full.join(doomed_keys, self.fact_key, "left_semi")
            self._upsert_view(doomed, batch_seq, F.lit("delete"))

    def apply_dim_batch(self, batch: DataFrame, batch_seq: int) -> None:
        """batch: dim rows + 'op'. Updates dim state, then recomputes
        the view rows of every fact row referencing a changed key."""
        batch = batch.withColumn("op", F.coalesce(F.col("op"), F.lit("upsert")))
        self.dim.merge_batch(
            batch.withColumn("seq", F.lit(batch_seq).cast("bigint"))
        )
        facts = self.fact.read()
        if facts is None:
            return
        changed_keys = batch.select(F.col(self.dim_key)).distinct()
        affected = facts.join(
            changed_keys,
            facts[self.fact_fk] == changed_keys[self.dim_key],
            "left_semi",
        )
        dims = self.dim.read()
        rejoined = self._join(affected, dims) if dims is not None else None
        if rejoined is not None:
            self._upsert_view(rejoined, batch_seq, F.lit("upsert"))
        # dim deletes orphan their facts out of the inner-join view
        deleted_dims = batch.filter(F.col("op") == "delete").select(self.dim_key)
        orphans = facts.join(
            deleted_dims, facts[self.fact_fk] == deleted_dims[self.dim_key], "left_semi"
        ).select(self.fact_key)
        full = self.view.read()
        if full is not None:
            doomed = full.join(orphans, self.fact_key, "left_semi")
            self._upsert_view(doomed, batch_seq, F.lit("delete"))

    def read(self) -> DataFrame | None:
        return self.view.read()


class MaterializedAgg:
    """Incrementally-maintained aggregate view: group_col → (n_rows,
    total) over a CDC fact feed, without re-aggregating the fact table.

    Maintenance is an ABSOLUTE per-group recompute over the touched
    groups, not a credit/debit delta (review r9): the first design
    derived the delta from PRE-merge fact state, so a crash between
    fact.merge_batch and view.merge_batch made at-least-once
    redelivery see old ≡ new — a zero delta — and the view permanently
    under-counted (the same crash-window class fixed in substrdup r4
    and CountMinIndex: derive downstream tables from POST-merge
    upstream state). Per batch: touched groups = the batch rows'
    groups ∪ the batch keys' current groups in fact state (a moved
    key's OLD group must recompute too); that set is persisted to an
    intent sidecar BEFORE the fact merge — it is the only pre-merge
    fact the recompute needs, and a replay after a mid-crash unions
    the stored set back in (post-merge state no longer knows a moved
    key's old group). The view rows for touched groups are then pure
    functions of post-merge fact state, so replay converges by
    construction; groups recomputed to zero membership leave the view.

    Scale shape: per batch the work is |fact rows in the touched
    groups| (group-pruned, partition-prunable when fact state is laid
    out by group) + a |touched groups| merge into the view. The
    touched-group list is a bounded driver-side collect (groups per
    batch, the same bound the bucket-discovery collects rely on); a
    heavy-hitter group touched by every batch re-aggregates fully each
    time — if that regime dominates, the batch-id-keyed delta-table
    fold (the CountMinIndex pattern) is the alternative. group_col
    must round-trip through JSON (string/int/bool — the intent
    sidecar stores the values)."""

    def __init__(
        self,
        fact_state: StateTable,
        view_state: StateTable,
        fact_key: str,
        group_col: str,
        value_col: str,
    ):
        self.fact = fact_state
        self.view = view_state
        self.fact_key = fact_key
        self.group_col = group_col
        self.value_col = value_col

    def _contrib(self, rows: DataFrame | None) -> DataFrame | None:
        if rows is None:
            return None
        return rows.groupBy(self.group_col).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(self.value_col).cast("decimal(20,2)")).alias("s"),
        )

    @property
    def _intent_path(self) -> str:
        return f"{self.view.path}.intent.json"

    def apply_fact_batch(self, batch: DataFrame, batch_seq: int) -> None:
        import json as _json

        from .cdc import atomic_write_json

        keys = batch.select(self.fact_key).distinct()
        before = self.fact.read()
        # touched groups: batch rows' groups (deletes may carry a NULL
        # group — their real group comes from state) ∪ the batch keys'
        # current groups (a moved key's old group recomputes too)
        groups = batch.select(self.group_col).filter(
            F.col(self.group_col).isNotNull()
        )
        if before is not None:
            groups = groups.unionByName(
                before.join(keys, self.fact_key, "left_semi").select(self.group_col)
            )
        group_schema = groups.schema
        fresh = {r[self.group_col] for r in groups.distinct().collect()}
        # replay of THIS batch_seq unions the intent written by the
        # crashed attempt (its pre-merge group set); then re-persist
        # BEFORE the fact merge, atomically
        stored: set = set()
        try:
            with open(self._intent_path) as f:
                rec = _json.load(f)
            if int(rec.get("batch_seq", -1)) == int(batch_seq):
                stored = set(rec.get("groups", []))
        except (FileNotFoundError, ValueError):
            pass
        touched = sorted(fresh | stored, key=str)
        atomic_write_json(
            self._intent_path,
            {"batch_seq": int(batch_seq), "groups": touched},
        )

        self.fact.merge_batch(
            batch.withColumn("seq", F.lit(batch_seq).cast("bigint"))
        )

        if not touched:
            return
        spark = batch.sparkSession
        tg = local_frame(spark, [(g,) for g in touched], group_schema)
        after = self.fact.read()
        present = (
            self._contrib(after.join(tg, self.group_col, "left_semi"))
            if after is not None
            else None
        )
        base = tg if present is None else tg.join(present, self.group_col, "left")
        if present is None:
            base = base.withColumn("n", F.lit(None)).withColumn("s", F.lit(None))
        updated = base.select(
            self.group_col,
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_rows"),
            F.coalesce(F.col("s"), F.lit(0).cast("decimal(20,2)")).alias("total"),
            F.lit(batch_seq).cast("bigint").alias("seq"),
            # groups recomputed to zero membership leave the view
            F.when(F.coalesce("n", F.lit(0)) <= 0, "delete")
            .otherwise("upsert")
            .alias("op"),
        )
        self.view.merge_batch(updated)

    def read(self) -> DataFrame | None:
        return self.view.read()
