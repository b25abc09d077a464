"""The benchmark workloads.

Each workload drives the engine through its public functions. ``op`` is the
timed unit of work and returns the items it completed; everything else
(input generation, correctness checks, clean-up) runs outside the timed
region. Span names are ``<layer>.<call>``; the layer is the engine module
the call enters.
"""

from __future__ import annotations

import os
import random
import shutil
import time

import datagen

KEYS = ["group", "version", "kind", "namespace", "name"]


def dir_bytes(path: str, newer_than: float | None = None) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(root, f))
            except OSError:
                continue
            if newer_than is None or st.st_mtime >= newer_than:
                total += st.st_size
    return total


def restore_state(ctx, name: str, path: str) -> bool:
    """Replace ``path`` with the saved copy of the prepared state ``name``;
    False if this checkout has none yet."""
    shutil.rmtree(path, ignore_errors=True)
    saved = os.path.join(ctx.work, "states", name)
    if not os.path.isdir(saved):
        return False
    shutil.copytree(saved, path, symlinks=True)
    return True


def state_saved(ctx, name: str) -> bool:
    return os.path.isdir(os.path.join(ctx.work, "states", name))


def save_state(ctx, name: str, path: str) -> None:
    """Save the state the engine prepared at ``path`` as ``name``. A state
    that depends only on the catalog (not on the seed) is prepared by the
    engine once per checkout, in a process of its own, and copied into
    place for every run, outside the timed region."""
    saved = os.path.join(ctx.work, "states", name)
    tmp = saved + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(path, tmp, symlinks=True)
    os.replace(tmp, saved)


class Workload:
    name = ""
    item_unit = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.tracer = ctx.tracer
        self.restored = True

    @staticmethod
    def state_names(ctx) -> list[str]:
        """Names of the prepared states the workload restores."""
        return []

    def restore(self) -> bool:
        """Put the workload's saved prepared states in place, before the
        session starts. False if this checkout has not saved them yet;
        ``prepare`` then has the engine prepare and save them."""
        return True

    def first_action(self, spark) -> None:
        """The first action after a session starts; ends the set-up."""
        from kube_etl_spark.catalog import load_table

        load_table(spark, self.ctx.catalog, "lineitem").count()

    def prepare(self) -> None:
        pass

    def next_input(self, i: int):
        return None

    def pass_open(self) -> bool:
        """True while the ops run so far end inside a unit the run must
        finish (an analytics pass), so every run covers whole units."""
        return False

    def describe(self, inp) -> str | None:
        """What the op's input was, for the run record."""
        return None

    def op(self, i: int, inp) -> int:
        raise NotImplementedError

    def after_op(self, i: int, inp, items: int) -> bool:
        """Per-op clean-up and output check; False marks the op failed."""
        return True

    def check(self) -> list[str]:
        """Whole-run output check; returns the problems found."""
        return []

    def failed_ops(self, problems: list[str], n_ops: int) -> set[int]:
        """Ops whose output a failed whole-run check condemns: all of them,
        unless the workload can tell which."""
        return set(range(n_ops)) if problems else set()

    def layer_metrics(self, records: list[dict]) -> dict[str, tuple[float, str]]:
        """The workload's own per-layer metrics: name -> (value, unit)."""
        return {}


def op_jobs(ctx, i: int) -> set[int]:
    """Ids of the jobs op ``i`` has started so far: its job group, which a
    traced run sets."""
    return set(ctx.spark.sparkContext.statusTracker().getJobIdsForGroup(f"op-{i}"))


class Analytics(Workload):
    """Registry headliners (``bench=True``) through the noop sink, in a
    seeded order per pass; a run covers whole passes.

    A pass is the four headliners of ``LISTED`` unless the run asks for all
    22. They are the ones the open work targets: the three that spend the
    most time building the query (eager checkpoints included) and one whose
    wall is mostly driver-side (q_bm25_topk). One untimed pass runs first:
    a query session is long-lived, and in a cold JVM whichever query the
    seed puts first pays about a second of JIT warm-up."""

    name = "analytics"
    item_unit = "queries"
    LISTED = (
        "q_dedup_fuzzy",
        "q_triangle_count",
        "q_media_neardup",
        "q_bm25_topk",
    )
    warm_up = True

    def prepare(self):
        from kube_etl_spark.registry import bench_specs

        specs = bench_specs()
        names = sorted(specs) if self.ctx.all_queries else self.LISTED
        self.specs = {q: specs[q] for q in names}
        self.rng = random.Random(self.ctx.seed)
        self.order: list[str] = []
        self.frames: dict[str, object] = {}
        self.ops_of: dict[str, list[int]] = {}
        self.jobs: dict[str, list[int]] = {}
        if self.warm_up:
            for spec in self.specs.values():
                spec.fn(self.ctx.spark, self.ctx.catalog).write.format("noop").mode(
                    "overwrite"
                ).save()

    def pass_open(self):
        return bool(self.order)

    def describe(self, name):
        return name

    def next_input(self, i):
        if not self.order:
            self.order = self.rng.sample(sorted(self.specs), len(self.specs))
        return self.order.pop(0)

    def op(self, i, name):
        spark, tr = self.ctx.spark, self.tracer
        before = op_jobs(self.ctx, i) if tr.enabled else set()
        with tr.span(f"queries.{name}.build"):
            df = self.specs[name].fn(spark, self.ctx.catalog)
        with tr.span(f"queries.{name}.run"):
            df.write.format("noop").mode("overwrite").save()
        if tr.enabled:
            self.jobs.setdefault(name, []).append(len(op_jobs(self.ctx, i) - before))
        self.frames.setdefault(name, df)
        self.ops_of.setdefault(name, []).append(i)
        return 1

    def check(self):
        from tests.oracle import compare, duckdb_conn

        con = duckdb_conn(self.ctx.catalog)
        problems = []
        for name, df in self.frames.items():
            oracle = self.specs[name].oracle
            if oracle is None:
                bad = [] if df.head(1) else ["no rows"]
            else:
                bad = compare(df, con.execute(oracle).df())
            problems += [f"{name}: {p}" for p in bad]
        con.close()
        # the results are checked; what the engine retains without them is
        # what the live heap measures
        self.frames.clear()
        return problems

    def failed_ops(self, problems, n_ops):
        bad = {p.split(":", 1)[0] for p in problems}
        return {i for q in bad for i in self.ops_of.get(q, [])}

    def layer_metrics(self, records):
        out = {}
        tr = self.tracer
        for q in self.specs:
            build = tr.durations(f"queries.{q}.build")
            n = max(1, len(build))
            out[f"queries.{q}.build_s"] = (sum(build) / n, "s")
            out[f"queries.{q}.run_s"] = (sum(tr.durations(f"queries.{q}.run")) / n, "s")
            out[f"queries.{q}.jobs"] = (sum(self.jobs.get(q, [])) / n, "count")
        return out


class AnalyticsPass(Analytics):
    """Analytics as a part of ``batch``: an op is a whole pass in the seeded
    order, with no warm-up pass before it."""

    warm_up = False

    def next_input(self, i):
        return self.rng.sample(sorted(self.specs), len(self.specs))

    def describe(self, names):
        return ",".join(names)

    def pass_open(self):
        return False

    def op(self, i, names):
        return sum(super(AnalyticsPass, self).op(i, q) for q in names)


class Export(Workload):
    """``run_export`` over every catalog table as JSON, a fresh directory
    per op."""

    name = "export"
    item_unit = "objects"

    def prepare(self):
        from kube_etl_spark.catalog import TABLES, table_rowcount

        self.expected = {t: table_rowcount(self.ctx.catalog, t) for t in TABLES}
        self.root = os.path.join(self.ctx.work, "export")
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)
        self.last_out = None
        self.bytes_per_object: list[float] = []
        self.job_ids: set[int] = set()

    def next_input(self, i):
        return os.path.join(self.root, f"op-{i}")

    def op(self, i, out):
        from kube_etl_spark.plans import export_job

        before = op_jobs(self.ctx, i) if self.tracer.enabled else set()
        with self.tracer.span("export_job.run_export"):
            self.counts = export_job.run_export(
                self.ctx.spark, self.ctx.catalog, out, serialization="json"
            )
        if self.tracer.enabled:
            self.job_ids |= op_jobs(self.ctx, i) - before
        return sum(self.counts.values())

    def describe(self, out):
        return os.path.basename(out)

    def after_op(self, i, out, items):
        ok = self.counts == self.expected
        if self.tracer.enabled:
            self.bytes_per_object.append(dir_bytes(out) / max(1, sum(self.counts.values())))
        if self.last_out:
            shutil.rmtree(self.last_out, ignore_errors=True)
        self.last_out = out
        return ok

    def check(self):
        from pyspark.sql import functions as F

        if self.last_out is None:
            return ["no export completed"]
        back = self.ctx.spark.read.json(self.last_out)
        row = back.agg(F.count("path").alias("n"), F.count_distinct("path").alias("d")).first()
        if row["n"] != row["d"]:
            return [f"{row['n'] - row['d']} duplicate export paths"]
        return []

    def layer_metrics(self, records):
        tr = self.tracer
        n = len(records)
        write = readback = 0.0
        for r in records:
            for job in r["spark"]["job_records"]:
                if job["id"] not in self.job_ids:
                    continue
                dur = (job["end"] or job["start"]) - job["start"]
                if any(s["output_bytes"] > 0 for s in job["stages"]):
                    write += dur
                else:
                    readback += dur
        bpo = self.bytes_per_object
        return {
            "export_job.export_table_s": (sum(tr.durations("export_job.export_table")) / n, "s"),
            "export_job.write_s": (write / n, "s"),
            "export_job.readback_s": (readback / n, "s"),
            "export_job.output_bytes_per_object": (sum(bpo) / max(1, len(bpo)), "B/object"),
        }


class Sync(Workload):
    """KRMSyncer change-data-capture: one op-log micro-batch per op through
    compile_sync -> sync_to_destinations -> syncer_status, into destination
    states preloaded with the objects of an earlier op-log."""

    name = "sync"
    item_unit = "events"
    PRELOAD = 20_000
    BATCH = 2_000

    def __init__(self, ctx):
        super().__init__(ctx)
        self.root = os.path.join(ctx.work, "sync")
        self.oplog = datagen.OpLog(ctx.seed, self.PRELOAD, self.BATCH)
        self.events = self.oplog.batch()
        self.state_name = self.state_names(ctx)[0]

    @staticmethod
    def state_names(ctx):
        return [f"sync-preload{Sync.PRELOAD}"]

    def restore(self):
        # the preload goes straight into the destination states, as the
        # rows an earlier sync of those events left there; the preloaded
        # states are the same in every run (see OpLog)
        self.restored = restore_state(self.ctx, self.state_name, self.root)
        self.preload = {}
        for dest, rows in datagen.sync_model(self.events).items():
            self.preload[dest] = os.path.join(self.root, f"preload-{dest}.parquet")
            if not self.restored:
                os.makedirs(self.root, exist_ok=True)
                datagen.write_state_rows(list(rows.values()), self.preload[dest])
        return self.restored

    def first_action(self, spark):
        spark.read.parquet(self.preload["local"]).count()

    def prepare(self):
        from kube_etl_spark.streaming.cdc import StateTable
        from kube_etl_spark.streaming.sync import DestinationRegistry

        spark = self.ctx.spark
        self.rules = spark.createDataFrame(list(datagen.RULES), datagen.RULE_SCHEMA)
        self.gvks = spark.createDataFrame(
            [list(g) for g in datagen.GVKS], "group string, version string, kind string"
        )
        self.dest_paths = {"local": os.path.join(self.root, "local")}

        def factory(cred):
            name = f"remote-{cred['namespace']}-{cred['secret']}"
            self.dest_paths[name] = os.path.join(self.root, name)
            return StateTable(spark, self.dest_paths[name], KEYS, "seq")

        self.local = StateTable(spark, self.dest_paths["local"], KEYS, "seq")
        self.registry = DestinationRegistry(factory)
        dests = {"local": self.local}
        for r in datagen.RULES:
            if r[2] == "push":
                dests[datagen.destination(r)] = self.registry.get_or_create(r[8], r[9])
        if not self.restored:
            for dest, path in self.preload.items():
                dests[dest].merge_batch(spark.read.parquet(path))
            save_state(self.ctx, self.state_name, self.root)
        self.fanout: list[float] = []
        self.published: list[float] = []

    def next_input(self, i):
        events = self.oplog.batch()
        path = os.path.join(self.root, f"batch-{i}.parquet")
        datagen.write_events(events, path)
        self.events.extend(events)
        return path, events

    def describe(self, inp):
        return os.path.basename(inp[0])

    def op(self, i, inp):
        from kube_etl_spark.streaming import sync

        spark, tr = self.ctx.spark, self.tracer
        self.op_started = time.time()
        oplog = spark.read.parquet(inp[0])
        with tr.span("sync.compile_sync"):
            self.changes = sync.compile_sync(oplog, self.rules)
        with tr.span("sync.sync_to_destinations"):
            _written, self.skipped = sync.sync_to_destinations(
                self.changes, self.rules, self.local, self.registry
            )
        with tr.span("sync.syncer_status"):
            self.status = sync.syncer_status(self.rules, self.gvks, oplog).collect()
        return len(inp[1])

    def after_op(self, i, inp, items):
        path, events = inp
        if self.tracer.enabled:
            self.fanout.append(self.changes.count() / len(events))
            self.published.append(
                sum(dir_bytes(p, self.op_started) for p in self.dest_paths.values())
                / len(events)
            )
        os.remove(path)
        return not self.skipped and self._status_ok(events)

    def _status_ok(self, events) -> bool:
        want = {}
        for r in datagen.RULES:
            seqs = [
                e["seq"]
                for e in events
                if datagen.gvk_match(r, datagen.key_of(e))
            ]
            cond = "Suspended" if r[1] else "Active"
            want[r[0]] = (cond, -1 if r[1] or not seqs else max(seqs))
        got = {s["syncer_name"]: (s["condition"], s["last_sync_seq"]) for s in self.status}
        return got == want

    def check(self):
        problems = []
        for dest, rows in datagen.sync_model(self.events).items():
            # the state as persisted, tombstones included
            df = self.ctx.spark.read.parquet(self.dest_paths[dest])
            cols = [*KEYS, "seq", "__op", "spec.foo", "spec.resourceID", "status.bar"]
            got = {tuple(r[:5]): tuple(r[5:]) for r in df.select(*cols).collect()}
            want = datagen.state_rows(rows)
            if got != want:
                diff = set(got.items()) ^ set(want.items())
                problems.append(f"{dest}: {len(diff)} rows differ from the model")
        return problems

    def layer_metrics(self, records):
        tr = self.tracer
        n = len(records)
        return {
            "sync.compile_sync_s": (sum(tr.durations("sync.compile_sync")) / n, "s"),
            "sync.sync_to_destinations_s": (
                sum(tr.durations("sync.sync_to_destinations")) / n,
                "s",
            ),
            "sync.syncer_status_s": (sum(tr.durations("sync.syncer_status")) / n, "s"),
            "sync.fanout_per_event": (sum(self.fanout) / max(1, len(self.fanout)), "rows/event"),
            "cdc.bytes_written_per_event": (
                sum(self.published) / max(1, len(self.published)),
                "B/event",
            ),
            "cdc.state_bytes": (float(sum(dir_bytes(p) for p in self.dest_paths.values())), "B"),
        }


class DedupStream(Workload):
    """``NearDupIndex`` over the catalog documents; each op ingests a small
    seeded trickle batch with planted near-copies."""

    name = "dedup_stream"
    item_unit = "documents"
    PER_BATCH = 7
    COPIES = 3

    def first_action(self, spark):
        from kube_etl_spark.catalog import load_table

        load_table(spark, self.ctx.catalog, "documents").count()

    def __init__(self, ctx):
        super().__init__(ctx)
        self.root = os.path.join(ctx.work, "neardup")
        self.state_name = self.state_names(ctx)[0]
        base = datagen.documents(ctx.catalog)
        self.batches = datagen.trickle_batches(ctx.seed, base, self.PER_BATCH, self.COPIES)
        self.planted: list[tuple[int, int]] = []
        self.jobs: list[int] = []

    @staticmethod
    def state_names(ctx):
        # the index of the catalog documents is the same in every run
        return ["neardup-" + os.path.basename(ctx.catalog)]

    def restore(self):
        self.restored = restore_state(self.ctx, self.state_name, self.root)
        return self.restored

    def prepare(self):
        from kube_etl_spark.catalog import load_table
        from kube_etl_spark.streaming.neardup import NearDupIndex

        spark = self.ctx.spark
        self.index = NearDupIndex(spark, self.root)
        if not self.restored:
            docs = load_table(spark, self.ctx.catalog, "documents").select("doc_id", "text")
            self.index.ingest_batch(docs, 0)
            save_state(self.ctx, self.state_name, self.root)

    def next_input(self, i):
        rows, planted = next(self.batches)
        self.planted += planted
        return self.ctx.spark.createDataFrame(rows, "doc_id bigint, text string"), len(rows)

    def op(self, i, inp):
        before = op_jobs(self.ctx, i) if self.tracer.enabled else set()
        with self.tracer.span("neardup.ingest_batch"):
            self.index.ingest_batch(inp[0], i + 1)
        if self.tracer.enabled:
            self.jobs.append(len(op_jobs(self.ctx, i) - before))
        return inp[1]

    def check(self):
        pairs = {(r[0], r[1]) for r in self.index.pairs_df().select("doc_a", "doc_b").collect()}
        missing = [p for p in self.planted if p not in pairs]
        return [f"{len(missing)} planted near-copy pairs not detected"] if missing else []

    def layer_metrics(self, records):
        n = max(1, len(records))
        return {
            "neardup.ingest_batch_s": (sum(self.tracer.durations("neardup.ingest_batch")) / n, "s"),
            "neardup.jobs_per_batch": (sum(self.jobs) / n, "count"),
        }


class Composite(Workload):
    """Workloads whose op runs one op of each part, in order. Items are the
    sum of the parts' items. The benchmark's time budget allows two gated
    workloads (see README.md), so each is a composite; each part still runs
    on its own as a workload of its own."""

    part_types: tuple = ()

    def __init__(self, ctx):
        super().__init__(ctx)
        self.parts = tuple(t(ctx) for t in self.part_types)

    @classmethod
    def state_names(cls, ctx):
        return [n for t in cls.part_types for n in t.state_names(ctx)]

    def restore(self):
        self.restored = all([p.restore() for p in self.parts])
        return self.restored

    def first_action(self, spark):
        self.parts[0].first_action(spark)

    def prepare(self):
        for p in self.parts:
            p.prepare()

    def next_input(self, i):
        return tuple(p.next_input(i) for p in self.parts)

    def describe(self, inp):
        return " + ".join(str(p.describe(x)) for p, x in zip(self.parts, inp))

    def op(self, i, inp):
        return sum(p.op(i, x) for p, x in zip(self.parts, inp))

    def after_op(self, i, inp, items):
        return all([p.after_op(i, x, items) for p, x in zip(self.parts, inp)])

    def check(self):
        return [q for p in self.parts for q in p.check()]

    def layer_metrics(self, records):
        return {k: v for p in self.parts for k, v in p.layer_metrics(records).items()}


class Batch(Composite):
    """The catalog side: the export job, then a pass of the analytics
    headliners in the seeded order, both cold."""

    name = "batch"
    item_unit = "objects+queries"
    part_types = (Export, AnalyticsPass)


class Stream(Composite):
    """The state side: one micro-batch for each of the streaming layer's
    two consumers, a ``sync`` op-log batch and then a ``dedup_stream``
    trickle batch into the near-dup index. Both keep their state in
    ``cdc`` state tables."""

    name = "stream"
    item_unit = "events+documents"
    part_types = (Sync, DedupStream)


WORKLOADS = {
    w.name: w for w in (Analytics, Export, Sync, DedupStream, Batch, Stream)
}
# the workload whose parts hold every prepared state
STATEFUL = Stream
