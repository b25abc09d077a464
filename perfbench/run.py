"""Benchmark of the kube_etl_spark engine, driven from outside through its
public functions: one process, one client, closed loop, on ``local[nproc]``.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 1 --trace 0

Runs from the root of a checkout. Workloads (see workloads.py): batch and
stream, which BENCHMARK.json gates, and their parts analytics, export, sync
and dedup_stream. An op is one query, one export job, one sync micro-batch
or one index-ingest batch; an op of batch or stream is one op of each of
its two parts. The first run in a checkout builds the catalog and the
prepared states (``--prepare-states``). The run sets up the session once
(set-up is get_spark, which starts the JVM, to the first completed action),
prepares the workload, then runs ops until their summed wall time reaches
``--seconds`` (analytics finishes its pass), checks the outputs, and prints
one JSON record line followed by the result line.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces every op
and reports the per-layer metrics, each layer's self time, the traced op
latency (``trace.op_p50_s``; minus an untraced run's ``op_p50_s`` it is the
tracing overhead) and the time spent in span bookkeeping per op
(``trace.overhead_s``). Spans, per-op Spark counters and the environment are
written to ``.perfbench/runs/`` in the checkout.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# Spark status-store counters reported per op in the traced run.
SPARK_COUNTERS = (
    ("jobs", "count"),
    ("tasks", "count"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("executor_run_s", "s"),
    ("executor_cpu_s", "s"),
    ("driver_side_s", "s"),
)


def pin_environment() -> dict:
    """Environment every run uses, set before the JVM starts. Both scratch
    overrides are removed, so Spark's shuffle and spill files go where the
    engine's own default puts them (scratch_dirs records where that was).
    The JVM's and Python's temp files stay inside the checkout through
    java.io.tmpdir and TMPDIR."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_LOCAL_DIR"):
        os.environ.pop(var, None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # executors' Python workers import the engine from the checkout
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)
    return {
        "cores": cores,
        "cpu": _proc_field("/proc/cpuinfo", "model name"),
        "mem_total": _proc_field("/proc/meminfo", "MemTotal"),
    }


def _proc_field(path: str, key: str) -> str | None:
    with open(path) as f:
        for line in f:
            if line.startswith(key):
                return line.split(":", 1)[1].strip()
    return None


def fs_type(path: str) -> str:
    best, kind = "", "unknown"
    path = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, kind = mnt, parts[2]
    return kind


class Ctx:
    def __init__(self, seed, catalog, tracer, all_queries=False):
        self.seed = seed
        self.all_queries = all_queries
        self.catalog = catalog
        self.work = WORK
        self.tracer = tracer
        self.spark = None


def set_up(ctx, workload) -> float:
    """Start the session cold, as a batch pod does: get_spark launches the
    JVM, and the set-up ends with the workload's first completed action."""
    from kube_etl_spark.session import get_spark

    t0 = time.perf_counter()
    with ctx.tracer.span("session.get_spark"):
        ctx.spark = get_spark("perfbench")
    ctx.spark.sparkContext.setLogLevel("ERROR")
    workload.first_action(ctx.spark)
    return time.perf_counter() - t0


def scratch_dirs(spark) -> list[dict]:
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.sc().conf()
    dirs = list(jvm.org.apache.spark.util.Utils.getConfiguredLocalDirs(conf))
    return [{"dir": d, "fs": fs_type(d)} for d in dirs]


def live_heap_mb(spark) -> list[float]:
    """Spark driver JVM heap still in use after full collections, once the
    workload has dropped its outputs: the memory the engine retains. A
    collection lets Spark's cleaner release what became unreachable (cached
    and checkpointed blocks among it), which a later collection frees. So
    this collects, 0.2 s apart, until three collections in a row free less
    than 1 MB more, at most 15 times, and returns every reading; the metric
    is the least. Peak resident memory, by contrast, follows the garbage
    collector's heap sizing and reads about 1.7 GB or 2.4 GB on identical
    runs of the export workload."""
    # Python objects in reference cycles keep their JVM objects alive
    gc.collect()
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used: list[float] = []
    still = 0
    while len(used) < 15 and still < 3:
        jvm.java.lang.System.gc()
        mb = heap.getHeapMemoryUsage().getUsed() / 2**20
        still = still + 1 if used and mb > min(used) - 1 else 0
        used.append(mb)
        time.sleep(0.2)
    return used


def shut_down(spark) -> None:
    """Stop the session, the JVM and every process under this one, and wait
    for each to end. Spark deletes its files under the scratch dirs when it
    stops; a scratch dir left empty is removed too."""
    from pyspark import SparkContext

    from tracing import descendants

    kids = descendants(os.getpid())
    scratch = [d["dir"] for d in scratch_dirs(spark)]
    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
    for d in scratch:
        try:
            os.rmdir(d)
        except OSError:
            pass


def run_op(workload, tracer, spark, i: int, trace: bool) -> dict:
    """One timed op: its input is generated before the clock starts, its
    Spark counters (traced runs only) and output check run after it
    stops."""
    import tracing

    inp = workload.next_input(i)
    if trace:
        spark.sparkContext.setJobGroup(f"op-{i}", f"perfbench op {i}")
    pids = [os.getpid(), *tracing.descendants(os.getpid())]
    cpu0 = tracing.cpu_seconds(pids)
    tracer.op_id = i
    ok, items = True, 0
    t0 = time.perf_counter()
    try:
        with tracer.span("op"):
            items = workload.op(i, inp)
    except Exception:
        ok = False
        traceback.print_exc()
    dt = time.perf_counter() - t0
    tracer.op_id = None
    cpu = tracing.cpu_seconds(pids) - cpu0
    rec = {
        "op": i,
        "wall_s": dt,
        "cpu_s": cpu,
        "items": items,
        "ok": ok,
        "input": workload.describe(inp),
    }
    if trace:
        c = tracing.spark_counters(spark, f"op-{i}")
        c["driver_side_s"] = max(0.0, dt - c["stage_span_s"])
        rec["spark"] = c
    if ok:
        try:
            rec["ok"] = workload.after_op(i, inp, items)
        except Exception:
            rec["ok"] = False
            traceback.print_exc()
    return rec


def layer_metrics(tracer, workload, records, steal) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run, each per op unless named
    otherwise. Every per_layer metric of BENCHMARK.json is reported; one
    whose layer the workload does not enter reads 0."""
    n = len(records)
    m: dict[str, tuple[float, str]] = {}
    m["session.get_spark_s"] = (tracer.durations("session.get_spark")[0], "s")
    load = tracer.durations("catalog.load_table")
    m["catalog.load_table_s"] = (sum(load) / n, "s")
    m["catalog.load_table_calls"] = (len(load) / n, "count")
    merges = tracer.durations("cdc.merge_batch")
    m["cdc.merge_batch_s"] = (sum(merges) / n, "s")
    m["cdc.merge_batch_calls"] = (len(merges) / n, "count")
    for k, unit in SPARK_COUNTERS:
        m[f"spark.{k}"] = (sum(r["spark"][k] for r in records) / n, unit)
    m["host.steal_pct"] = (steal, "%")
    for layer, t in tracer.self_times(ops_only=True).items():
        m[f"self.{layer}_s"] = (t / n, "s")
    m["trace.op_p50_s"] = (statistics.median(r["wall_s"] for r in records), "s")
    m["trace.overhead_s"] = (tracer.cost / n, "s")
    m.update(workload.layer_metrics(records))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer"]
    for spec in listed:
        m.setdefault(spec["name"], (0.0, spec["unit"]))
    return m


def run(args) -> tuple[dict, dict]:
    env = pin_environment()
    import datagen
    import tracing
    import workloads
    from workloads import WORKLOADS

    cpu0 = tracing.cpu_times()
    phases: dict[str, float] = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = now - mark
        mark = now

    catalog = datagen.build_catalog(os.path.join(WORK, "data"), args.catalog_sf)
    tracer = tracing.Tracer(bool(args.trace))
    ctx = Ctx(args.seed, catalog, tracer, args.all_queries)
    states_prepared = False
    if not args.prepare_states:
        # the benchmark's build step, once per checkout: every workload's
        # prepared states, made by the engine in a JVM that then exits, so
        # that no run's op follows the JIT warm-up that preparing them gives
        names = workloads.STATEFUL.state_names(ctx)
        if not all(workloads.state_saved(ctx, n) for n in names):
            prepare_states(args)
            states_prepared = True
    workload = WORKLOADS[args.workload](ctx)
    if not workload.restore() and not args.prepare_states:
        raise RuntimeError(f"{args.workload}: its prepared states were not saved")
    phase("inputs")

    try:
        # set-up spans are recorded under a pseudo op id
        tracer.op_id = -1
        setup = set_up(ctx, workload)
        phase("setup")
        tracer.op_id = None
        spark = ctx.spark
        workload.prepare()
        phase("prepare")
        if args.prepare_states:
            return {}, {}
        if args.trace:
            from kube_etl_spark import catalog as cat
            from kube_etl_spark.plans import export_job
            from kube_etl_spark.streaming import cdc

            tracer.patch_function(cat.load_table, "catalog.load_table")
            export_job.export_table = tracer.wrap(export_job.export_table, "export_job.export_table")
            cdc.StateTable.merge_batch = tracer.wrap(cdc.StateTable.merge_batch, "cdc.merge_batch")

        records: list[dict] = []
        busy = 0.0
        i = 0
        while busy < args.seconds or workload.pass_open():
            rec = run_op(workload, tracer, spark, i, bool(args.trace))
            busy += rec["wall_s"]
            records.append(rec)
            i += 1

        phase("ops")
        problems = workload.check()
        phase("check")
        heap_readings = live_heap_mb(spark)
        heap_mb = min(heap_readings)
        phase("heap")
        condemned = workload.failed_ops(problems, len(records))
        for r in records:
            if r["op"] in condemned:
                r["ok"] = False

        rss = tracing.peak_rss_mb([os.getpid(), *tracing.descendants(os.getpid())])
        steal = tracing.steal_pct(cpu0, tracing.cpu_times())
        env.update(
            spark=spark.version,
            python=platform.python_version(),
            driver_memory=spark.conf.get("spark.driver.memory"),
            master=spark.sparkContext.master,
            scratch=scratch_dirs(spark),
            work_fs=fs_type(WORK),
            seed=args.seed,
            steal_pct=steal,
        )
    finally:
        if ctx.spark is not None:
            shut_down(ctx.spark)
    phase("shutdown")

    failed = sum(not r["ok"] for r in records)
    op_p50 = statistics.median(r["wall_s"] for r in records)
    if not args.trace:
        done = sum(r["items"] for r in records if r["ok"])
        metrics = {
            "setup_s": (setup, "s"),
            "op_p50_s": (op_p50, "s"),
            "items_per_s": (done / busy, "items/s"),
            "live_heap_mb": (heap_mb, "MB"),
        }
    else:
        metrics = layer_metrics(tracer, workload, records, steal)
    record = {
        "workload": args.workload,
        "item_unit": workload.item_unit,
        "seed": args.seed,
        "catalog_sf": args.catalog_sf,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "setup_s": setup,
        "states_prepared": states_prepared,
        "phases_s": phases,
        "problems": problems,
        "op_p50_s": op_p50,
        "peak_rss_mb": rss,
        "heap_readings_mb": heap_readings,
        "ops": [{k: v for k, v in r.items() if k != "spark"} for r in records],
    }
    result = {
        "correct": not problems and failed == 0,
        "attempted": len(records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    stem = os.path.join(
        WORK, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    )
    with open(stem + ".json", "w") as f:
        json.dump({"record": record, "result": result}, f)
    if args.trace:
        with open(stem + ".spans.json", "w") as f:
            json.dump(
                {"spans": tracer.spans, "spark": {r["op"]: r["spark"] for r in records}}, f
            )
    return record, result


def prepare_states(args) -> None:
    """Prepare and save the states of every stateful workload in a run of
    their own (``--prepare-states``), which exits when they are saved."""
    from workloads import STATEFUL

    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", STATEFUL.name,
        "--seed", "0", "--seconds", "0", "--catalog-sf", str(args.catalog_sf),
        "--prepare-states",
    ]
    subprocess.run(cmd, stdout=sys.stderr, check=True, timeout=900)


def main() -> int:
    import datagen
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--all-queries",
        action="store_true",
        help="analytics: run all 22 headliners, not the listed subset",
    )
    ap.add_argument(
        "--catalog-sf",
        type=float,
        default=datagen.CATALOG_SF,
        help="scale factor of the generated catalog (lineitem = 6M rows at 1)",
    )
    ap.add_argument(
        "--prepare-states",
        action="store_true",
        help="only prepare and save the stateful workloads' states, then exit",
    )
    args = ap.parse_args()
    sys.path.insert(0, ROOT)
    try:
        import kube_etl_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the engine is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2
    record, result = run(args)
    if args.prepare_states:
        return 0
    print(json.dumps(record), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
