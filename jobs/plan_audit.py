"""Plan audit over every registered query — the optimization round's
"measure first" sweep (spark_optimization_guide.md §1/§7.2).

For each registry spec, builds the DataFrame and counts the physical-plan
nodes the guide says to look at: Exchange (shuffle) vs BroadcastExchange,
Sort, HashAggregate vs SortAggregate (hash-agg-ineligible buffers),
join strategies, Python-boundary nodes (BatchEvalPython /
ArrowEvalPython / MapInPandas / MapInArrow / FlatMapGroupsInPandas),
and WholeStageCodegen span count.  Emits one TSV row per query, sorted
by shuffle count, so the optimization checklist starts from data
instead of guesses.

Usage:
    python jobs/plan_audit.py [--sf DIR] [--out FILE]
                              [--dump NAME ... --dump-dir DIR]

--dump writes the full `formatted` plan of the named queries to
<dump-dir>/<name>_<suffix>.txt (suffix from --suffix, default "before");
--dump-dir is required with --dump.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

NODE_PATTERNS = {
    "shuffle_ex": r"Exchange hashpartitioning|Exchange rangepartitioning|Exchange RoundRobinPartitioning|Exchange SinglePartition",
    "bcast_ex": r"BroadcastExchange",
    "sort": r"^\s*(?:[:+\- ]*)\*?\(?\d*\)?\s*Sort ",
    "hash_agg": r"HashAggregate",
    "obj_hash_agg": r"ObjectHashAggregate",
    "sort_agg": r"SortAggregate",
    "smj": r"SortMergeJoin",
    "shj": r"ShuffledHashJoin",
    "bhj": r"BroadcastHashJoin",
    "bnlj": r"BroadcastNestedLoopJoin",
    "cartesian": r"CartesianProduct",
    "py_row": r"BatchEvalPython",
    "py_arrow": r"ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas",
    # Anchor to the node position (like "sort") so the audit counts
    # Window OPERATOR nodes only: the old (?<!RunningWindowFunction)
    # lookbehind was a no-op ("Window" inside that token is preceded by
    # "Running", not the full token) and WindowGroupLimit rows were
    # counted as windows too (ADVICE r12).
    "window": r"^\s*(?:[:+\- ]*)\*?\(?\d*\)?\s*Window(?!GroupLimit)",
    "codegen": r"WholeStageCodegen",
    "scan": r"Scan parquet|FileScan parquet",
    "ckpt_scan": r"Scan ExistingRDD",
}


def plan_str(spark, df, mode: str) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default="/tmp/plan_audit.tsv")
    ap.add_argument("--dump", nargs="*", default=[])
    ap.add_argument("--dump-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--only", nargs="*", default=[])
    args = ap.parse_args(argv)
    if args.dump and not args.dump_dir:
        ap.error("--dump needs --dump-dir")

    from kube_etl_spark.registry import all_specs
    from kube_etl_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    if args.dump:
        os.makedirs(args.dump_dir, exist_ok=True)

    rows = []
    failures = []
    specs = all_specs()
    names = args.only or sorted(specs)
    for name in names:
        spec = specs[name]
        try:
            df = spec.fn(spark, args.sf)
            simple = plan_str(spark, df, "simple")
        except Exception as exc:  # noqa: BLE001 - audit must finish the sweep
            failures.append((name, repr(exc)[:200]))
            continue
        counts = {
            key: len(re.findall(pat, simple, flags=re.MULTILINE))
            for key, pat in NODE_PATTERNS.items()
        }
        counts["plan_chars"] = len(simple)
        counts["bench"] = int(bool(getattr(spec, "bench", False)))
        rows.append((name, counts))
        if name in args.dump:
            dump_path = os.path.join(args.dump_dir, f"{name}_{args.suffix}.txt")
            with open(dump_path, "w") as f:
                f.write(plan_str(spark, df, "formatted"))

    keys = list(NODE_PATTERNS) + ["plan_chars", "bench"]
    rows.sort(key=lambda r: (-r[1]["shuffle_ex"], r[0]))
    with open(args.out, "w") as f:
        f.write("query\t" + "\t".join(keys) + "\n")
        for name, counts in rows:
            f.write(name + "\t" + "\t".join(str(counts[k]) for k in keys) + "\n")
    print(f"wrote {len(rows)} rows to {args.out}; {len(failures)} failures")
    for name, err in failures:
        print(f"FAIL {name}: {err}")
    spark.stop()


if __name__ == "__main__":
    main()
