"""Steadiness self-check: run the benchmark on several seeds per workload and
report, per end-to-end metric, the median and the spread (distance between
the first and third quartile as a share of the median).

    python3 perfbench/selfcheck.py --seeds 1-10 --out perfbench/results/selfcheck-a.json
    python3 perfbench/selfcheck.py --seeds 11-20 --out perfbench/results/selfcheck-b.json \
        --against perfbench/results/selfcheck-a.json

Runs are sequential, one process at a time, from the checkout root. Every
run's record and result lines are kept in the output file. The check fails
(exit 1) if a run fails or is incorrect, if a spread other than setup_s's
exceeds the metric's bound in BENCHMARK.json, or, with ``--against``, if a
median is worse than the other set's by more than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return (q3 - q1) / med if med else float("inf")


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--workloads", default="", help="comma list; default: BENCHMARK.json's")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--against", help="an earlier output file to compare the medians with")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    runs, summary = [], {}
    for w in workloads:
        values: dict[str, list[float]] = {}
        for seed in seed_range(args.seeds):
            cmd = [
                sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                "--trace", str(args.trace),
            ]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            lines = p.stdout.strip().splitlines()
            run = {"workload": w, "seed": seed, "rc": p.returncode, "wall_s": time.time() - t0}
            if p.returncode == 0 and len(lines) >= 2:
                run["record"] = json.loads(lines[-2])
                run["result"] = json.loads(lines[-1])
                for k, v in run["result"]["metrics"].items():
                    values.setdefault(k, []).append(v["value"])
            else:
                run["stderr_tail"] = p.stderr[-2000:]
            runs.append(run)
            print(json.dumps({k: run[k] for k in ("workload", "seed", "rc", "wall_s")}
                             | {"metrics": {k: v["value"] for k, v in run.get("result", {}).get("metrics", {}).items()}}),
                  flush=True)
        summary[w] = {
            k: {"median": statistics.median(v), "spread": spread(v), "n": len(v)}
            for k, v in values.items()
            if len(v) >= 2
        }
        done = [r for r in runs if r["workload"] == w and "record" in r]
        steal = [r["record"]["env"]["steal_pct"] for r in done]
        lat = [r["result"]["metrics"]["op_p50_s"]["value"] for r in done if not args.trace]
        summary[w]["host"] = {
            "steal_pct_median": statistics.median(steal) if steal else None,
            "steal_pct_max": max(steal, default=None),
            # how much of the op latency spread the hypervisor's steal explains
            "steal_vs_op_p50_correlation": (
                statistics.correlation(steal, lat) if len(lat) >= 3 else None
            ),
            "run_wall_s_median": statistics.median(r["wall_s"] for r in done) if done else None,
        }
    earlier = None
    if args.against:
        with open(args.against) as f:
            earlier = json.load(f)["summary"]
    problems = verdict(runs, summary, bench, earlier)
    out = {"summary": summary, "problems": problems, "runs": runs}
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(summary, indent=1))
    for p in problems:
        print("FAIL:", p)
    return 1 if problems else 0


def verdict(runs, summary, bench, earlier) -> list[str]:
    """What keeps the runs from passing the steadiness check."""
    problems = [
        f"{r['workload']} seed {r['seed']}: "
        + ("exit code %d" % r["rc"] if "result" not in r else "incorrect output")
        for r in runs
        if "result" not in r or not r["result"]["correct"]
    ]
    for spec in bench["end_to_end"]:
        name, bound = spec["name"], spec["bound"]
        for w, metrics in summary.items():
            if name not in metrics:
                continue
            s = metrics[name]
            if name != "setup_s" and s["spread"] > bound:
                problems.append(f"{w} {name}: spread {s['spread']:.3f} > bound {bound}")
            if earlier and name in earlier.get(w, {}):
                before = earlier[w][name]["median"]
                worse = (s["median"] - before) / before
                if spec["better"] == "higher":
                    worse = -worse
                if worse > bound:
                    problems.append(
                        f"{w} {name}: median {worse:+.3f} worse than the earlier set, bound {bound}"
                    )
    return problems


if __name__ == "__main__":
    sys.exit(main())
