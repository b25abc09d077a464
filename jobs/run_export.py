#!/usr/bin/env python
"""spark-submit entrypoint for the one-shot export job (the `kube-etl
export` analog — see deploy/k8s/export-job.yaml and docs/kubernetes.md).

    spark-submit ... run_export.py --input <tables-dir> --output <out-dir>

On a cluster, --input/--output are object-store URIs (s3a://, gs://);
locally they default to the test fixtures.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default="/root/testdata/sf0.001")
    ap.add_argument("--output", required=True)
    ap.add_argument(
        "--serialization",
        choices=("json", "yaml"),
        default="json",
        help="payload format; yaml matches the reference's sigs.Marshal output",
    )
    ap.add_argument(
        "--zip",
        action="store_true",
        help="also materialize the one-file-per-object tree and zip it "
        "into <output>.zip — the reference CLI's exact deliverable "
        "(`kube-etl export --output output.zip`, pkg/sink/zip.go). The "
        "interop path for control-plane-sized exports; the partitioned "
        "dataset remains the data-scale artifact",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from kube_etl_spark.plans.export_job import materialize_tree, run_export
    from kube_etl_spark.session import configure

    owned = SparkSession.getActiveSession() is None
    spark = configure(SparkSession.builder.appName("kube-etl-export").getOrCreate())
    counts = run_export(spark, args.input, args.output, serialization=args.serialization)
    stats = {"exported": counts, "output": args.output}
    if args.zip:
        tree = args.output.rstrip("/") + ".tree"
        n = materialize_tree(
            spark.read.schema("path string, payload string")
            .json(args.output)
            .select("path", "payload"),
            tree,
            archive=True,
        )
        stats["zip"] = tree + ".zip"
        stats["zip_entries"] = n
    print(json.dumps(stats))
    if owned:  # don't tear down a session we joined (tests)
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
