#!/usr/bin/env python
"""spark-submit entry point: checkpointed transcript-table validation.

Usage (cluster):
  zip -r gx_spark.zip great_expectations_spark
  spark-submit --py-files gx_spark.zip jobs/validate_transcripts.py \
      --table iceberg_catalog.db.transcripts \
      --partition-column day \
      --checkpoint-dir /ckpt/transcripts \
      --suite suites/transcripts.json \
      --strategy checkpoint

Local smoke (synthesized deterministic transcripts):
  python jobs/validate_transcripts.py --synthesize 5000 \
      --checkpoint-dir /tmp/ckpt --strategy grouped

  NOTE: the synthesized corpus deliberately PLANTS violations (duplicate
  (conv_id, turn_idx) pairs, off-vocabulary roles, referential gaps), so
  a smoke run correctly reports success=false on some partitions — the
  engine finding the planted dirt is the expected outcome.

Strategies (both run the same grouped pass over the partitions):
  checkpoint — run_checkpoint: chunked, with manifest resume and stored
               per-partition results; rerun to resume.  ``--concurrency``
               is passed as ``max_concurrency``, which has no effect.
  grouped    — validate_by_partition: every partition in one pass, no
               manifest.

Emits one JSON line per run with per-partition lineage + throughput.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", help="catalog table (e.g. iceberg db.tbl)")
    ap.add_argument("--path", help="parquet/delta path instead of --table")
    ap.add_argument("--synthesize", type=int, default=0,
                    help="generate N deterministic conversations instead")
    ap.add_argument("--partition-column", default="day")
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--suite", help="suite JSON path (default: built-in)")
    ap.add_argument("--strategy", choices=["checkpoint", "grouped"],
                    default="checkpoint")
    ap.add_argument("--concurrency", type=int, default=4)
    ap.add_argument("--result-format", default="SUMMARY")
    ap.add_argument("--results-table", help="parquet path for the flattened "
                                            "results table")
    ap.add_argument("--docs-dir", help="write per-partition markdown "
                                       "reports (Data-Docs-lite) here")
    ap.add_argument("--store-results-dir", help="store full result JSON "
                                                "per partition here")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("gx-spark-validate-transcripts")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )

    import great_expectations_spark as gx
    from great_expectations_spark.datagen.transcripts import (
        default_suite,
        generate_transcripts,
    )

    if args.synthesize:
        df = generate_transcripts(spark, args.synthesize)
    elif args.table:
        df = spark.table(args.table)
    elif args.path:
        df = gx.load_batch(spark, gx.BatchSpec(path=args.path))
    else:
        ap.error("one of --table/--path/--synthesize is required")

    if args.suite:
        with open(args.suite) as f:
            suite = gx.ExpectationSuite.from_json(f.read())
    else:
        suite = default_suite()

    actions = []
    if args.docs_dir:
        from great_expectations_spark.render.markdown import RenderDocsAction

        actions.append(RenderDocsAction(args.docs_dir))
    if args.store_results_dir:
        from great_expectations_spark.checkpoint.actions import (
            StoreValidationResultAction,
        )

        actions.append(StoreValidationResultAction(args.store_results_dir))

    t0 = time.perf_counter()
    if args.strategy == "checkpoint":
        summary = gx.run_checkpoint(
            df,
            suite,
            args.partition_column,
            args.checkpoint_dir,
            result_format=args.result_format,
            max_concurrency=args.concurrency,
            actions=actions or None,
        )
        out = {
            "strategy": "checkpoint",
            "success": summary["success"],
            "partitions_total": summary["partitions_total"],
            "partitions_validated_now": summary["partitions_validated_now"],
            "partitions_skipped_resume": summary["partitions_skipped_resume"],
            "failures": summary["failures"],
            "wall_sec": round(time.perf_counter() - t0, 2),
        }
    else:
        results = gx.validate_by_partition(
            df, suite, args.partition_column
        )
        if args.results_table:
            gx.write_results(spark, results, args.results_table)
        rows = sum(
            max(
                (r.result.get("element_count") or 0)
                for r in sr.results
            )
            for sr in results.values()
        )
        wall = time.perf_counter() - t0
        out = {
            "strategy": "grouped",
            "success": all(sr.success for sr in results.values()),
            "partitions_total": len(results),
            "rows": rows,
            "rows_per_sec": round(rows / wall, 1) if wall else None,
            "wall_sec": round(wall, 2),
        }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
