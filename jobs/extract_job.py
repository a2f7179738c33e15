#!/usr/bin/env python
"""Production entrypoint — run the extraction pipeline via spark-submit.

Packaging (pure-Python engine, no native deps — SURVEY §4.3), from the
repository root:

    zip -qr engine.zip mistral_ocr_app_spark -x '*__pycache__*'
    spark-submit --py-files engine.zip jobs/extract_job.py \\
        --input  /path/to/transcripts_parquet_or_iceberg \\
        --output /path/to/output_dir \\
        --buckets 4096 \\
        [--assemble] [--resume-only] [--audit]

On a cluster, --input can be an Iceberg table path; the job is resumable:
re-submission after a failure skips buckets already committed to
<output>/_lineage (see mistral_ocr_app_spark/plans/lineage.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local/dev runs (python jobs/extract_job.py) — on a cluster the engine
# arrives via --py-files and this is a no-op
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="transcripts table/parquet path")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--buckets", type=int, default=4096,
                    help="lineage work units; size so one bucket's turns fit an executor")
    ap.add_argument("--assemble", action="store_true",
                    help="also write per-conversation assembled documents")
    ap.add_argument("--resume-only", action="store_true",
                    help="report committed/pending bucket counts and exit "
                         "without extracting anything")
    ap.add_argument("--audit", action="store_true",
                    help="run the lineage fingerprint audit on the output "
                         "and exit (nonzero when any committed bucket's "
                         "bytes no longer match their recorded fingerprint)")
    args = ap.parse_args()

    from mistral_ocr_app_spark.operators.assemble import assemble_auto
    from mistral_ocr_app_spark.plans.lineage import (
        committed_lineage,
        pending_transcripts,
        run_extraction_with_lineage,
        verify_lineage,
    )
    from mistral_ocr_app_spark.session import get_spark
    from mistral_ocr_app_spark.sources.io import write_markdown_sink

    spark = get_spark(app_name="transcript_extraction")

    if args.audit:
        bad = verify_lineage(spark, args.output)
        n_bad = bad.count()
        print(json.dumps({
            "audit": True,
            "n_mismatched_buckets": n_bad,
            "buckets": [r["bucket"] for r in bad.select("bucket").collect()][:100],
        }))
        spark.stop()
        return 1 if n_bad else 0

    if args.resume_only:
        lin = committed_lineage(spark, f"{args.output}/_lineage")
        pend = pending_transcripts(
            spark, args.input, f"{args.output}/_lineage", args.buckets
        )
        stats = {
            "resume_only": True,
            "n_committed": lin.count() if lin is not None else 0,
            "n_pending_buckets": pend.select("bucket").distinct().count(),
        }
        print(json.dumps(stats))
        spark.stop()
        return 0

    stats = run_extraction_with_lineage(
        spark, args.input, args.output, n_buckets=args.buckets
    )
    if args.assemble:
        extracted = spark.read.parquet(f"{args.output}/data")
        # extracted is parquet-backed here, so assemble_auto's three
        # traversals re-scan a columnar file, not the extraction UDF; it
        # routes each conversation to the flat or the chunked (OOM-safe)
        # path by its turn count
        assembled = assemble_auto(extracted)
        write_markdown_sink(assembled, f"{args.output}/assembled")
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
