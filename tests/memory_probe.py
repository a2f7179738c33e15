"""Subprocess probe for the chunked-assembly OOM bound.

Runs ONE pathological conversation (``--turns`` turns, one conv_id)
through flat ``assemble_conversations`` or ``assemble_conversations_chunked``
inside a deliberately small JVM (``--driver-memory``). Prints ``PROBE_OK``
on success; an OOM kills the JVM (nonzero exit) — the parent test
asserts flat dies where chunked survives.

Run via subprocess only: spark.driver.memory must be set before the JVM
launches, so this cannot share the test session.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=["flat", "chunked"], required=True)
    ap.add_argument("--turns", type=int, default=2_000_000)
    ap.add_argument("--driver-memory", default="600m")
    ap.add_argument("--chunk-size", type=int, default=4096)
    ap.add_argument("--text-len", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from mistral_ocr_app_spark.session import get_spark

    # serial GC and a fixed processor count keep the OOM boundary from
    # moving with host load: under the default G1 collector the flat
    # probe once survived 650m while another Spark job loaded every core
    spark = get_spark(
        cores=4,
        app_name=f"memory_probe_{args.mode}",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": args.driver_memory,
            "spark.driver.extraJavaOptions":
                "-XX:+UseSerialGC -XX:ActiveProcessorCount=4",
        },
    )
    from mistral_ocr_app_spark.operators.assemble import (
        assemble_conversations,
        assemble_conversations_chunked,
    )

    turns = spark.range(args.turns).select(
        F.lit("the-one-conversation").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.rpad(F.lit("t"), args.text_len, "x").alias("extracted_text"),
    )
    fn = (
        assemble_conversations
        if args.mode == "flat"
        else lambda df: assemble_conversations_chunked(df, chunk_size=args.chunk_size)
    )
    out = fn(turns).select(
        "conv_id", "n_turns", F.length("combined_app").alias("len_app")
    )
    row = out.first()
    print(f"PROBE_OK n_turns={row['n_turns']} len_app={row['len_app']}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
