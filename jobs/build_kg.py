"""spark-submit entry point for the KG pipeline (SURVEY.md §3.3 analog of
bin/feedparser.js: stdin->JSON-lines CLI becomes spark-submit job).

Usage:
    spark-submit --py-files pipeline.zip jobs/build_kg.py \
        --input /path/transcripts.parquet --output /path/kg \
        [--buckets 32] [--master local[8]] [--no-resume]

Prints a single JSON summary line (run id, snapshot, counts, phase timings,
wall seconds, and the decisions the build made: the distinct surface
count, mapping_bytes and clustered_write, input_bytes and the
exchange_partitions sized from them).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--strict", action="store_true",
                    help="fail on first unextractable turn "
                         "(reference resume_saxerror:false)")
    ap.add_argument("--max-text-bytes", type=int, default=None,
                    help="clamp turn text at this many UTF-8 bytes, emitting "
                         "an overflow error row to metrics (reference "
                         "MAX_BUFFER_LENGTH, default 16 MiB; 0 = unlimited)")
    ap.add_argument("--strict-ingest", action="store_true",
                    help="refuse (instead of warn) when an incoming conv_id "
                         "is already committed under a different snapshot "
                         "in the output dir — the stale-corpus collision "
                         "validate_kg would otherwise catch post-hoc")
    ap.add_argument("--no-normalize", action="store_true",
                    help="raw mode: no canonical text repair on dirty rows "
                         "(reference normalize:false)")
    args = ap.parse_args()

    from node_feedparser_spark.plans.pipeline import build_kg
    from node_feedparser_spark.session import get_spark

    spark = get_spark(
        app="build_kg",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    t0 = time.monotonic()
    cap_kw = {}
    if args.max_text_bytes is not None:
        if args.max_text_bytes < 0:
            raise SystemExit(
                "--max-text-bytes must be >= 0 (0 = unlimited), got "
                f"{args.max_text_bytes}"
            )
        cap_kw["max_text_bytes"] = args.max_text_bytes or None
    summary = build_kg(
        spark,
        args.input,
        args.output,
        n_buckets=args.buckets,
        resume=not args.no_resume,
        fail_fast=args.strict,
        normalize=not args.no_normalize,
        strict_ingest=args.strict_ingest,
        **cap_kw,
    )
    summary["wall_s"] = round(time.monotonic() - t0, 3)
    summary["master"] = spark.sparkContext.master
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
