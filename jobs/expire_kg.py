"""spark-submit entry point for snapshot expiry (the Iceberg
expire_snapshots maintenance action, local-FS analog — see
plans/expire.py for the recompute semantics and the graph commit it
lands through).

Usage:
    spark-submit jobs/expire_kg.py --output /path/kg --snapshot snap-...

Prints a single JSON summary line.
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
    ap.add_argument("--output", required=True)
    ap.add_argument("--snapshot", required=True,
                    help="snapshot id to expire (as in triples/snap=<id>)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    args = ap.parse_args()

    from node_feedparser_spark.plans.expire import expire_snapshot
    from node_feedparser_spark.session import get_spark

    spark = get_spark(
        app="expire_kg",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    t0 = time.monotonic()
    summary = expire_snapshot(spark, args.output, args.snapshot)
    summary["wall_s"] = round(time.monotonic() - t0, 3)
    summary["master"] = spark.sparkContext.master
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
