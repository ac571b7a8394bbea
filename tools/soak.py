"""Sustained-load soak runner: live medallion vs the reference's 4,000
events/s baseline (reference README.md:10).

    python tools/soak.py --rate 4000 --duration 60

Prints one JSON line (same contract style as bench.py).  Results are
recorded in SCALE.md ("sustained-load soak" section).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

# Runnable as `python tools/soak.py` without PYTHONPATH: sys.path[0] is
# tools/, not the repo root (same shim as the other tools/ CLIs).
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streaming_spark.session import build_session  # noqa: E402
from kafka_streaming_spark.streaming.soak import soak_medallion  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rate", type=int, default=4000, help="rows/s target")
    ap.add_argument("--duration", type=float, default=60.0, help="live seconds")
    ap.add_argument("--groups", type=int, default=64)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] threads and shuffle partitions; default: this process's CPUs")
    args = ap.parse_args()

    spark = build_session(
        app_name="kss-soak",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
        streaming=True,
        extra_conf={"spark.ui.enabled": "false"},
    )
    root = tempfile.mkdtemp(prefix="kss_soak_")
    try:
        metrics = soak_medallion(
            spark,
            f"{root}/tables",
            rows_per_second=args.rate,
            duration_sec=args.duration,
            n_groups=args.groups,
        )
        print(json.dumps(metrics, sort_keys=True))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
