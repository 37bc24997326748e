#!/usr/bin/env python
"""Spark jobs per catalog query, cold and warm.

Usage: python tools/jobs_census.py <sf_dir> <q1,q2,...>

Each query runs ``RUNS`` times in one process: catalog call plus a
full ``noop`` write, so every output column is computed.
Jobs are read from the scheduler's job-id counter around each run, so
every job submitted counts, the micro-batch jobs a stream runs under
its own job group included. The first run is the cold count (index
builds, footer-schema pins and other per-process caches are paid
there); the last run is the warm count. The session is
``local[CORES]`` with as many shuffle partitions.

Prints one ``query  cold  warm`` line per query, then one JSON line
``{query: [cold, warm]}``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the census protocol: local[3], 3 shuffle partitions, warm = 3rd run
RUNS = 3
CORES = 3


def census(spark, sf_dir: str, names: list[str]) -> dict:
    from agrobr_spark.queries import catalog

    cat = catalog()
    next_job_id = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    out = {}
    for name in names:
        counts = []
        for _ in range(RUNS):
            j0 = next_job_id()
            cat[name].fn(spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            counts.append(next_job_id() - j0)
        out[name] = [counts[0], counts[-1]]
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("queries", help="comma-separated catalog query names")
    args = ap.parse_args()
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    from agrobr_spark.session import get_spark

    spark = get_spark(
        app_name="jobs-census",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        res = census(spark, args.sf_dir, args.queries.split(","))
    finally:
        spark.stop()
    for name, (cold, warm) in res.items():
        print(f"{name:32s} {cold:5d} {warm:5d}")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
