"""r13 VERDICT #1 "Done =" proof: no pinned-block creep across N
back-to-back runs WITHOUT any gc.collect.

The r12 bench worked around the localCheckpoint leak with a gc.collect
before each timed run (tools/timing.median3). This script deliberately does
NOT collect: it runs each query N times consecutively (timing.run_once) and
reports wall seconds plus the live cached-RDD count and cached storage
bytes after every run. With the r13 lifecycle pool the storage numbers must
stay bounded (≤ pool cap) and times must not creep (r12 measured
ann_pq_codes 3.8 → 10 s over six runs under the old localCheckpoint
pinning).

Usage: python tools/creep_check.py [sf_dir] [n_runs] [query ...]
Defaults: /root/testdata/sf0.1, 6 runs, the r12 creep witness set.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from azeroth_data_platform_spark.session import get_spark  # noqa: E402
from tools import timing  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    names = sys.argv[3:] or ["ann_pq_codes", "dd_minhash_lsh", "x_exact_quantiles"]
    spark = get_spark("creep_check")
    sc = spark.sparkContext
    timing.warm(spark, sf_dir)
    for name in names:
        print(f"--- {name} (NO gc.collect between runs) ---")
        for i in range(n):
            sec = timing.run_once(timing.query(spark, sf_dir, name))
            infos = sc._jsc.sc().getRDDStorageInfo()
            mem = sum(x.memSize() for x in infos)
            disk = sum(x.diskSize() for x in infos)
            print(
                f"run {i}: {sec:7.3f} s | cached RDDs {len(infos):3d}"
                f" | mem {mem / 1e6:8.1f} MB | disk {disk / 1e6:8.1f} MB"
            )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
