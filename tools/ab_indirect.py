"""Alternating in-session A/B for the r12b shingle/fps checkpoints on the
INDIRECT consumers (clean_corpus, neardup_clusters, dup_stats...).

The base arm shadows .localCheckpoint on the shingles()/fingerprints()
output with a no-op instance attribute — reverting exactly the new
checkpoints without touching any other checkpoint in the same queries.
Per query: one discarded warm-up per arm (plan compile), then PAIRS
alternating (base, new) runs (tools/timing.run_gc) in the same session —
pairwise deltas cancel the host drift that makes block A/B/A runs
ambiguous.

Usage: python tools/ab_indirect.py [query ...]  (SPARK_GRAFT_SF_DIR as in
bench.py)
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from azeroth_data_platform_spark.operators import dedup  # noqa: E402
from azeroth_data_platform_spark.session import get_spark  # noqa: E402
from tools import timing  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PAIRS = 6

_ORIG_SHINGLES = dedup.shingles
_ORIG_FPS = dedup.simhash_fingerprints


def _no_ck_shingles(documents, n=dedup.SHINGLE_N):
    df = _ORIG_SHINGLES(documents, n)
    df.localCheckpoint = lambda eager=True: df
    return df


def _no_ck_fps(documents):
    df = _ORIG_FPS(documents)
    df.localCheckpoint = lambda eager=True: df
    return df


def set_base() -> None:
    dedup.shingles = _no_ck_shingles
    dedup.simhash_fingerprints = _no_ck_fps


def set_new() -> None:
    dedup.shingles = _ORIG_SHINGLES
    dedup.simhash_fingerprints = _ORIG_FPS


def main() -> None:
    queries = sys.argv[1:] or [
        "tp_clean_corpus",
        "tp_train_sample",
        "dd_cluster_sizes",
        "dd_dup_stats_by_source",
        "dd_neardup_clusters",
    ]
    spark = get_spark("ab_indirect")
    timing.warm(spark, SF_DIR)

    out = {}
    for q in queries:
        build = timing.query(spark, SF_DIR, q)
        runs: dict[str, list[float]] = {"base": [], "new": []}
        for _ in range(PAIRS + 1):
            for arm, setter in (("base", set_base), ("new", set_new)):
                setter()
                runs[arm].append(timing.run_gc(build))
        base, new = runs["base"][1:], runs["new"][1:]
        deltas = [v - b for b, v in zip(base, new)]
        out[q] = {
            "base_median": statistics.median(base),
            "new_median": statistics.median(new),
            "pair_delta_median": statistics.median(deltas),
            "base": base,
            "new": new,
        }
        print(
            f"{q:24s} base={out[q]['base_median']:6.3f} "
            f"new={out[q]['new_median']:6.3f} "
            f"median pair delta={out[q]['pair_delta_median']:+.3f}",
            flush=True,
        )
    set_new()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
