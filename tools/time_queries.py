"""Time a list of registered queries with the bench's methodology.

Usage: python tools/time_queries.py q1 q2 ...  (SPARK_GRAFT_SF_DIR / _CPUS
as in bench.py). Per query: tools/timing.median3 (gc.collect before each
run, 4 consecutive noop-sink runs, first discarded, median of last 3). The
frozen canary (lineitem scan+aggregate, same as bench.py) runs first and
last so two invocations of this script can be host-normalized. Prints one
JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from azeroth_data_platform_spark.session import get_spark  # noqa: E402
from tools import timing  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    spark = get_spark("time_queries")
    timing.warm(spark, SF_DIR)
    out: dict[str, float] = {"_canary_pre": timing.canary(spark, SF_DIR)}
    for q in sys.argv[1:]:
        build = timing.query(spark, SF_DIR, q)
        out[q], times = timing.median3(lambda: timing.run_once(build))
        print(f"# {q}: median {out[q]:.3f} raw {times}", file=sys.stderr, flush=True)
    out["_canary_post"] = timing.canary(spark, SF_DIR)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
