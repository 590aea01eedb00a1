"""Scale-growth probe runner: time ALL_QUERIES entries at a base SF dir
and at a gen_scale.py-generated multiple of it, print one JSON line per
query plus a summary — the reusable form of the r8 100x flagship probe
(PERF.md "100x scale probe"; methodology: one warm JVM, single run per
query per size, base first). Uses the bench's session (session.get_spark)
and its growth loop (tools/timing.growth), so the numbers are comparable
with bench.py's scaling section.

Run:  python tools/probe_scale.py <base_sf_dir> <scaled_dir> <query...>
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from azeroth_data_platform_spark.session import get_spark  # noqa: E402
from tools import timing  # noqa: E402


def main() -> None:
    base_dir, scaled_dir, *names = sys.argv[1:]
    spark = get_spark("probe_scale")
    timing.warm(spark, base_dir)
    out = {}
    for name in names:
        rec, _ = timing.growth(
            [name],
            lambda q: timing.run_once(timing.query(spark, base_dir, q)),
            lambda q: timing.run_once(timing.query(spark, scaled_dir, q)),
        )
        out.update(rec)
        print(json.dumps(rec), flush=True)
    print(json.dumps({"probe": {"base": base_dir, "scaled": scaled_dir, "queries": out}}))
    spark.stop()


if __name__ == "__main__":
    main()
