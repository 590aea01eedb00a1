"""End-of-round gate, run ON HEAD, recorded WITH the commit hash.

VERDICT r5 #3: two broken queries shipped because 671 lines landed AFTER
the recorded gate runs. This tool makes the closing ritual mechanical:

  1. refuses to run on a dirty tree (the gate must describe a commit);
  2. runs the ROADMAP Tier-1 pytest command (TIER1 below, FAILED and
     ERROR lines both count against it) and the full differential harness
     (`tools/parity.py --all` at sf0.01 — every registered + legacy query
     vs its DuckDB oracle);
  3. writes GATE.md with `git rev-parse HEAD`, the pass/fail counts, and
     timestamps — the judge can re-run both commands against that exact
     commit and reproduce the numbers.

Run: python tools/gate.py [sf_dir]          (default /root/testdata/sf0.01)
The ONLY commit allowed after a gate run is the one that records GATE.md
itself (plus driver-written round artifacts).
"""

from __future__ import annotations

import datetime as dt
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# ROADMAP "Tier-1 verify", verbatim: all cores, a fixed Spark scratch dir,
# no cache provider, and collection errors reported instead of aborting
TIER1 = (
    "export SPARK_GRAFT_CPUS=\"$(env -u OMP_NUM_THREADS nproc)\""
    " SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest"
    " tests/ -q --continue-on-collection-errors -p no:cacheprovider"
)


def _run(cmd: list[str]) -> tuple[int, str, float]:
    t0 = time.time()
    p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
    out = (p.stdout or "") + (p.stderr or "")
    return p.returncode, out, round(time.time() - t0, 1)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    dirty = subprocess.run(
        ["git", "status", "--porcelain"], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()
    if dirty:
        print("REFUSED: working tree is dirty — commit first, then gate:")
        print(dirty)
        return 2
    head = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()

    # Registry-density refusal (r11 verdict #6): the driver records 50
    # rows per round and the staleness bound is <=2 rounds, so a registry
    # past 150 (= 50 slots x 3-round window) can NEVER satisfy
    # tests/test_rotation.py no matter how the head is ordered. Refuse at
    # the source so the failure reads "demote before adding", not as a
    # confusing stale-set assertion three rounds later.
    sys.path.insert(0, REPO)
    from azeroth_data_platform_spark import harness

    n_registry = len(harness.QUERIES)
    if n_registry > 150:
        print(
            f"REFUSED: driver registry has {n_registry} queries; the "
            "50-slot head with max-staleness<=2 supports at most 150. "
            "Demote to the legacy registry (ALL_QUERIES) before adding."
        )
        return 2

    print(f"gating HEAD={head} against {sf_dir} ... (registry {n_registry}/150)")
    rc_t, out_t, sec_t = _run(["bash", "-c", TIER1])
    tail_t = "\n".join(out_t.strip().splitlines()[-3:])
    m = re.search(r"(\d+) passed", out_t)
    n_pass = int(m.group(1)) if m else 0
    n_fail = len(re.findall(r"^(?:FAILED|ERROR) ", out_t, re.M))

    rc_p, out_p, sec_p = _run(
        [sys.executable, "tools/parity.py", "--all", sf_dir]
    )
    mp = re.search(r"(\d+) failures", out_p)
    parity_fail = int(mp.group(1)) if mp else -1
    n_ok = len(re.findall(r"^OK ", out_p, re.M))

    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    ok = rc_t == 0 and rc_p == 0 and n_fail == 0 and parity_fail == 0
    with open(os.path.join(REPO, "GATE.md"), "w") as f:
        f.write(
            f"""# Gate record

- commit: `{head}`
- when: {stamp}
- sf_dir: `{sf_dir}`
- pytest (Tier-1): **{n_pass} passed, {n_fail} failed or errored** (rc={rc_t}, {sec_t}s)
- parity --all: **{n_ok} OK, {parity_fail} failures** (rc={rc_p}, {sec_p}s)
- verdict: **{"GREEN" if ok else "RED"}**

Reproduce: `git checkout {head}`, then `{TIER1}` and
`python tools/parity.py --all {sf_dir}`

Artifact-state dependency: tests/test_rotation.py derives the stale set
from the CORRECTNESS_r*.json files PRESENT IN THE TREE — it is green at
this commit's artifact state and is EXPECTED to turn red the moment the
driver drops the next round's CORRECTNESS file (that red is the rotation
forcing function, resolved by the next round's first commit, not an
engine regression).

pytest tail:
```
{tail_t}
```

The only commit allowed after this run is the one recording this file.
"""
        )
    print(f"pytest: {n_pass} passed / {n_fail} failed or errored ({sec_t}s)")
    print(f"parity --all: {n_ok} OK / {parity_fail} failures ({sec_p}s)")
    print(f"GATE.md written for {head}: {'GREEN' if ok else 'RED'}")
    # the gate commit message is GENERATED from the numbers GATE.md
    # records, never hand-typed (r10 verdict #7: a commit message said
    # 506/0 while GATE.md and the judge both counted 505) — commit with:
    msg = (
        f"Record {'green' if ok else 'RED'} gate for HEAD {head[:7]} "
        f"(pytest {n_pass}/{n_fail}, parity {n_ok}/{n_ok + parity_fail})"
    )
    print(f'commit with exactly:\n  git commit -am "{msg}"')
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
