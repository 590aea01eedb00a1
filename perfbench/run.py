"""Product benchmark for the medallion engine.

    python3 perfbench/run.py --workload nightly_batch --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20 --trace 0

Run from the repository root.  One workload per process: stage seeded
inputs, set up (repeated SETUP_REPEATS times; the median is part of
``setup_s``), warm up, run the workload's operations for ``--seconds``,
check every output, and print one JSON object as the last stdout line.
``--trace 1`` runs the workload traced and reports the per-layer metrics
instead (see perfbench/README.md).  ``--scale 4`` stages the medallion
inputs at the reference size instead of a quarter of it.

A run that printed its JSON exits 0; wrong outputs show as
``"correct": false``.  The run exits non-zero without a JSON line when
the engine package is not importable, when no operation succeeded, or
when the run itself breaks.  ``--workload all`` runs each workload in
its own child process and exits 1 if any child failed or reported wrong
outputs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TRACE_DIR = os.path.join(".perfbench_work", "traces")
WORKLOADS = ("nightly_batch", "serve_reads")
SETUP_REPEATS = 3


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _prepare_env(work: str) -> None:
    """Process environment the JVM and the Python workers inherit: the
    repository on the workers' import path, UTC, and every scratch
    directory inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # nproc
    heap = os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    # The heap is committed and touched at start (initial = max, pre-touched),
    # so peak RSS does not depend on when G1 chose to grow the heap: it is the
    # fixed heap plus what the run adds outside it.
    java_opts = f"-Xms{heap} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.local.dir={os.path.join(work, 'spark-local')}",
            f"--conf spark.driver.extraJavaOptions='{java_opts}'",
            "--conf spark.sql.warehouse.dir=" + os.path.join(work, "spark-warehouse"),
            # the traced pass attributes every job and SQL execution of a run
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "pyspark-shell",
        ]
    )


class RssSampler(threading.Thread):
    """Peak resident set of this Python process plus the JVM, from /proc."""

    def __init__(self, pids: list[int], period: float = 0.05):
        super().__init__(daemon=True)
        self.pids, self.period = pids, period
        self.peak_kb = 0
        self._halt = threading.Event()

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in self.pids))
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_kb / 1024.0


def run_one(args: argparse.Namespace) -> int:
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import azeroth_data_platform_spark  # noqa: F401
    except ImportError as exc:
        _log(f"engine package not importable from {ROOT}: {exc}")
        return 2
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(work)

    import workloads
    from azeroth_data_platform_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_start
    rss = RssSampler(
        [os.getpid(), int(spark._jvm.java.lang.ProcessHandle.current().pid())]
    )
    rss.start()
    try:
        wl = workloads.REGISTRY[args.workload](spark, args.seed, args.scale)
        reps = []
        for rep in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup(os.path.join(work, f"setup{rep}"))
            reps.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(reps) + warm_s
        _log(f"session {session_s:.2f}s, staging {[round(t, 2) for t in reps]}, warm-up {warm_s:.2f}s")

        if args.trace:
            from tracer import Tracer

            # a warm workload is timed untraced first, as the overhead's reference
            base = None if wl.once_per_process else wl.run(args.seconds)
            tracer = Tracer(spark, wl)
            tracer.install()
            try:
                run = wl.run(args.seconds, tracer=tracer)
            finally:
                tracer.uninstall()
            layer = tracer.metrics(run, base)  # before the checks run jobs of their own
            tracer.write_spans(os.path.join(ROOT, TRACE_DIR, f"{args.workload}-{args.seed}.jsonl"))
            failures = run.failures + (base.failures if base else [])
            ops = run.ops + (base.ops if base else 0)
        else:
            run = wl.run(args.seconds)
            failures, ops = run.failures, run.ops
        t0 = time.perf_counter()
        try:
            failures += wl.check()
        except Exception as exc:  # noqa: BLE001 — a broken check is a failure
            failures.append(f"check: {type(exc).__name__}: {exc}"[:500])
        _log(f"output checks {time.perf_counter() - t0:.2f}s")
        disk = wl.disk_mb()
        summary = wl.summary()
    finally:
        peak_rss = rss.stop()
        spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    for f in failures[:20]:
        _log(f"FAIL {f}")
    if not run.latencies_ms:
        _log("no operation succeeded")
        return 1
    attempted = max(ops, 1)
    failed = min(len(failures), attempted)
    if args.trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layer.items()}
    else:
        lat = run.latencies_ms
        e2e = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (statistics.median(lat), "ms"),
            "peak_rss_mb": (peak_rss, "MB"),
            "disk_mb": (disk, "MB"),
        }
        _print_table(args.workload, {**e2e, **summary}, len(lat), attempted, failed)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def _stop_jvm() -> None:
    """End the JVM this process launched and wait until it has exited
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)


def _unit(name: str) -> str:
    if name.endswith("_pct"):
        return "%"
    for suffix, unit in (("_ms", "ms"), ("_ms_p50", "ms"), ("_ms_p90", "ms"), ("_s", "s"),
                         ("_mb", "MB")):
        if name.endswith(suffix):
            return unit
    if name.endswith(("ratio", "amp", "per_row")):
        return "ratio"
    return "count"


def _print_table(workload, rows, samples, attempted, failed) -> None:
    print(f"workload {workload}: {samples} timed operations, "
          f"fail_ratio {failed / attempted:.4f} ({failed}/{attempted})")
    for name, (value, unit) in rows.items():
        print(f"  {name:<22} {value:>14.4f} {unit}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="multiplies the auctions created per day (4 = reference size)")
    args = p.parse_args(argv)
    if args.workload != "all":
        return run_one(args)
    ok = True
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        child = subprocess.run(cmd, check=False, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(child.stdout)
        lines = child.stdout.strip().splitlines()
        ok &= child.returncode == 0 and bool(lines) and json.loads(lines[-1])["correct"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
