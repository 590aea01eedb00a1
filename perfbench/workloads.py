"""The benchmark workloads.

Each workload stages its seeded inputs in ``setup`` (called several
times; the last call's state is what ``run`` uses), runs its unit
operation in a loop for a fixed time in ``run``, and checks the engine's
outputs in ``check``.  Every timed step is guarded: an exception is
recorded as a failure and the run goes on.

Unit operation per workload:
  nightly_batch  one nightly run: ``run_pipeline`` on one bronze dump, then
                 the availableNow catch-up replays of the ticks (candles)
                 and the events (sessions); a traced night also runs
                 ``run_corpus_pipeline``
  serve_reads    one API request
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime as dt
import math
import os
import shutil
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen

CPUS = len(os.sched_getaffinity(0))  # what nproc reports


@dataclasses.dataclass
class Run:
    """Outcome of one timed window: latencies of the unit operations that
    succeeded, one message per failure, the guarded steps attempted and
    the unit operations attempted."""

    latencies_ms: list[float] = dataclasses.field(default_factory=list)
    failures: list[str] = dataclasses.field(default_factory=list)
    ops: int = 0
    units: int = 0


def _guard(run: Run, what: str, fn, *args):
    """Run one step; an exception becomes a recorded failure (None)."""
    run.ops += 1
    t0 = time.perf_counter()
    try:
        out = fn(*args)
    except Exception as exc:  # noqa: BLE001 — every failure is counted
        run.failures.append(f"{what}: {type(exc).__name__}: {exc}"[:500])
        traceback.print_exc()
        return None, time.perf_counter() - t0
    return out, time.perf_counter() - t0


def _spans(tracer):
    """The tracer's span factory, or one that opens no span."""
    if tracer is not None:
        return tracer.span
    return lambda *_a, **_k: contextlib.nullcontext()


def _loop(seconds: float, step) -> Run:
    """Run ``step(run)`` until the window closes.  An operation is started
    only if the previous one would still fit; there is always at least one."""
    run = Run()
    end = time.perf_counter() + seconds
    last = 0.0
    while run.units == 0 or time.perf_counter() + last <= end:
        t0 = time.perf_counter()
        if step(run) is False:
            break
        last = time.perf_counter() - t0
    return run


def _dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 2**20


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


class Workload:
    name = ""
    once_per_process = False  # the unit operation runs once per process, after set-up

    def __init__(self, spark, seed: int, scale: float = 1.0):
        self.spark, self.seed, self.scale = spark, seed, scale
        self.dir = ""

    def _fresh(self, d: str) -> None:
        if self.dir:  # the previous set-up repetition's state is dropped
            shutil.rmtree(self.dir, ignore_errors=True)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        self.dir = d

    def summary(self) -> dict[str, tuple[float, str]]:
        return {}


# --------------------------------------------------------------------------
# nightly_batch


def _ts(iso: str) -> dt.datetime:
    """Progress watermark (ISO, UTC) as the naive UTC datetime collect() gives."""
    return dt.datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ")


def gold_stage(spark, warehouse: str, tables=None) -> None:
    """The pipeline's gold stage over the warehouse's silver and dim: each
    GOLD_JOBS table (or each of ``tables``) written by
    ``merge.overwrite_partitions``, as ``run_pipeline`` writes it."""
    from pyspark.sql import functions as F

    from azeroth_data_platform_spark.plans.pipeline import GOLD_JOBS
    from azeroth_data_platform_spark.sources import merge

    silver = spark.read.parquet(os.path.join(warehouse, "silver_auctions"))
    dim = spark.read.parquet(os.path.join(warehouse, "dim_items"))
    for name, job in GOLD_JOBS.items():
        if tables is None or name in tables:
            merge.overwrite_partitions(
                spark,
                os.path.join(warehouse, name),
                job(silver, dim).withColumn("p_date", F.col("snapshot_date")),
                "p_date",
            )


class NightlyBatch(Workload):
    """The product's scheduled batch, each night in order: one daily bronze
    dump through ``run_pipeline`` against a warehouse restored to
    HISTORY_DAYS of silver history and the gold tables the previous night
    wrote; two availableNow catch-up replays over event-time-ordered
    chunks (hourly candles into the exactly-once candle sink, then the
    stateful sessionizer into a parquet sink), each from a fresh
    checkpoint.  A traced night then runs ``run_corpus_pipeline`` into a
    fresh directory, so that the corpus layers report; an untraced night
    leaves it out, because the time budget of a full benchmark round
    cannot hold it.  A nightly run is a scheduled job in a fresh process:
    it runs once per process, after set-up."""

    name = "nightly_batch"
    once_per_process = True

    def setup(self, d: str) -> None:
        self._fresh(d)
        inputs = os.path.join(d, "in")
        self.staged = gen.stage_medallion(self.seed, inputs, self.scale)
        self.streams = gen.stage_streams(self.seed, inputs)
        self.docs = gen.stage_documents(self.seed, inputs)
        self.warehouse = os.path.join(d, "warehouse")
        shutil.copytree(self.staged["seed_warehouse"], self.warehouse)
        self.schemas = {
            src: self.spark.read.parquet(os.path.join(self.streams[src], "b01")).schema
            for src in ("ticks", "events")
        }
        self.nights: list[dict] = []

    def warmup(self) -> None:
        """The previous night's gold tables, so that the timed night
        replaces gold partitions as a real night does."""
        gold_stage(self.spark, self.warehouse)

    # -- the night's jobs ------------------------------------------------------

    def _day(self, k: int):
        from azeroth_data_platform_spark.plans.pipeline import run_pipeline

        return run_pipeline(
            self.spark,
            self.staged["dumps"][k],
            self.warehouse,
            self.staged["days"][k],
            gen.fetch_item,
            gen.RETENTION_DAYS,
        )

    def _replay(self, src, build, sink, ckpt):
        stream = (
            self.spark.readStream.schema(self.schemas[src])
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(self.streams[src], "b*"))
        )
        w = (
            build(stream).writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
        )
        q = w.foreachBatch(sink).start() if callable(sink) else w.format("parquet").start(sink)
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def _catch_up(self, base: str) -> dict:
        from azeroth_data_platform_spark.streaming import ohlc, sinks, stateful

        out = {"candles": os.path.join(base, "candles"),
               "sessions": os.path.join(base, "sessions")}
        t0 = time.perf_counter()
        qc = self._replay("ticks", ohlc.streaming_hourly_ohlc,
                          sinks.candle_sink(out["candles"]),
                          os.path.join(base, "ckpt_candles"))
        t1 = time.perf_counter()
        qs = self._replay("events", stateful.streaming_sessions,
                          out["sessions"], os.path.join(base, "ckpt_sessions"))
        t2 = time.perf_counter()
        out.update(candle_s=t1 - t0, session_s=t2 - t1, queries={"candles": qc, "sessions": qs},
                   wm={"candles": qc.lastProgress["eventTime"]["watermark"],
                       "sessions": qs.lastProgress["eventTime"]["watermark"]})
        return out

    def _corpus(self, out_dir: str) -> dict:
        from azeroth_data_platform_spark.functions import lifecycle
        from azeroth_data_platform_spark.plans.corpus_pipeline import run_corpus_pipeline

        try:
            return run_corpus_pipeline(self.spark, self.docs, out_dir)
        finally:
            lifecycle.release_all()

    def _night(self, run: Run, tracer=None) -> bool:
        k = len(self.nights)
        if k >= len(self.staged["days"]):
            return False  # every staged dump has been replayed
        run.units += 1
        span = _spans(tracer)
        base = os.path.join(self.dir, f"night{k}")
        night = {"base": base}
        t0 = time.perf_counter()
        with span("night", night=k):
            with span("day", night=k):
                night["day"], night["day_s"] = _guard(
                    run, f"day {self.staged['days'][k]}", self._day, k
                )
            with span("stream", night=k):
                night["stream"], _ = _guard(
                    run, f"stream catch-up {k}", self._catch_up, base
                )
            night["corpus"] = None
            if tracer is not None:
                with span("corpus", night=k):
                    night["corpus"], _ = _guard(
                        run, f"corpus build {k}", self._corpus, os.path.join(base, "corpus")
                    )
        if night["day"] is not None and night["stream"] is not None and (
            tracer is None or night["corpus"] is not None
        ):
            run.latencies_ms.append((time.perf_counter() - t0) * 1000.0)
        self.nights.append(night)
        return True

    def run(self, seconds: float, tracer=None) -> Run:
        return _loop(seconds, lambda run: self._night(run, tracer))

    # -- checks ----------------------------------------------------------------

    def check(self) -> list[str]:
        return self._check_medallion() + self._check_streams() + self._check_corpus()

    def _check_medallion(self) -> list[str]:
        from pyspark.sql import functions as F

        from azeroth_data_platform_spark.plans.pipeline import GOLD_JOBS

        fails = []
        sp = self.spark
        silver = sp.read.parquet(os.path.join(self.warehouse, "silver_auctions"))
        got = {r[0] for r in silver.select("id").collect()}
        want = gen.expected_silver_ids(self.staged, len(self.nights))
        if got != want:
            fails.append(
                f"silver ids: {len(got - want)} unexpected, {len(want - got)} missing"
            )
        dim = sp.read.parquet(os.path.join(self.warehouse, "dim_items"))
        lo = silver.agg(F.min("snapshot_date")).first()[0]
        # rolling windows reach 7 days back: only dates whose whole window
        # lies inside the retained history are comparable
        first_ok = lo + dt.timedelta(days=8)

        def compare(name, job):
            want_df = job(silver, dim).where(F.col("snapshot_date") >= F.lit(first_ok))
            got_df = (
                sp.read.parquet(os.path.join(self.warehouse, name))
                .where(F.col("snapshot_date") >= F.lit(first_ok))
                .select(*want_df.columns)
            )
            # multiset difference both ways in one Spark job: +1 per written
            # row, -1 per recomputed row, summed per distinct row (grouping
            # treats NaN as equal to NaN and null as equal to null)
            tagged = got_df.withColumn("_n", F.lit(1)).unionByName(
                want_df.withColumn("_n", F.lit(-1))
            )
            d = tagged.groupBy(*want_df.columns).agg(
                F.sum("_n").alias("d"), F.sum(F.greatest("_n", F.lit(0))).alias("g")
            )
            extra, missing, n_got = d.agg(
                F.sum(F.greatest("d", F.lit(0))), F.sum(F.greatest(-F.col("d"), F.lit(0))),
                F.sum("g"),
            ).first()
            if extra or missing or not n_got:
                return f"{name}: {extra} extra, {missing} missing rows"
            return None

        # the tables are independent: their comparison jobs run side by side
        with ThreadPoolExecutor(max_workers=CPUS) as pool:
            verdicts = list(pool.map(compare, GOLD_JOBS.keys(), GOLD_JOBS.values()))
        return fails + [v for v in verdicts if v]

    def _check_streams(self) -> list[str]:
        """Candles: no duplicate (item_key, snapshot_hour), and equal to
        batch ``gold.hourly_ohlc`` for every window the final watermark
        closed.  Sessions: equal to a pure-Python gap sessionization, where
        a user's last session is expected only once the watermark passed it."""
        from azeroth_data_platform_spark.operators import gold

        sp = self.spark
        fails = []
        batch = gold.hourly_ohlc(sp.read.parquet(os.path.join(self.streams["ticks"], "b*")))
        cols = ["item_key", "snapshot_hour", "open_price", "close_price",
                "high_price", "low_price", "average_price", "volume"]
        all_candles = sorted(_rows(batch.select(*cols)))
        sessions_all = gen.reference_sessions(self.streams["event_table"])
        for k, night in enumerate(self.nights):
            rd = night["stream"]
            if rd is None:
                continue
            got = _rows(sp.read.parquet(rd["candles"]).select(*cols))
            keys = [(r[0], r[1]) for r in got]
            if len(keys) != len(set(keys)):
                fails.append(f"night {k}: duplicate (item_key, snapshot_hour) candles")
            wm = _ts(rd["wm"]["candles"])
            want = [r for r in all_candles if r[1] + dt.timedelta(hours=1) <= wm]
            if sorted(got) != want:
                fails.append(f"night {k}: {len(got)} candles, {len(want)} expected or values differ")
            got_s = sorted(_rows(sp.read.parquet(rd["sessions"])))
            wm = _ts(rd["wm"]["sessions"])
            want_s = sorted(
                s for s in sessions_all
                if s[4] == "gap" or s[2] + dt.timedelta(seconds=gen.SESSION_GAP_S) < wm
            )
            if got_s != want_s:
                fails.append(f"night {k}: {len(got_s)} sessions, {len(want_s)} expected or values differ")
        return fails

    def _check_corpus(self) -> list[str]:
        """Every build (traced nights only) read every document, packed
        exactly the tokens it sampled, and builds of the same seed agree
        on every count."""
        fails = []
        counts = [
            {k: v for k, v in n["corpus"].items() if k != "stage_sec"}
            for n in self.nights if n["corpus"] is not None
        ]
        if any(c != counts[0] for c in counts[1:]):
            fails.append(f"corpus meta differs across builds: {counts}")
        for c in counts:
            if c["docs_in"] != gen.N_DOCS:
                fails.append(f"corpus read {c['docs_in']} of {gen.N_DOCS} documents")
            if c["packed_tokens"] != c["sampled_tokens"] or c["sampled_docs"] == 0:
                fails.append(f"packed {c['packed_tokens']} != sampled {c['sampled_tokens']}")
        return fails

    def disk_mb(self) -> float:
        """The warehouse plus everything the last night wrote."""
        last = self.nights[-1]["base"] if self.nights else ""
        return _dir_mb(self.warehouse) + (_dir_mb(last) if last else 0.0)

    def summary(self):
        days = [n["day_s"] for n in self.nights if n["day"] is not None]
        streams = [n["stream"] for n in self.nights if n["stream"] is not None]
        c = np.median([s["candle_s"] for s in streams]) if streams else math.nan
        s = np.median([s["session_s"] for s in streams]) if streams else math.nan
        return {
            "ingest_day_s": (float(np.median(days)) if days else math.nan, "s"),
            "candle_rows_per_s": (self.streams["tick_table"].num_rows / c, "rows/s"),
            "session_rows_per_s": (self.streams["event_table"].num_rows / s, "rows/s"),
            "warehouse_mb": (_dir_mb(self.warehouse), "MB"),
        }


# --------------------------------------------------------------------------
# serve_reads

# Open-loop arrival rate.  Once warm, one client alone is served in 120 to
# 250 ms per request on a 4-CPU host, depending on how busy the machine
# is: 4 to 8 requests/s.  2.9/s is about half of that.
RATE_PER_S = 2.9
# Warm-up rounds (every request shape once) per client.  A count, not a
# time: the JIT state reached must not depend on the machine's speed.
WARMUP_ROUNDS = 3
ZIPF_A = 1.3  # item popularity skew for f1/o2


def _o4(t):
    from pyspark.sql import functions as F

    return t.orderBy(F.col("snapshot_date").desc(), F.col("item_id").asc()).limit(100)


def _o6(t):
    from pyspark.sql import functions as F

    return t.orderBy(F.col("snapshot_date").desc()).limit(30)


def _f1(t, item_id):
    from pyspark.sql import functions as F

    return t.where(F.col("item_id") == item_id).orderBy(F.col("snapshot_date").desc())


# op -> (table, Spark request, DuckDB twin); ``p`` is the drawn parameter
SERVE_OPS = {
    "o1": ("gold_market_summary",
           lambda s, t, p: s.latest_daily_summaries(t, limit=100),
           lambda p: "ORDER BY snapshot_date DESC, item_id ASC LIMIT 100"),
    "f1": ("gold_market_summary",
           lambda s, t, p: _f1(t, p),
           lambda p: f"WHERE item_id = {p} ORDER BY snapshot_date DESC"),
    "o2": ("gold_price_history",
           lambda s, t, p: s.item_price_history(t, p, candles=48),
           lambda p: f"WHERE item_key = '{p}' ORDER BY snapshot_hour DESC LIMIT 48"),
    "o3": ("gold_safe_investments",
           lambda s, t, p: s.opportunities(t, recommendation=p),
           lambda p: f"WHERE recommendation = '{p}' "
           "ORDER BY z_score ASC NULLS LAST, item_id ASC, snapshot_date ASC"),
    "o4": ("gold_sales_velocity",
           lambda s, t, p: _o4(t),
           lambda p: "ORDER BY snapshot_date DESC, item_id ASC LIMIT 100"),
    "o5": ("gold_market_concentration",
           lambda s, t, p: s.top_concentration(t, market_status=p, limit=100),
           lambda p: f"WHERE market_status = '{p}' ORDER BY floor_concentration_pct "
           "DESC, item_id ASC, snapshot_date ASC LIMIT 100"),
    "o6": ("gold_market_index",
           lambda s, t, p: _o6(t),
           lambda p: "ORDER BY snapshot_date DESC LIMIT 30"),
    "o7": ("dim_items",
           lambda s, t, p: s.paginate_items(t, skip=p, limit=50),
           lambda p: f"ORDER BY item_id LIMIT 50 OFFSET {p}"),
    "o11": ("dim_items",
            lambda s, t, p: s.keyset_paginate_items(t, after_item_id=p, limit=50),
            lambda p: f"WHERE item_id > {p} ORDER BY item_id LIMIT 50"),
    "o9": ("gold_safe_investments",
           lambda s, t, p: s.best_opportunity(t),
           lambda p: "WHERE z_score IS NOT NULL "
           "ORDER BY z_score ASC, item_id ASC, snapshot_date ASC LIMIT 1"),
    "o14": ("dim_items",
            lambda s, t, p: s.facet_counts(t),
            None),
}


def _norm_value(v):
    if isinstance(v, float) and v != v:
        return "NaN"
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def _norm(rows) -> list[tuple]:
    """Row values comparable across engines: NaN equals NaN, and an
    instant compares as naive UTC (the process runs with TZ=UTC)."""
    return [tuple(_norm_value(v) for v in r) for r in rows]


class ServeReads(Workload):
    """Open-loop API reads against a warehouse built once in set-up."""

    name = "serve_reads"

    def setup(self, d: str) -> None:
        self._fresh(d)
        self.staged = gen.stage_medallion(
            self.seed, os.path.join(d, "in"), self.scale, with_dumps=False
        )
        self.streams = gen.stage_streams(self.seed, os.path.join(d, "in"))
        self.warehouse = os.path.join(d, "warehouse")
        shutil.copytree(self.staged["seed_warehouse"], self.warehouse)
        self.requests: list[tuple] = []

    def build(self) -> None:
        """The served warehouse: the pipeline's gold stage for every table
        the mix reads (each written by ``merge.overwrite_partitions`` over
        the restored silver and dim, as ``run_pipeline`` writes it) plus
        the hourly candle table."""
        from azeroth_data_platform_spark.operators import gold

        sp = self.spark
        gold_stage(sp, self.warehouse, {table for table, *_ in SERVE_OPS.values()})
        ticks = sp.read.parquet(os.path.join(self.streams["ticks"], "b*"))
        gold.hourly_ohlc(ticks).write.mode("overwrite").parquet(
            os.path.join(self.warehouse, "gold_price_history")
        )
        # parameters the mix draws from
        self.items = sorted(gen.expected_items(self.staged))
        self.item_keys = [f"item{k:03d}" for k in range(gen.N_ITEM_KEYS)]
        self.n_dim = sp.read.parquet(os.path.join(self.warehouse, "dim_items")).count()

    def warmup(self) -> None:
        """Build the warehouse, then run WARMUP_ROUNDS of every request
        shape from nproc closed-loop clients: the planner and scan paths
        are still being compiled long after the first request of each shape."""
        self.build()

        def client(k: int) -> None:
            r = np.random.default_rng([self.seed, 9, k])
            for _ in range(WARMUP_ROUNDS):
                for op in SERVE_OPS:
                    self._request(op, self._param(op, r), _spans(None))

        with ThreadPoolExecutor(max_workers=CPUS) as pool:
            for f in [pool.submit(client, k) for k in range(CPUS)]:
                f.result()

    def _param(self, op: str, r: np.random.Generator):
        if op == "f1":
            return int(self.items[(r.zipf(ZIPF_A) - 1) % len(self.items)])
        if op == "o2":
            return self.item_keys[(r.zipf(ZIPF_A) - 1) % len(self.item_keys)]
        if op == "o3":
            return ("BUY", "SELL")[int(r.integers(0, 2))]
        if op == "o5":
            return ("MONOPOLIZED", "CONCENTRATED", "COMPETITIVE", "DISPERSED")[
                int(r.integers(0, 4))
            ]
        if op == "o7":
            return int(r.integers(0, max(self.n_dim // 50, 1))) * 50
        if op == "o11":
            return int(self.items[int(r.integers(0, len(self.items)))])
        return None

    def _request(self, op, param, tracer_span):
        from azeroth_data_platform_spark.operators import serving

        table, spark_q, _ = SERVE_OPS[op]
        with tracer_span("serve.resolve", op=op):
            t = self.spark.read.parquet(os.path.join(self.warehouse, table))
        df = spark_q(serving, t, param)
        with tracer_span("serve.plan", op=op):
            df._jdf.queryExecution().executedPlan()
        with tracer_span("serve.exec", op=op):
            rows = df.collect()
        return list(df.columns), rows

    def run(self, seconds: float, tracer=None) -> Run:
        """Open loop at RATE_PER_S, at most nproc requests in flight.  A
        request's service time runs from its start to its last row; its
        latency runs from its scheduled send time (``self.requests``)."""
        run = Run()
        r = np.random.default_rng([self.seed, 10, len(self.requests)])
        # Poisson arrivals conditioned on their count: about RATE_PER_S *
        # seconds requests at sorted uniform times, rounded to whole blocks
        # of the mix, so every run offers the same load and the same mix
        n = len(SERVE_OPS) * max(1, round(RATE_PER_S * seconds / len(SERVE_OPS)))
        schedule, block = [], []
        for t in np.sort(r.uniform(0.0, seconds, n)):
            if not block:  # equal shares: every shape once per block, seeded order
                block = list(r.permutation(list(SERVE_OPS)))
            op = str(block.pop())
            schedule.append((float(t), op, self._param(op, r)))
        lock = threading.Lock()
        self.late_ms: list[float] = []

        spans = _spans(tracer)

        def one(k, due, op, param):
            try:
                start = time.perf_counter()
                with spans("request", req=k, op=op):
                    cols, rows = self._request(
                        op, param, lambda name, **kw: spans(name, req=k, **kw)
                    )
                done = time.perf_counter()
                with lock:
                    run.latencies_ms.append((done - start) * 1000.0)
                    self.requests.append(
                        (op, param, cols, rows, (done - due) * 1000.0, (done - start) * 1000.0)
                    )
            except Exception as exc:  # noqa: BLE001 — counted, loop goes on
                with lock:
                    run.failures.append(f"{op}({param}): {type(exc).__name__}: {exc}"[:500])

        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=CPUS) as pool:
            futures = []
            for k, (at, op, param) in enumerate(schedule):
                due = t0 + at
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                self.late_ms.append(max(0.0, time.perf_counter() - due) * 1000.0)
                futures.append(pool.submit(one, k, due, op, param))
            for f in futures:
                f.result()
        run.ops = run.units = len(schedule)
        return run

    def check(self) -> list[str]:
        import duckdb

        from azeroth_data_platform_spark.operators import serving

        con = duckdb.connect()
        fails = []
        answers: dict = {}
        for op, param, cols, rows, *_ in self.requests:
            key = (op, param)
            if key not in answers:
                table = SERVE_OPS[op][0]
                path = os.path.join(self.warehouse, table)
                src = (
                    f"read_parquet('{path}/*/*.parquet', hive_partitioning = true)"
                    if table.startswith("gold_") and table != "gold_price_history"
                    else f"read_parquet('{path}/*.parquet')"
                )
                twin = SERVE_OPS[op][2]
                sel = ", ".join(f'"{c}"' for c in cols)
                if twin is None:  # o14 ships its own DuckDB twin
                    sql = serving.facet_counts_sql(f"SELECT * FROM {src}")
                else:
                    sql = f"SELECT {sel} FROM {src} {twin(param)}"
                answers[key] = _norm(con.execute(sql).fetchall())
            if _norm(rows) != answers[key]:
                fails.append(f"{op}({param}): response differs from DuckDB")
        con.close()
        return fails

    def disk_mb(self) -> float:
        return _dir_mb(self.warehouse)

    def summary(self):
        lat = sorted(x[4] for x in self.requests)
        if not lat:
            return {}
        svc = {}
        for r in self.requests:
            svc.setdefault(r[0], []).append(r[5])
        return {
            **{f"service_{op}_p50_ms": (float(np.median(v)), "ms") for op, v in sorted(svc.items())},
            "service_p50_ms": (float(np.median([r[5] for r in self.requests])), "ms"),
            "serve_p50_ms": (float(np.percentile(lat, 50)), "ms"),
            "serve_p75_ms": (float(np.percentile(lat, 75)), "ms"),
            "serve_p90_ms": (float(np.percentile(lat, 90)), "ms"),
            "warehouse_mb": (self.disk_mb(), "MB"),
        }


REGISTRY = {w.name: w for w in (NightlyBatch, ServeReads)}
