"""Outside-in tracer for the benchmark's traced pass.

The engine is not edited: ``install`` swaps public module attributes
(``merge.insert_if_absent``, ``pipeline.read_bronze_auctions``, the
``GOLD_JOBS`` entries, ``lifecycle.materialize`` wherever it was
imported, ...) for wrappers that open a span around the original call,
and ``uninstall`` puts the originals back.

Every span runs under its own Spark job group, so the jobs and stages it
triggered are attributed to it afterwards through the status store; SQL
executions are attributed through their job ids, which gives scan
counters (files read, rows scanned) and the bronze-JSON parse count.
Spans stay in memory and are written as JSON lines when the run ends.
Spark is lazy: an operator's execution cost lands in the span of the
sink that triggers it, and is reported where it was measured.

The tracer's own work (the extra count job behind ``merge.insert_ratio``,
the partition digests behind ``merge.partitions_changed``, the file
listings behind ``merge.files_written``) runs in ``trace.probe`` spans
under a job group of its own: it is no layer's self time, and
``pipeline.run_s``, ``driver.py_cpu_s`` and the Spark totals leave it out.
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import json
import os
import statistics
import threading
import time
from collections import defaultdict

import pyarrow.parquet as pq

from workloads import SERVE_OPS

# (module, attribute, span name) wrapped for the traced pass
WRAPPED = (
    ("plans.pipeline", "run_pipeline", "pipeline.run_pipeline"),
    ("plans.pipeline", "read_bronze_auctions", "readers.read_bronze_auctions"),
    ("operators.silver", "silver_transform", "silver.silver_transform"),
    ("operators.joins", "missing_item_ids", "joins.missing_item_ids"),
    ("sources.rest", "enrich_items", "rest.enrich_items"),
    ("sources.merge", "insert_if_absent", "merge.insert_if_absent"),
    ("sources.merge", "upsert", "merge.upsert"),
    ("sources.merge", "overwrite_partitions", "merge.overwrite_partitions"),
    ("sources.merge", "retention_delete", "merge.retention_delete"),
    ("plans.corpus_pipeline", "run_corpus_pipeline", "corpus_pipeline.run"),
    ("operators.dedup", "remove_repeated_spans", "dedup.remove_repeated_spans"),
    ("operators.corpus", "line_dedup", "corpus.line_dedup"),
    ("operators.corpus", "clean_corpus", "corpus.clean_corpus"),
    ("operators.corpus", "decontaminate", "corpus.decontaminate"),
    ("operators.corpus", "stratified_sample", "corpus.stratified_sample"),
    ("operators.corpus", "pack_contents", "corpus.pack_contents"),
    ("operators.corpus", "global_shuffle", "corpus.global_shuffle"),
    ("sources.writers", "write_training_shards", "writers.write_training_shards"),
    ("sources.writers", "write_packed_corpus", "writers.write_packed_corpus"),
    ("streaming.sinks", "candle_sink", "stream.candle_sink"),
)
# imported by name into many operator modules: wrapped wherever bound
EVERYWHERE = (
    ("functions.lifecycle", "materialize", "lifecycle.materialize"),
    ("functions.lifecycle", "release", "lifecycle.release"),
)
PKG = "azeroth_data_platform_spark"
# the keys of ``run_corpus_pipeline``'s ``stage_sec``
CORPUS_STAGES = ("0_read", "1_pii_scrub", "2_span_dedup", "2b_line_dedup",
                 "3_4_clean_decontaminate", "5_sample", "6_pack",
                 "6b_global_shuffle", "7_report_seqlen")
STREAM_PHASES = ("triggerExecution", "addBatch", "queryPlanning", "walCommit",
                 "commitOffsets")


def _module(name: str):
    import importlib

    return importlib.import_module(f"{PKG}.{name}")


def _files(path: str) -> list[str]:
    out = []
    for base, _, files in os.walk(path):
        out += [os.path.join(base, f) for f in files if f.endswith(".parquet")]
    return out


def _new_files(path: str, since_ns: int) -> list[str]:
    return [f for f in _files(path) if os.stat(f).st_mtime_ns >= since_ns]


def _partition_digests(path: str) -> dict[str, str]:
    """Content digest per hive partition: the sorted rows of its files."""
    out = {}
    if not os.path.isdir(path):
        return out
    for part in sorted(os.listdir(path)):
        pdir = os.path.join(path, part)
        if "=" not in part or not os.path.isdir(pdir):
            continue
        rows = []
        for f in _files(pdir):
            rows += [repr(tuple(r.values())) for r in pq.read_table(f).to_pylist()]
        out[part] = hashlib.sha1("\n".join(sorted(rows)).encode()).hexdigest()
    return out


class Span:
    __slots__ = ("id", "name", "parent", "thread", "start", "end", "attrs", "group")

    def to_json(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    def __init__(self, spark, workload):
        self.spark, self.wl = spark, workload
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple] = []
        self.run_id = f"pb{os.getpid()}"
        self._probe_group = f"{self.run_id}-probe"
        self._probe_cpu = 0.0
        conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
        self._conv = conv
        self._jobs_before = self._max_job()
        self._execs_before = self._max_exec()
        self._cpu0 = time.process_time()
        # nights that predate the traced window
        self._nights0 = len(getattr(workload, "nights", []))

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        s = Span()
        s.id = next(self._ids)
        s.name, s.attrs = name, attrs
        s.parent = stack[-1].id if stack else None
        s.thread = threading.get_ident()
        s.group = group or f"{self.run_id}-{s.id}"
        stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(stack[-1].group, stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)

    @contextlib.contextmanager
    def probe(self):
        """A span for the tracer's own work, under the probe job group."""
        c0 = time.process_time()
        try:
            with self.span("trace.probe", group=self._probe_group) as s:
                yield s
        finally:
            self._probe_cpu += time.process_time() - c0

    # -- wrappers ------------------------------------------------------------

    def _wrap(self, fn, name):
        tracer = self
        hook = getattr(self, "_on_" + name.replace(".", "_"), None)

        def wrapper(*args, **kwargs):
            if hook is not None:
                return hook(fn, name, *args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self) -> None:
        import sys

        for mod, attr, name in WRAPPED:
            m = _module(mod)
            orig = getattr(m, attr)
            self._saved.append((m, attr, orig))
            setattr(m, attr, self._wrap(orig, name))
        pipeline = _module("plans.pipeline")
        self._saved_gold = dict(pipeline.GOLD_JOBS)
        for table, job in self._saved_gold.items():
            pipeline.GOLD_JOBS[table] = self._wrap(job, f"gold.{table}.build")
        for mod, attr, name in EVERYWHERE:
            orig = getattr(_module(mod), attr)
            wrapped = self._wrap(orig, name)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(PKG) and getattr(m, attr, None) is orig:
                    self._saved.append((m, attr, orig))
                    setattr(m, attr, wrapped)

    def uninstall(self) -> None:
        for m, attr, orig in reversed(self._saved):
            setattr(m, attr, orig)
        self._saved.clear()
        _module("plans.pipeline").GOLD_JOBS.update(self._saved_gold)

    # hooks: spans plus the counters measured at the same boundary

    def _merge_write(self, fn, name, spark, target, *args, **kwargs):
        t_ns = time.time_ns()
        with self.span(name, target=os.path.basename(target)):
            out = fn(spark, target, *args, **kwargs)
        with self.probe():
            new = _new_files(target, t_ns)
            self.counts["merge.files_written"] += len(new)
            self.counts["merge.bytes_written"] += sum(os.path.getsize(f) for f in new)
        return out, new

    def _on_merge_insert_if_absent(self, fn, name, spark, target, batch, *a, **k):
        with self.probe():
            self.counts["merge.batch_rows"] += batch.count()
        n, new = self._merge_write(fn, name, spark, target, batch, *a, **k)
        self.counts["merge.rows_inserted"] += n
        if os.path.basename(target) == "silver_auctions":
            self.counts["merge.silver_bytes_inserted"] += sum(os.path.getsize(f) for f in new)
        return n

    def _on_merge_upsert(self, fn, name, spark, target, *a, **k):
        return self._merge_write(fn, name, spark, target, *a, **k)[0]

    def _on_merge_retention_delete(self, fn, name, spark, target, *a, **k):
        n = self._merge_write(fn, name, spark, target, *a, **k)[0]
        self.counts["merge.retention_rows_deleted"] += n
        return n

    def _on_merge_overwrite_partitions(self, fn, name, spark, target, *a, **k):
        with self.probe():
            before = _partition_digests(target)
        t_ns = time.time_ns()
        table = os.path.basename(target)
        with self.span(f"gold.{table}.write"):
            out, new = self._merge_write(fn, name, spark, target, *a, **k)
        with self.probe():
            after = _partition_digests(target)
            self.counts["merge.partitions_rewritten"] += len(
                {os.path.basename(os.path.dirname(f)) for f in new}
            )
            self.counts["merge.partitions_changed"] += sum(
                1 for p, d in after.items() if before.get(p) != d
            )
        return out

    def _on_rest_enrich_items(self, fn, name, fetch, item_ids, *a, **k):
        self.counts["rest.items_fetched"] += len(item_ids)
        with self.span(name):
            return fn(fetch, item_ids, *a, **k)

    def _on_lifecycle_materialize(self, fn, name, *a, **k):
        with self.span(name):
            out = fn(*a, **k)
        pool = _module("functions.lifecycle").pool_size()
        self.counts["lifecycle.pool_high_water"] = max(
            self.counts["lifecycle.pool_high_water"], pool
        )
        return out

    def _on_stream_candle_sink(self, fn, name, target):
        inner = fn(target)
        tracer = self

        def _write(batch_df, epoch_id):
            with tracer.span("stream.candle_sink.call", epoch=epoch_id):
                return inner(batch_df, epoch_id)

        return _write

    # -- Spark status store ----------------------------------------------------

    def _jobs(self):
        store = self.sc._jsc.sc().statusStore()
        return list(self._conv.asJava(store.jobsList(None)))

    def _max_job(self) -> int:
        return max((j.jobId() for j in self._jobs()), default=-1)

    def _max_exec(self) -> int:
        store = self.spark._jsparkSession.sharedState().statusStore()
        return max(
            (e.executionId() for e in self._conv.asJava(store.executionsList())), default=-1
        )

    def _stage_totals(self, stage_ids) -> dict[str, float]:
        store = self.sc._jsc.sc().statusStore()
        t = defaultdict(float)
        for sid in stage_ids:
            try:
                d = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — evicted or never attempted
                continue
            if str(d.status()) != "COMPLETE":
                continue
            t["stages"] += 1
            t["tasks"] += d.numCompleteTasks()
            t["executor_cpu_s"] += d.executorCpuTime() / 1e9
            t["executor_run_s"] += d.executorRunTime() / 1e3
            t["gc_s"] += d.jvmGcTime() / 1e3
            t["input_mb"] += d.inputBytes() / 2**20
            t["shuffle_write_mb"] += d.shuffleWriteBytes() / 2**20
            t["spill_mb"] += (d.memoryBytesSpilled() + d.diskBytesSpilled()) / 2**20
            t["output_mb"] += d.outputBytes() / 2**20
        return t

    def _executions(self):
        """(job ids, scan json?, files read, rows scanned) per SQL execution
        of the traced window."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        conv = self._conv
        out = []
        for e in conv.asJava(store.executionsList()):
            eid = e.executionId()
            if eid <= self._execs_before:
                continue
            jobs = [int(j) for j in conv.asJava(e.jobs().keySet())]
            vals = {
                int(x.getKey()): x.getValue()
                for x in conv.asJava(store.executionMetrics(eid)).entrySet()
            }
            json_scan, files, rows = False, 0, 0
            for node in conv.asJava(store.planGraph(eid).allNodes()):
                name = node.name()
                if not name.startswith("Scan"):
                    continue
                json_scan |= name.startswith("Scan json")
                for m in conv.asJava(node.metrics()):
                    v = vals.get(int(m.accumulatorId()))
                    if v is None:
                        continue
                    if m.name() == "number of files read":
                        files += int(v.replace(",", ""))
                    elif m.name() == "number of output rows":
                        rows += int(v.replace(",", ""))
            out.append((jobs, json_scan, files, rows))
        return out

    # -- metrics ---------------------------------------------------------------

    def metrics(self, run, base=None) -> dict[str, float]:
        """Per-layer metrics of the traced window, per unit operation (per
        night or per request) unless the name says otherwise.  ``base`` is
        an untraced window of the same workload, when it has one."""
        ops = max(run.units, 1)
        group_of = {}
        all_stages = []
        for j in self._jobs():
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            if j.jobId() <= self._jobs_before or group == self._probe_group:
                continue
            group_of[j.jobId()] = group
            all_stages += list(self._conv.asJava(j.stageIds()))
        by_group = defaultdict(list)
        for jid, g in group_of.items():
            by_group[g].append(jid)

        by_id = {s.id: s for s in self.spans}
        children = defaultdict(list)
        for s in self.spans:
            children[s.parent].append(s)

        def ancestors(s):
            while s.parent is not None and s.parent in by_id:
                s = by_id[s.parent]
                yield s

        probes = [s for s in self.spans if s.name == "trace.probe"]
        probe_in = defaultdict(float)  # tracer time inside each span
        for p in probes:
            for a in ancestors(p):
                probe_in[a.id] += p.end - p.start

        def spans(name):
            return [s for s in self.spans if s.name == name]

        def wall(name):
            return sum(s.end - s.start - probe_in[s.id] for s in spans(name)) / ops

        def njobs(name):
            return sum(len(by_group[s.group]) for s in spans(name)) / ops

        def self_time(s):
            covered, edge = 0.0, s.start
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, edge), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            return (s.end - s.start) - covered

        m: dict[str, float] = {}
        t = self._stage_totals(all_stages)
        m["spark.jobs"] = len(group_of) / ops
        for k in ("stages", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
                  "input_mb", "shuffle_write_mb", "spill_mb", "output_mb"):
            m[f"spark.{k}"] = t[k] / ops
        m["driver.py_cpu_s"] = (time.process_time() - self._cpu0 - self._probe_cpu) / ops

        pipe = spans("pipeline.run_pipeline")
        m["pipeline.run_s"] = wall("pipeline.run_pipeline")
        m["pipeline.self_s"] = sum(self_time(s) for s in pipe) / ops
        m["pipeline.self_jobs"] = njobs("pipeline.run_pipeline")
        for name in ("readers.read_bronze_auctions", "silver.silver_transform",
                     "joins.missing_item_ids", "rest.enrich_items",
                     "merge.retention_delete", "lifecycle.materialize"):
            m[f"{name}.wall_s"] = wall(name)
        for name in ("merge.insert_if_absent", "merge.upsert", "merge.overwrite_partitions"):
            m[f"{name}.wall_s"] = wall(name)
            m[f"{name}.jobs"] = njobs(name)
        c = self.counts
        m["merge.insert_ratio"] = c["merge.rows_inserted"] / c["merge.batch_rows"] if c["merge.batch_rows"] else 0.0
        for k in ("partitions_rewritten", "partitions_changed", "files_written", "retention_rows_deleted"):
            m[f"merge.{k}"] = c[f"merge.{k}"] / ops
        m["merge.write_amp"] = (
            c["merge.bytes_written"] / c["merge.silver_bytes_inserted"]
            if c["merge.silver_bytes_inserted"] else 0.0
        )
        gold_tables = list(self._saved_gold)
        m["gold.build_s"] = sum(wall(f"gold.{t}.build") for t in gold_tables)
        for table in gold_tables:
            m[f"gold.{table}.write_s"] = wall(f"gold.{table}.write")
        m["rest.items_fetched"] = c["rest.items_fetched"] / ops
        m["lifecycle.materialize.calls"] = len(spans("lifecycle.materialize")) / ops
        m["lifecycle.release.calls"] = len(spans("lifecycle.release")) / ops
        m["lifecycle.pool_high_water"] = c["lifecycle.pool_high_water"]

        # SQL executions → the spans (day or request) whose jobs ran them
        root_names = {s.group: {s.name, *(a.name for a in ancestors(s))} for s in self.spans}
        parses = 0
        req_files, req_rows = 0, 0
        for job_ids, json_scan, files, rows in self._executions():
            names = set().union(*(root_names.get(group_of.get(j), set()) for j in job_ids))
            parses += json_scan and "day" in names
            if "request" in names:
                req_files += files
                req_rows += rows
        m["readers.bronze_parses"] = parses / ops
        self._serve_metrics(m, spans, by_group, root_names, req_files, req_rows)
        self._stream_metrics(m, wall, spans)
        self._corpus_metrics(m, wall)

        if base is not None:  # traced minus untraced, on the median operation
            m["trace.overhead_pct"] = 100.0 * (
                statistics.median(run.latencies_ms) / statistics.median(base.latencies_ms) - 1.0
            )
        else:  # one cold operation per process: its traced-only work is the probes
            units = sum(s.end - s.start for s in spans("night"))
            tracer_s = sum(p.end - p.start for p in probes)
            m["trace.overhead_pct"] = 100.0 * tracer_s / max(units - tracer_s, 1e-9)
        return m

    def _serve_metrics(self, m, spans, by_group, root_names, req_files, req_rows) -> None:
        reqs = spans("request")
        n_req = max(len(reqs), 1)
        served = getattr(self.wl, "requests", [])[-len(reqs):] if reqs else []
        returned = sum(len(x[3]) for x in served)
        for op in SERVE_OPS:
            d = [1000 * (s.end - s.start) for s in reqs if s.attrs.get("op") == op]
            m[f"serve.{op}.p50_ms"] = statistics.median(d) if d else 0.0
        for part in ("resolve", "plan", "exec"):
            m[f"serve.{part}_ms"] = 1000 * sum(
                s.end - s.start for s in spans(f"serve.{part}")
            ) / n_req
        m["serve.jobs_per_req"] = sum(
            len(jobs) for g, jobs in by_group.items() if "request" in root_names.get(g, ())
        ) / n_req
        m["serve.files_read_per_req"] = req_files / n_req
        m["serve.rows_examined_per_row"] = req_rows / returned if returned else 0.0
        # latency from the scheduled send time, as the API's users see it
        lat = [x[4] for x in served]
        m["serve.p90_ms"] = (
            statistics.quantiles(lat, n=10, method="inclusive")[8] if len(lat) > 1 else 0.0
        )
        late = getattr(self.wl, "late_ms", [])
        m["loadgen.late_ms_p90"] = (
            statistics.quantiles(late, n=10, method="inclusive")[8] if len(late) > 1 else 0.0
        )

    def _nights(self) -> list[dict]:
        return getattr(self.wl, "nights", [])[self._nights0:]

    def _stream_metrics(self, m, wall, spans) -> None:
        """Micro-batch phases and state-store figures from each catch-up
        query's recentProgress."""
        rounds = [n["stream"] for n in self._nights() if n["stream"] is not None]
        n = max(len(rounds), 1)
        for q in ("candles", "sessions"):
            progress = [p for r in rounds for p in r["queries"][q].recentProgress]
            m[f"stream.{q}.batches"] = len(progress) / n
            for phase in STREAM_PHASES:
                vals = [p["durationMs"][phase] for p in progress if phase in p["durationMs"]]
                key = "trigger" if phase == "triggerExecution" else phase
                m[f"stream.{q}.{key}_ms_p50"] = statistics.median(vals) if vals else 0.0
            state = [o for p in progress for o in p["stateOperators"]]
            m[f"stream.{q}.state_commit_ms"] = sum(o["commitTimeMs"] for o in state) / n
            m[f"stream.{q}.state_rows"] = (
                sum(o["numRowsTotal"] for o in progress[-1]["stateOperators"]) if progress else 0
            )
            m[f"stream.{q}.state_mem_mb"] = max(
                (o["memoryUsedBytes"] for o in state), default=0
            ) / 2**20
        m["stream.candle_sink.calls"] = len(spans("stream.candle_sink.call")) / n
        m["stream.candle_sink.wall_s"] = wall("stream.candle_sink.call")

    def _corpus_metrics(self, m, wall) -> None:
        """Stage times the corpus run returns, and the corpus operator and
        writer spans."""
        metas = [n["corpus"] for n in self._nights() if n["corpus"] is not None]
        for stage in CORPUS_STAGES:
            vals = [x["stage_sec"].get(stage, 0.0) for x in metas]
            m[f"corpus_pipeline.{stage}_s"] = statistics.mean(vals) if vals else 0.0
        for mod, _, name in WRAPPED:
            if mod in ("operators.dedup", "operators.corpus", "sources.writers"):
                m[f"{name}.wall_s"] = wall(name)

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                rec = s.to_json()
                rec["start"] -= t0
                rec["end"] -= t0
                fh.write(json.dumps(rec, default=str) + "\n")
