"""Per-layer tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side of each layer boundary:
:func:`install` replaces the public functions of the engine's layer
modules with wrappers that open a span while tracing is on. It must run
before ``plans`` is imported, because the plan modules bind names with
``from … import``. Spark work is read afterwards from the status store
(jobs carry a per-(operation, phase) job group), and streaming drains
from a ``StreamingQueryListener``.

Everything is kept in memory and summarised at the end of the run.
"""

from __future__ import annotations

import datetime
import functools
import importlib
import inspect
import json
import sys
import threading
import time
from collections import Counter

from perfbench.stats import outermost, self_time

PKG = "sports_betting_data_pipeline_spark"

# module → layer name used in span names
LAYER_MODULES = {
    f"{PKG}.io": "io",
    f"{PKG}.functions.dedup": "functions.dedup",
    f"{PKG}.functions.similarity": "functions.similarity",
    f"{PKG}.functions.text": "functions.other",
    f"{PKG}.functions.corpus": "functions.other",
    f"{PKG}.functions.odds": "functions.other",
    f"{PKG}.functions.multimodal": "functions.other",
    f"{PKG}.operators.asof": "operators",
    f"{PKG}.operators.flatten": "operators",
    f"{PKG}.operators.layout": "operators",
    f"{PKG}.operators.quantiles": "operators",
    f"{PKG}.operators.relational": "operators",
    f"{PKG}.operators.scd": "operators",
    f"{PKG}.operators.temporal": "operators",
    f"{PKG}.operators.wagers": "operators",
    f"{PKG}.streaming.jobs": "streaming",
    f"{PKG}.sources.rest": "sources",
    f"{PKG}.sinks.sheets": "sinks",
}

# Engine-side writes go through DataFrameWriter; the benchmark's own
# noop consumption calls the unwrapped method (see consume()).
_WRITER_METHODS = ("save", "parquet", "csv", "json", "orc", "text", "saveAsTable", "insertInto")
_ORIG_SAVE = None


class Tracer:
    """Spans (name, start, end, parent, op) and counts, in memory.

    Spans are opened only on the driver's caller thread; while
    ``enabled`` is false every wrapper is a plain pass-through."""

    def __init__(self) -> None:
        self.enabled = False
        self.op: str | None = None
        self.spans: list[list] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []
        self._last_tables: dict = {}

    def begin(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.time(), None, parent, self.op])
        self._stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.time()
        self._stack.pop()

    def wrap(self, layer: str, fn):
        name = f"{layer}.{fn.__name__}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled or threading.current_thread() is not threading.main_thread():
                return fn(*args, **kwargs)
            idx = self.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(idx)
            if fn.__name__ == "load_table":
                # a memo hit hands back the very same DataFrame object
                key = (args[1], args[2]) if len(args) > 2 else None
                self.counts["io.load_table_calls"] += 1
                if key is not None and self._last_tables.get(key) is out:
                    self.counts["io.load_table_hits"] += 1
                self._last_tables[key] = out
            return out

        return traced


def install(tracer: Tracer) -> None:
    """Wrap every public function of the layer modules, and rebind the
    names other engine modules already imported. Must run before the
    plan catalog is imported."""
    if f"{PKG}.plans" in sys.modules:
        raise RuntimeError("install() must run before the plan catalog is imported")
    wrapped = {}
    for modname, layer in LAYER_MODULES.items():
        mod = importlib.import_module(modname)
        for name, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and obj.__module__ == modname and not name.startswith("_"):
                wrapped[obj] = tracer.wrap(layer, obj)
    for modname, mod in list(sys.modules.items()):
        if modname == PKG or modname.startswith(PKG + "."):
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in wrapped:
                    setattr(mod, name, wrapped[obj])

    from pyspark.sql.readwriter import DataFrameWriter

    global _ORIG_SAVE
    _ORIG_SAVE = DataFrameWriter.save
    for meth in _WRITER_METHODS:
        orig = getattr(DataFrameWriter, meth)
        setattr(DataFrameWriter, meth, _writer_wrapper(tracer, orig))
    _wrap_stream_queries(tracer)


def _writer_wrapper(tracer: Tracer, orig):
    @functools.wraps(orig)
    def traced(self, *args, **kwargs):
        if not tracer.enabled or tracer._stack and tracer.spans[tracer._stack[-1]][0] == "io.write":
            return orig(self, *args, **kwargs)
        idx = tracer.begin("io.write")
        try:
            return orig(self, *args, **kwargs)
        finally:
            tracer.end(idx)

    return traced


def _wrap_stream_queries(tracer: Tracer) -> None:
    """Record a ``streaming.query`` span from each streaming query's
    start to the return of its awaitTermination, whichever code starts
    it (run_stream_to_table, or a plan that writes its own stream)."""
    from pyspark.sql.streaming.query import StreamingQuery
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    orig_start, orig_await = DataStreamWriter.start, StreamingQuery.awaitTermination

    @functools.wraps(orig_start)
    def start(self, *args, **kwargs):
        began = time.time()
        query = orig_start(self, *args, **kwargs)
        if tracer.enabled:
            query._perfbench_began = (began, tracer.op)
        return query

    @functools.wraps(orig_await)
    def await_termination(self, *args, **kwargs):
        try:
            return orig_await(self, *args, **kwargs)
        finally:
            began = getattr(self, "_perfbench_began", None)
            if began is not None:
                tracer.spans.append(["streaming.query", began[0], time.time(), None, began[1]])

    DataStreamWriter.start = start
    StreamingQuery.awaitTermination = await_termination


def consume(df) -> None:
    """Force every row through the noop sink (bench.py's measure),
    bypassing the io.write wrapper when tracing is installed."""
    writer = df.write.format("noop").mode("overwrite")
    if _ORIG_SAVE is None:
        writer.save()
    else:
        _ORIG_SAVE(writer)


def execute_planned(df) -> None:
    """Pull every row through the physical plan ``df`` already holds, so
    a traced run whose plan phase called ``queryExecution().executedPlan()``
    does not plan again (a noop write would build a new QueryExecution)."""
    df._jdf.queryExecution().toRdd().count()


def stream_listener():
    """A StreamingQueryListener that keeps every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = json.loads(event.progress.json)
            with self._lock:
                self.progress.append(p)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Listener()


def status_store(spark) -> tuple[list[dict], list[dict]]:
    """All jobs and stages in the Spark status store, as dicts."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(
        getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
    )
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(
                None, False, False, sc._gateway.new_array(jvm.double, 0),
                jvm.java.util.ArrayList(),
            )
        )
    )
    return jobs, stages


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _is_streaming_job(job: dict) -> bool:
    return "runId =" in (job.get("description") or "")


def summarize(
    tracer: Tracer,
    phases: list[tuple[str, str, float, float]],
    jobs: list[dict],
    stages: list[dict],
    progress: list[dict],
    cores: int,
    group_prefix: str,
) -> dict[str, float]:
    """Per-layer metrics of the traced runs (one per operation).

    ``phases`` holds (op, phase, start, end) for the construct, plan and
    execute phase of every traced operation; jobs are matched to them by
    job group ``<group_prefix><op>|<phase>``."""
    spans = [s for s in tracer.spans if s[2] is not None]

    def intervals(prefix: str) -> list[tuple[float, float]]:
        return outermost([(s[1], s[2]) for s in spans if s[0].startswith(prefix)])

    def total(ivs) -> float:
        return sum(e - s for s, e in ivs)

    ours = [j for j in jobs if (j.get("jobGroup") or "").startswith(group_prefix)]
    job_iv = {
        j["jobId"]: (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
        for j in ours if j.get("submissionTime") and j.get("completionTime")
    }
    stage_by_id = {}
    for st in stages:
        if st["status"] in ("COMPLETE", "FAILED"):
            stage_by_id.setdefault(st["stageId"], []).append(st)

    def jobs_within(ivs) -> list[dict]:
        return [
            j for j in ours
            if j["jobId"] in job_iv and any(s <= job_iv[j["jobId"]][0] <= e for s, e in ivs)
        ]

    def stage_sum(js, field) -> float:
        seen, acc = set(), 0.0
        for j in js:
            for sid in j["stageIds"]:
                if sid in seen:
                    continue
                seen.add(sid)
                acc += sum(st.get(field, 0) for st in stage_by_id.get(sid, ()))
        return acc

    m: dict[str, float] = {}
    # -- plans: construction, with drains attributed to streaming --------
    # a drain: run_stream_to_table, or any other streaming query run to its end
    drains = outermost(intervals("streaming.run_stream_to_table") + intervals("streaming.query"))
    construct = [(s, e) for op, ph, s, e in phases if ph == "construct"]
    construct_jobs = [
        j for j in ours
        if j["jobGroup"].endswith("|construct") and not _is_streaming_job(j)
    ]
    cj_iv = [job_iv[j["jobId"]] for j in construct_jobs if j["jobId"] in job_iv]
    m["plans.construct_s"] = sum(self_time(span, drains) for span in construct)
    m["plans.construct_self_s"] = sum(self_time(span, drains + cj_iv) for span in construct)
    m["plans.construct_jobs"] = len(construct_jobs)
    # -- spark -------------------------------------------------------------
    exec_wall = sum(e - s for op, ph, s, e in phases if ph == "execute")
    m["spark.plan_s"] = sum(e - s for op, ph, s, e in phases if ph == "plan")
    m["spark.exec_s"] = exec_wall
    m["spark.jobs"] = len(ours)
    sids = {sid for j in ours for sid in j["stageIds"] if sid in stage_by_id}
    m["spark.stages"] = len(sids)
    m["spark.tasks"] = stage_sum(ours, "numCompleteTasks")
    m["spark.task_run_s"] = stage_sum(ours, "executorRunTime") / 1e3
    m["spark.task_cpu_s"] = stage_sum(ours, "executorCpuTime") / 1e9
    m["spark.gc_s"] = stage_sum(ours, "jvmGcTime") / 1e3
    exec_jobs = [j for j in ours if j["jobGroup"].endswith("|execute")]
    m["spark.slot_busy_frac"] = (
        stage_sum(exec_jobs, "executorRunTime") / 1e3 / (exec_wall * cores) if exec_wall else 0.0
    )
    m["spark.input_bytes"] = stage_sum(ours, "inputBytes")
    m["spark.shuffle_read_bytes"] = stage_sum(ours, "shuffleReadBytes")
    m["spark.shuffle_write_bytes"] = stage_sum(ours, "shuffleWriteBytes")
    m["spark.spill_bytes"] = stage_sum(ours, "memoryBytesSpilled") + stage_sum(ours, "diskBytesSpilled")
    m["spark.output_bytes"] = stage_sum(ours, "outputBytes")
    m["spark.failed_tasks"] = stage_sum(ours, "numFailedTasks")
    # -- io ----------------------------------------------------------------
    calls = tracer.counts["io.load_table_calls"]
    m["io.load_table_calls"] = calls
    m["io.load_table_s"] = total(intervals("io.load_table"))
    m["io.table_cache_hit_frac"] = tracer.counts["io.load_table_hits"] / calls if calls else 0.0
    m["io.widen_calls"] = sum(1 for s in spans if s[0] == "io.widen_for_compute")
    m["io.widen_s"] = total(intervals("io.widen_for_compute"))
    m["io.write_s"] = total(intervals("io.write"))
    # -- functions / operators --------------------------------------------
    for key in ("dedup", "similarity"):
        ivs = intervals(f"functions.{key}.")
        m[f"functions.{key}_s"] = total(ivs)
        m[f"functions.{key}_jobs"] = len(jobs_within(ivs))
    m["functions.other_s"] = total(intervals("functions.other."))
    m["operators.call_s"] = total(intervals("operators."))
    # -- streaming: progress of the batches run inside traced drains --------
    progress = [
        p for p in progress
        if any(s <= _epoch(p["timestamp"]) <= e for s, e in drains)
    ]
    last = {}
    for p in progress:
        last[p["runId"]] = p
    batch_s = sum(p.get("batchDuration", 0) for p in progress) / 1e3
    dur = [p.get("durationMs") or {} for p in progress]
    m["streaming.drains"] = len(drains)
    m["streaming.drain_s"] = total(drains)
    m["streaming.batches"] = len(progress)
    m["streaming.batch_s"] = batch_s
    m["streaming.overhead_s"] = total(drains) - batch_s
    m["streaming.add_batch_s"] = sum(d.get("addBatch", 0) for d in dur) / 1e3
    m["streaming.commit_s"] = sum(d.get("commitOffsets", 0) + d.get("walCommit", 0) for d in dur) / 1e3
    m["streaming.input_rows"] = sum(p.get("numInputRows", 0) for p in progress)
    m["streaming.state_rows"] = sum(
        so.get("numRowsTotal", 0) for p in last.values() for so in p.get("stateOperators") or ()
    )
    m["streaming.state_bytes"] = sum(
        so.get("memoryUsedBytes", 0) for p in last.values() for so in p.get("stateOperators") or ()
    )
    # -- sources / sinks -----------------------------------------------------
    sink_ivs = intervals("sinks.")
    append_ivs = intervals("sinks.sheet_append")
    append_tasks = sum(j["numTasks"] for j in jobs_within(append_ivs))
    m["sources.ingest_s"] = total(intervals("sources."))
    m["sources.rows"] = tracer.counts["sources.rows"]
    m["sinks.append_s"] = total(sink_ivs)
    m["sinks.rows"] = tracer.counts["sinks.rows"]
    m["sinks.bytes"] = tracer.counts["sinks.bytes"]
    m["sinks.batch_calls"] = tracer.counts["sinks.batch_calls"]
    m["sinks.parts_per_task"] = tracer.counts["sinks.parts"] / append_tasks if append_tasks else 0.0
    return m
