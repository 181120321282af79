"""Traced runs: spans around the engine layers' public functions, and
Spark job/stage counters per pass read from the status store.

The tracer patches each listed function in its defining module and in
every ``alerta_spark`` module that bound the same object at import
(``from x import f``), and class methods on the class. Each call
becomes a span (name, layer, start, end, parent, pass) kept in memory.
A span that can run Spark jobs also sets a job group, so the jobs it
triggers are attributed to its layer. Layer self time is a span's
duration minus its child spans.
"""

from __future__ import annotations

import importlib
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

# (layer, module, attribute); "Class.method" patches the class
TARGETS = [
    ("sources", "alerta_spark.sources.lake", "load_partitioned_events"),
    ("sources", "alerta_spark.sources.lake", "partition_window"),
    ("sources", "alerta_spark.sources.lake", "load_table_stream"),
    ("dialect", "alerta_spark.dialect", "trino_to_spark"),
    ("dialect", "alerta_spark.rules", "load_rules"),
    ("dialect", "alerta_spark.rules", "threshold_shell"),
    ("dialect", "alerta_spark.rules", "deadman_shell"),
    ("dialect", "alerta_spark.rules", "sequence_shell"),
    ("threshold", "alerta_spark.operators.threshold", "threshold_alerts"),
    ("deadman", "alerta_spark.operators.deadman", "deadman_alerts"),
    ("dedup", "alerta_spark.operators.dedup", "remove_previously_alerted"),
    ("dedup", "alerta_spark.operators.dedup", "alerted_event_ids"),
    ("dedup", "alerta_spark.state", "DocStore.alerted_ids"),
    ("sequence.start", "alerta_spark.operators.sequence", "process_sequence_alert"),
    ("sequence.resume", "alerta_spark.operators.sequence", "process_sequence_slot_batched"),
    ("sequence.finalize", "alerta_spark.operators.sequence_frames", "finalize_sequences_frames"),
    ("state.append", "alerta_spark.state", "DocStore.append"),
    ("state.append", "alerta_spark.state", "DocStore.append_frame"),
    ("state.append", "alerta_spark.state", "DocStore.append_rows"),
    ("state.append", "alerta_spark.state", "SlotEventStore.append_frame"),
    ("state.rewrite", "alerta_spark.state", "DocStore.overwrite"),
    ("state.rewrite", "alerta_spark.state", "DocStore.overwrite_frame"),
    ("state.rewrite", "alerta_spark.state", "DocStore.upsert_many"),
    ("state.rewrite", "alerta_spark.state", "DocStore.upsert_rows"),
    ("state.rewrite", "alerta_spark.state", "SlotEventStore.prune"),
    ("state.rewrite", "alerta_spark.state", "SlotEventStore.prune_frame"),
    ("state.compact", "alerta_spark.state", "DocStore.compact"),
    ("ckpt", "alerta_spark.ckpt", "checkpoint"),
]
IMPORTERS = ["alerta_spark.engine", "alerta_spark.cli"]
PASS = "pass"
# per-layer metric -> the span layer whose self time it reports
SELF_TIME = {
    "sources.s": "sources",
    "dialect.s": "dialect",
    "threshold.build_s": "threshold",
    "deadman.build_s": "deadman",
    "dedup.s": "dedup",
    "sequence.start_s": "sequence.start",
    "sequence.resume_s": "sequence.resume",
    "sequence.finalize_s": "sequence.finalize",
    "state.append_s": "state.append",
    "state.rewrite_s": "state.rewrite",
    "state.compact_s": "state.compact",
    "ckpt.s": "ckpt",
    "engine.self_s": PASS,
}
# layers whose functions never start a Spark job: no job group needed
PURE = {"dialect"}


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int  # index into Tracer.spans, -1 for none
    pass_id: int


class Tracer:
    """Owns the patches, the spans and the per-pass Spark counters.

    ``enabled`` switches span recording per pass, so one run can
    alternate traced and untraced passes and price the tracing."""

    def __init__(self, spark, store_probe=None):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counts: dict[tuple[int, str], float] = defaultdict(float)
        self.enabled = False
        self.pass_id = -1
        # pass id -> (epoch start, epoch end, traced)
        self.walls: dict[int, tuple[float, float, bool]] = {}
        # pass id -> (store probe before, after); see Workload.store_probe
        self.store_probe = store_probe
        self.store_files: dict[int, tuple[dict, dict]] = {}
        self._tls = threading.local()
        self._last_job = -1
        self._pass_ctx = None

    # -- passes -------------------------------------------------------
    def begin_pass(self) -> None:
        """Start the next pass; even warm passes are traced, the cold
        pass 0 and odd passes run with every wrapper switched off. (Pass
        2 is the first that can hold in-flight documents from two
        earlier passes.)"""
        self.pass_id += 1
        traced = self.pass_id > 0 and self.pass_id % 2 == 0
        before = self.store_probe() if traced and self.store_probe else None
        self.enabled = traced
        self._pass_t0 = time.time()
        self._pass_ctx = self.span("pass", PASS) if traced else None
        if self._pass_ctx:
            self._pass_ctx.__enter__()
        self._before = before

    def end_pass(self) -> None:
        if self._pass_ctx:
            self._pass_ctx.__exit__(None, None, None)
        traced = self.enabled
        self.walls[self.pass_id] = (self._pass_t0, time.time(), traced)
        self.enabled = False
        if traced and self.store_probe:
            self.store_files[self.pass_id] = (self._before, self.store_probe())

    def wrap_run_once(self) -> None:
        """Make every ``Engine.run_once`` call one pass (the streaming
        face calls it once per micro-batch)."""
        from alerta_spark.engine import Engine

        fn = Engine.run_once
        tracer = self

        def run_once(engine, *args, **kwargs):
            tracer.begin_pass()
            try:
                return fn(engine, *args, **kwargs)
            finally:
                tracer.end_pass()

        run_once.__wrapped__ = fn
        setattr(Engine, "run_once", run_once)

    # -- patching ---------------------------------------------------
    def install(self) -> None:
        # import every module that binds a target, so its bound names
        # exist before patching
        for mod in IMPORTERS + [m for _, m, _ in TARGETS]:
            importlib.import_module(mod)
        for layer, modname, attr in TARGETS:
            mod = importlib.import_module(modname)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                setattr(cls, meth, self._wrap(orig, layer, attr))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, layer, attr)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("alerta_spark") and (
                    m.__dict__.get(attr) is orig
                ):
                    setattr(m, attr, wrapped)

    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            if layer == "sequence.start" and isinstance(args[1], dict) and "_id" in args[1]:
                span_layer = "sequence.resume"
                tracer.count("sequence.per_doc_calls")
            else:
                span_layer = layer
            with tracer.span(name, span_layer):
                out = fn(*args, **kwargs)
            if layer == "sequence.resume":
                docs = len(args[1])
                tracer.count("sequence.batched_docs", docs - (docs if out is None else len(out)))
            return out

        wrapper.__wrapped__ = fn
        wrapper.__name__ = getattr(fn, "__name__", name)
        wrapper.__doc__ = fn.__doc__
        return wrapper

    # -- spans ------------------------------------------------------
    def count(self, name: str, n: float = 1) -> None:
        self.counts[(self.pass_id, name)] += n

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    # -- Spark counters -------------------------------------------------
    def collect_jobs(self) -> list[dict]:
        """Jobs finished since the last call, with their stages' metrics.
        Called between passes, outside any timed region."""
        from py4j.protocol import Py4JJavaError

        store = self.sc._jsc.sc().statusStore()
        seq = store.jobsList(None)  # newest first
        out = []
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = j.jobId()
            if jid <= self._last_job:
                break
            grp = j.jobGroup()
            group = grp.get() if grp.isDefined() else ""
            if not group.startswith("pb"):
                continue
            sub, comp = j.submissionTime(), j.completionTime()
            job = {
                "job": jid,
                "group": group,
                "start": sub.get().getTime() / 1000 if sub.isDefined() else None,
                "end": comp.get().getTime() / 1000 if comp.isDefined() else None,
                "skipped_stages": j.numSkippedStages(),
                "stages": [],
            }
            ids = j.stageIds()
            for k in range(ids.size()):
                try:
                    s = store.lastStageAttempt(ids.apply(k))
                except Py4JJavaError:  # evicted from the store
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                job["stages"].append(
                    {
                        "tasks": s.numTasks(),
                        "run_s": s.executorRunTime() / 1000,
                        "cpu_s": s.executorCpuTime() / 1e9,
                        "input_rows": s.inputRecords(),
                        "input_bytes": s.inputBytes(),
                        "shuffle_read": s.shuffleReadBytes(),
                        "shuffle_write": s.shuffleWriteBytes(),
                    }
                )
            out.append(job)
        if seq.size():
            self._last_job = max(self._last_job, seq.apply(0).jobId())
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.t, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        t = self.t
        stack = t._stack()
        self.parent = stack[-1] if stack else -1
        self.idx = len(t.spans)
        t.spans.append(Span(self.name, self.layer, time.perf_counter(), 0.0, self.parent, t.pass_id))
        stack.append(self.idx)
        self.jobs = self.layer not in PURE
        if self.jobs:
            t.sc.setJobGroup(f"pb{t.pass_id}.{self.idx}", self.layer)
        return self

    def __exit__(self, *exc):
        t = self.t
        t.spans[self.idx].end = time.perf_counter()
        t._stack().pop()
        if self.jobs:
            if self.parent >= 0:
                t.sc.setJobGroup(f"pb{t.pass_id}.{self.parent}", t.spans[self.parent].layer)
            else:
                t.sc.setLocalProperty("spark.jobGroup.id", None)
        return False


def self_times(spans: list[Span], pass_id: int) -> dict[str, float]:
    """Self time per layer for one pass: span duration minus children."""
    child = defaultdict(float)
    mine = [(i, s) for i, s in enumerate(spans) if s.pass_id == pass_id]
    for _, s in mine:
        if s.parent >= 0:
            child[s.parent] += s.end - s.start
    out: dict[str, float] = defaultdict(float)
    for i, s in mine:
        out[s.layer] += (s.end - s.start) - child[i]
    return dict(out)


def spark_pass_metrics(jobs: list[dict], spans: list[Span], wall: tuple[float, float]) -> dict:
    """Per-pass Spark counters; driver time is pass wall time covered by
    no job; executor run time is also split by the layer of the span
    that started the job."""
    stages = [s for j in jobs for s in j["stages"]]
    run = sum(s["run_s"] for s in stages)
    cpu = sum(s["cpu_s"] for s in stages)
    intervals = sorted(
        (max(j["start"], wall[0]), min(j["end"], wall[1]))
        for j in jobs
        if j["start"] is not None and j["end"] is not None
    )
    covered, cur_s, cur_e = 0.0, None, None
    for a, b in intervals:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    by_layer: dict[str, float] = defaultdict(float)
    for j in jobs:
        idx = int(j["group"].split(".")[1])
        layer = spans[idx].layer if 0 <= idx < len(spans) else "?"
        by_layer[layer] += sum(s["run_s"] for s in j["stages"])
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.stages_skipped": sum(j["skipped_stages"] for j in jobs),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.driver_s": max(0.0, (wall[1] - wall[0]) - covered),
        "spark.executor_run_s": run,
        "spark.executor_cpu_s": cpu,
        "spark.executor_wait_s": max(0.0, run - cpu),
        "spark.shuffle_read_bytes": sum(s["shuffle_read"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in stages),
        "sources.input_rows": sum(s["input_rows"] for s in stages),
        "sources.input_bytes": sum(s["input_bytes"] for s in stages),
        "exec_by_layer": dict(by_layer),
    }
