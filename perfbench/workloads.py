"""The three workloads of the engine-pass benchmark.

Each workload sets up a fresh Spark session and its inputs, drives the
engine only through public entry points with default options
(``Engine.run_once(window, rules, eval_time=...)`` and
``cli.run_from_config(config, stream=True)``), checks every alert the
engine writes against ``gen.Model``, and returns its metrics.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import threading
import time
import traceback
from collections import Counter, defaultdict
from datetime import datetime, timedelta

import pyarrow.parquet as pq

import gen
import tracing


# ------------------------------------------------------------ helpers


def tail(values: list[float]) -> tuple[float, str]:
    """Highest of p99/p95/p90/p75/p50 with at least ten samples beyond
    it; with fewer than 20 samples, the maximum."""
    v = sorted(values)
    n = len(v)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return v[min(n - 1, int(n * p / 100))], f"p{p} of {n}"
    return v[-1], f"max of {n}"


def median(values, default=0.0) -> float:
    return statistics.median(values) if values else default


def parquet_files(d: str) -> list[str]:
    try:
        return sorted(os.path.join(d, f) for f in os.listdir(d) if f.endswith(".parquet"))
    except FileNotFoundError:
        return []


def tree_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def slice_of(event_id: str) -> int:
    return int(event_id[1:].split("-", 1)[0])


class StoreReader:
    """Reads a DocStore's parquet files with pyarrow (no Spark jobs), so
    checking never shows up in the engine's job counters.

    An alert ``_id`` seen before is a compaction rewrite when the file
    that held it is gone from the store; while that file is still there,
    the same alert was appended twice and lands in ``duplicates``."""

    def __init__(self, store):
        self.store = store
        self.files: set[str] = set()
        self.id_file: dict[str, str] = {}
        self.duplicates: list[tuple[gen.Alert, str]] = []
        self.history_ids = 0

    def current_files(self) -> list[str]:
        return parquet_files(self.store.data_dir())

    def new_alerts(self) -> list[tuple[gen.Alert, float]]:
        out = []
        current = self.current_files()
        live = set(current)
        for path in current:
            if path in self.files:
                continue
            self.files.add(path)
            mtime = os.stat(path).st_mtime
            t = pq.read_table(path, columns=["_id", "alerted_event_ids", "doc", "alert_name"])
            for _id, ids, doc, name in zip(*(t.column(c).to_pylist() for c in t.column_names)):
                d = json.loads(doc)
                meta = d["slots"][0] if d.get("alert_type") == "sequence" else d
                key = str(meta.get("metadata", {}).get("value"))
                alert = gen.Alert(name, key, tuple(sorted(ids or ())))
                earlier = self.id_file.get(_id)
                self.id_file[_id] = path
                if earlier is not None:
                    if earlier in live:
                        self.duplicates.append((alert, f"{alert} written twice: "
                                                f"{os.path.basename(earlier)} and "
                                                f"{os.path.basename(path)}"))
                    continue
                self.history_ids += len(ids or ())
                out.append((alert, mtime))
        return out

    def rows(self) -> list[tuple[str, str]]:
        out = []
        for path in self.current_files():
            t = pq.read_table(path, columns=["alert_name", "doc"])
            for name, doc in zip(t.column("alert_name").to_pylist(), t.column("doc").to_pylist()):
                out.append((name, str(json.loads(doc)["slots"][0]["metadata"]["value"])))
        return out


def diff(expected: list[gen.Alert], observed: list[gen.Alert]) -> list[str]:
    e, o = Counter(expected), Counter(observed)
    lines = [f"missing {a}" for a in (e - o).elements()]
    lines += [f"unexpected {a}" for a in (o - e).elements()]
    return lines


def peak_rss_mb(spark) -> tuple[float, float]:
    """(driver Python ru_maxrss, driver JVM VmHWM) in MB."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm = 0.0
    try:
        pid = spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024
    except (OSError, AttributeError):
        pass
    return py, jvm


# ------------------------------------------------------------- workload


class Workload:
    """Shared set-up, trace bookkeeping and reporting."""

    name = ""
    setup_repeats = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.work = ctx.work
        self.errors: list[str] = []
        self.failed: set[int] = set()
        self.pass_s: dict[int, float] = {}
        self.window_rows: dict[int, int] = {}
        self.latencies: list[float] = []
        self.fired: dict[int, int] = defaultdict(int)
        self.history: dict[int, tuple[int, int]] = {}  # pass -> (ids, files) at start
        self.late_max = 0.0
        self.tracer = None
        self.jobs: list[dict] = []

    # -- set-up -------------------------------------------------------
    def session(self):
        from alerta_spark.session import get_spark

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.local.dir": tmp,
            # a fixed heap and young generation: G1's adaptive heap and
            # young sizing made the JVM's peak RSS swing by a quarter to
            # a third between identical runs
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g -Xmn512m",
            # a 2 GB driver heap (the session default is 8 GB) keeps old-
            # generation garbage from piling up until G1's occupancy
            # threshold, which set the peak RSS more than the program did
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.ctx.trace:
            # jobs are read after the run on the streaming face
            conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
        n = self.ctx.nproc
        return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)

    def setup(self) -> float:
        """Session start once, then the inputs ``setup_repeats`` times
        into fresh directories (the last one is used); returns set-up
        seconds = time to a ready session + median input set-up."""
        self.spark = self.session()
        self.spark.range(1).collect()  # the session answers a job
        session_s = time.time() - self.ctx.t_start
        times = []
        for i in range(self.setup_repeats):
            base = os.path.join(self.work, f"setup{i}")
            t0 = time.perf_counter()
            self.make_inputs(base)
            times.append(time.perf_counter() - t0)
        self.base = base
        return session_s + statistics.median(times)

    def make_inputs(self, base: str) -> None:
        raise NotImplementedError

    def store_probe(self) -> dict:
        """Store files and in-flight row count, taken between passes."""
        rows = sum(pq.ParquetFile(f).metadata.num_rows
                   for f in parquet_files(self.inflight_store.data_dir()))
        return {"files": tree_files(os.path.join(self.base, "store")), "inflight_rows": rows}

    def start_tracer(self):
        if self.ctx.trace:
            self.tracer = tracing.Tracer(self.spark, self.store_probe)
            self.tracer.install()

    # -- results --------------------------------------------------------
    def result(self, setup_s: float, cold_s: float, warm: list[float], rows: list[int],
               attempted: int) -> dict:
        warm_total = sum(warm)
        tail_s, tail_desc = tail(warm) if warm else (cold_s, "no warm pass")
        if self.latencies:
            lat_p50 = median(self.latencies)
            lat_tail, lat_desc = tail(self.latencies)
        else:
            lat_p50, lat_tail, lat_desc = 0.0, 0.0, "no alerts"
        rss_py, rss_jvm = peak_rss_mb(self.spark)
        e2e = {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (cold_s, "s"),
            "pass_s_p50": (median(warm, cold_s), "s"),
            "pass_s_tail": (tail_s, "s"),
            "events_per_s": (sum(rows) / warm_total if warm_total else 0.0, "events/s"),
            "alert_latency_s_p50": (lat_p50, "s"),
            "alert_latency_s_tail": (lat_tail, "s"),
            "peak_rss_mb": (rss_py + rss_jvm, "MB"),
        }
        notes = {
            "pass_s_tail": f"{tail_desc} warm passes",
            "alert_latency_s_tail": f"{lat_desc} alerts",
            "peak_rss_mb": f"Python {rss_py:.0f} + JVM {rss_jvm:.0f}",
        }
        return {
            "e2e": e2e,
            "notes": notes,
            "attempted": attempted,
            "failed": len(self.failed),
            "errors": self.errors[:50],
            "passes": len(warm) + 1,
            "warm_pass_s": warm,
            "layers": self.layer_metrics() if self.tracer else None,
        }

    def fail(self, pass_no: int, msg: str) -> None:
        self.failed.add(pass_no)
        self.errors.append(f"seed {self.ctx.seed} pass {pass_no}: {msg}")

    # -- per-layer metrics ------------------------------------------------
    def layer_metrics(self) -> dict:
        t = self.tracer
        traced = sorted(p for p, (_, _, on) in t.walls.items() if on and p > 0)
        untraced = sorted(p for p, (_, _, on) in t.walls.items() if not on and p > 0)
        jobs_by_pass = defaultdict(list)
        for j in self.jobs:
            jobs_by_pass[int(j["group"][2:].split(".")[0])].append(j)
        per = defaultdict(list)
        exec_layers = defaultdict(list)
        for p in traced:
            st = tracing.self_times(t.spans, p)
            sp = tracing.spark_pass_metrics(jobs_by_pass[p], t.spans, t.walls[p][:2])
            for layer, v in sp.pop("exec_by_layer").items():
                exec_layers[layer].append(v)
            spans = [s for s in t.spans if s.pass_id == p]
            probe_before, probe_after = t.store_files[p]
            before, after = probe_before["files"], probe_after["files"]
            written = sum(sz for f, (sz, m) in after.items() if before.get(f) != (sz, m))
            alerts_dir = os.path.join(self.base, "store", "alerts") + os.sep
            slots_dir = os.path.join(self.base, "store", "slot_events") + os.sep
            new_alert_bytes = sum(
                sz for f, (sz, m) in after.items()
                if f.startswith(alerts_dir) and f not in before
            )
            rows = self.window_rows.get(p, 0)
            batched = t.counts.get((p, "sequence.batched_docs"), 0)
            per_doc = t.counts.get((p, "sequence.per_doc_calls"), 0)
            hist_ids, hist_files = self.history.get(p, (0, 0))
            vals = {name: st.get(layer, 0.0) for name, layer in tracing.SELF_TIME.items()}
            vals.update({
                "sources.files_listed": self.files_listed.get(p, 0),
                "sources.input_rows": sp["sources.input_rows"],
                "sources.input_bytes": sp["sources.input_bytes"],
                "dialect.calls": sum(1 for s in spans if s.layer == "dialect"),
                "operators.fired_groups": self.fired.get(p, 0),
                "dedup.history_ids": hist_ids,
                "dedup.history_files": hist_files,
                "sequence.per_doc_calls": per_doc,
                "sequence.batched_share": batched / (batched + per_doc) if batched + per_doc else 0.0,
                "state.alert_files": sum(1 for f in after if f.startswith(alerts_dir)),
                "state.inflight_rows": probe_after["inflight_rows"],
                "state.slot_event_bytes": sum(
                    sz for f, (sz, _) in after.items() if f.startswith(slots_dir)
                ),
                "state.bytes_written": written,
                "state.write_amplification": written / new_alert_bytes if new_alert_bytes else 0.0,
                "ckpt.calls": sum(1 for s in spans if s.layer == "ckpt"),
                "spark.scan_amplification": sp["sources.input_rows"] / rows if rows else 0.0,
            })
            vals.update({k: v for k, v in sp.items() if k.startswith("spark.")})
            for k, v in vals.items():
                per[k].append(v)
        out = {k: median(v) for k, v in per.items()}
        out["per_pass"] = {"pass": traced, "pass_s": [self.pass_s.get(p) for p in traced],
                           **{k: v for k, v in per.items()}}
        out.update(self.stream_layer_metrics())
        out["bench.generator_late_s_max"] = self.late_max
        t_on = median([self.pass_s[p] for p in traced if p in self.pass_s])
        t_off = median([self.pass_s[p] for p in untraced if p in self.pass_s])
        out["bench.trace_overhead"] = t_on / t_off if t_off else 0.0
        out["traced_passes"] = len(traced)
        out["exec_s_by_layer"] = {k: median(v) for k, v in exec_layers.items()}
        return out

    def stream_layer_metrics(self) -> dict:
        return {
            "stream.batches": 0,
            "stream.rows_per_batch": 0,
            "stream.trigger_wait_s": 0.0,
            "sources.backlog_files_max": 0,
        }


class ClosedLoop(Workload):
    """One caller: append a slice, run one pass, check it, repeat."""

    history_slices = 0
    slices_cls = None
    spec_cls = None

    def __init__(self, ctx):
        super().__init__(ctx)
        self.spec = self.spec_cls()
        self.slices = self.slices_cls(ctx.seed, self.spec)
        self.model = gen.Model(self.slices.rules)
        self.latency_rules = {r.name for r in self.slices.rules if r.caused_by_newest}
        self.relevant: dict[int, list[gen.Event]] = {}
        self.rows: dict[int, int] = {}
        self.created: dict[int, float] = {}  # slice -> wall time it landed
        self.files_listed: dict[int, int] = {}

    def lake(self, base):
        return os.path.join(base, "lake")

    def append_slice(self, base: str, k: int) -> None:
        table = self.slices.table(k)
        start = self.slices.start(k)
        path = os.path.join(gen.hour_dir(self.lake(base), start), f"part-{k:05d}.parquet")
        gen.write_table(table, path)
        self.relevant[k] = self.slices.events(k)
        self.rows[k] = table.num_rows

    def make_inputs(self, base: str) -> None:
        os.makedirs(base, exist_ok=True)
        gen.write_rules(self.slices.rules, os.path.join(base, "rules"))
        for k in range(self.history_slices):
            self.append_slice(base, k)
            self.created[k] = time.time()

    def window(self, k: int) -> list[int]:
        raise NotImplementedError

    def run(self) -> dict:
        from alerta_spark.engine import Engine
        from alerta_spark.rules import load_rules
        from alerta_spark.sources import lake
        from alerta_spark.state import DocStore

        setup_s = self.setup()
        self.start_tracer()
        rules = load_rules(os.path.join(self.base, "rules", "*.yml"))
        store = os.path.join(self.base, "store")
        engine = Engine(self.spark, store)
        self.alert_store = DocStore(self.spark, os.path.join(store, "alerts"))
        alerts = StoreReader(self.alert_store)
        self.inflight_store = DocStore(self.spark, os.path.join(store, "inflight_alerts"))
        inflight = StoreReader(self.inflight_store)
        lake_dir = self.lake(self.base)
        cold, warm, warm_rows = 0.0, [], []
        deadline = None
        p = 0
        while deadline is None or (
            time.perf_counter() + 0.5 * median(warm, cold) < deadline
        ):
            k = self.history_slices + p
            self.append_slice(self.base, k)
            self.created[k] = time.time()
            now = self.slices.start(k + 1) - timedelta(seconds=1)
            self.history[p] = (alerts.history_ids, len(alerts.files))
            self.files_listed[p] = len(tree_files(lake_dir))
            wall0 = time.time()
            if self.tracer:
                self.tracer.begin_pass()
            t0 = time.perf_counter()
            try:
                events = lake.partition_window(
                    lake.load_partitioned_events(self.spark, lake_dir), now, hours=2
                )
                engine.run_once(events, rules, eval_time=now)
            except Exception:
                self.fail(p, "pass raised:\n" + traceback.format_exc())
            dt = time.perf_counter() - t0
            if self.tracer:
                self.tracer.end_pass()
                self.jobs += self.tracer.collect_jobs()
            wall1 = time.time()
            self.pass_s[p] = dt
            win = self.window(k)
            self.window_rows[p] = sum(self.rows[s] for s in win)
            if p == 0:
                cold = dt
                deadline = time.perf_counter() + self.ctx.seconds
            else:
                warm.append(dt)
                warm_rows.append(self.window_rows[p])
            self.check(p, win, alerts, inflight, (wall0, wall1))
            p += 1
        return self.result(setup_s, cold, warm, warm_rows, attempted=p)

    def check(self, p, win, alerts, inflight, wall) -> None:
        window = [e for s in win for e in self.relevant[s]]
        expected = self.model.step(window, p, self.expired_fn(p, wall))
        got = alerts.new_alerts()
        self.fired[p] = len(got)
        problems = diff(expected, [a for a, _ in got])
        problems += [msg for _, msg in alerts.duplicates]
        alerts.duplicates.clear()
        if problems:
            self.fail(p, "; ".join(problems[:5]) + f" ({len(problems)} differences)")
        for a, mtime in got:
            # the cold pass also alerts on the history written at set-up
            if p > 0 and a.rule in self.latency_rules and a.ids:
                newest = max(slice_of(i) for i in a.ids)
                self.latencies.append(mtime - self.created[newest])
        rows = inflight.rows()
        lo, hi = self.model.inflight_bounds(self.expired_fn(p, wall))
        if not lo <= len(rows) <= hi:
            self.fail(p, f"in-flight documents {len(rows)}, model allows {lo}..{hi}")

    def expired_fn(self, p, wall):
        return lambda d: False


class CronOverlap(ClosedLoop):
    """15-minute slices, two-hour window: most scanned events were seen
    by an earlier pass, so F8 dedup suppresses them."""

    name = "cron_overlap"
    spec_cls = gen.CronSpec
    slices_cls = gen.CronSlices
    # the cold pass scans slices 4-9; warm passes then scan 7, 8, 5, 6,
    # 7, ... slices (the window is the previous and the current hour
    # partition), so a run's mean window barely depends on whether it
    # fits three, four or five warm passes
    history_slices = 9

    def window(self, k: int) -> list[int]:
        per_hour = 60 // self.spec.minutes
        hour = k // per_hour
        return [s for s in range(k + 1) if s // per_hour >= hour - 1]


class SequenceState(ClosedLoop):
    """One-hour slices, so each slice is in the window for exactly two
    passes; hundreds of in-flight sequence documents, a few of them on
    the per-document resume path."""

    name = "sequence_state"
    spec_cls = gen.SeqSpec
    slices_cls = gen.SeqSlices

    def __init__(self, ctx):
        super().__init__(ctx)
        self.walls: dict[int, tuple[float, float]] = {}

    def window(self, k: int) -> list[int]:
        return [s for s in (k - 1, k) if s >= 0]

    def expired_fn(self, p, wall):
        """Lifespan expiry runs on the wall clock: a document created
        during pass c expires somewhere in [start_c + L, end_c + L]."""
        self.walls[p] = wall
        s_p, e_p = wall

        def expired(d: gen.SeqDoc):
            s_c, e_c = self.walls[d.created_pass]
            lo, hi = s_c + d.rule.lifespan_s, e_c + d.rule.lifespan_s
            if hi < s_p:
                return True
            if lo >= e_p:
                return False
            return None

        return expired

    def check(self, p, win, alerts, inflight, wall) -> None:
        # the model is exact only while an expiring document outlives
        # the two passes its events stay in the window
        self.walls[p] = wall
        if p >= 1:
            s_prev = self.walls[p - 1][0]
            if s_prev + self.spec.lifespan_s < wall[1]:
                self.fail(p, f"benchmark limit, not an engine defect: passes {p - 1}-{p} "
                             f"outlasted the {self.spec.lifespan_s}s lifespan, so expiry "
                             "may re-start sequences the model cannot predict")
        super().check(p, win, alerts, inflight, wall)


class StreamTrickle(Workload):
    """Open loop: file 0 feeds the cold micro-batch; from its end on, a
    generator thread drops one file into the stream source every
    ``interval_s`` whether or not the engine keeps up. (Starting the
    trickle after the cold batch keeps a backlog of cold-pass length out
    of the warm batches' latency.) After the run the micro-batches are
    rebuilt from the file source's own log, and the model replays them
    batch by batch."""

    name = "stream_trickle"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.spec = gen.StreamSpec()
        self.files = gen.StreamFiles(ctx.seed, self.spec)
        self.latency_rules = {r.name for r in self.files.rules if r.caused_by_newest}
        self.log: dict[int, tuple[float, float]] = {}  # file -> (due, written)
        self.file_rows: dict[int, int] = {}

    def src(self, base):
        return os.path.join(base, "lake", "events.parquet")

    def write_file(self, base, k) -> None:
        table = self.files.table(k)
        gen.write_table(table, os.path.join(self.src(base), f"part-{k:05d}.parquet"))
        self.file_rows[k] = table.num_rows

    def make_inputs(self, base: str) -> None:
        os.makedirs(base, exist_ok=True)
        mask = gen.write_rules(self.files.rules, os.path.join(base, "rules"))
        self.write_file(base, 0)
        self.config = {
            "lake_dir": os.path.join(base, "lake"),
            "events_table": "events",
            "store_dir": os.path.join(base, "store"),
            "alerts_file_mask": mask,
            "master": f"local[{self.ctx.nproc}]",
            "shuffle_partitions": self.ctx.nproc,
            "stream_checkpoint": os.path.join(base, "checkpoint"),
            "trigger": {"processingTime": self.spec.trigger},
        }

    def generate(self, t0: float, stop: threading.Event) -> None:
        k = 1
        while not stop.is_set():
            due = t0 + (k - 1) * self.spec.interval_s
            delay = due - time.time()
            if delay > 0 and stop.wait(delay):
                break
            self.write_file(self.base, k)
            self.log[k] = (due, time.time())
            k += 1

    def run(self) -> dict:
        from alerta_spark import cli
        from alerta_spark.state import DocStore

        setup_s = self.setup()
        self.start_tracer()
        if self.tracer:
            self.tracer.wrap_run_once()
        store = os.path.join(self.base, "store")
        self.alert_store = DocStore(self.spark, os.path.join(store, "alerts"))
        self.inflight_store = DocStore(self.spark, os.path.join(store, "inflight_alerts"))
        t_query = time.time()
        query = cli.run_from_config(self.config, stream=True)
        self.log[0] = (t_query, t_query)
        stop = threading.Event()
        gen_thread = None
        try:
            first = self.wait_first_batch(query)  # the cold micro-batch
            gen_thread = threading.Thread(target=self.generate, args=(first, stop), daemon=True)
            gen_thread.start()
            # stop generating one batch early, so the final
            # processAllAvailable() drains inside the window
            while query.exception() is None and (
                time.time() - first + self.batch_estimate(query) < self.ctx.seconds
            ):
                time.sleep(0.1)
        finally:
            stop.set()
            if gen_thread is not None:
                gen_thread.join(timeout=30)
        try:
            if query.exception() is None:
                query.processAllAvailable()
        finally:
            query.stop()
        exc = query.exception()
        if exc is not None:
            self.errors.append(f"seed {self.ctx.seed}: stream failed: {exc}")
        progress = sorted(
            (p for p in map(_progress, query.recentProgress) if p["numInputRows"] > 0),
            key=lambda p: p["batchId"],
        )
        return self.finish(setup_s, progress, self.batch_files(), failed=exc is not None)

    @staticmethod
    def batch_estimate(query) -> float:
        """Median trigger time of the warm batches so far."""
        prog = [_progress(p) for p in query.recentProgress[1:]]
        return median([p["durationMs"].get("triggerExecution", 0) / 1000
                       for p in prog if p["numInputRows"] > 0])

    def wait_first_batch(self, query) -> float:
        deadline = time.time() + 150
        while time.time() < deadline:
            if query.recentProgress or query.exception() is not None:
                return time.time()
            time.sleep(0.05)
        raise RuntimeError("the first micro-batch did not finish within 150 s")

    def batch_files(self) -> dict[int, list[int]]:
        """batch id -> file indexes, from the file source's metadata log."""
        log_dir = os.path.join(self.config["stream_checkpoint"], "sources", "0")
        out: dict[int, list[int]] = defaultdict(list)
        seen = set()
        for name in sorted(os.listdir(log_dir)):
            if name.startswith("."):
                continue
            with open(os.path.join(log_dir, name)) as f:
                for line in f:
                    if not line.startswith("{"):
                        continue
                    entry = json.loads(line)
                    k = int(os.path.basename(entry["path"]).split("-")[1].split(".")[0])
                    if k not in seen:
                        seen.add(k)
                        out[int(entry["batchId"])].append(k)
        return dict(out)

    def finish(self, setup_s, progress, batches, failed) -> dict:
        # only batches with data call the engine
        ids = sorted(b for b in batches if batches[b])
        by_id = {p["batchId"]: p for p in progress}
        durs = [by_id[b]["durationMs"].get("triggerExecution", 0) / 1000 if b in by_id else 0.0
                for b in ids]
        rows = [sum(self.file_rows[k] for k in batches[b]) for b in ids]
        starts = [_epoch(by_id[b]["timestamp"]) if b in by_id else 0.0 for b in ids]
        reader = StoreReader(self.alert_store)
        got = reader.new_alerts()
        got_by_batch = defaultdict(list)
        file_batch = {k: i for i, b in enumerate(ids) for k in batches[b]}

        def batch_of(a: gen.Alert) -> int:
            newest = max((slice_of(i) for i in a.ids), default=None)
            return file_batch.get(newest, len(ids) - 1)

        for a, mtime in got:
            got_by_batch[batch_of(a)].append((a, mtime))
        for a, msg in reader.duplicates:
            self.fail(batch_of(a), msg)
        model = gen.Model(self.files.rules)
        for i, b in enumerate(ids):
            window = [e for k in batches[b] for e in self.files.events(k)]
            expected = model.step(window, i)
            problems = diff(expected, [a for a, _ in got_by_batch[i]])
            if problems:
                self.fail(i, f"batch {b}: " + "; ".join(problems[:5]) + f" ({len(problems)} differences)")
            self.fired[i] = len(got_by_batch[i])
            before = [(m, a) for a, m in got if m < starts[i]]
            self.history[i] = (sum(len(a.ids) for _, a in before), len({m for m, _ in before}))
        left = len(StoreReader(self.inflight_store).rows())
        if left != len(model.inflight):
            self.fail(len(ids) - 1, f"{left} sequences in flight at the end, model says {len(model.inflight)}")
        if failed:
            self.failed.update(range(len(ids)))
        for i, pairs in got_by_batch.items():
            for a, mtime in pairs:
                if i > 0 and a.rule in self.latency_rules and a.ids:
                    self.latencies.append(mtime - self.log[max(slice_of(x) for x in a.ids)][0])
        self.late_max = max((w - d for d, w in self.log.values()), default=0.0)
        self.progress = [by_id[b] for b in ids if b in by_id]
        self.pass_s = dict(enumerate(durs))
        self.window_rows = dict(enumerate(rows))
        self.files_listed = {
            i: sum(1 for _, w in self.log.values() if w <= t) for i, t in enumerate(starts)
        }
        self.consumed = {i: sum(len(batches[b]) for b in ids[: i]) for i in range(len(ids))}
        if self.tracer:
            self.jobs = self.tracer.collect_jobs()
        return self.result(setup_s, durs[0] if durs else 0.0, durs[1:], rows[1:],
                           attempted=max(len(ids), 1))

    def stream_layer_metrics(self) -> dict:
        prog = self.progress
        waits = []
        for a, b in zip(prog, prog[1:]):
            end_a = _epoch(a["timestamp"]) + a["durationMs"].get("triggerExecution", 0) / 1000
            waits.append(max(0.0, _epoch(b["timestamp"]) - end_a))
        backlog = [self.files_listed[i] - self.consumed[i] for i in self.files_listed]
        return {
            "stream.batches": len(self.window_rows),
            "stream.rows_per_batch": median(list(self.window_rows.values())),
            "stream.trigger_wait_s": median(waits),
            "sources.backlog_files_max": max(backlog, default=0),
        }


def _progress(p) -> dict:
    return p if isinstance(p, dict) else json.loads(p.json)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


WORKLOADS = {w.name: w for w in (CronOverlap, SequenceState, StreamTrickle)}
