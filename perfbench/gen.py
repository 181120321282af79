"""Seeded inputs and the expected-output model of the engine-pass benchmark.

Everything here is plain Python and pyarrow, no Spark. The same seed
gives byte-identical parquet slices and rule YAMLs, and the model
replays the engine's alerting semantics over the same events:

- threshold rules fire per aggregation-key group with ``count >=
  threshold`` over window events not yet captured by any alert (F8) or
  in-flight sequence (F9), in rule-file order;
- deadman rules fire per group with ``count <= threshold`` (no dedup),
  and with a synthesized ``(aggregation_key, 0)`` row when nothing
  matches at all;
- two-slot sequences resume first, then start, then complete or expire
  at the end of the pass.

Planted keys are disjoint between rules, so the expected alerts do not
depend on whether the engine runs rules one by one or fused.
"""

from __future__ import annotations

import json
import os
import random
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = datetime(2026, 1, 5, tzinfo=timezone.utc)
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
        # index of the slice (closed loop) or file (open loop) that
        # carried the event; the benchmark maps it to a creation time
        ("slice", pa.int32()),
    ]
)
MAX_EVENTS = 1000  # the engine's per-group capture cap


@dataclass(frozen=True)
class Event:
    event_id: str
    ts: datetime
    user_id: int
    event_type: str
    props: dict
    slice: int

    @property
    def tag(self) -> str:
        return self.props.get("rule", "")


@dataclass(frozen=True)
class Alert:
    """One expected (or observed) alert: rule, key, captured ids."""

    rule: str
    key: str
    ids: tuple[str, ...]


@dataclass
class Rule:
    """A benchmark rule: the engine YAML plus the model's predicate."""

    name: str
    kind: str  # threshold | deadman | sequence
    tag: str = ""
    event_type: str = ""
    threshold: int = 1
    # sequence only: second slot's kind/event type/threshold, lifespan
    slot1_kind: str = "threshold"
    slot1_event_type: str = ""
    slot1_threshold: int = 1
    lifespan_s: int = 0
    min_amount: int | None = None

    @property
    def caused_by_newest(self) -> bool:
        """Whether the rule's alerts are caused by their newest event
        (thresholds, and sequences a threshold slot completes), so the
        alert's latency can be measured from that event's creation."""
        return self.kind == "threshold" or (
            self.kind == "sequence" and self.slot1_kind == "threshold"
        )

    def matches(self, e: Event) -> bool:
        if e.event_type != self.event_type or e.tag != self.tag:
            return False
        return self.min_amount is None or e.props.get("amount", 0) > self.min_amount

    def criteria(self) -> str:
        c = (
            f"event_type='{self.event_type}' AND "
            f"json_extract_scalar(props,'$.rule')='{self.tag}'"
        )
        if self.min_amount is not None:
            c += (
                " AND CAST(json_extract_scalar(props,'$.amount') AS INTEGER)"
                f" > {self.min_amount}"
            )
        return c

    def yaml_doc(self) -> dict:
        base = {
            "alert_name": self.name,
            "alert_type": self.kind,
            "severity": "WARNING",
            "aggregation_key": "user_id",
            "summary": "{{metadata.count}} events for user {{metadata.value}}",
            "event_snippet": "id {{event_id}} amount {{props.amount}}",
            "event_sample_count": 2,
        }
        if self.kind in ("threshold", "deadman"):
            return dict(base, criteria=self.criteria(), threshold=self.threshold)
        slot0 = dict(
            base,
            alert_name=f"{self.name}_s0",
            alert_type="threshold",
            criteria=self.criteria(),
            threshold=self.threshold,
        )
        slot1 = dict(
            base,
            alert_name=f"{self.name}_s1",
            alert_type=self.slot1_kind,
            criteria=(
                f"event_type='{self.slot1_event_type}' AND "
                "CAST(user_id AS STRING)='{{slots.0.metadata.value}}'"
            ),
            threshold=self.slot1_threshold,
            event_sample_count=0 if self.slot1_kind == "deadman" else 2,
        )
        return {
            "alert_name": self.name,
            "alert_type": "sequence",
            "lifespan": f"{self.lifespan_s} seconds",
            "severity": "INFO",
            "summary": "user {{slots.0.metadata.value}} completed the sequence",
            "slots": [slot0, slot1],
        }


def write_rules(rules: list[Rule], rules_dir: str) -> str:
    """Write one YAML per rule, named so sorted order is list order;
    returns the glob mask for ``load_rules``."""
    import yaml

    os.makedirs(rules_dir, exist_ok=True)
    for i, r in enumerate(rules):
        with open(os.path.join(rules_dir, f"{i:03d}_{r.name}.yml"), "w") as f:
            yaml.safe_dump(r.yaml_doc(), f, sort_keys=True)
    return os.path.join(rules_dir, "*.yml")


def hour_dir(lake: str, t: datetime) -> str:
    return os.path.join(
        lake,
        f"year={t.year:04d}",
        f"month={t.month:02d}",
        f"day={t.day:02d}",
        f"hour={t.hour:02d}",
    )


class Slices:
    """Deterministic event slices: slice ``k`` depends only on
    (seed, k), so a run can generate as many as it needs."""

    noise = 0  # events per slice that no rule matches
    noise_types: tuple[str, ...] = ("view", "click")
    hot: tuple[int, ...] = ()  # keys that carry a third of the noise

    def __init__(self, seed: int, minutes: int):
        self.seed = seed
        self.minutes = minutes

    def start(self, k: int) -> datetime:
        return T0 + timedelta(minutes=self.minutes * k)

    def rng(self, k: int) -> random.Random:
        return random.Random(f"{self.seed}:{k}")

    def event(self, rnd, k, n, user, etype, props) -> Event:
        ts = self.start(k) + timedelta(
            microseconds=rnd.randrange(self.minutes * 60 * 1_000_000)
        )
        return Event(f"s{k}-{n}", ts, user, etype, props, k)

    def events(self, k: int) -> list[Event]:
        """Events of slice ``k`` that some rule or sequence slot can match."""
        raise NotImplementedError

    def table(self, k: int) -> pa.Table:
        """Slice ``k`` as a parquet table: the matchable events, then
        ``noise`` events no rule matches (a third of them from the
        ``hot`` keys, for skew)."""
        noise, hot = self.noise, self.hot
        rng = np.random.default_rng([self.seed, k])
        ev = self.events(k)
        n0 = len(ev)
        start_us = int(self.start(k).timestamp()) * 1_000_000
        users = rng.integers(10**6, 10**7, noise)
        if hot:
            is_hot = rng.random(noise) < 0.33
            users[is_hot] = np.asarray(hot)[rng.integers(0, len(hot), int(is_hot.sum()))]
        amounts = rng.integers(0, 100, noise)
        types = np.asarray(self.noise_types)[rng.integers(0, len(self.noise_types), noise)]
        ts_us = [int(e.ts.timestamp()) * 1_000_000 + e.ts.microsecond for e in ev]
        ts_us += (start_us + rng.integers(0, self.minutes * 60 * 1_000_000, noise)).tolist()
        cols = {
            "event_id": [e.event_id for e in ev] + [f"s{k}-{n0 + i}" for i in range(noise)],
            "ts": pa.array(ts_us, pa.int64()).cast(EVENTS_SCHEMA.field("ts").type),
            "user_id": [e.user_id for e in ev] + users.tolist(),
            "event_type": [e.event_type for e in ev] + types.tolist(),
            "value": [float(e.props.get("amount", 0)) for e in ev] + amounts.astype(float).tolist(),
            "props": [json.dumps(e.props, sort_keys=True) for e in ev]
            + [f'{{"amount": {a}, "page": {i % 500}, "rule": "-"}}'
               for i, a in enumerate(amounts.tolist())],
            "slice": [k] * (n0 + noise),
        }
        return pa.Table.from_pydict(cols, schema=EVENTS_SCHEMA)


def write_table(table: pa.Table, path: str) -> int:
    """Write one parquet file atomically (temp name, then rename), so a
    file-stream source never lists half a file; returns its size."""
    d, base = os.path.split(path)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{base}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return os.path.getsize(path)


# ---------------------------------------------------------------- cron


@dataclass
class CronSpec:
    """cron_overlap sizing: per 15-minute slice."""

    thresholds: int = 3
    deadmen: int = 2
    groups: int = 4  # fired groups per threshold rule per slice
    near_misses: int = 4  # groups one event short, per rule per slice
    hot_users: int = 3
    hot_events: int = 12  # per hot key per rule per slice
    noise: int = 30000  # non-matching events per slice
    hosts: int = 48  # heartbeat hosts per deadman rule
    minutes: int = 15


def cron_rules(spec: CronSpec) -> list[Rule]:
    rules = [
        Rule(f"thr{i:02d}", "threshold", f"t{i}", "purchase", 2 + i % 3, min_amount=50)
        for i in range(spec.thresholds)
    ]
    rules += [
        # the last deadman watches a service that never reports, so it
        # fires its synthesized zero-count row every pass
        Rule(f"dm{j:02d}", "deadman", f"d{j}", "heartbeat", 1)
        for j in range(spec.deadmen)
    ]
    return rules


class CronSlices(Slices):
    def __init__(self, seed: int, spec: CronSpec):
        super().__init__(seed, spec.minutes)
        self.spec = spec
        self.rules = cron_rules(spec)
        self.noise = spec.noise
        self.hot = tuple(1_000 + h for h in range(spec.hot_users))
        self.noise_types = ("view", "click", "purchase")

    def events(self, k: int) -> list[Event]:
        s, rnd = self.spec, self.rng(k)
        out: list[Event] = []

        def add(user, etype, props):
            out.append(self.event(rnd, k, len(out), user, etype, props))

        hot = self.hot
        for i, r in enumerate(self.rules[: s.thresholds]):
            for g in range(s.groups + s.near_misses):
                user = 10**8 + (k * 100 + i) * 100 + g
                n = r.threshold if g < s.groups else r.threshold - 1
                for _ in range(n):
                    add(user, "purchase", {"rule": r.tag, "amount": rnd.randrange(51, 100)})
                # a purchase below the amount bar, filtered by criteria
                add(user, "purchase", {"rule": r.tag, "amount": rnd.randrange(0, 51)})
            for _ in range(s.hot_events):
                add(hot[i % len(hot)], "purchase", {"rule": r.tag, "amount": rnd.randrange(51, 100)})
        for j in range(s.deadmen - 1):
            for h in range(s.hosts):
                if k < h:  # host h goes silent from slice h on
                    add(2 * 10**8 + j * 1000 + h, "heartbeat", {"rule": f"d{j}"})
        return out


# ------------------------------------------------------------ sequence


@dataclass
class SeqSpec:
    """sequence_state sizing: per one-hour slice (so each slice stays in
    the two-hour-partition window for exactly two passes)."""

    complete_rules: int = 1  # threshold -> threshold, 30-day lifespan
    starts: int = 100  # fresh cohort per complete-rule per slice
    expiring: int = 100  # fresh cohort of the expiring rule per slice
    absence: int = 3  # threshold -> deadman cohort per slice
    restarts: int = 1  # in-flight expiring keys started again per slice
    lifespan_s: int = 60  # expiring rule's lifespan (wall clock)
    noise: int = 2000
    minutes: int = 60


def seq_rules(spec: SeqSpec) -> list[Rule]:
    rules = [
        Rule(f"seqa{i}", "sequence", f"a{i}", "signup", 2, "threshold", "error", 1,
             lifespan_s=30 * 86400)
        for i in range(spec.complete_rules)
    ]
    rules.append(Rule("seqd", "sequence", "d", "login", 2, "deadman", "logout", 0,
                      lifespan_s=30 * 86400))
    rules.append(Rule("seqe", "sequence", "e", "signup", 2, "threshold", "error", 1,
                      lifespan_s=spec.lifespan_s))
    return rules


class SeqSlices(Slices):
    """Per slice ``k`` and rule: a fresh cohort starts; of the cohort
    started at ``k - 1`` the first half completes now (its follow-up
    events are in slice ``k``) and the rest at ``k + 1``; the expiring
    rule's cohort never gets follow-ups, and ``restarts`` of its keys
    from slice ``k - 1`` start again while still in flight."""

    def __init__(self, seed: int, spec: SeqSpec):
        super().__init__(seed, spec.minutes)
        self.spec = spec
        self.rules = seq_rules(spec)
        self.noise = spec.noise

    @staticmethod
    def key(rule_i: int, k: int, g: int) -> int:
        return 3 * 10**8 + (k * 10 + rule_i) * 10_000 + g

    def cohort(self, rule_i: int) -> int:
        r = self.rules[rule_i]
        s = self.spec
        return {"seqd": s.absence, "seqe": s.expiring}.get(r.name, s.starts)

    def events(self, k: int) -> list[Event]:
        s, rnd = self.spec, self.rng(k)
        out: list[Event] = []

        def add(user, etype, props):
            out.append(self.event(rnd, k, len(out), user, etype, props))

        for ri, r in enumerate(self.rules):
            n = self.cohort(ri)
            for g in range(n):
                for _ in range(r.threshold):
                    add(self.key(ri, k, g), r.event_type, {"rule": r.tag})
            if r.name == "seqe":
                for g in range(min(s.restarts, n) if k > 0 else 0):
                    for _ in range(r.threshold):
                        add(self.key(ri, k - 1, g), r.event_type, {"rule": r.tag})
                continue
            if r.slot1_kind == "threshold":
                # follow-ups: first half of cohort k-1 now, rest of
                # cohort k-2 now (one pass later)
                for kk, lo, hi in ((k - 1, 0, n // 2), (k - 2, n // 2, n)):
                    if kk >= 0:
                        for g in range(lo, hi):
                            add(self.key(ri, kk, g), "error", {"rule": "-"})
            else:
                # absence rule: the second half of today's cohort logs
                # out in its own slice, so its deadman slot stays unfilled
                # one extra pass
                for g in range(n // 2, n):
                    add(self.key(ri, k, g), r.slot1_event_type, {"rule": "-"})
        return out


# -------------------------------------------------------------- stream


@dataclass
class StreamSpec:
    """stream_trickle sizing: per file."""

    thresholds: int = 1
    groups: int = 3
    near_misses: int = 3
    noise: int = 400
    interval_s: float = 0.5
    trigger: str = "1 second"


def stream_rules(spec: StreamSpec) -> list[Rule]:
    rules = [
        Rule(f"sthr{i}", "threshold", f"t{i}", "purchase", 2 + i % 2, min_amount=50)
        for i in range(spec.thresholds)
    ]
    rules.append(Rule("sseq", "sequence", "q", "login", 2, "threshold", "error", 1,
                      lifespan_s=30 * 86400))
    return rules


class StreamFiles(Slices):
    """File ``i`` of the open-loop source. Threshold keys are unique per
    file. Each file starts one sequence whose follow-up never comes
    within a run (completions are ``sequence_state``'s job: here they
    would add a fixed cost to some micro-batches and not to others).
    File 0 exists before the query starts (so the source can read a
    schema) and is the cold micro-batch on its own. File 1 starts file
    0's key again, so from the third micro-batch on that key has two
    documents in flight and the older one takes the per-document resume
    path, once per micro-batch. The model replays the batches as the
    source logged them, so how files group into micro-batches changes
    when alerts fire, never whether the check holds."""

    def __init__(self, seed: int, spec: StreamSpec):
        super().__init__(seed, 1)
        self.spec = spec
        self.rules = stream_rules(spec)
        self.noise = spec.noise
        self.noise_types = ("view", "click", "purchase")

    def events(self, k: int) -> list[Event]:
        s, rnd = self.spec, self.rng(k)
        out: list[Event] = []

        def add(user, etype, props):
            out.append(self.event(rnd, k, len(out), user, etype, props))

        for i, r in enumerate(self.rules[: s.thresholds]):
            for g in range(s.groups + s.near_misses):
                user = 4 * 10**8 + (k * 10 + i) * 100 + g
                n = r.threshold if g < s.groups else r.threshold - 1
                for _ in range(n):
                    add(user, "purchase", {"rule": r.tag, "amount": rnd.randrange(51, 100)})
        seq = self.rules[-1]
        for kk in (1, 0) if k == 1 else (k,):
            for _ in range(seq.threshold):
                add(self.seq_key(kk), seq.event_type, {"rule": seq.tag})
        return out

    @staticmethod
    def seq_key(k: int) -> int:
        return 5 * 10**8 + k


# --------------------------------------------------------------- model


def _sorted_ids(events: list[Event]) -> tuple[str, ...]:
    cap = sorted(events, key=lambda e: (e.ts, e.event_id))[:MAX_EVENTS]
    return tuple(sorted(e.event_id for e in cap))


@dataclass
class SeqDoc:
    rule: Rule
    key: str
    slot0: tuple[str, ...]
    created_pass: int
    slot1: tuple[str, ...] | None = None


@dataclass
class Model:
    """The engine's alerting semantics over plain events.

    ``step(window, pass_no)`` takes the events of one pass's window and
    returns the alerts that pass must write; ``inflight`` holds the
    sequence documents still open. ``expired`` decides, per document,
    whether wall-clock lifespan expiry has reaped it (the benchmark
    feeds it pass timings); documents it cannot decide are reported by
    ``inflight_bounds``."""

    rules: list[Rule]
    alerted: set[str] = field(default_factory=set)
    inflight: list[SeqDoc] = field(default_factory=list)

    def _inflight_ids(self) -> set[str]:
        out: set[str] = set()
        for d in self.inflight:
            out.update(d.slot0)
            out.update(d.slot1 or ())
        return out

    def step(self, window: list[Event], pass_no: int, expired=lambda d: False) -> list[Alert]:
        """One engine pass over ``window``; ``expired(doc)`` is True,
        False or None (undecidable) at this pass's finalize."""
        alerts: list[Alert] = []

        def emit(a: Alert) -> None:
            alerts.append(a)
            self.alerted.update(a.ids)

        # 1. resume in-flight sequences, newest first
        captured: set[str] = set()
        for d in sorted(self.inflight, key=lambda d: -d.created_pass):
            if d.slot1 is not None:
                continue
            r = d.rule
            follow = [e for e in window if e.event_type == r.slot1_event_type
                      and str(e.user_id) == d.key]
            if r.slot1_kind == "deadman":
                if len(follow) <= r.slot1_threshold:
                    d.slot1 = _sorted_ids(follow)
                continue
            seen = self.alerted | self._inflight_ids() | captured
            fresh = [e for e in follow if e.event_id not in seen]
            if len(fresh) >= r.slot1_threshold:
                d.slot1 = _sorted_ids(fresh)
                captured.update(d.slot1)

        # 2. rules in file order
        for r in self.rules:
            cands = [e for e in window if r.matches(e)]
            if r.kind == "deadman":
                if not cands:
                    emit(Alert(r.name, "user_id", ()))
                for key, evs in sorted(_group(cands).items()):
                    if len(evs) <= r.threshold:
                        emit(Alert(r.name, key, _sorted_ids(evs)))
                continue
            # F8 for threshold rules; F9 + F8 for sequence starts
            seen = self.alerted | (self._inflight_ids() if r.kind == "sequence" else set())
            groups = _group([e for e in cands if e.event_id not in seen])
            for key, evs in sorted(groups.items()):
                if len(evs) < r.threshold:
                    continue
                if r.kind == "threshold":
                    emit(Alert(r.name, key, _sorted_ids(evs)))
                else:
                    self.inflight.append(SeqDoc(r, key, _sorted_ids(evs), pass_no))

        # 3. complete, then expire
        keep = []
        for d in self.inflight:
            if d.slot1 is not None:
                emit(Alert(d.rule.name, d.key, tuple(sorted(d.slot0 + d.slot1))))
            elif expired(d) is not True:
                keep.append(d)
        self.inflight = keep
        return alerts

    def inflight_bounds(self, expired) -> tuple[int, int]:
        """(fewest, most) in-flight documents the store may hold after
        the pass: undecidable expiries may have gone either way."""
        maybe = sum(1 for d in self.inflight if expired(d) is None)
        return len(self.inflight) - maybe, len(self.inflight)


def _group(events: list[Event]) -> dict[str, list[Event]]:
    out: dict[str, list[Event]] = defaultdict(list)
    for e in events:
        out[str(e.user_id)].append(e)
    return out
