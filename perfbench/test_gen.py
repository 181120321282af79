"""Tests of the benchmark's generator and expected-output model.

    python3 -m pytest perfbench/test_gen.py -q

No Spark: the model is checked against alerts worked out by hand.
"""

import json
import os
from datetime import datetime, timedelta, timezone

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from workloads import StoreReader, tail

T = datetime(2026, 1, 5, tzinfo=timezone.utc)


def ev(eid, etype, user, rule="-", amount=0, k=0):
    return gen.Event(eid, T + timedelta(seconds=int(eid[1:])), user, etype,
                     {"rule": rule, "amount": amount}, k)


def read_bytes(paths):
    return [open(p, "rb").read() for p in paths]


def write_slices(tmp_path, name, seed):
    out = []
    for cls, spec in ((gen.CronSlices, gen.CronSpec(noise=500)),
                      (gen.SeqSlices, gen.SeqSpec(noise=500)),
                      (gen.StreamFiles, gen.StreamSpec())):
        s = cls(seed, spec)
        for k in (0, 3):
            p = tmp_path / name / f"{cls.__name__}-{k}.parquet"
            gen.write_table(s.table(k), str(p))
            out.append(p)
        mask = gen.write_rules(s.rules, str(tmp_path / name / cls.__name__))
        out += sorted((tmp_path / name / cls.__name__).glob("*.yml"))
        assert mask.endswith("*.yml")
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = write_slices(tmp_path, "a", 7)
    b = write_slices(tmp_path, "b", 7)
    c = write_slices(tmp_path, "c", 8)
    assert read_bytes(a) == read_bytes(b)
    assert [x for x in read_bytes(a) if x.startswith(b"PAR1")] != [
        x for x in read_bytes(c) if x.startswith(b"PAR1")
    ]


def test_planted_keys_are_disjoint_between_rules():
    s = gen.CronSlices(1, gen.CronSpec(noise=0))
    owners = {}
    for k in range(3):
        for e in s.events(k):
            if e.tag not in ("", "-") and e.user_id >= 10**8:
                assert owners.setdefault(e.user_id, e.tag) == e.tag


def test_model_hand_checked_case():
    thr = gen.Rule("thr", "threshold", "t", "purchase", 2, min_amount=50)
    dm = gen.Rule("dm", "deadman", "d", "heartbeat", 1)
    quiet = gen.Rule("quiet", "deadman", "q", "heartbeat", 0)
    seq = gen.Rule("seq", "sequence", "s", "signup", 2, "threshold", "error", 1,
                   lifespan_s=3600)
    m = gen.Model([thr, dm, quiet, seq])

    pass0 = [
        ev("e1", "purchase", 1, "t", 60), ev("e2", "purchase", 1, "t", 70),
        ev("e3", "purchase", 2, "t", 80),
        ev("e4", "purchase", 2, "t", 10),  # below the amount bar
        ev("e5", "heartbeat", 9, "d"),
        ev("e6", "signup", 5, "s"), ev("e7", "signup", 5, "s"),
    ]
    got0 = m.step(pass0, 0)
    assert sorted(got0, key=repr) == sorted([
        gen.Alert("thr", "1", ("e1", "e2")),
        gen.Alert("dm", "9", ("e5",)),
        gen.Alert("quiet", "user_id", ()),  # nothing matched: synthesized row
    ], key=repr)
    assert [(d.key, d.slot0) for d in m.inflight] == [("5", ("e6", "e7"))]

    # overlapping window: pass-0 events are scanned again
    pass1 = pass0 + [
        ev("e8", "purchase", 2, "t", 90),  # user 2 reaches 2 fresh events
        ev("e9", "purchase", 1, "t", 90),  # user 1: e1, e2 already alerted
        ev("e10", "heartbeat", 9, "d"),  # host 9 now has 2 beats: quiet
        ev("e11", "error", 5),  # completes the sequence
        ev("e12", "signup", 6, "s"),  # one signup: below threshold
    ]
    got1 = m.step(pass1, 1)
    assert sorted(got1, key=repr) == sorted([
        gen.Alert("thr", "2", ("e3", "e8")),
        gen.Alert("quiet", "user_id", ()),
        gen.Alert("seq", "5", ("e11", "e6", "e7")),
    ], key=repr)
    assert m.inflight == []

    # the sequence's events are alerted now; a later signup pair for
    # the same user starts a new document from fresh events only
    pass2 = pass1 + [ev("e13", "signup", 5, "s"), ev("e14", "signup", 5, "s")]
    m.step(pass2, 2)
    assert [(d.key, d.slot0) for d in m.inflight] == [("5", ("e13", "e14"))]


def test_model_expiry_bounds():
    seq = gen.Rule("seq", "sequence", "s", "signup", 1, "threshold", "error", 1, lifespan_s=5)
    m = gen.Model([seq])
    m.step([ev("e1", "signup", 5, "s")], 0)
    undecided = lambda d: None  # noqa: E731
    assert m.inflight_bounds(undecided) == (0, 1)
    m.step([], 1, expired=lambda d: True)
    assert m.inflight == []


def test_tail_needs_ten_samples_beyond():
    assert tail(list(range(25)))[1] == "p50 of 25"
    assert tail(list(range(40)))[1] == "p75 of 40"
    assert tail(list(range(200)))[1] == "p95 of 200"
    assert tail([3.0, 1.0, 2.0]) == (3.0, "max of 3")


def test_stream_restart_leaves_two_documents_on_one_key():
    files = gen.StreamFiles(1, gen.StreamSpec(noise=0))
    m = gen.Model(files.rules)
    key = str(files.seq_key(0))
    # files 0 and 1 in one batch: one document holds both starts
    m.step(files.events(0) + files.events(1), 0)
    assert [len(d.slot0) for d in m.inflight if d.key == key] == [4]
    # files 0 and 1 in different batches: the restart in file 1 opens a
    # second document on file 0's key
    m = gen.Model(files.rules)
    m.step(files.events(0), 0)
    m.step(files.events(1), 1)
    assert sorted(d.created_pass for d in m.inflight if d.key == key) == [0, 1]
    # no other file starts a key again
    m.step(files.events(2) + files.events(3), 2)
    assert sorted(d.key for d in m.inflight) == [key] + [str(files.seq_key(k)) for k in (0, 1, 2, 3)]


class _Store:
    def __init__(self, d):
        self.d = d

    def data_dir(self):
        return self.d


def write_alerts(path, rows):
    doc = json.dumps({"alert_type": "threshold", "metadata": {"value": 7}})
    pq.write_table(pa.Table.from_pydict({
        "_id": [r[0] for r in rows],
        "alerted_event_ids": [list(r[1]) for r in rows],
        "doc": [doc] * len(rows),
        "alert_name": ["thr"] * len(rows),
    }), path)


def test_store_reader_reports_an_alert_appended_twice(tmp_path):
    reader = StoreReader(_Store(str(tmp_path)))
    write_alerts(tmp_path / "a.parquet", [("x", ["e1", "e2"])])
    assert reader.new_alerts()[0][0] == gen.Alert("thr", "7", ("e1", "e2"))
    write_alerts(tmp_path / "b.parquet", [("x", ["e1", "e2"]), ("y", ["e3"])])
    assert [a for a, _ in reader.new_alerts()] == [gen.Alert("thr", "7", ("e3",))]
    assert len(reader.duplicates) == 1 and "a.parquet and b.parquet" in reader.duplicates[0][1]


def test_store_reader_accepts_a_compaction_rewrite(tmp_path):
    reader = StoreReader(_Store(str(tmp_path)))
    write_alerts(tmp_path / "a.parquet", [("x", ["e1"])])
    write_alerts(tmp_path / "b.parquet", [("y", ["e2"])])
    assert len(reader.new_alerts()) == 2
    # compaction: both rows move into one new file, the old files go
    write_alerts(tmp_path / "c.parquet", [("x", ["e1"]), ("y", ["e2"])])
    os.remove(tmp_path / "a.parquet")
    os.remove(tmp_path / "b.parquet")
    assert reader.new_alerts() == []
    assert reader.duplicates == []
