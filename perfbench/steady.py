"""Steadiness check: repeated runs per workload, each with another seed.

    python3 perfbench/steady.py --runs 10
    python3 perfbench/steady.py --compare A.json B.json

For every end-to-end metric it prints the median of the runs, the
quartiles (``statistics.quantiles(values, n=4)``) and the spread
(third minus first quartile, over the median) against the metric's
bound in BENCHMARK.json. ``--compare`` checks that the second set's
medians are not worse than the first's by more than the bounds. Each
set is saved under ``.perfbench/steady/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

from run import ROOT, bench_spec


def run_once(spec: dict, workload: str, seed: int) -> tuple[dict, float]:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0",
    ]
    t0 = time.time()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.time() - t0
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} exited {out.returncode}")
    for line in out.stdout.splitlines():
        if line.startswith("DEFECT"):
            print("   ", line)
    return json.loads(out.stdout.strip().splitlines()[-1]), wall


def summarize(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def collect(spec: dict, runs: int) -> dict:
    out = {"utc": datetime.now(timezone.utc).isoformat(), "workloads": {}}
    for w in (w["name"] for w in spec["workloads"]):
        values: dict[str, list[float]] = {}
        walls, failed = [], 0
        for i in range(runs):
            res, wall = run_once(spec, w, 1 + i)
            walls.append(wall)
            failed += res["failed"]
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"  {w} seed {1 + i}: {wall:.0f}s, failed {res['failed']}/{res['attempted']}",
                  flush=True)
        out["workloads"][w] = {"values": values, "walls": walls, "failed": failed}
    return out


def report(spec: dict, data: dict) -> bool:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = True
    for w, d in data["workloads"].items():
        print(f"\n{w}: {len(d['walls'])} runs, median wall {statistics.median(d['walls']):.0f}s, "
              f"failed passes {d['failed']}")
        print(f"  {'metric':22} {'median':>11} {'q1':>11} {'q3':>11} {'spread':>7} {'bound':>6}")
        for k, vals in d["values"].items():
            s = summarize(vals)
            b = bounds.get(k, 0.0)
            verdict = "steady" if s["spread"] < b / 3 else "ok" if s["spread"] <= b else "WIDE"
            if s["spread"] > b:
                ok = False
            print(f"  {k:22} {s['median']:11.5g} {s['q1']:11.5g} {s['q3']:11.5g} "
                  f"{s['spread']:7.3f} {b:6.2f} {verdict}")
    return ok


def compare(spec: dict, a: dict, b: dict) -> bool:
    ok = True
    for m in spec["end_to_end"]:
        for w in a["workloads"]:
            va = statistics.median(a["workloads"][w]["values"][m["name"]])
            vb = statistics.median(b["workloads"][w]["values"][m["name"]])
            worse = (vb - va) / va if m["better"] == "lower" else (va - vb) / va
            flag = "WORSE" if worse > m["bound"] else "ok"
            ok &= flag == "ok"
            print(f"{w:15} {m['name']:22} {va:11.5g} -> {vb:11.5g} {worse:+7.3f} "
                  f"(bound {m['bound']}) {flag}")
    return ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--compare", nargs=2, metavar=("FIRST", "SECOND"))
    args = ap.parse_args(argv)
    spec = bench_spec()
    if args.compare:
        a, b = (json.load(open(p)) for p in args.compare)
        return 0 if compare(spec, a, b) else 1
    data = collect(spec, args.runs)
    d = os.path.join(ROOT, ".perfbench", "steady")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%SZ") + ".json")
    with open(path, "x") as f:
        json.dump(data, f, indent=1)
    print(f"saved {path}")
    return 0 if report(spec, data) else 1


if __name__ == "__main__":
    sys.exit(main())
