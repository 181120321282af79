"""Layer report: where one engine pass's wall time goes, per workload.

    python3 perfbench/report.py > perfbench/LAYERS.md

Reads the newest traced record (``--trace 1``) of each workload under
``.perfbench/records/<commit>/`` of the newest commit and prints, per
workload, the median self time and executor run time of each layer over
the traced warm passes, the Spark counters, and the same numbers pass
by pass.
"""

from __future__ import annotations

import glob
import json
import os
import sys

from run import ROOT, bench_spec
from tracing import PASS, SELF_TIME

PER_PASS = ["pass_s", "spark.driver_s", "spark.executor_run_s", "spark.jobs", "spark.tasks",
            "ckpt.s", "state.append_s", "state.rewrite_s", "sources.input_rows"]


def newest_records() -> tuple[str, dict[str, dict]]:
    base = os.path.join(ROOT, ".perfbench", "records")
    dirs = sorted(glob.glob(os.path.join(base, "*")), key=os.path.getmtime)
    if not dirs:
        raise SystemExit("no records yet: run perfbench/run.py --trace 1 first")
    commit = os.path.basename(dirs[-1])
    out: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(base, commit, "*-trace1-*.json"))):
        with open(path) as f:
            rec = json.load(f)
        old = out.get(rec["workload"])
        if old is None or rec["utc"] > old["utc"]:
            out[rec["workload"]] = rec
    return commit, out


def fmt(v) -> str:
    if v is None:
        return "-"
    if isinstance(v, float) and v != int(v):
        return f"{v:.3g}"
    return f"{int(v):,}"


def workload_table(rec: dict, self_keys: list[str]) -> list[str]:
    lay = rec["layers"]
    ex = lay.get("exec_s_by_layer", {})
    pp = lay["per_pass"]
    pass_p50 = rec["e2e"]["pass_s_p50"][0]
    lines = [
        f"## {rec['workload']}",
        "",
        f"seed {rec['seed']}, {rec['nproc']} CPUs, {rec['seconds']:g} s window, "
        f"{lay['traced_passes']} traced warm passes of {rec['passes']} "
        f"(Spark {rec['versions']['spark']}, Java {rec['versions']['java']}, "
        f"Python {rec['versions']['python']}; load {rec['loadavg_before'][0]:.1f} before, "
        f"{rec['loadavg_after'][0]:.1f} after). Warm pass p50 {pass_p50:.2f} s over traced and untraced passes; "
        f"trace overhead {lay['bench.trace_overhead']:.2f}x.",
        "",
        "| layer | self s | executor run s (its jobs) |",
        "|---|---:|---:|",
    ]
    for key in self_keys:
        span = SELF_TIME[key]
        name = "engine glue (pass span)" if span == PASS else span
        lines.append(f"| {name} | {fmt(lay.get(key, 0.0))} | {fmt(ex.get(span, 0.0))} |")
    drv, run = lay["spark.driver_s"], lay["spark.executor_run_s"]
    lines += ["", f"Executor run time {run:.2f} s {'exceeds' if run > drv else 'is below'} "
                  f"driver time {drv:.2f} s per pass.",
              "", "| counter (median per pass) | value |", "|---|---:|"]
    for k in sorted(lay):
        if "." in k and k not in self_keys and not isinstance(lay[k], dict):
            lines.append(f"| {k} | {fmt(lay[k])} |")
    lines += ["", "Per traced pass:", "",
              "| " + " | ".join(["pass"] + PER_PASS) + " |",
              "|" + "---:|" * (len(PER_PASS) + 1)]
    for i, p in enumerate(pp["pass"]):
        row = [str(p)] + [fmt(pp.get(k, [None] * (i + 1))[i]) for k in PER_PASS]
        lines.append("| " + " | ".join(row) + " |")
    return lines + [""]


def main() -> int:
    commit, recs = newest_records()
    # the self-time rows, in BENCHMARK.json's per-layer order
    self_keys = [m["name"] for m in bench_spec()["per_layer"] if m["name"] in SELF_TIME]
    lines = [
        "# Engine-pass layer table",
        "",
        f"Generated by `python3 perfbench/report.py` from traced runs of `{commit}`.",
        "Self time is span time minus child spans; operator spans only build plans, so",
        "executor time is attributed to the layer whose span started the job.",
        "`spark.driver_s` is pass wall time covered by no job.",
        "",
    ]
    for w in ("cron_overlap", "sequence_state", "stream_trickle"):
        if w in recs:
            lines += workload_table(recs[w], self_keys)
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
