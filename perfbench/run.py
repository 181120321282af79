"""Engine-pass benchmark: run one workload from one seed.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cron_overlap --seed 1 --seconds 25 --trace 0

Prints every metric as ``name value unit`` and, as the last line, one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Each run also writes a result record under
``.perfbench/records/`` that no later run overwrites.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from datetime import datetime, timezone  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    nproc: int
    t_start: float


def bench_spec() -> dict:
    """The benchmark's definition: workloads, metrics, units, bounds."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_key() -> str:
    """The commit when the checkout is a git repository, else a hash of
    the engine and benchmark sources."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--short=12", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha1()
    for top in ("alerta_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return "tree-" + h.hexdigest()[:12]


def versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def write_record(record: dict) -> str:
    d = os.path.join(ROOT, ".perfbench", "records", record["commit"])
    os.makedirs(d, exist_ok=True)
    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S%fZ")
    name = (
        f"{record['workload']}-seed{record['seed']}-cpu{record['nproc']}"
        f"-trace{int(record['trace'])}-{stamp}-{os.getpid()}.json"
    )
    path = os.path.join(d, name)
    with open(path, "x") as f:  # never overwrite another record
        json.dump(record, f, indent=1, sort_keys=True)
    return path


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    if spark is None:
        return
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "alerta_spark", "engine.py")):
        print(f"no alerta_spark package next to {HERE}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep Spark's and Python's scratch files inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), work, nproc, T_START)
    load_before = os.getloadavg()
    bench = WORKLOADS[args.workload](ctx)
    try:
        res = bench.run()
        spark = bench.spark
        record = {
            "commit": source_key(),
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "nproc": nproc,
            "versions": versions(spark),
            "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(),
            "utc": datetime.now(timezone.utc).isoformat(),
            **res,
        }
    finally:
        stop_spark(getattr(bench, "spark", None))
        shutil.rmtree(work, ignore_errors=True)

    e2e = {k: {"value": v, "unit": u} for k, (v, u) in res["e2e"].items()}
    for k, m in e2e.items():
        note = res["notes"].get(k)
        print(f"{k} {m['value']:.6g} {m['unit']}" + (f"  ({note})" if note else ""))
    error_rate = res["failed"] / res["attempted"]
    print(f"error_rate {error_rate:.6g} ratio  ({res['failed']} of {res['attempted']} passes)")
    for e in res["errors"]:
        print(f"DEFECT {e}")
    if args.trace:
        layers = res["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench_spec()["per_layer"]}
        for k, m in metrics.items():
            print(f"{k} {m['value']:.6g} {m['unit']}")
    else:
        metrics = e2e
    write_record(record)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
