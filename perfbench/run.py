#!/usr/bin/env python3
"""wvlet_spark benchmark: two closed-loop workloads with one client.

    python3 perfbench/run.py --workload interactive|migrate \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke        # one tiny pass of everything

Run from the repository root.  Each run prints one JSON line of details
(environment stamp, sample counts, known failures) and, as its last line,
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.

Inputs are generated inside the checkout under perfbench/.cache on the
first run (tables from perfbench/gen_data.py, oracle answers from DuckDB)
and reused afterwards; the seed fixes the order of operations.  See
perfbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

from common import CACHE, ROOT, data_dir  # noqa: E402

# table scale per workload; the check tables hold the migrate round trips
# and the ops' warm-up; smoke runs use them for all
SCALES = {"interactive": 0.01, "migrate": 0.001}
CHECK_SCALE = SMOKE_SCALE = 0.001
DRIVER_MEM = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def repo_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "bench.py"))
            and os.path.isfile(os.path.join(ROOT, "wvlet_spark", "__init__.py")))


def wire_environment() -> None:
    """Keep every file the run writes inside the checkout, let Spark's
    Python workers import the engine, and size the driver heap."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    # every JVM (the launcher and the driver): temp files in the checkout,
    # and no hsperfdata file, which HotSpot always writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# ------------------------------------------------------------------- runs

def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_workload(args) -> tuple[dict, dict]:
    import workloads

    t = time.perf_counter()
    if not args.smoke:
        prepare_all()
    sf = SMOKE_SCALE if args.smoke else SCALES[args.workload]
    ctx = workloads.Context(
        seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        smoke=args.smoke, cpus=nproc(), t_process=T_PROCESS,
        sf_dir=data_dir(sf), check_dir=data_dir(CHECK_SCALE),
        prep_s=time.perf_counter() - t,
        trace_path=os.path.join(
            CACHE, "trace", f"{args.workload}-seed{args.seed}.json"))
    return workloads.summarize(getattr(workloads, args.workload)(ctx))


def prepare_all() -> None:
    """Generate every workload's tables and oracle answers, so only the
    first run in a checkout pays for them."""
    import workloads

    for w, sf in SCALES.items():
        workloads.prepare(w, data_dir(sf), data_dir(CHECK_SCALE))


def smoke() -> int:
    """Run every workload once, untraced and traced, on the smallest
    tables; check that each metric of BENCHMARK.json is printed with its
    unit and that the output checks ran."""
    spec = load_spec()
    bad = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", "1", "--seconds", "1", "--trace", str(trace),
                   "--smoke-run"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                bad.append(f"{w}/trace{trace}: exit {proc.returncode}: "
                           f"{proc.stderr[-400:]}")
                continue
            out, detail = json.loads(lines[-1]), json.loads(lines[-2])
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != want:
                bad.append(f"{w}/trace{trace}: metrics differ: missing "
                           f"{sorted(set(want) - set(got))}, extra "
                           f"{sorted(set(got) - set(want))}, units "
                           f"{[k for k in want if k in got and got[k] != want[k]]}")
            if not detail["detail"].get("checked"):
                bad.append(f"{w}/trace{trace}: output checks did not run")
            print(f"{w} trace={trace}: correct={out['correct']} "
                  f"attempted={out['attempted']} failed={out['failed']} "
                  f"checked={detail['detail'].get('checked')}")
    for b in bad:
        print("SMOKE FAIL:", b)
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description="wvlet_spark benchmark")
    ap.add_argument("--workload", choices=sorted(SCALES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on the smallest tables")
    ap.add_argument("--smoke-run", action="store_true",
                    help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not repo_present():
        print(f"wvlet_spark sources not found under {ROOT}", file=sys.stderr)
        return 2
    wire_environment()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    args.smoke = args.smoke_run
    result, detail = run_workload(args)
    spec = load_spec()
    kind = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    metrics = {name: {"value": result["metrics"][name], "unit": unit}
               for name, unit in units.items()}
    detail.update(workload=args.workload, seed=args.seed, trace=args.trace,
                  cores=nproc(), python=platform.python_version())
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
