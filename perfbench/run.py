"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {query-mix,screen-llm} --seed N \\
        --seconds S --trace {0,1}

Runs from the root of a checkout of the repository and writes only under
``.perfbench/`` there. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
lines before it name every metric with its unit and sample count, and
give the tail percentile, the input digest and the environment. A traced
run also writes its spans to ``.perfbench/out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUIRED = ("bigdata_cookbook_spark", "__spark_entry__.py", "bench.py", "tools")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["query-mix", "screen-llm"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Confine every temporary file to ``work`` and make the repository
    importable in Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # inputs are small; a 2 GB heap keeps the run a modest neighbour on a
    # shared host
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = None


def stop_spark() -> None:
    """Stop the session, the py4j gateway and the JVM; wait for the JVM
    (and with it the Python workers it started) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.probe import alive, process_tree

    gateway = SparkContext._gateway
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    tree = process_tree(proc.pid) if proc is not None else []
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while any(map(alive, tree)) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = [r for r in REQUIRED if not os.path.exists(os.path.join(ROOT, r))]
    if missing:
        print(f"perfbench: not a repository checkout, missing {missing}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    prepare_environment(work)

    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    from perfbench.workloads import WORKLOADS, Run

    run = Run(ROOT, work, args.seed, args.seconds, bool(args.trace))
    t0 = time.perf_counter()
    try:
        res = WORKLOADS[args.workload](run)
        env = run.environment()
        report = run.trace_report() if args.trace else None
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    wall = time.perf_counter() - t0

    declared = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}
    values = res["layer"] if args.trace else res["e2e"]
    if set(values) != set(declared):
        raise SystemExit(f"perfbench: metric set mismatch {sorted(set(values) ^ set(declared))}")
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in declared.items()}
    ok = not run.failures and all(math.isfinite(m["value"]) for m in metrics.values())

    for name, m in metrics.items():
        print(f"metric {name} = {m['value']:.6g} {m['unit']} (op samples {res['samples']})")
    info = {"workload": args.workload, "seed": args.seed, "run_wall_s": wall,
            **run.info, "environment": env}
    print("info " + json.dumps(info, sort_keys=True, default=str))
    if report is not None:
        print("trace " + json.dumps(report, sort_keys=True))
        out = os.path.join(base, "out")
        os.makedirs(out, exist_ok=True)
        spans = [
            {k: v for k, v in s.items() if k not in ("stages",)}
            for s in run.tracer.spans
        ]
        with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w",
                  encoding="utf-8") as f:
            json.dump({"info": info, "self_time": report, "spans": spans}, f,
                      sort_keys=True, default=str)
    print(json.dumps({
        "correct": ok,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
