#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Workloads: ``dashboard``,
``etl_hourly``, ``curation`` (see perfbench/README.md).  The last line
of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics BENCHMARK.json declares under ``--trace 0``
and its per-layer metrics under ``--trace 1``.  The line before it is
the full report: every end-to-end metric with its unit, the environment
stamp, failure details, tail percentile and sample count.
``--smoke`` runs tiny inputs (sf0.001) for the benchmark's own test.

Everything the run writes stays in the checkout: scratch data under
``.perfbench_work/`` (removed at exit) and span files plus the last
report per workload under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dashboard", "etl_hourly", "curation")
PACKAGE = "data_engineer_project_weather_analytics_spark"
#: driver memory of the run's session, unless SPARK_GRAFT_DRIVER_MEM is
#: set; the report records the value used.  The engine's default is 8g.
#: With it, dashboard's op_p50_s spread across seeds ((q3 - q1) /
#: median) was 0.24-0.40 in six sets of 5-10 runs; at 3g, in ten runs
#: interleaved with ten 8g ones, it was 0.21 (8g: 0.30), and peak RSS
#: varied a third as much.
DRIVER_MEM = "3g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


def git_commit() -> str | None:
    """HEAD of the checkout's own ``.git``, if it has one."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        with open(os.path.join(git, head[5:])) as fh:
            return fh.read().strip()
    except OSError:
        return None


def source_digest() -> str:
    """sha1 over the engine's Python sources: identifies the code
    measured even where the checkout carries no git metadata."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, PACKAGE)
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def isolate(work: str, cpus: int) -> None:
    """Point every temporary file of Spark, the JVM and Python at
    ``work`` and fix the core count before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/ — run from a "
              "full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = [m["name"] for m in json.load(fh)["per_layer" if args.trace else "end_to_end"]]
    sys.path[:0] = [HERE, ROOT]
    nproc = len(os.sched_getaffinity(0))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", nproc))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench_work"))
    env = {
        "nproc": nproc, "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "cpus_used": cpus, "seed": args.seed, "git_commit": git_commit(),
        "source_sha1": source_digest(), "python": sys.version.split()[0],
        "out_dir": out_dir,
    }
    try:
        isolate(work, cpus)
        import workloads

        report, metrics = workloads.run(args.workload, args.seed, args.seconds,
                                        bool(args.trace), work, args.smoke, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = workloads.PER_LAYER_UNITS if args.trace else workloads.END_TO_END_UNITS
    size = "smoke" if args.smoke else "full"
    last = os.path.join(out_dir, f"last-untraced-{args.workload}-{size}.json")
    if args.trace:
        # only against an untraced run of the same seed, code and session
        try:
            with open(last) as fh:
                untraced = json.load(fh)
        except (OSError, ValueError):
            untraced = None
        same = ("seed", "git_commit", "source_sha1", "cpus_used", "driver_memory")
        report["trace_overhead_op_p50_s"] = (
            report["end_to_end"]["op_p50_s"]["value"]
            - untraced["end_to_end"]["op_p50_s"]["value"]
            if untraced and all(untraced["env"].get(k) == report["env"].get(k) for k in same)
            else None)
    else:
        with open(last, "w") as fh:
            json.dump(report, fh)
    print(json.dumps(report))
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["ops"],
        "failed": report["failed"],
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
