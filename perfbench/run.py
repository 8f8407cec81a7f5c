"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  Generates the workload's inputs from the
seed (cached under ``perfbench/.cache``), runs the program at
``local[<cpus>]`` with cpus = the CPUs this process may use, checks every
output, and prints as the last line of standard output one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones of ``BENCHMARK.json``; with ``--trace 1``
the per-layer ones.  The line before it stamps workload, seed, cpus, the
pyspark version and the input digest.

Everything the run writes stays under ``perfbench/`` (``.cache``, ``.work``,
``.out``); one lock file keeps two runs from holding Spark sessions at the
same time.
"""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
HEAP = "2g"  # Spark driver JVM heap


def _environment(work: str, cpus: int) -> None:
    """Pin parallelism and keep every temporary file inside the checkout.
    Must run before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CPUS": str(cpus),
        # a fixed, pre-touched driver heap (-Xmx from SPARK_DRIVER_MEM, -Xms
        # and AlwaysPreTouch below): with a heap that grows on demand, or a
        # fixed one G1 touches as its young generation adapts, peak_rss_mb
        # moved by 30-40% between runs of the same input
        "SPARK_DRIVER_MEM": HEAP,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            "--driver-java-options \"-Xms%s -XX:+AlwaysPreTouch "
            "-Djava.io.tmpdir=%s\" "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell" % (HEAP, tmp)
        ),
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if REPO not in sys.path:
        sys.path.insert(0, REPO)
    # fail before any work when the program is not in this checkout
    import pypdfproc_spark.spark.pipeline  # noqa: F401
    import __spark_entry__  # noqa: F401
    import fixtures.pagesgen  # noqa: F401

    from perfbench import inputs, workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error("unknown workload %r (have: %s)"
                 % (args.workload, ", ".join(workloads.WORKLOADS)))

    cpus = len(os.sched_getaffinity(0))
    for d in (".cache", ".out"):
        os.makedirs(os.path.join(HERE, d), exist_ok=True)
    with open(os.path.join(HERE, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        work = os.path.join(HERE, ".work")
        shutil.rmtree(work, ignore_errors=True)
        _environment(work, cpus)
        import pyspark

        ctx = workloads.Ctx(
            seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
            cpus=cpus, work=work, out=os.path.join(HERE, ".out"),
            cache=inputs.InputCache(os.path.join(HERE, ".cache")),
        )
        result = workloads.WORKLOADS[args.workload](ctx)
        shutil.rmtree(work, ignore_errors=True)

    units = {}
    spec = _spec()
    for m in spec["per_layer" if args.trace else "end_to_end"]:
        units[m["name"]] = m["unit"]
    missing = set(units) ^ set(result.metrics)
    if missing:
        raise RuntimeError("metrics differ from BENCHMARK.json: %s" % sorted(missing))
    print("perfbench: " + json.dumps(dict(
        workload=args.workload, seed=args.seed, cpus=cpus,
        pyspark=pyspark.__version__, trace=args.trace, **ctx.stamp)))
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {
            name: {"value": result.metrics[name], "unit": units[name]}
            for name in sorted(units)
        },
    }), flush=True)
    return 0


def _spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
