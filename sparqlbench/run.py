"""End-to-end benchmark of the SPARQL endpoint, its ingest path and its
graph analytics. Run from the repository root:

    python3 sparqlbench/run.py --workload serve_point --seed 1 --seconds 12 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".sparqlbench")


def pin_env(scratch: str) -> dict:
    """Fix the run environment before Spark (or the program) is
    imported, and return what was fixed."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    # a quarter of RAM, at most 4g: the session default (48g) exceeds
    # small machines, and the graphs here are far below a gigabyte
    driver_gb = max(1, min(4, ram // 4 // 2**30))
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # keep the JVMs' scratch files inside the checkout too
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
    }
    os.environ.update(env)
    for k in ("SPARK_GRAFT_CACHE_PARTITIONS", "SPARK_MASTER"):
        os.environ.pop(k, None)
    return {"nproc": cpus, "ram_gb": round(ram / 2**30, 1), **env}


def git_rev() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


class Session:
    """Owns the SparkSession of one run and its JVM process."""

    def __init__(self):
        self.spark = None

    def start(self):
        from graphdb_wikidata_spark.session import get_spark

        self.spark = get_spark(
            app_name="sparqlbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def versions(self) -> dict:
        if self.spark is None:
            return {}
        return {
            "spark": self.spark.version,
            "java": self.spark._jvm.System.getProperty("java.version"),
        }

    def stop(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        proc = SparkContext._gateway.proc
        self.spark.stop()
        SparkContext._gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--clients", type=int, default=None,
                    help="serve_point clients (default: one per core)")
    ap.add_argument("--requests", type=int, default=None,
                    help="serve_point: fixed requests per client instead of a time window")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    env = pin_env(scratch)
    session = Session()
    try:
        import graphdb_wikidata_spark  # noqa: F401 - fail fast without the program
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"unknown workload {args.workload!r}; have {sorted(workloads.WORKLOADS)}",
                  file=sys.stderr)
            return 2
        ctx = workloads.Ctx(
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            inputs=os.path.join(WORK, "inputs"),
            scratch=scratch,
            start_spark=session.start,
            clients=args.clients or env["nproc"],
            max_requests=args.requests,
        )
        os.makedirs(ctx.inputs, exist_ok=True)
        t0 = time.perf_counter()
        res = workloads.WORKLOADS[args.workload](ctx)
        wall = time.perf_counter() - t0
        env.update(session.versions())
    except Exception:  # noqa: BLE001 - report and fail the run without a result
        traceback.print_exc()
        return 1
    finally:
        session.stop()
        shutil.rmtree(scratch, ignore_errors=True)

    env.update(python=platform.python_version(), git=git_rev(), workload=args.workload,
               seed=args.seed, seconds=args.seconds, trace=args.trace, wall_s=round(wall, 2))
    print("env " + json.dumps(env, sort_keys=True))
    print("notes " + json.dumps(res.notes, sort_keys=True))
    if args.trace:
        names = workloads.LAYER_METRICS
        values = res.layers
    else:
        names = workloads.END_TO_END
        values = res.end_to_end
    out = {
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values[k], "unit": names[k]} for k in names},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
