"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Runs one workload against the engine in this checkout, in one process
on ``local[nproc]``, as a closed loop with a single caller: the next
operation starts only after the previous one returned and was checked.
Set-up (session start, seeding, warm-up) is timed on its own. The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. Everything the run writes
stays under ``.perfbench_work/`` in the current directory.

Workloads: metar_ingest and lakehouse_mixed (the two in
BENCHMARK.json), lakehouse_txn, curation_queries, warehouse_queries and
lakehouse_tail (runnable, not listed; see DESIGN.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")


def _isolate(work: str) -> None:
    """Keep every byte the run writes inside ``work`` and pin UTC."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)


def _session(work: str):
    from metar_pipeline_spark.session import get_spark

    java_tmp = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": java_tmp
            + f" -Dderby.system.home={os.path.join(work, 'derby')}",
        },
    )


def _stop_jvm() -> None:
    """Stop the Spark JVM this run started (and with it the Python
    workers it forked) and wait until it has exited: the JVM quits when
    its stdin closes."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _workload(name: str, ctx):
    if name == "metar_ingest":
        from metar import MetarIngest

        return MetarIngest(ctx)
    if name in ("lakehouse_txn", "lakehouse_tail"):
        from txn import LakehouseTxn

        return LakehouseTxn(ctx, tail=name == "lakehouse_tail")
    if name == "lakehouse_mixed":
        from mixed import LakehouseMixed

        return LakehouseMixed(ctx)
    if name in ("warehouse_queries", "curation_queries"):
        from queries import CURATION, WAREHOUSE, RegistryQueries

        if name == "warehouse_queries":
            return RegistryQueries(ctx, WAREHOUSE, 0.01)
        return RegistryQueries(ctx, CURATION, 0.001)
    raise SystemExit(f"unknown workload {name!r}")


def main() -> int:
    # Fixed string hashing, so set and dict iteration orders in the
    # engine and its Python workers repeat from run to run; re-exec
    # once with it pinned.
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable] + sys.argv)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    # the engine must come from this checkout; without it there is
    # nothing to measure and the run fails before printing a result
    import metar_pipeline_spark  # noqa: F401

    from harness import Context, Tracer
    from runner import run_workload

    tracer = Tracer()
    ctx = Context(args.seed, tracer)
    wl = _workload(args.workload, ctx)

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        result = run_workload(
            wl, ctx, lambda: _session(work), work, args.seconds,
            bool(args.trace),
        )
        if args.trace:
            tracer.dump(os.path.join(WORK, "traces",
                                     f"{args.workload}-{args.seed}.jsonl"))
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
