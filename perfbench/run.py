#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload bi_interactive --seed 1 \
        --seconds 25 --trace 0

Run from the root of a checkout.  Everything the run writes (fixture,
Spark local dirs, JVM and Python temp files, warehouses) goes to a fresh
directory under ``perfbench/`` that is removed at exit.  With
``--trace 1`` the per-layer ledger and the spans are also written to
``perfbench/out/``.  Exits non-zero, without a result line, when the
engine package is not in the checkout.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[0:1] = [ROOT]  # the checkout root, not perfbench/

from perfbench import fixture, stats, tracing, workloads  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "ops_per_min": "1/min",
    "op_geomean_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "mem.peak_rss_mb": "MB",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "catalyst.plan_s": "s",
    "catalyst.plan_nodes": "count",
    "catalyst.exchanges": "count",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.skipped_stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.cpu_busy": "share",
    "exec.gc_s": "s",
    "exec.scheduler_delay_s": "s",
    "exec.fetch_wait_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "dag.node_build_s": "s",
    "dag.cleanup_s": "s",
    "dag.write_s": "s",
    "dag.rows_written": "count",
    **{f"dag.node.{t}.s": "s" for t in workloads.DAG_TABLES},
    "io.write_s": "s",
    "io.files_written": "count",
    "io.bytes_written": "bytes",
    "trace.op_geomean_s": "s",
    "trace.span_coverage": "share",
    "failed_op_share": "share",
}
#: Fixture scale: the engine's oracle-gate size (60k lineitem rows).
SF = 0.01
#: JVM heap (the driver is also the executor in local mode).
DRIVER_MEM = "2g"
#: Hard stop well inside the 180 s a run may take.
DEADLINE_S = 170


def _isolate(work: str) -> None:
    """Point every temp, scratch and working directory at ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # the driver's heap fixed at its maximum, so G1's heap sizing
        # does not drift with the host's speed from run to run
        "SPARK_SUBMIT_OPTS": f"{jvm_opts} -Xms{DRIVER_MEM}",
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_PYTHON": sys.executable,
    })
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM and its workers to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    kids = tracing.descendants(gw.proc.pid)
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    deadline = time.monotonic() + 20
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def _measure(args, ops: list[str], work: str) -> dict:
    from taipei_bi_etl_spark.session import get_spark

    tracer = tracing.Tracer() if args.trace else None
    t = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.enabled": "false",
        },
    )
    session_s = time.perf_counter() - t
    try:
        sf_dir = fixture.generate(os.path.join(work, "fixture"), SF)
        run = workloads.Run(spark, sf_dir, work, tracer)
        if args.workload == "bi_interactive":
            state = workloads.setup_bi(run)
            setup_s = time.perf_counter() - T0
            workloads.run_bi(run, ops, state)
        else:
            state = workloads.setup_dag(run, ops[0].split("@", 1)[1])
            setup_s = time.perf_counter() - T0
            workloads.run_dag(run, ops, state)
        rss = _peak_rss()
        cores = spark.sparkContext.defaultParallelism
    finally:
        _stop(spark)

    recs = run.records
    executed = [r["type"] for r in recs]
    digest = hashlib.sha256("\n".join(executed).encode()).hexdigest()[:16]
    print(
        f"perfbench: workload={args.workload} seed={args.seed} "
        f"ops={len(executed)} oplist_sha256={digest}",
        file=sys.stderr,
    )
    medians = stats.per_type_medians((r["type"], r["s"]) for r in recs)
    print(
        "perfbench: type medians "
        + " ".join(f"{t}={s:.3f}" for t, s in sorted(medians.items())),
        file=sys.stderr,
    )
    if args.trace:
        values = workloads.per_layer_summary(recs, list(PER_LAYER), cores)
        values["session.start_s"] = session_s
        values["mem.peak_rss_mb"] = rss
        values["failed_op_share"] = stats.failed_op_share(run.failed, run.attempted)
        _write_trace(args, executed, recs, tracer)
        units = PER_LAYER
    else:
        values = {
            "setup_s": setup_s,
            "ops_per_min": stats.ops_per_min([r["s"] for r in recs]),
            "op_geomean_s": stats.geomean_of_type_medians(
                (r["type"], r["s"]) for r in recs
            ),
        }
        units = END_TO_END
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": values[k], "unit": u} for k, u in units.items()
        },
    }


def _peak_rss() -> float:
    from pyspark import SparkContext

    jvm = SparkContext._gateway.proc.pid
    return tracing.peak_rss_mb([os.getpid(), jvm, *tracing.descendants(jvm)])


def _write_trace(args, executed, recs, tracer) -> None:
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    head = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds}
    with open(os.path.join(out, f"{args.workload}-ledger.json"), "w") as fh:
        json.dump(
            {**head, "op_list": executed, "op_types": workloads.ledger(recs)},
            fh, indent=1, sort_keys=True,
        )
    with open(os.path.join(out, f"{args.workload}-spans.json"), "w") as fh:
        json.dump({**head, "spans": tracer.spans}, fh)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "taipei_bi_etl_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2

    def _timeout(*_):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    signal.alarm(DEADLINE_S)
    ops = workloads.op_list(args.workload, args.seed, args.seconds)
    work = tempfile.mkdtemp(prefix=".run-", dir=HERE)
    cwd = os.getcwd()
    try:
        _isolate(work)
        result = _measure(args, ops, work)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
