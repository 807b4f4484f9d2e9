"""Warehouse-load benchmark: the paper's star-schema ETL, end to end and per layer.

    python3 starbench/run.py --workload full_load --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Workloads:

- ``full_load``: ``Pipeline.run`` of a whole generated warehouse into an
  empty catalog, repeated.
- ``daily_cycle``: on a set-up warehouse, one day after another: a batch
  transaction (validate the batch, delta SCD-2 upsert of two dims, append
  a held-out slice of orders to the fact table), then five analyst query
  shapes, each opening its tables through the catalog at query time.

With ``--trace 0`` the last line of stdout is a JSON object with the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
instead (see ``spans.py``). Every operation's output is checked against
a DuckDB oracle; a failed check or an exception counts in ``failed``.
Everything the run writes lives under ``.starbench_work/`` in the
checkout and is deleted at exit; a traced run also leaves its spans in
``.starbench_spans/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "glue_jobs_for_data_pipeline_spark"
WORKLOADS = ("full_load", "daily_cycle")
END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "rows_per_s": "rows/s",
                    "warehouse_mb": "MB"}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help="override the scale factor (tests use 0.001)")
    return p.parse_args(argv)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def jvm_heap() -> str:
    """A quarter of physical memory, at most 4 GiB: local mode runs every
    task in the one Spark JVM, and the machine is shared."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(4, total // 4 // (1 << 30)))}g"


def vm_hwm_mb(pid: int | str) -> float:
    """High-water resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def start_session(workdir: str, cores: int, event_log: str | None):
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = jvm_heap()
    os.environ["SPARK_GRAFT_SCRATCH_ROOT"] = os.path.join(workdir, "scratch")
    from glue_jobs_for_data_pipeline_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={workdir}/tmp",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false"})
    spark = get_spark("starbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.range(cores).count()  # the first job starts the executor side
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - make sure it is gone either way
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"starbench: package {PACKAGE!r} not found under {ROOT}; run from "
              "the root of a checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    workdir = os.path.join(ROOT, ".starbench_work", f"run-{os.getpid()}")
    for sub in ("tmp", "local", "scratch"):
        os.makedirs(os.path.join(workdir, sub))
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    tempfile.tempdir = None
    try:
        return run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass  # another run is using it


def run(args: argparse.Namespace, workdir: str) -> int:
    import spans
    import workloads

    cores = host_cores()
    event_log = os.path.join(workdir, "eventlog") if args.trace else None
    spark = start_session(workdir, cores, event_log)
    session_s = time.perf_counter() - PROCESS_START
    try:
        bench = workloads.Run(spark, args.workload, args.seed,
                              args.sf or workloads.SF, workdir)
        setup_s = time.perf_counter() - PROCESS_START
        tracer = None
        if args.trace:
            tracer = spans.Tracer(spark, f"run{os.getpid()}", cores)
            tracer.install()
            bench.tracer = tracer
        try:
            out = bench.measure(args.seconds)
        finally:
            if tracer:
                tracer.uninstall()
        from pyspark import SparkContext

        rss_mb = {"python": vm_hwm_mb("self"),
                  "jvm": vm_hwm_mb(SparkContext._gateway.proc.pid)}
    finally:
        stop_session(spark)

    for p in out.problems:
        print(f"starbench: check failed: {p}", file=sys.stderr)
    if args.trace:
        groups = spans.read_event_log(event_log)
        tracer.dump(os.path.join(ROOT, ".starbench_spans",
                                 f"{args.workload}-seed{args.seed}.json"), groups)
        values = spans.layer_metrics(tracer, groups, out.op_times, out.attempted,
                                     out.failed, session_s, rss_mb)
        metrics = {k: {"value": v, "unit": spans.unit_of(k)} for k, v in values.items()}
    else:
        values = workloads.end_to_end(out, setup_s)
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in values.items()}
    print(json.dumps({"correct": out.failed == 0 and out.attempted > 0,
                      "attempted": out.attempted, "failed": out.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
