"""Benchmark driver: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload feed_poll --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs half the measured time untraced and half
with layer spans and Spark's event log on, and prints the per-layer
metrics. The last line of standard output is the result object
(``correct``, ``attempted``, ``failed``, ``metrics``); the line before
it records the run's settings. All files go to ``.perfbench_work/``
under the repository root and are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: table order of the per-table COPY metrics
COPY_TABLES = (
    "arrivals_departures",
    "connections",
    "stop_times",
    "shapes",
    "shapes_aggregated",
    "frequencies_expanded",
    "trips",
)

#: spans on the op's own thread: their self times and ``untraced_s``
#: partition the op wall time
SELF_SPANS = (
    "digests.feed_digest_s",
    "publish.lock_s",
    "catalog.scan_s",
    "catalog.gc_s",
    "catalog.create_db_s",
    "gtfs_feed.extract_s",
    "gtfs_feed.read_s",
    "cleaning.clean_s",
    "derivations.plan_s",
    "catalog.write_tables_s",
    "postgis.ddl_s",
    "catalog.commit_s",
    "queries.construct_s",
    "tables.load_s",
    "tables.spread_s",
    "dedup.materialize_s",
    "catalyst.plan_s",
    "spark.exec_s",
)

COUNTERS = ("psql.calls", "catalog.dropped_dbs", "postgis.ddl_statements")

#: JVM heap. A departure from the session factory's 8g default: with 8g
#: the heap grows far past what these inputs need before it collects,
#: and a traced feed_poll run peaked at 10.0 GB of RSS, against 3.5 GB
#: with 2g (4 CPUs, 15 GB of memory shared with other work)
DRIVER_MEMORY = "2g"


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_s", "_s_p90")) or "_s." in name:
        return "s"
    return "count"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("feed_poll", "query_light"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("bench", "tiny"), default="bench",
                   help="input size; tiny is the self-test's")
    return p.parse_args(argv)


def program_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "postgis_gtfs_importer_spark", "__init__.py")
    ) and os.path.isfile(os.path.join(ROOT, "tests", "oracle_utils.py"))


def start_spark(work_dir: str, cpus: int, event_log: str | None):
    from postgis_gtfs_importer_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')}",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10)[-1] if len(xs) > 1 else xs[0]


def op_latency(ops) -> float:
    """The median latency of each op name (registry entry, or publish),
    averaged over the names, so that every entry weighs the same."""
    by_name: dict[str, list[float]] = {}
    for o in ops:
        by_name.setdefault(o.name, []).append(o.wall_s)
    if not by_name:
        return 0.0
    return statistics.fmean(statistics.median(v) for v in by_name.values())


def end_to_end(out) -> dict[str, float]:
    ok_ops = [o for o in out.ops if o.ok]
    return {
        "setup_s": out.setup_s,
        "op_s": op_latency(o for o in ok_ops if o.kind == out.main_kind),
        "ops_per_s": len(ok_ops) / sum(o.wall_s for o in ok_ops),
    }


def per_layer(out, tracer, event_log: str, rss_bytes: int) -> dict[str, float]:
    from perfbench.tracing import attribute_jobs, read_event_log

    traced = [o for o in out.ops if o.traced and o.ok]
    # per traced main op: per query, or per published feed version
    # together with its unchanged ticks
    n = max(1, sum(1 for o in traced if o.kind == out.main_kind))
    wall = sum(o.wall_s for o in traced)
    m: dict[str, float] = {}
    for name in SELF_SPANS:
        m[name] = tracer.self_s.get(name, 0.0) / n
    for name in COUNTERS:
        m[name] = tracer.counts.get(name, 0) / n
    for table in COPY_TABLES:
        m[f"pg_copy.copy_s.{table}"] = (
            tracer.other_thread_s.get(f"pg_copy.copy_s.{table}", 0.0) / n
        )
        m[f"pg_copy.rows.{table}"] = out.copied_rows.get(table, 0)
    jobs, tasks = read_event_log(event_log)
    for name, total in attribute_jobs(
        [o.window_ms for o in traced], jobs, tasks
    ).items():
        m[name] = total / n
    m["plan.exchanges"] = sum(o.exchanges for o in traced) / n
    m["dedup.held_storage_mb"] = out.held_storage_mb
    m["peak_rss_mb"] = rss_bytes / (1024 * 1024)
    m["result.rows"] = out.result_rows
    m["untraced_s"] = (wall - tracer.covered_s) / n
    m["trace.op_s"] = wall / n

    # over the op names with warm ops on both sides: on feed_poll the only
    # untraced publish is the cold one, so there it is the unchanged ticks
    warm = [o for o in out.ops if o.ok and not o.cold]
    both = {o.name for o in warm if o.traced} & {o.name for o in warm if not o.traced}

    def latency(is_traced: bool) -> float:
        return op_latency(o for o in warm if o.name in both and o.traced == is_traced)

    m["trace.overhead_s"] = latency(True) - latency(False)
    skips = [o.wall_s for o in out.ops if o.ok and o.kind == "skip"]
    m["poll.skip_s"] = statistics.median(skips) if skips else 0.0
    m["poll.skip_s_p90"] = p90(skips) if skips else 0.0
    publishes = [o.wall_s for o in out.ops if o.ok and o.kind == "publish"]
    rows = sum(out.copied_rows.values())
    m["pg_copy.rows_per_s"] = (
        rows * len(publishes) / sum(publishes) if publishes else 0.0
    )
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        print("perfbench: the program is not in this checkout"
              " (postgis_gtfs_importer_spark/ and tests/oracle_utils.py)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cpus = len(os.sched_getaffinity(0))
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work_dir, "tmp"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": os.path.join(work_dir, "tmp"),
        "GTFS_IMPORTER_VERBOSE": "false",
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
    })

    from perfbench.tracing import RssSampler, Tracer, install_layer_spans
    from perfbench.workloads import SIZES, WORKLOADS, Run

    event_log = os.path.join(work_dir, "eventlog") if args.trace else None
    tracer = Tracer()
    try:
        sampler = RssSampler() if args.trace else contextlib.nullcontext()
        with sampler as rss:
            spark = start_spark(work_dir, cpus, event_log)
            try:
                spark.range(1).count()
                if args.trace:
                    install_layer_spans(tracer)
                run = Run(
                    spark=spark, seed=args.seed, seconds=args.seconds,
                    trace=bool(args.trace), tracer=tracer, work_dir=work_dir,
                    sizes=SIZES[args.size],
                    session_s=time.perf_counter() - T_START,
                )
                out = WORKLOADS[args.workload](run)
                spark_version = spark.version
            finally:
                stop_spark(spark)
        settings = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "local_cpus": cpus, "driver_memory": DRIVER_MEMORY,
            "spark": spark_version,
            "sf": run.sizes.sf, "feed_scale": run.sizes.feed_scale,
            "skips_per_version": run.sizes.skips_per_version,
            "pg_flush": "initdb --no-sync; postgres -F",
            "ops": len(out.ops), "checks": out.checks,
            "failed_checks": out.failed_checks[:5], **out.info,
        }
        if args.trace:
            metrics = per_layer(out, tracer, event_log, rss.peak_bytes)
        else:
            metrics = end_to_end(out)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work_dir))
    failed = sum(1 for o in out.ops if not o.ok) + len(out.failed_checks)
    attempted = len(out.ops) + out.checks
    print("perfbench settings: " + json.dumps(settings))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
