"""The three benchmark workloads.

Each is a closed loop with one client: the next op is sent when the
previous one returns, and each op is timed from the moment it is sent.
A workload returns a :class:`Outcome`; ``run.py`` turns it into metrics.

* ``feed_poll`` — ``streaming.feed_poll.poll_and_import`` against a
  scratch PostgreSQL server through ``PsqlCatalog`` (default retention
  of 2). Every feed version is published once, then polled unchanged.
* ``query_light`` — a frozen list of registry entries, each built fresh
  and executed to a ``noop`` sink, whole rounds in a seeded order.

Correctness is checked outside the timed ops: every query result against
its DuckDB oracle, every publish by per-table row counts and the
bookkeeping row, every unchanged poll by ``import_skipped`` and the
retention of exactly two snapshots.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import random
import time
from dataclasses import dataclass, field

from . import datagen
from .tracing import PlanListener, Tracer

#: registry entries with a DuckDB oracle that ran under 0.5 s warm in the
#: r12 bench detail, chosen to cover the operator families; a run
#: executes every entry once per round
QUERY_LIGHT = (
    "pricing_summary",
    "customer_order_distribution",
    "top_supplier",
    "sessionize",
    "funnel_conversion",
    "hll_distinct_users",
    "asof_join_forward",
    "embedding_topk",
    "dedup_exact",
    "token_topk",
    "retention_topk",
    "connections",
)

FEED_PREFIX = "perfbench_"


@dataclass
class Sizes:
    sf: float
    feed_scale: float
    skips_per_version: int
    #: rows of every published table; the same for every seed and
    #: version (the feed generator varies content, not volume)
    feed_rows: dict[str, int]


_FEED_ROWS_COMMON = {
    "agency": 5, "calendar": 6, "calendar_dates": 4, "feed_info": 1,
    "frequencies": 100, "import_metadata": 1, "service_days": 56,
}

SIZES = {
    "bench": Sizes(
        sf=0.1, feed_scale=0.1, skips_per_version=50,
        feed_rows={
            **_FEED_ROWS_COMMON, "arrivals_departures": 115_000,
            "connections": 12_000, "frequencies_expanded": 1175,
            "routes": 10, "shapes": 99, "shapes_aggregated": 30,
            "stop_times": 12_500, "stops": 200, "trips": 500,
        },
    ),
    "tiny": Sizes(
        sf=0.001, feed_scale=0.05, skips_per_version=2,
        feed_rows={
            **_FEED_ROWS_COMMON, "arrivals_departures": 57_500,
            "connections": 6000, "frequencies_expanded": 1350,
            "routes": 5, "shapes": 30, "shapes_aggregated": 15,
            "stop_times": 6250, "stops": 100, "trips": 250,
        },
    ),
}


@dataclass
class Op:
    kind: str  # "query", "publish" or "skip"
    name: str  # the registry entry, or the kind
    wall_s: float
    window_ms: tuple[float, float]
    traced: bool
    ok: bool = True
    exchanges: int = 0
    cold: bool = False  # the first publish of the process


@dataclass
class Outcome:
    setup_s: float
    ops: list[Op]
    main_kind: str
    failed_checks: list[str] = field(default_factory=list)
    checks: int = 0
    result_rows: int = 0
    held_storage_mb: float = 0.0
    copied_rows: dict[str, int] = field(default_factory=dict)
    info: dict = field(default_factory=dict)


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer
    work_dir: str
    sizes: Sizes
    session_s: float


class _Collected:
    """A collected frame handed to ``oracle_utils.compare`` in place of
    the Spark DataFrame it would collect again."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _held_storage_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024 * 1024)


def _measured_enough(run: Run, start: float, n: int, least: int) -> bool:
    """True once the run has measured for ``run.seconds`` and, when
    traced, ``least`` rounds, so that it holds untraced and traced ones."""
    return time.perf_counter() - start >= run.seconds and (not run.trace or n >= least)


# -- query workloads ---------------------------------------------------------


def query_light(run: Run) -> Outcome:
    from postgis_gtfs_importer_spark.plans import queries as Q
    from tests.oracle_utils import compare, duckdb_conn

    spark, tracer = run.spark, run.tracer
    registry, oracles = Q.queries(), Q.oracle_sql()
    rng = random.Random(run.seed)

    t = time.perf_counter()
    sf_dir = os.path.join(run.work_dir, "tables")
    datagen.write_tables(sf_dir, run.seed, run.sizes.sf)
    setup = run.session_s + time.perf_counter() - t

    # warm-up pass, one collect per entry; its outputs are the ones
    # checked against the oracles (oracle time is not set-up time)
    out = Outcome(setup_s=0.0, ops=[], main_kind="query")
    duck = duckdb_conn(sf_dir)
    duck.execute(f"SET temp_directory = '{os.path.join(run.work_dir, 'duckdb')}'")
    for name in rng.sample(QUERY_LIGHT, len(QUERY_LIGHT)):
        t = time.perf_counter()
        pdf = registry[name](spark, sf_dir).toPandas()
        setup += time.perf_counter() - t
        problems = compare(_Collected(pdf), duck.execute(oracles[name]).df())
        out.checks += 1
        out.result_rows += len(pdf)
        if problems:
            out.failed_checks.append(f"{name}: {problems[:2]}")
    duck.close()
    out.setup_s = setup

    def op(name: str, traced: bool) -> Op:
        t0_ms = time.time() * 1000
        t0 = time.perf_counter()
        ok, exchanges = True, 0
        try:
            df = tracer.timed("queries.construct_s", registry[name], spark, sf_dir)
            tracer.timed(
                "spark.exec_s", df.write.format("noop").mode("overwrite").save
            )
        except Exception as e:  # noqa: BLE001 - a failed op is counted
            print(f"perfbench: {name} failed: {e!r}"[:500], flush=True)
            ok = False
        wall = time.perf_counter() - t0
        window = (t0_ms, time.time() * 1000)
        if traced and ok:
            # the write plans inside save(): its planning is moved out of
            # spark.exec_s, so the self times still partition the op
            plan_s, exchanges = plans.write_in(window)
            tracer.move("spark.exec_s", "catalyst.plan_s", plan_s)
        return Op("query", name, wall, window, traced, ok, exchanges)

    # a traced run alternates untraced and traced rounds; the difference
    # of their op latencies is the tracing overhead
    plans = PlanListener(spark, tracer) if run.trace else None
    start = time.perf_counter()
    for n in itertools.count(1):
        traced = run.trace and n % 2 == 0
        tracer.enabled = traced
        for name in rng.sample(QUERY_LIGHT, len(QUERY_LIGHT)):
            out.ops.append(op(name, traced))
            if traced:
                out.held_storage_mb = max(out.held_storage_mb, _held_storage_mb(spark))
        tracer.enabled = False
        if _measured_enough(run, start, n, least=2):
            break
    if plans is not None:
        plans.close()
    return out


# -- feed_poll ---------------------------------------------------------------


def _pg_counts(pg: dict, db_name: str, names: list[str]) -> dict[str, int]:
    from postgis_gtfs_importer_spark.sinks.psql_exec import psql_once

    rows = psql_once(
        pg["host"], pg["port"], pg["user"], db_name,
        [f'SELECT count(*) FROM public."{n}"' for n in names],
    )
    return {n: int(r[0]) for n, r in zip(names, rows)}


def feed_poll(run: Run) -> Outcome:
    from postgis_gtfs_importer_spark.catalog import PsqlCatalog
    from postgis_gtfs_importer_spark.plans.import_bench import (
        PG_BINDIR,
        pg_server_available,
        scratch_pg_server,
    )
    from postgis_gtfs_importer_spark.streaming.feed_poll import poll_and_import

    # there is no other sink: without a server the run fails
    if not pg_server_available():
        raise RuntimeError(
            f"no PostgreSQL server binaries usable in {PG_BINDIR}"
            " (needs psql, runuser and a postgres OS user)"
        )

    spark, tracer = run.spark, run.tracer
    zip_path = os.path.join(run.work_dir, "feed.zip")
    extract_dir = os.path.join(run.work_dir, "feed")
    t = time.perf_counter()
    with contextlib.ExitStack() as stack:
        pg = stack.enter_context(scratch_pg_server(port=54431))
        catalog = PsqlCatalog(spark, **pg)
        stack.callback(catalog.close)
        # without PostGIS, write_tables skips the spatial DDL
        info = {
            "postgres": catalog._once("postgres", ["SHOW server_version"])[0][0],
            "postgis": catalog._postgis_available(),
        }
        out = Outcome(setup_s=0.0, ops=[], main_kind="publish", info=info)
        ticks: list[tuple] = []  # (result, wall_s, window_ms, traced)
        clock = {}

        def start_tick(_interval: float = 0.0) -> None:
            clock["t0"], clock["t0_ms"] = time.perf_counter(), time.time() * 1000

        def end_tick(res) -> None:
            wall = time.perf_counter() - clock["t0"]
            ticks.append((res, wall, (clock["t0_ms"], time.time() * 1000), tracer.enabled))

        def poll(cycles: int) -> list[tuple]:
            del ticks[:]
            start_tick()
            poll_and_import(
                spark, catalog, interval_sec=0, max_cycles=cycles,
                on_result=end_tick, sleep=start_tick,
                db_prefix=FEED_PREFIX, zip_path=zip_path, extract_dir=extract_dir,
            )
            return list(ticks)

        expected = run.sizes.feed_rows
        names = sorted(expected)
        datagen.feed_version_zip(zip_path, run.seed, 0, run.sizes.feed_scale)
        out.setup_s = run.session_s + time.perf_counter() - t

        def check(version: int, version_ticks: list[tuple], cycles: int) -> None:
            """Tick 0 publishes a snapshot holding every expected row and
            named by the bookkeeping row; later ticks skip, and retention
            then leaves exactly two snapshots."""
            out.checks += 1
            bad = []
            if len(version_ticks) != cycles:
                bad.append(f"{cycles - len(version_ticks)} poll cycle(s) raised")
            db = None
            for i, (res, wall, window, traced) in enumerate(version_ticks):
                if i == 0:
                    db = (res.new_import or {}).get("db_name")
                    ok = db is not None
                else:
                    ok = res.import_skipped
                if not ok:
                    bad.append(f"tick {i} did not {'publish' if i == 0 else 'skip'}")
                kind = "publish" if i == 0 else "skip"
                out.ops.append(
                    Op(kind, kind, wall, window, traced, ok,
                       cold=version == 0 and i == 0)
                )
            if db is not None:
                counts = _pg_counts(pg, db, names)
                if counts != expected:
                    bad.append(f"row counts {counts} != {expected}")
                out.copied_rows = counts
                latest = catalog.latest_import(FEED_PREFIX)
                if latest is None or latest.db_name != db:
                    bad.append(f"bookkeeping names {latest}, not {db}")
            dbs = catalog.list_databases(FEED_PREFIX)
            if cycles > 1 and (len(dbs) != min(version + 1, 2) or db not in dbs):
                bad.append(f"retention left {dbs}")
            out.failed_checks.extend(f"version check: {b}" for b in bad)

        # The first publish of a process is cold (JIT, first Python
        # workers), as in the reference's cron-style runs; it is the op an
        # untraced run measures. A traced run goes on with a traced
        # version, then alternates untraced and traced ones; one traced
        # publish keeps it within the run time limit on a loaded host.
        cycles = 1 + run.sizes.skips_per_version
        start = time.perf_counter()
        for version in itertools.count():
            if version:
                datagen.feed_version_zip(
                    zip_path, run.seed, version, run.sizes.feed_scale
                )
            traced = run.trace and version % 2 == 1
            tracer.enabled = traced
            version_ticks = poll(cycles)
            tracer.enabled = False
            check(version, version_ticks, cycles)
            if traced:
                out.held_storage_mb = max(out.held_storage_mb, _held_storage_mb(spark))
            if _measured_enough(run, start, version + 1, least=2):
                break
        out.result_rows = sum(out.copied_rows.values())
        for db in catalog.list_databases(FEED_PREFIX):
            catalog.drop_database(db)
    return out


WORKLOADS = {
    "feed_poll": feed_poll,
    "query_light": query_light,
}
