"""Out-of-program tracing for the traced benchmark run.

Four instruments, all installed from the benchmark's side of the
program boundary:

* :class:`Tracer` wraps the public functions of each layer (replacing
  the module attribute, and every other module's reference to the same
  function object) in spans and counters. A span's *self time* is its
  duration minus the time of the spans nested inside it on the same
  thread. Spans on the op's own thread partition the op: their self
  times plus the time no span covers (``untraced_s``) add up to the op
  wall time. Spans that run on other threads (the COPY loads
  ``PsqlCatalog.write_tables`` runs in a thread pool) overlap that
  partition and are reported as their own totals.
* :class:`PlanListener` reads Catalyst's planning time of each noop
  write from the write's own query execution, so that a traced query is
  planned once, as an untraced one is.
* :func:`read_event_log` / :func:`attribute_jobs` read Spark's own event
  log (uncompressed, non-rolling JSON lines) and attribute jobs and
  tasks to ops by submission and launch time. Job groups are not used:
  they do not reach jobs submitted from ``write_tables``' thread pool.
* :class:`RssSampler` samples the resident set of the benchmark's
  process tree (driver, JVM, Python workers, psql children), leaving
  out PostgreSQL server processes.
"""

from __future__ import annotations

import collections
import functools
import json
import os
import queue
import sys
import threading
import time
from collections.abc import Callable, Iterable

MB = 1024 * 1024


class Tracer:
    """Span and counter store. Disabled tracers cost one attribute read
    per wrapped call."""

    def __init__(self) -> None:
        self.enabled = False
        self.main_thread = threading.get_ident()
        self.self_s: collections.Counter = collections.Counter()
        self.other_thread_s: collections.Counter = collections.Counter()
        self.counts: collections.Counter = collections.Counter()
        self.covered_s = 0.0
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def begin(self, name: str) -> None:
        self._stack().append([name, time.perf_counter(), 0.0])

    def end(self) -> None:
        stack = self._stack()
        name, start, child = stack.pop()
        dur = time.perf_counter() - start
        if stack:
            stack[-1][2] += dur
        with self._lock:
            if threading.get_ident() == self.main_thread:
                self.self_s[name] += dur - child
                if not stack:
                    self.covered_s += dur
            else:
                self.other_thread_s[name] += dur - child

    def count(self, name: str) -> None:
        with self._lock:
            self.counts[name] += 1

    def move(self, src: str, dst: str, seconds: float) -> None:
        """Move ``seconds`` of self time from span ``src`` to ``dst``, for
        a part of ``src`` that is timed inside the program."""
        with self._lock:
            self.self_s[src] -= seconds
            self.self_s[dst] += seconds

    def timed(self, name: str, fn: Callable, *args, **kwargs):
        """Run ``fn`` inside a span (when enabled)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end()

    def wrap(
        self,
        fn: Callable,
        span: str | Callable[..., str] | None = None,
        counter: str | None = None,
    ) -> Callable:
        """``fn`` with a span (a fixed name, or a function of the call's
        arguments) and/or a call counter around it."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            if counter is not None:
                self.count(counter)
            if span is None:
                return fn(*args, **kwargs)
            self.begin(span if isinstance(span, str) else span(*args, **kwargs))
            try:
                return fn(*args, **kwargs)
            finally:
                self.end()

        return traced

    def patch_function(self, module, attr: str, **how) -> None:
        """Replace ``module.attr`` and every loaded module's reference to
        the same function object (``from x import f`` copies)."""
        original = getattr(module, attr)
        wrapped = self.wrap(original, **how)
        for mod in list(sys.modules.values()):
            d = getattr(mod, "__dict__", None)
            if not d:
                continue
            for key, value in list(d.items()):
                if value is original:
                    setattr(mod, key, wrapped)

    def patch_method(self, cls, attr: str, **how) -> None:
        setattr(cls, attr, self.wrap(getattr(cls, attr), **how))


def _copy_table(lines, host, port, user, dbname, table, columns) -> str:
    # table arrives as schema."name"
    return "pg_copy.copy_s." + table.split(".", 1)[-1].strip('"')


def install_layer_spans(tracer: Tracer) -> None:
    """Wrap each layer's public entry points. Names are the per-layer
    metric names; several functions may share one name."""
    from postgis_gtfs_importer_spark import catalog
    from postgis_gtfs_importer_spark.functions import digests
    from postgis_gtfs_importer_spark.operators import cleaning, dedup, derivations
    from postgis_gtfs_importer_spark.sinks import pg_copy, psql_exec
    from postgis_gtfs_importer_spark.sources import gtfs_feed, tables

    pc = catalog.PsqlCatalog
    tracer.patch_function(digests, "composite_feed_digest", span="digests.feed_digest_s")
    tracer.patch_method(pc, "ensure_bookkeeping", span="publish.lock_s")
    tracer.patch_method(pc, "begin_exclusive", span="publish.lock_s")
    tracer.patch_method(pc, "list_recorded_imports", span="catalog.scan_s")
    tracer.patch_method(pc, "list_databases", span="catalog.scan_s")
    tracer.patch_method(pc, "record_import", span="catalog.commit_s")
    tracer.patch_method(pc, "commit", span="catalog.commit_s")
    tracer.patch_method(pc, "create_database", span="catalog.create_db_s")
    tracer.patch_method(
        pc, "drop_database", span="catalog.gc_s", counter="catalog.dropped_dbs"
    )
    tracer.patch_method(pc, "remove_import_record", span="catalog.gc_s")
    tracer.patch_method(pc, "write_tables", span="catalog.write_tables_s")
    tracer.patch_method(
        pc, "execute_sql", span="postgis.ddl_s", counter="postgis.ddl_statements"
    )
    tracer.patch_function(gtfs_feed, "extract_feed", span="gtfs_feed.extract_s")
    tracer.patch_function(gtfs_feed, "read_feed", span="gtfs_feed.read_s")
    tracer.patch_function(cleaning, "clean_feed", span="cleaning.clean_s")
    for fn in (
        "service_days",
        "arrivals_departures",
        "connections",
        "shapes_wkt",
        "frequencies_expanded",
    ):
        tracer.patch_function(derivations, fn, span="derivations.plan_s")
    tracer.patch_function(pg_copy, "copy_lines_psql", span=_copy_table)
    tracer.patch_function(psql_exec, "psql_once", counter="psql.calls")
    tracer.patch_function(psql_exec, "psql_script", counter="psql.calls")
    tracer.patch_method(psql_exec.PsqlSession, "execute", counter="psql.calls")
    tracer.patch_function(tables, "load_table", span="tables.load_s")
    tracer.patch_function(tables, "spread", span="tables.spread_s")
    tracer.patch_function(dedup, "materialize", span="dedup.materialize_s")


# -- query planning ----------------------------------------------------------


def count_exchanges(plan: str) -> int:
    """Shuffle and broadcast exchanges in a physical plan string. An
    adaptive plan prints its initial plan below the final one; only the
    final plan, the one that ran, is counted."""
    n, skip_from = 0, None
    for line in plan.splitlines():
        col = len(line) - len(line.lstrip(" :|+-"))
        if skip_from is not None and col > skip_from:
            continue
        skip_from = None
        if "== Initial Plan ==" in line:
            skip_from = line.index("+-") if "+-" in line else col - 1
        elif "Exchange" in line and "ReusedExchange" not in line:
            n += 1
    return n


class PlanListener:
    """A ``QueryExecutionListener``, served through py4j's callback
    server, that reads the planning time of each noop write from the
    write's own query execution: the optimization and planning phases of
    its ``QueryPlanningTracker``, and the exchanges of its executed plan.
    Only writes that end while ``tracer`` is enabled are kept."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark, tracer: Tracer) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self._tracer = tracer
        self._writes: queue.Queue = queue.Queue()
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._manager = spark._jsparkSession.listenerManager()
        self._manager.register(self)

    def onSuccess(self, funcName, qe, durationNs) -> None:  # noqa: N802, N803
        if funcName != "overwrite" or not self._tracer.enabled:
            return
        plan = qe.executedPlan().toString()
        if "NoopWrite" not in plan.split("\n", 1)[0]:
            return
        phases = qe.tracker().phases()
        start_ms, plan_ms = float("inf"), 0
        for phase in ("optimization", "planning"):
            summary = phases.get(phase)
            if summary.isDefined():
                start_ms = min(start_ms, summary.get().startTimeMs())
                plan_ms += summary.get().durationMs()
        self._writes.put((start_ms, plan_ms / 1000.0, count_exchanges(plan)))

    def onFailure(self, funcName, qe, exception) -> None:  # noqa: N802, N803
        pass

    def write_in(self, window_ms: tuple[float, float]) -> tuple[float, int]:
        """(planning seconds, exchanges) of the noop write whose planning
        started inside ``window_ms``; writes of earlier ops are dropped."""
        while True:
            start_ms, plan_s, exchanges = self._writes.get(timeout=60)
            if start_ms >= int(window_ms[0]):
                if start_ms > window_ms[1]:
                    raise RuntimeError("no noop write reported in the op window")
                return plan_s, exchanges

    def close(self) -> None:
        self._manager.unregister(self)


# -- Spark event log ---------------------------------------------------------


def read_event_log(log_dir: str) -> tuple[list[float], list[dict]]:
    """(job submission times in epoch ms, task records) from the single
    uncompressed event log file in ``log_dir``."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    jobs: list[float] = []
    tasks: list[dict] = []
    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            if '"SparkListenerJobStart"' in line[:60]:
                jobs.append(json.loads(line)["Submission Time"])
            elif '"SparkListenerTaskEnd"' in line[:60]:
                ev = json.loads(line)
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "launch": ev["Task Info"]["Launch Time"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "read_b": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                    "write_b": wr.get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                })
    return jobs, tasks


def attribute_jobs(
    windows: Iterable[tuple[float, float]], jobs: list[float], tasks: list[dict]
) -> dict[str, float]:
    """Totals over the jobs submitted and tasks launched inside any op
    window (epoch ms, inclusive)."""
    spans = sorted(windows)

    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in spans)

    mine = [t for t in tasks if inside(t["launch"])]
    return {
        "spark.jobs": sum(1 for j in jobs if inside(j)),
        "spark.tasks": len(mine),
        "spark.task_s": sum(t["run_ms"] for t in mine) / 1000.0,
        "spark.gc_s": sum(t["gc_ms"] for t in mine) / 1000.0,
        "spark.shuffle_read_mb": sum(t["read_b"] for t in mine) / MB,
        "spark.shuffle_write_mb": sum(t["write_b"] for t in mine) / MB,
        "spark.spill_mb": sum(t["spill_b"] for t in mine) / MB,
    }


# -- memory ------------------------------------------------------------------


def _tree_rss_bytes(root: int) -> int:
    """RSS of ``root`` and its descendants, PostgreSQL server excluded."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm_end = stat.rfind(")")
        comm = stat[stat.find("(") + 1 : comm_end]
        fields = stat[comm_end + 2 :].split()
        if comm == "postgres":
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * page
    children = collections.defaultdict(list)
    for pid, ppid in parent.items():
        children[ppid].append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Background sampler of the process tree's peak RSS."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
