"""PostgreSQL COPY sink — the bulk-load path.

The reference loads via psql reading a generated ``COPY FROM stdin`` stream
(import.sh:124-132). The loader here is the same shape:
``copy_lines_expr`` builds each row's COPY text-format line in the JVM,
and ``copy_lines_psql`` pipes each partition of those lines from the JVM
into one ``psql`` COPY child, executor-side, so N partitions load in
parallel and the load starts no Python worker.

``rows_to_copy_text`` (pure, unit-testable without a server) is the
reference serializer of the COPY text-format escaping; the tests check
``copy_lines_expr`` against it.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame

#: COPY text-format escapes (PostgreSQL docs, "COPY ... FROM STDIN" text
#: format): backslash, tab, newline, carriage return; NULL as \N.
_ESCAPES = {
    "\\": "\\\\",
    "\t": "\\t",
    "\n": "\\n",
    "\r": "\\r",
}


def _field(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "t" if v else "f"
    s = v if isinstance(v, str) else str(v)
    for ch, esc in _ESCAPES.items():
        if ch in s:
            s = s.replace(ch, esc)
    return s


def rows_to_copy_text(rows: Iterable, n_cols: int) -> Iterator[str]:
    """Serialize rows to COPY text-format lines (one string per row)."""
    for row in rows:
        yield "\t".join(_field(row[i]) for i in range(n_cols)) + "\n"


def copy_lines_expr(df: DataFrame) -> "DataFrame":
    """Project a flattened frame to ONE string column holding its COPY
    text-format line (without the trailing newline), built entirely in
    the JVM (whole-stage codegen).

    Serializing in Python instead (``rows_to_copy_text`` in a Python
    worker) ships every typed field across the JVM→Python boundary and
    string-formats it per field — at the bulk load's row counts that
    boundary, not the COPY wire, dominated (r11, guide §4).
    This builder produces a bit-compatible COPY stream with
    Spark SQL expressions: NULL → ``\\N``, boolean → t/f, strings
    escaped (backslash first, then tab/newline/carriage-return), every
    other atomic type via its string cast. Numeric surface forms may
    differ from Python's ``str()`` (``1.0E7`` vs ``10000000.0``) but
    parse to identical stored values; timestamps format in the session
    timezone, the same clock ``rows_to_copy_text``'s datetimes carry, and the
    COPY wire pins PGTZ=UTC either way (``psql_exec._env``).
    """
    from pyspark.sql import functions as F

    pieces = []
    for f in df.schema.fields:
        c = F.col(f.name)
        t = f.dataType.typeName()
        if t == "string":
            s = c
            for ch, esc in _ESCAPES.items():
                s = F.replace(s, F.lit(ch), F.lit(esc))
        elif t == "boolean":
            s = F.when(c, F.lit("t")).otherwise(F.lit("f"))
        else:
            s = c.cast("string")
        pieces.append(F.when(c.isNull(), F.lit("\\N")).otherwise(s))
    return df.select(F.concat_ws("\t", *pieces).alias("_copy_line"))


def copy_lines_psql(
    lines: DataFrame,
    host: str,
    port: int,
    user: str,
    dbname: str,
    table: str,
    columns: list[str],
) -> None:
    """Parallel COPY load of a pre-built single-column line frame (from
    ``copy_lines_expr``), entirely in the JVM: each partition of the
    lines, viewed as a ``Dataset[String]``, is piped (``RDD.pipe``,
    UTF-8, one line per row) into one ``psql -c "COPY … FROM STDIN"``
    child, so no row crosses into a Python worker.

    Every partition starts a child, empty ones too (an empty COPY stream
    loads zero rows). A zero-row table loaded by
    ``PsqlCatalog.write_tables`` starts one child: AQE coalesces its
    empty rebalance to one partition (counted with a logging ``psql``
    wrapper first on ``PATH``, for ``range(0)`` and for a filter that
    keeps no row).

    The child gets the ``PG*`` variables of ``psql_exec._env()``; the
    password reaches it only as ``PGPASSWORD`` there, never on the
    command line, which Spark prints when the child fails. A failed
    child (non-zero exit) fails the job, raised here as
    :class:`~.psql_exec.PsqlError` naming the table; psql's own message
    goes to the JVM's stderr.
    """
    from py4j.protocol import Py4JJavaError

    from .psql_exec import PsqlError, _base_args, _env

    col_list = ", ".join(f'"{c}"' for c in columns)
    cmd = _base_args(host, port, user, dbname) + [
        "-c", f"COPY {table} ({col_list}) FROM STDIN",
    ]
    env = {k: v for k, v in _env().items() if k.startswith("PG")}
    jvm = lines.sparkSession._jvm
    strings = getattr(lines._jdf, "as")(jvm.org.apache.spark.sql.Encoders.STRING())
    try:
        # psql -q prints nothing for a COPY, so the count only drives the
        # pipe; a non-zero exit raises from the task
        strings.toJavaRDD().pipe(cmd, env, False, 1 << 16, "UTF-8").count()
    except Py4JJavaError as e:
        raise PsqlError(
            sqlstate="",
            message=f"COPY into {table} failed: "
            + str(e.java_exception.getMessage())[:500],
        ) from e
