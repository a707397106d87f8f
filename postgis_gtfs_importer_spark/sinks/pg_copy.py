"""PostgreSQL COPY sink — the bulk-load path.

The reference loads via psql reading a generated ``COPY FROM stdin`` stream
(import.sh:124-132). The loader here is the same shape:
``copy_lines_expr`` builds each row's COPY text-format line in the JVM,
and ``copy_lines_psql`` streams each partition of those lines through
one ``psql`` COPY child, executor-side, so N partitions load in parallel.

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

    Serializing in Python instead (``rows_to_copy_text`` under
    ``foreachPartition``) ships every typed field across the JVM→Python
    boundary and string-formats it per field — at the bulk load's row
    counts that boundary, not the COPY wire, dominated (r11, guide §4).
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
    ``copy_lines_expr``): only one short string per row crosses into
    Python, and the per-field formatting ran under codegen upstream."""
    from .psql_exec import copy_into

    def load(it):
        copy_into(
            host, port, user, dbname, table, columns,
            (row[0] + "\n" for row in it),
        )

    lines.foreachPartition(load)
