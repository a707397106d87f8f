"""psql-subprocess execution layer — the reference's own wire protocol.

The reference never links a Postgres driver: every statement it runs goes
through a spawned ``psql`` (lock + bookkeeping in import.js:115-132 via a
held connection; the bulk load is ``gtfs-to-sql … | psql`` in
import.sh:124-132; hooks are ``psql -1 -v ON_ERROR_STOP=1`` in
import.sh:141). This module reproduces exactly that model so the whole
publish surface runs against a live PostgreSQL with zero Python driver
dependencies:

  * :class:`PsqlSession` — a persistent ``psql`` child holding ONE
    server connection (and therefore transaction + lock state) across
    statements, with a sentinel protocol over stdout for results and
    error detection (psql's ``:ERROR`` / ``:SQLSTATE`` variables).
  * :func:`psql_once` — one-shot autocommit statement batches (DB
    create/drop run outside any transaction, import.js:115-118).
  * :func:`psql_script` — ``psql -1 -v ON_ERROR_STOP=1 -f -``:
    the postprocessing-hook semantics (import.sh:141).

The bulk load (``COPY table FROM STDIN``) is not here: Spark pipes each
partition's COPY lines from the JVM into a psql child
(``sinks.pg_copy.copy_lines_psql``), with the ``PG*`` variables of
:func:`_env`.

All helpers force ``PGTZ=UTC`` so timestamp text written by Spark (UTC
instants, session timezone UTC) round-trips into ``timestamptz``
columns unchanged.
"""

from __future__ import annotations

import itertools
import os
import subprocess
from dataclasses import dataclass, field

#: unit separator — never appears in bookkeeping values; safe field sep
FIELD_SEP = "\x1f"

_PSQL = "psql"


def _env() -> dict[str, str]:
    env = dict(os.environ)
    env["PGTZ"] = "UTC"
    env.setdefault("PGCONNECT_TIMEOUT", "10")
    return env


@dataclass
class PsqlError(RuntimeError):
    sqlstate: str
    message: str = ""

    def __str__(self) -> str:  # pragma: no cover - repr convenience
        return f"psql error [{self.sqlstate}] {self.message}"


@dataclass
class PsqlSession:
    """One held server connection, statement-at-a-time.

    Protocol: write the statement, then ``\\echo <sentinel> :ERROR
    :SQLSTATE``; read stdout until the sentinel line. psql (without
    ON_ERROR_STOP) keeps running after errors, so a failed statement —
    e.g. ``LOCK … NOWAIT`` losing the race (SQLSTATE 55P03,
    import.js:128-132) — surfaces as a raised :class:`PsqlError` while
    the session (and any open transaction) stays usable for ROLLBACK.
    """

    host: str
    port: int
    user: str
    dbname: str
    _proc: subprocess.Popen = field(init=False, repr=False)
    _seq: itertools.count = field(default_factory=itertools.count, repr=False)

    def __post_init__(self) -> None:
        self._proc = subprocess.Popen(
            [
                _PSQL,
                "-h", self.host,
                "-p", str(self.port),
                "-U", self.user,
                "-d", self.dbname,
                "-qAtX",
                "-P", "pager=off",
                "-F", FIELD_SEP,
            ],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
            env=_env(),
        )

    def execute(self, sql: str) -> list[list[str]]:
        """Run ONE SQL statement; return rows as lists of strings.

        Raises :class:`PsqlError` (with SQLSTATE) if the statement
        failed; the connection survives.
        """
        assert self._proc.poll() is None, "psql session has exited"
        sentinel = f"__PSQL_DONE_{next(self._seq)}__"
        stdin = self._proc.stdin
        assert stdin is not None and self._proc.stdout is not None
        stdin.write(sql.rstrip().rstrip(";") + ";\n")
        stdin.write(f"\\echo {sentinel} :ERROR :SQLSTATE\n")
        stdin.flush()
        rows: list[list[str]] = []
        for line in self._proc.stdout:
            line = line.rstrip("\n")
            if line.startswith(sentinel):
                _, err, sqlstate = line.split(" ")
                if err == "true":
                    raise PsqlError(sqlstate=sqlstate, message=sql.strip()[:200])
                return rows
            rows.append(line.split(FIELD_SEP))
        raise RuntimeError("psql session closed unexpectedly")  # pragma: no cover

    def close(self) -> None:
        if self._proc.poll() is None:
            try:
                self._proc.stdin.write("\\q\n")  # type: ignore[union-attr]
                self._proc.stdin.flush()  # type: ignore[union-attr]
            except (BrokenPipeError, ValueError):  # pragma: no cover
                pass
            self._proc.wait(timeout=10)


def _base_args(host: str, port: int, user: str, dbname: str) -> list[str]:
    return [
        _PSQL, "-h", host, "-p", str(port), "-U", user, "-d", dbname,
        "-qAtX", "-P", "pager=off", "-F", FIELD_SEP,
        "-v", "ON_ERROR_STOP=1",
    ]


def psql_once(
    host: str, port: int, user: str, dbname: str, statements: list[str]
) -> list[list[str]]:
    """Run statements autocommit in a fresh psql (DB lifecycle — CREATE/
    DROP DATABASE cannot run inside a transaction, import.js:115-118).
    Returns all result rows across statements."""
    cmd = _base_args(host, port, user, dbname)
    for s in statements:
        cmd += ["-c", s]
    out = subprocess.run(
        cmd, capture_output=True, text=True, env=_env(), check=False
    )
    if out.returncode != 0:
        raise PsqlError(sqlstate="", message=out.stderr.strip()[:500])
    return [
        line.split(FIELD_SEP) for line in out.stdout.splitlines() if line
    ]


def psql_script(
    host: str, port: int, user: str, dbname: str, sql: str
) -> None:
    """``psql -1 -v ON_ERROR_STOP=1 -f -`` — one atomic script, the
    postprocessing.d hook contract (import.sh:141)."""
    cmd = _base_args(host, port, user, dbname) + ["-1", "-f", "-"]
    out = subprocess.run(
        cmd, input=sql, capture_output=True, text=True, env=_env(), check=False
    )
    if out.returncode != 0:
        raise PsqlError(sqlstate="", message=out.stderr.strip()[:500])
