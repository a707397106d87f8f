"""Env-contract CLI (A25) — parity with importer.js:5-26.

Validates the same environment variables the reference requires, appends
``_`` to the DB prefix, and runs one atomic import cycle against the
configured catalog backend:

    GTFS_DOWNLOAD_URL          (required)
    GTFS_DOWNLOAD_USER_AGENT   (required)
    GTFS_IMPORTER_DB_PREFIX    (required; '_' appended, importer.js:24)
    GTFS_TMP_DIR               (default /tmp/gtfs, lib.sh:11-15)
    GTFS_POSTPROCESSING_D_PATH (optional hook dir, import.js:75)
    PATH_TO_DSN_FILE           (optional pointer file, import.js:289-308)
    POSTGREST_USER/POSTGREST_PASSWORD
                               (required when PATH_TO_DSN_FILE is set —
                               import.js:295-304; without credentials a
                               PgBouncer consumer cannot authenticate)
    GTFS_SNAPSHOT_ROOT         (LocalCatalog root; default $GTFS_TMP_DIR/snapshots)
    PGHOST/PGPORT/PGUSER/PGDATABASE
                               (PGHOST set: publish into PostgreSQL through
                               PsqlCatalog — A21; defaults 5432/postgres/
                               postgres)
    PGPASSWORD                 (not read here: psql children inherit the
                               environment, so psql reads it itself)
"""

from __future__ import annotations

import os
import sys


def _require(name: str) -> str:
    v = os.environ.get(name)
    if not v:
        print(f"missing/empty env var: {name}", file=sys.stderr)
        sys.exit(1)
    return v


def main() -> None:
    url = _require("GTFS_DOWNLOAD_URL")
    user_agent = _require("GTFS_DOWNLOAD_USER_AGENT")
    prefix = _require("GTFS_IMPORTER_DB_PREFIX") + "_"
    tmp_dir = os.environ.get("GTFS_TMP_DIR", "/tmp/gtfs")
    os.makedirs(tmp_dir, exist_ok=True)
    dsn_file_path = os.environ.get("PATH_TO_DSN_FILE")
    dsn_user = dsn_password = None
    if dsn_file_path:
        # import.js:295-304 — the pointer file is only useful to a
        # PgBouncer consumer with credentials; fail before any work.
        dsn_user = _require("POSTGREST_USER")
        dsn_password = _require("POSTGREST_PASSWORD")

    from .plans.pipeline import run_import
    from .session import get_spark

    spark = get_spark(app_name="gtfs-import")
    if os.environ.get("PGHOST"):
        from .catalog import PsqlCatalog

        catalog = PsqlCatalog(
            spark,
            host=os.environ["PGHOST"],
            port=int(os.environ.get("PGPORT", "5432")),
            user=os.environ.get("PGUSER", "postgres"),
            meta_db=os.environ.get("PGDATABASE", "postgres"),
        )
    else:
        from .catalog import LocalCatalog

        catalog = LocalCatalog(
            spark, os.environ.get("GTFS_SNAPSHOT_ROOT", os.path.join(tmp_dir, "snapshots"))
        )

    from .operators.cleaning import CleaningConfig

    cleaning = CleaningConfig.from_env()  # None ⇔ GTFSTIDY_BEFORE_IMPORT=false
    try:
        result = run_import(
            spark,
            catalog,
            db_prefix=prefix,
            download_url=url,
            zip_path=os.path.join(tmp_dir, "gtfs.zip"),
            extract_dir=os.path.join(tmp_dir, "gtfs"),
            user_agent=user_agent,
            postprocessing_dir=os.environ.get("GTFS_POSTPROCESSING_D_PATH"),
            dsn_file_path=dsn_file_path,
            dsn_user=dsn_user,
            dsn_password=dsn_password,
            cleaning=cleaning,
            skip_cleaning=cleaning is None,
        )
    finally:
        catalog.close()
    print(result)
    spark.stop()


if __name__ == "__main__":
    main()
