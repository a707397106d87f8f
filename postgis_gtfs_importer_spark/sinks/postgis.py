"""PostGIS snapshot sink — table DDL, type mapping + spatial DDL (C6/C18/§4).

The bulk load itself is ``PsqlCatalog.write_tables``: it creates each
table from ``spark_schema_to_pg_ddl``, streams the rows through
``sinks.pg_copy.copy_lines_expr`` + ``copy_lines_psql`` (the reference's
``gtfs-to-sql … | psql`` COPY stream, import.sh:124-132),
then runs ``post_load_ddl``. Cross-table atomicity is NOT provided here
— exactly as in the reference, atomicity comes from the DB-per-import
snapshot + bookkeeping pointer flip (SURVEY §2.C18): a failed write aborts
the pipeline before the pointer moves.

Spatial parity (C6, ``--stops-location-index`` import.sh:126): geometry is
materialized PG-side by post-load DDL — Spark ships ``(lon, lat)`` doubles
/ WKT strings, then ``ALTER TABLE … ADD COLUMN … geography`` +
``CREATE INDEX … GIST`` run over the catalog connection. Indexes are
created AFTER the bulk load (SURVEY §4 "PK/FK/index creation at load").
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: post-load DDL per table: geometry columns + GIST indexes (C6) and PKs.
#: ``{schema}``-templated: every statement must target the SAME schema the
#: bulk load wrote into — the PK/index statements below always did, and an
#: unqualified form either failed with undefined_table under a
#: non-default pg_schema or, worse, silently mutated an unrelated
#: public.<name> table that happened to exist.
SPATIAL_DDL_TEMPLATES = {
    "stops": [
        # geography(Point) + GIST — the --stops-location-index surface
        "ALTER TABLE {schema}.stops ADD COLUMN stop_loc geography(POINT, 4326)",
        "UPDATE {schema}.stops SET stop_loc = ST_SetSRID("
        "ST_MakePoint(stop_lon, stop_lat), 4326)::geography "
        "WHERE stop_lon IS NOT NULL AND stop_lat IS NOT NULL",
        "CREATE INDEX stops_stop_loc_idx ON {schema}.stops USING GIST (stop_loc)",
    ],
    "shapes_aggregated": [
        # the ST_MakeLine analog over the WKT column (C13 boundary form)
        "ALTER TABLE {schema}.shapes_aggregated ADD COLUMN shape geography(LINESTRING, 4326)",
        "UPDATE {schema}.shapes_aggregated SET shape = ST_GeogFromText(wkt)",
        "CREATE INDEX shapes_aggregated_shape_idx ON {schema}.shapes_aggregated USING GIST (shape)",
    ],
}


def spatial_ddl(schema: str = "public") -> dict[str, list[str]]:
    """C6 DDL bound to a target schema (see SPATIAL_DDL_TEMPLATES)."""
    return {
        name: [s.format(schema=schema) for s in stmts]
        for name, stmts in SPATIAL_DDL_TEMPLATES.items()
    }


#: public-schema binding, kept for the golden-pin tests and default path
SPATIAL_DDL = spatial_ddl("public")

PRIMARY_KEYS = {
    "agency": "agency_id",
    "stops": "stop_id",
    "routes": "route_id",
    "trips": "trip_id",
}


def import_metadata_row(spark, feed_digest: str, imported_at: int) -> DataFrame:
    """C7 ``--import-metadata``: one-row provenance table written into every
    snapshot (engine version, feed digest, import timestamp). Built from
    literals over ``range(1)``: a frame made from a local Python list
    would start Python workers in the middle of the publish."""
    from pyspark.sql import functions as F

    from .. import __version__

    return spark.range(1).select(
        F.lit(__version__).alias("importer_version"),
        F.lit(spark.version).alias("spark_version"),
        F.lit(feed_digest).alias("feed_digest"),
        F.lit(imported_at).cast("long").alias("imported_at"),
    )


def postgrest_grants_sql(schema: str = "public", api_role: str = "web_anon") -> str:
    """C9 ``--postgrest``: role + read grants so PostgREST can serve the
    snapshot as REST (import.sh:129). Runs post-publish over the catalog
    connection; zero Spark involvement."""
    return f"""
DO $$ BEGIN
  IF NOT EXISTS (SELECT FROM pg_roles WHERE rolname = '{api_role}') THEN
    CREATE ROLE {api_role} NOLOGIN;
  END IF;
END $$;
GRANT USAGE ON SCHEMA {schema} TO {api_role};
GRANT SELECT ON ALL TABLES IN SCHEMA {schema} TO {api_role};
ALTER DEFAULT PRIVILEGES IN SCHEMA {schema} GRANT SELECT ON TABLES TO {api_role};
"""


def post_load_ddl(
    table_names,
    schema: str = "public",
    partition_by: dict[str, list[str]] | None = None,
) -> list[str]:
    """All DDL run after the bulk load, in order: spatial columns + GIST
    (C6), primary keys, and a B-tree index per ``partition_by`` column set
    — the row-store analog of the LocalCatalog's parquet partition
    pruning (a consumer date predicate walks the index instead of a
    seq-scan of the full expansion)."""
    stmts: list[str] = []
    for name, ddl in spatial_ddl(schema).items():
        if name in table_names:
            stmts.extend(ddl)
    for name, pk in PRIMARY_KEYS.items():
        if name in table_names:
            stmts.append(f"ALTER TABLE {schema}.{name} ADD PRIMARY KEY ({pk})")
    for name, cols in sorted((partition_by or {}).items()):
        if name in table_names and cols:
            stmts.append(
                f"CREATE INDEX {name}_{'_'.join(cols)}_idx"
                f" ON {schema}.{name} ({', '.join(cols)})"
            )
    return stmts


#: Spark typeName -> PostgreSQL column type (flattened frames only —
#: array/struct/map become JSON text via _flatten_nested first).
#: TimestampType holds UTC instants; they land in timestamptz with
#: PGTZ=UTC on the COPY wire (sinks.psql_exec).
_PG_TYPES = {
    "long": "bigint",
    "integer": "integer",
    "short": "smallint",
    "byte": "smallint",
    "double": "double precision",
    "float": "real",
    "string": "text",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
}


def spark_schema_to_pg_ddl(
    table: str, schema, pg_schema: str = "public"
) -> str:
    """CREATE TABLE DDL for a flattened Spark schema — the gtfs-to-sql
    DDL-then-COPY load shape (/root/reference/import.sh:124)."""
    cols = []
    for f in schema.fields:
        t = f.dataType.typeName()
        if t == "decimal":
            pg = f"numeric({f.dataType.precision}, {f.dataType.scale})"
        elif t in _PG_TYPES:
            pg = _PG_TYPES[t]
        else:
            raise ValueError(
                f"unsupported type {t!r} for COPY load of {table}.{f.name}"
                " (flatten arrays/structs first)"
            )
        cols.append(f'"{f.name}" {pg}')
    return f'CREATE TABLE {pg_schema}."{table}" ({", ".join(cols)})'


def _flatten_nested(df: DataFrame) -> DataFrame:
    """Serialize array/struct columns to JSON strings for the row store."""
    from pyspark.sql import functions as F

    cols = []
    for f in df.schema.fields:
        if f.dataType.typeName() in ("array", "struct", "map"):
            cols.append(F.to_json(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)
