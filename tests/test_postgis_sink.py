"""Golden tests for the Postgres-facing SQL/DDL surface (C6/C8/C9) and
the catalogs' write signature — everything that can be verified
without a live server. The live-server end-to-end lives in
tests/test_pg_live.py (skipped when no Postgres is available)."""

from __future__ import annotations

import inspect

from postgis_gtfs_importer_spark.sinks.postgis import (
    PRIMARY_KEYS,
    SPATIAL_DDL,
    post_load_ddl,
    postgrest_grants_sql,
)


def test_post_load_ddl_order_and_content():
    stmts = post_load_ddl(
        {"stops", "trips", "arrivals_departures"},
        partition_by={"arrivals_departures": ["date"], "absent_table": ["x"]},
    )
    # spatial DDL first (C6), then PKs, then partition-pruning indexes
    assert stmts[:3] == SPATIAL_DDL["stops"]
    assert "ALTER TABLE public.stops ADD PRIMARY KEY (stop_id)" in stmts
    assert "ALTER TABLE public.trips ADD PRIMARY KEY (trip_id)" in stmts
    assert (
        "CREATE INDEX arrivals_departures_date_idx"
        " ON public.arrivals_departures (date)" in stmts
    )
    # partition_by entries for tables not being written are ignored
    assert not any("absent_table" in s for s in stmts)
    # GIST index appears after the geometry column exists
    gist = [s for s in stmts if "USING GIST" in s]
    assert gist and stmts.index(gist[0]) > stmts.index(SPATIAL_DDL["stops"][0])


def test_post_load_ddl_schema_targeting():
    stmts = post_load_ddl({"trips"}, schema="gtfs")
    assert "ALTER TABLE gtfs.trips ADD PRIMARY KEY (trip_id)" in stmts


def test_post_load_ddl_empty():
    assert post_load_ddl(set()) == []
    assert post_load_ddl({"nation"}) == []  # no spatial/PK/partition entries


def test_catalog_write_tables_accepts_partition_by():
    """run_import always passes partition_by= (plans/pipeline.py default
    partitions arrivals_departures by date); every catalog backend must
    accept the kwarg or the PG path dies with TypeError after CREATE
    DATABASE."""
    from postgis_gtfs_importer_spark.catalog import LocalCatalog, PsqlCatalog

    for backend in (PsqlCatalog, LocalCatalog):
        sig = inspect.signature(backend.write_tables)
        assert "partition_by" in sig.parameters, backend.__name__
        assert sig.parameters["partition_by"].default is None


def test_postgrest_grants_sql_roundtrip():
    sql = postgrest_grants_sql(schema="api", api_role="anon_ro")
    assert "CREATE ROLE anon_ro NOLOGIN" in sql
    assert "GRANT USAGE ON SCHEMA api TO anon_ro" in sql
    assert "GRANT SELECT ON ALL TABLES IN SCHEMA api TO anon_ro" in sql
    assert "ALTER DEFAULT PRIVILEGES IN SCHEMA api" in sql


def test_spatial_ddl_tables_have_coordinates_or_wkt():
    # the DDL must reference only columns the corresponding tables carry
    assert any("stop_lon" in s for s in SPATIAL_DDL["stops"])
    assert any("ST_GeogFromText(wkt)" in s for s in SPATIAL_DDL["shapes_aggregated"])
    assert set(PRIMARY_KEYS) == {"agency", "stops", "routes", "trips"}


def test_spatial_ddl_golden():
    """C6 golden pin (VERDICT r2 #6): the postgis extension is absent in
    this container, so the geography/GIST DDL can't execute live — assert
    the EXACT statements instead, verbatim, in execution order. This is
    the reference's --stops-location-index surface
    (/root/reference/import.sh:126): geography(Point,4326) column,
    backfill from (stop_lon, stop_lat), GIST index. Any drift in type,
    SRID, column or index name breaks consumers of published snapshots
    and must show up as a diff in THIS test, not in production DDL."""
    assert SPATIAL_DDL["stops"] == [
        "ALTER TABLE public.stops ADD COLUMN stop_loc geography(POINT, 4326)",
        "UPDATE public.stops SET stop_loc = ST_SetSRID("
        "ST_MakePoint(stop_lon, stop_lat), 4326)::geography "
        "WHERE stop_lon IS NOT NULL AND stop_lat IS NOT NULL",
        "CREATE INDEX stops_stop_loc_idx ON public.stops USING GIST (stop_loc)",
    ]
    assert SPATIAL_DDL["shapes_aggregated"] == [
        "ALTER TABLE public.shapes_aggregated ADD COLUMN shape geography(LINESTRING, 4326)",
        "UPDATE public.shapes_aggregated SET shape = ST_GeogFromText(wkt)",
        "CREATE INDEX shapes_aggregated_shape_idx ON public.shapes_aggregated"
        " USING GIST (shape)",
    ]
    # every spatial statement is schema-qualified for a custom schema too
    from postgis_gtfs_importer_spark.sinks.postgis import spatial_ddl

    for stmts in spatial_ddl("gtfs").values():
        for stmt in stmts:
            assert "gtfs." in stmt and " stops " not in f" {stmt} ".replace(
                "gtfs.stops", ""
            )
    # and the live path emits them ordered: spatial first, then PKs, then
    # partition indexes (SURVEY §4: index creation strictly post-load)
    stmts = post_load_ddl(
        {"stops", "shapes_aggregated", "trips"},
        partition_by={"trips": ["service_id"]},
    )
    spatial = [s for s in stmts if "geography(" in s or "GIST" in s or "ST_" in s]
    assert spatial == SPATIAL_DDL["stops"] + SPATIAL_DDL["shapes_aggregated"]
    assert stmts.index("ALTER TABLE public.trips ADD PRIMARY KEY (trip_id)") > max(
        stmts.index(s) for s in spatial
    )
    assert stmts[-1] == "CREATE INDEX trips_service_id_idx ON public.trips (service_id)"


def test_copy_lines_expr_matches_python_serializer(spark):
    """The JVM-built COPY line stream (r11 fast path in
    PsqlCatalog.write_tables) is byte-identical to rows_to_copy_text for
    strings (all four escapes), bools, ints, NULLs, dates and decimals —
    and value-equivalent for doubles/timestamps, where only the surface
    form may differ (1.0E7 vs 10000000.0; both parse to the same stored
    value, asserted via float() reparse)."""
    import datetime as dt
    from decimal import Decimal

    from postgis_gtfs_importer_spark.sinks.pg_copy import (
        copy_lines_expr,
        rows_to_copy_text,
    )

    rows = [
        ("plain", 1, True, dt.date(2024, 3, 31), Decimal("12.340"), 1.5,
         dt.datetime(2024, 3, 31, 1, 10, 0)),
        ("tab\there \\ and\nnl\rcr", -2, False, None, Decimal("-0.005"),
         -0.25, dt.datetime(2000, 1, 1, 0, 0, 0)),
        (None, None, None, dt.date(1999, 12, 31), None, None, None),
        ("ünïcödé — ∑", 0, True, dt.date(2024, 10, 27), Decimal("0.000"),
         2.0 ** -40, dt.datetime(2024, 10, 27, 0, 30, 0)),
    ]
    schema = ("s string, i long, b boolean, d date, m decimal(10,3),"
              " x double, ts timestamp")
    df = spark.createDataFrame(rows, schema)
    jvm_lines = sorted(r[0] + "\n" for r in copy_lines_expr(df).collect())
    py_lines = sorted(rows_to_copy_text(df.collect(), len(df.columns)))
    assert len(jvm_lines) == len(py_lines)
    for jl, pl in zip(jvm_lines, py_lines):
        jf, pf = jl[:-1].split("\t"), pl[:-1].split("\t")
        assert len(jf) == len(pf) == 7
        # byte-identical columns: string, int, bool, date, decimal
        assert jf[:5] == pf[:5]
        # value-identical: double (surface form may be E-notation)
        for a, b in zip(jf[5:6], pf[5:6]):
            assert (a == b == "\\N") or float(a) == float(b)
        # timestamp: same instant; Spark may append .0-less seconds both
        # sides here (naive UTC) — compare parsed
        a, b = jf[6], pf[6]
        if a == "\\N":
            assert b == "\\N"
        else:
            fmt = "%Y-%m-%d %H:%M:%S"
            pa = dt.datetime.strptime(a.split(".")[0], fmt)
            pb = dt.datetime.strptime(b.split(".")[0], fmt)
            assert pa == pb


def test_copy_into_empty_stream_starts_no_psql():
    """An empty partition is a no-op: ``copy_into`` returns 0 before it
    starts a psql child, so a host that does not resolve, a missing psql
    binary, or an unreachable server cannot fail it."""
    from postgis_gtfs_importer_spark.sinks import psql_exec

    n = psql_exec.copy_into(
        "unreachable.invalid", 1, "nobody", "nodb", 'public."t"', ["a"],
        iter(()),
    )
    assert n == 0
