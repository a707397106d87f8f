"""GTFS domain tests: feed ingest (C1-C5), derivations (C10-C16), and the
cleaning operator family (B2-B16) on the FIXTURES.md edge-case feed."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from postgis_gtfs_importer_spark.operators import cleaning as CL
from postgis_gtfs_importer_spark.operators import derivations as DV
from postgis_gtfs_importer_spark.sources import gtfs_feed as GF

from .gtfs_fixtures import write_feed_dir


@pytest.fixture(scope="module")
def feed(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("feed")
    write_feed_dir(str(d))
    return GF.read_feed(spark, str(d))


# ---------------------------------------------------------------------------
# ingest & casts
# ---------------------------------------------------------------------------

def test_read_feed_tables(feed):
    assert set(feed) >= {
        "agency", "stops", "routes", "trips", "stop_times", "calendar",
        "calendar_dates", "shapes", "frequencies", "transfers", "feed_info",
        "translations",
    }


def test_gtfs_time_over_24h(feed):
    t3 = feed["stop_times"].filter(F.col("trip_id") == "T3").orderBy("stop_sequence")
    rows = t3.collect()
    assert rows[0].arrival_time == 25 * 3600 + 10 * 60  # 25:10:00
    assert rows[1].departure_time == 25 * 3600 + 30 * 60


def test_date_and_lang_casts(feed):
    cal = {r.service_id: r for r in feed["calendar"].collect()}
    assert cal["WK"].start_date == dt.date(2024, 1, 1)
    fi = feed["feed_info"].first()
    assert fi.feed_lang == "de"  # C4 lower-cased
    ag = {r.agency_id: r.agency_lang for r in feed["agency"].collect()}
    assert ag["A1"] == "de"


def test_corrupt_rows_captured_not_fatal(spark, tmp_path):
    """B1 tolerant parse: malformed rows land in _corrupt_record under
    PERMISSIVE instead of failing the scan (gtfsclean --fix-zip,
    import.sh:50-52)."""
    d = tmp_path / "corrupt"
    d.mkdir()
    (d / "stops.txt").write_text(
        'stop_id,stop_name,stop_lat,stop_lon\n'
        'OK1,Fine Stop,52.5,13.4\n'
        'BAD1,"unclosed quote,52.6,13.5\n'
        'OK2,Also Fine,52.7,13.6\n'
    )
    raw = GF.read_raw(spark, str(d), "stops")
    rows = raw.collect()
    good = [r for r in rows if r[GF.schemas.CORRUPT_COL] is None]
    bad = [r for r in rows if r[GF.schemas.CORRUPT_COL] is not None]
    assert {r.stop_id for r in good} >= {"OK1"}
    assert len(bad) >= 1  # the malformed line is captured, not fatal
    typed = GF.cast_typed(raw, "stops")
    assert typed.count() == len(rows)  # cast never drops rows (B3's job)


def test_gtfs_time_roundtrip(spark):
    from postgis_gtfs_importer_spark.functions.gtfs_time import (
        gtfs_time_to_secs,
        secs_to_gtfs_time,
    )

    secs = [0, 59, 3600, 86399, 90600, 172799]  # incl. >24h values
    df = spark.createDataFrame([(s,) for s in secs], "s int")
    out = df.select(
        "s", gtfs_time_to_secs(secs_to_gtfs_time(F.col("s"))).alias("rt")
    ).collect()
    assert all(r.s == r.rt for r in out)


def test_reordered_subset_extra_columns(spark, tmp_path):
    """GTFS columns are matched by NAME: reordered/missing/extra columns
    must parse correctly (the spec mandates names, not positions)."""
    d = tmp_path / "weird"
    d.mkdir()
    (d / "stops.txt").write_text(
        "stop_lon,stop_id,custom_note,stop_name\n"
        "13.5,X1,hello,Reordered Stop\n"
    )
    feed = GF.read_feed(spark, str(d))
    r = feed["stops"].first()
    assert r.stop_id == "X1" and r.stop_name == "Reordered Stop"
    assert r.stop_lon == 13.5
    assert r.stop_lat is None  # missing spec column -> typed null
    assert "custom_note" not in feed["stops"].columns  # B5 default: dropped
    kept = GF.read_feed(spark, str(d), keep_additional_fields=True)
    assert kept["stops"].first().custom_note == "hello"  # B5 flag: kept


def test_invalid_enum_becomes_default(feed):
    cleaned = CL.apply_enum_policy(feed, CL.CleaningConfig())
    r3 = cleaned["routes"].filter(F.col("route_id") == "R3").first()
    assert r3.route_type == 3  # 99 is out of domain -> default 3 (bus)


def test_null_and_zero_coords_dropped(feed):
    cleaned = CL.drop_invalid_rows(feed, CL.CleaningConfig())
    ids = {r.stop_id for r in cleaned["stops"].collect()}
    assert "SNULL" not in ids and "SZERO" not in ids
    assert "S1" in ids


# ---------------------------------------------------------------------------
# derivations
# ---------------------------------------------------------------------------

def test_service_days_weekly_plus_exceptions(feed):
    days = {
        (r.service_id, r.date)
        for r in DV.service_days(feed).collect()
    }
    # WK: Mon-Fri 01-01..01-14, minus Wed 01-03, plus Sat 01-06
    wk = sorted(d for s, d in days if s == "WK")
    assert dt.date(2024, 1, 3) not in wk
    assert dt.date(2024, 1, 6) in wk
    assert dt.date(2024, 1, 1) in wk and dt.date(2024, 1, 12) in wk
    assert dt.date(2024, 1, 13) not in wk  # Saturday not in pattern
    # WKX materializes to the same set as WK (differently encoded)
    wkx = sorted(d for s, d in days if s == "WKX")
    assert wkx == wk


def test_arrivals_departures_absolute_times(feed):
    ad = DV.arrivals_departures(feed)
    # T3 runs service DST on 2024-03-30 and 03-31 with 25:10 arrival.
    # 2024-03-30 25:10 Berlin local = 03-31 01:10 CET = 00:10 UTC.
    # 2024-03-31 25:10 local = 04-01 01:10 CEST = 23:10 UTC on 03-31
    rows = {
        (r.date, r.stop_sequence): r.t_arrival
        for r in ad.filter(F.col("trip_id") == "T3").collect()
    }
    assert rows[(dt.date(2024, 3, 30), 1)] == dt.datetime(2024, 3, 31, 0, 10)
    assert rows[(dt.date(2024, 3, 31), 1)] == dt.datetime(2024, 3, 31, 23, 10)


def test_departures_at_window(feed):
    # departures at S2 (or children) on Mon 2024-01-01 between 08:00-09:00:
    # T1 departs S2 at 08:10:00 (and T1dup, its undeduplicated twin)
    out = DV.departures_at(feed, "S2", dt.date(2024, 1, 1), 8 * 3600, 9 * 3600)
    rows = out.collect()
    assert {r.trip_id for r in rows} == {"T1", "T1dup"}
    assert all(r.departure_time == 8 * 3600 + 600 for r in rows)
    # station query resolves child platforms (S1a/S1b under S1)
    out2 = DV.departures_at(feed, "S1", dt.date(2024, 1, 1), 0, 24 * 3600)
    assert {r.stop_id for r in out2.collect()} <= {"S1", "S1a", "S1b"}
    assert out2.count() > 0


def test_connections_ordering_and_single_stop(feed):
    conn = DV.connections(feed)
    t1 = conn.filter(F.col("trip_id") == "T1").orderBy("from_stop_sequence").collect()
    assert [(r.from_stop_id, r.to_stop_id) for r in t1] == [
        ("S1a", "S2"), ("S2", "S3"),
    ]  # non-contiguous sequence 10,20,35 ordered correctly
    assert conn.filter(F.col("trip_id") == "T4").count() == 0  # single stop


def test_shapes_aggregated_sorted(feed):
    agg = {r.shape_id: r for r in DV.shapes_aggregated(feed).collect()}
    seqs = [p.seq for p in agg["SH1"].points]
    assert seqs == sorted(seqs) == [1, 2, 3, 4]  # out-of-order CSV sorted
    wkt = {r.shape_id: r.wkt for r in DV.shapes_wkt(feed).collect()}
    assert wkt["SH1"].startswith("LINESTRING (13.37 52.52, ")


def test_frequencies_expansion_boundaries(feed):
    fx = DV.frequencies_expanded(feed)
    t2 = sorted(r.departure_sec for r in fx.filter(F.col("trip_id") == "T2").collect())
    assert t2 == [6 * 3600, 6 * 3600 + 1500, 6 * 3600 + 3000]  # 07:00 excluded
    t3 = sorted(r.departure_sec for r in fx.filter(F.col("trip_id") == "T3").collect())
    assert t3[0] == 24 * 3600 + 1800  # >24h window works


def test_translations_both_paths(feed):
    tr = DV.apply_translations(feed, "stops", "stop_name")
    names = {r.stop_id: r.stop_name_translated for r in tr.collect()}
    assert names["S1"] == "Central Station"  # by record_id
    assert names["S3"] == "Zoo Station"  # by field_value
    assert names["S2"] == "Alexanderplatz"  # untranslated passthrough


def test_stats_by_route_date(feed):
    stats = DV.stats_by_route_date(feed)
    r1 = stats.filter((F.col("route_id") == "R1")).agg(F.sum("n_stop_events")).first()[0]
    assert r1 > 0


# ---------------------------------------------------------------------------
# cleaning operators
# ---------------------------------------------------------------------------

def test_dedup_agencies_remaps_routes(feed):
    out = CL.remove_redundant_agencies(feed)
    assert out["agency"].filter(F.col("agency_id").isin("A1", "A2")).count() == 1
    r2 = out["routes"].filter(F.col("route_id") == "R2").first()
    assert r2.agency_id == "A1"  # remapped to canonical min id


def test_dedup_routes_after_agency_dedup(feed):
    out = CL.remove_redundant_agencies(feed)
    out = CL.remove_redundant_routes(out)
    # R1/R2 become content-identical once agency_id is canonical
    assert out["routes"].filter(F.col("route_id").isin("R1", "R2")).count() == 1
    trips_routes = {r.route_id for r in out["trips"].collect()}
    assert "R2" not in trips_routes


def test_dedup_services_by_materialized_set(feed):
    out = CL.remove_redundant_services(feed)
    svc = {r.service_id for r in out["trips"].collect()}
    assert "WKX" not in svc  # remapped onto WK
    assert "WK" in svc


def test_dedup_shapes_geometric(feed):
    out = CL.remove_redundant_shapes(feed)
    ids = {r.shape_id for r in out["shapes"].select("shape_id").distinct().collect()}
    assert not {"SH1", "SH2"} <= ids  # merged
    t2 = out["trips"].filter(F.col("trip_id") == "T2").first()
    assert t2.shape_id == "SH1"


def test_dedup_stops_remaps_transfers(feed):
    out = CL.remove_redundant_stops(feed)
    ids = {r.stop_id for r in out["stops"].collect()}
    assert "S3dup" not in ids
    tf = out["transfers"].filter(F.col("to_stop_id") == "S2").first()
    assert tf.from_stop_id == "S3"  # rewritten from S3dup
    pw = out["pathways"].filter(F.col("pathway_id") == "P2").first()
    assert pw.from_stop_id == "S3"  # pathways remapped too


def test_pathways_levels_attributions_parsed(feed):
    assert {r.pathway_id for r in feed["pathways"].collect()} == {"P1", "P2"}
    cleaned = CL.apply_enum_policy(feed, CL.CleaningConfig())
    p2 = cleaned["pathways"].filter(F.col("pathway_id") == "P2").first()
    assert p2.pathway_mode == 1  # 99 out of domain -> default walkway
    assert {r.level_index for r in feed["levels"].collect()} == {0.0, -1.0}
    assert feed["attributions"].first().organization_name == "Metro Data Team"


def test_dedup_trips_identical_stop_sequences(feed):
    out = CL.remove_redundant_trips(feed)
    ids = {r.trip_id for r in out["trips"].collect()}
    assert "T1dup" not in ids and "T1" in ids
    assert out["stop_times"].filter(F.col("trip_id") == "T1dup").count() == 0


def test_fuzzy_stop_pairs(feed):
    """S1a/S1b: platforms ~25m apart sharing 'hauptbahnhof gleis' tokens
    (jaccard 2/4); exact duplicates S3/S3dup at distance 0, jaccard 1."""
    pairs = {
        (r.id_a, r.id_b): (r.dist_m, r.name_jaccard_e6)
        for r in CL.fuzzy_stop_pairs(feed, radius_m=100, name_jaccard=0.5).collect()
    }
    assert ("S1a", "S1b") in pairs
    d, j = pairs[("S1a", "S1b")]
    assert 0 < d < 50 and j == 500000
    assert pairs[("S3", "S3dup")][0] == 0.0
    assert pairs[("S3", "S3dup")][1] == 1000000
    # distant stops never pair regardless of name
    assert all(a.startswith("S1") == b.startswith("S1")
               or pairs[(a, b)][0] <= 100 for a, b in pairs)


def test_orphan_fixpoint(feed):
    out = CL.delete_orphans(feed)
    assert out["shapes"].filter(F.col("shape_id") == "SHORPHAN").count() == 0
    stops = {r.stop_id for r in out["stops"].collect()}
    assert "SORPHAN" not in stops
    assert "S1" in stops  # station kept: referenced via parent_station


def test_shape_simplification_collinear(feed):
    out = CL.simplify_shapes(feed, tolerance_deg=1e-5)
    sh1 = out["shapes"].filter(F.col("shape_id") == "SH1").orderBy("shape_pt_sequence").collect()
    seqs = [r.shape_pt_sequence for r in sh1]
    assert seqs == [1, 3, 4]  # collinear middle point (seq 2) removed
    # endpoints always kept
    assert sh1[0].shape_pt_sequence == 1 and sh1[-1].shape_pt_sequence == 4


def test_minimize_services_roundtrip(feed):
    before = {
        (r.service_id, r.date) for r in DV.service_days(feed).collect()
    }
    out = CL.minimize_services(feed)
    after = {
        (r.service_id, r.date) for r in DV.service_days(out).collect()
    }
    assert before == after  # exact date-set preservation


def test_validation_report_counts(feed):
    report = {r.rule: r.n_violations for r in CL.validation_report(feed).collect()}
    assert report["stops.null_or_zero_coords"] == 2  # SNULL + SZERO
    assert report["routes.route_type.out_of_domain"] == 1  # R3's 99
    # rules without violations are filtered out
    assert "trips.missing_required" not in report


#: Spark jobs to clean, derive and write every table of the fixture feed.
#: Measured at local[8]: 292 while each table's lineage barrier re-ran
#: the dedup mappings, the orphan pass's trips/stops and
#: minimize_services' intermediates; 151-153 with each computed once.
MAX_BUILD_JOBS = 180


def test_build_job_count_pinned(spark, tmp_path):
    """Shared cleaning intermediates run once per build: a regression
    to per-consumer recomputation shows up as a job count far past the
    headroom, well before it shows up as wall time."""
    from postgis_gtfs_importer_spark.plans.pipeline import build_gtfs_tables

    d = tmp_path / "feed"
    d.mkdir()
    write_feed_dir(str(d))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    tables = build_gtfs_tables(spark, str(d))
    for df in tables.values():
        df.write.format("noop").mode("overwrite").save()
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert 0 < len(jobs) <= MAX_BUILD_JOBS, len(jobs)


def test_clean_feed_idempotent_and_fk_closed(feed):
    once = CL.clean_feed(feed)
    twice = CL.clean_feed(once)
    for t in ("stops", "routes", "trips", "stop_times"):
        assert once[t].count() == twice[t].count(), t
    # referential integrity: no dangling FKs after cleaning
    dangling_st = once["stop_times"].join(once["stops"], "stop_id", "left_anti")
    assert dangling_st.count() == 0
    dangling_trip = once["stop_times"].join(once["trips"], "trip_id", "left_anti")
    assert dangling_trip.count() == 0
    dangling_route = once["trips"].join(once["routes"], "route_id", "left_anti")
    assert dangling_route.count() == 0
