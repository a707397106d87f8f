"""Relational derivations — the gtfs-via-postgres generated surface
(SURVEY.md §2.C).

The reference's query surface is generated by ``gtfs-to-sql`` into
PostgreSQL views (invocation /root/reference/import.sh:115-132). This
module derives the same relations as Spark DataFrames over the typed GTFS
tables (sources.gtfs_feed.read_feed output):

  * C10 service_days          — explode(sequence) ± exception joins
  * C11 arrivals_departures   — 5-way star join + absolute timestamps
  * C12 connections           — window lead over stop_sequence
  * C13 shapes_aggregated     — ordered point collection per shape
  * C14 frequencies expansion — explode(sequence(start, end, headway))
  * C15 stats views           — group-by counts per route/date/hour
  * C16 translations          — keyed left joins + coalesce

Scale notes: stop_times is the fact table (dominates volume — SURVEY.md
§7 Phase 5); every derivation joins dimensions *into* it broadcast-style
and shuffles on trip_id/service_id only where the semantics require
(window and group-by keys). No UDFs anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import schemas
from ..functions.gtfs_time import absolute_timestamp

Tables = dict[str, DataFrame]


def _opt(tables: Tables, name: str) -> DataFrame:
    """An optional GTFS table, or its EMPTY typed twin when the feed
    omits the file (read_feed skips absent and zero-byte files — both
    legal for every non-required table). The derivation then degrades to
    its natural empty result instead of raising KeyError mid-pipeline;
    found by the degraded-feed sweep (tests/test_gtfs_adversarial_feeds)
    on a required-files-only feed. Built over ``range(0)``, not from a
    local list, so it starts no Python worker."""
    if name in tables:
        return tables[name]
    any_df = next(iter(tables.values()))
    return any_df.sparkSession.range(0).select(
        *(F.lit(None).cast(f.dataType).alias(f.name)
          for f in schemas.typed_schema(name).fields)
    )

_DOW_COLS = ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]


def service_days(tables: Tables) -> DataFrame:
    """C10: (service_id, date) — the service_days materialized view.

    calendar weekly bitmap × generate_series(start_date, end_date), minus
    exception_type=2 dates, plus exception_type=1 dates (gtfs-via-postgres
    service_days; generated by /root/reference/import.sh:124). Pure
    built-ins: explode/sequence/weekday + unionByName + left_anti.
    """
    parts = []
    if "calendar" in tables:
        cal = tables["calendar"].filter(
            F.col("start_date").isNotNull() & F.col("end_date").isNotNull()
        )
        weekly = (
            cal.withColumn("date", F.explode(F.sequence("start_date", "end_date")))
            .withColumn("__dow", F.weekday("date"))
            .withColumn(
                "__active",
                F.element_at(
                    F.array(*[F.coalesce(F.col(c), F.lit(0)) for c in _DOW_COLS]),
                    (F.col("__dow") + 1).cast("int"),
                )
                == 1,
            )
            .filter(F.col("__active"))
            .select("service_id", "date")
        )
        parts.append(weekly)
    base = parts[0] if parts else None

    if "calendar_dates" in tables:
        cd = tables["calendar_dates"]
        added = cd.filter(F.col("exception_type") == 1).select("service_id", "date")
        removed = cd.filter(F.col("exception_type") == 2).select("service_id", "date")
        if base is not None:
            # calendar_dates is dimension-scale in any feed (MBs even for
            # exception-only feeds) — broadcasting turns the removal anti
            # join from a sort-merge shuffle into a map-side hash probe
            base = base.join(
                F.broadcast(removed), ["service_id", "date"], "left_anti"
            )
            base = base.unionByName(added).distinct()
        else:
            base = added.distinct()
    if base is None:
        # Both files absent is a STRUCTURAL feed error (GTFS requires
        # one of them). Raising here beats the alternatives: returning
        # None crashed arrivals_departures with an opaque broadcast
        # TypeError, and an empty frame would publish a silently empty
        # snapshot (the failure class the nested-zip hoist exists for).
        # A present-but-row-empty calendar still yields empty service —
        # that is data, not structure.
        raise ValueError(
            "feed defines no service: calendar.txt and calendar_dates.txt "
            "are both absent or zero-byte (GTFS requires at least one)"
        )
    return base


def arrivals_departures(tables: Tables) -> DataFrame:
    """C11: the flagship view — every concrete stop event.

    stop_times ⋈ trips ⋈ routes ⋈ agency ⋈ service_days, plus the
    parent-station self-join on stops; absolute t_arrival/t_departure =
    service date + seconds interpreted in agency_timezone (>24h times
    land on the next civil day; DST-correct via to_utc_timestamp).
    gtfs-via-postgres arrivals_departures semantics (generated by
    /root/reference/import.sh:124).

    Plan shape: the fact (stop_times) joins trips/routes/agency/stops
    broadcast (dimensions); the service_days join shuffles on service_id
    via trips. One explode-driven row multiplication (dates × stop_times)
    happens on the already-joined fact — the same cardinality the
    reference materializes in PostgreSQL.
    """
    st = tables["stop_times"]
    trips = tables["trips"]
    routes = tables["routes"]
    agency = tables.get("agency")
    stops = tables.get("stops")
    svc = service_days(tables)

    fact = (
        st.join(
            F.broadcast(
                trips.select("trip_id", "route_id", "service_id", "trip_headsign", "direction_id")
            ),
            "trip_id",
        )
        .join(
            F.broadcast(routes.select("route_id", "agency_id", "route_short_name", "route_type")),
            "route_id",
        )
    )
    if agency is not None:
        fact = fact.join(
            F.broadcast(agency.select("agency_id", "agency_name", "agency_timezone")),
            "agency_id",
            "left",
        )
        # GTFS allows routes.agency_id to be OMITTED when agency.txt has
        # exactly one agency — the most common small-feed shape. A NULL
        # join key never matches, and the UTC fallback below would then
        # silently shift every absolute timestamp by the agency's real
        # offset. Fill the miss from the single agency when (and only
        # when) the feed has exactly one; multi-agency feeds keep the
        # NULL (a genuinely unresolvable row). The 1-row singleton
        # aggregate is broadcast, never collected.
        single = F.broadcast(
            agency.select("agency_name", "agency_timezone")
            .limit(2)
            .agg(
                F.count("*").alias("_n_ag"),
                F.first("agency_name").alias("_single_name"),
                F.first("agency_timezone").alias("_single_tz"),
            )
        )
        fact = fact.crossJoin(single).select(
            *[c for c in fact.columns if c not in ("agency_name", "agency_timezone")],
            F.when(
                F.col("agency_name").isNull() & (F.col("_n_ag") == 1),
                F.col("_single_name"),
            ).otherwise(F.col("agency_name")).alias("agency_name"),
            F.when(
                F.col("agency_timezone").isNull() & (F.col("_n_ag") == 1),
                F.col("_single_tz"),
            ).otherwise(F.col("agency_timezone")).alias("agency_timezone"),
        )
    else:
        fact = fact.withColumn("agency_name", F.lit(None).cast("string")).withColumn(
            "agency_timezone", F.lit("UTC")
        )
    if stops is not None:
        st_dim = stops.select(
            "stop_id", "stop_name", "stop_lat", "stop_lon", "parent_station"
        )
        parent = stops.select(
            F.col("stop_id").alias("parent_station"),
            F.col("stop_name").alias("station_name"),
        )
        st_dim = st_dim.join(F.broadcast(parent), "parent_station", "left")
        fact = fact.join(F.broadcast(st_dim), "stop_id", "left")

    # service_days is dates × service_ids — even a huge feed's expansion
    # is a few MB (dimension-sized), while stop_times × dates is the
    # 100 TB fact. Broadcasting svc removes the ONLY fact shuffle in C11:
    # the whole view becomes a single map-side pass over stop_times.
    out = fact.join(F.broadcast(svc), "service_id")
    tz = F.coalesce(F.col("agency_timezone"), F.lit("UTC"))
    return out.select(
        "trip_id",
        "route_id",
        "service_id",
        "agency_id",
        "stop_id",
        "stop_sequence",
        "date",
        "arrival_time",
        "departure_time",
        absolute_timestamp(F.col("date"), F.col("arrival_time"), tz).alias("t_arrival"),
        absolute_timestamp(F.col("date"), F.col("departure_time"), tz).alias("t_departure"),
        *(c for c in ("stop_name", "station_name", "route_short_name", "route_type",
                      "agency_name", "trip_headsign", "direction_id")
          if c in out.columns),
    )


def departures_at(
    tables: Tables,
    stop_id: str,
    date,
    t1_sec: int,
    t2_sec: int,
    include_children: bool = True,
) -> DataFrame:
    """The SURVEY §7 Phase-1 flagship: departures at a stop in a window.

    Filters are applied BEFORE the service_days explode wherever
    possible: the stop filter prunes stop_times at the scan, the date
    filter prunes the expanded service days, so the big C11 join runs on
    the narrow slice — the plan a timetable API would issue per request.
    ``include_children`` also matches platforms whose parent_station is
    the requested stop (the stops self-join surface).
    """
    stops = tables.get("stops")
    st = tables["stop_times"].filter(
        F.col("departure_time").isNotNull()
        & (F.col("departure_time") >= t1_sec)
        & (F.col("departure_time") < t2_sec)
    )
    if include_children and stops is not None:
        # Requested stop plus its platforms, as a broadcast semi-join —
        # stays plan-side (no driver collect), and the literal union keeps
        # the original semantics for a stop_id absent from stops.txt.
        wanted_ids = st.sparkSession.createDataFrame(
            [(stop_id,)], st.select("stop_id").schema
        ).unionByName(
            stops.filter(F.col("parent_station") == stop_id).select("stop_id")
        )
        st = st.join(F.broadcast(wanted_ids.distinct()), "stop_id", "left_semi")
    else:
        st = st.filter(F.col("stop_id") == stop_id)
    narrowed = dict(tables)
    narrowed["stop_times"] = st
    ad = arrivals_departures(narrowed)
    return ad.filter(F.col("date") == F.lit(date)).orderBy(
        "departure_time", "trip_id"
    )


def connections(tables: Tables) -> DataFrame:
    """C12: consecutive stop_time pairs per trip (from_stop → to_stop).

    Window lead over stop_sequence — ORDERING, not arithmetic: sequence
    values may be non-contiguous (FIXTURES.md stop_times edge case).
    Single-stop trips emit no row. One shuffle, keyed on trip_id.
    """
    st = tables["stop_times"]
    w = Window.partitionBy("trip_id").orderBy("stop_sequence")
    return (
        st.select(
            "trip_id",
            F.col("stop_id").alias("from_stop_id"),
            F.col("departure_time").alias("t_departure_sec"),
            F.col("stop_sequence").alias("from_stop_sequence"),
            F.lead("stop_id").over(w).alias("to_stop_id"),
            F.lead("arrival_time").over(w).alias("t_arrival_sec"),
        )
        .filter(F.col("to_stop_id").isNotNull())
    )


def shapes_aggregated(tables: Tables) -> DataFrame:
    """C13: one ordered polyline per shape_id (the ST_MakeLine analog).

    array_sort(collect_list(struct(seq, lat, lon))) — the sort happens
    inside each group, no global sort. The LineString materializes as
    WKT at the sink boundary (sinks.postgis).
    """
    sh = _opt(tables, "shapes")
    pts = F.array_sort(
        F.collect_list(
            F.struct("shape_pt_sequence", "shape_pt_lat", "shape_pt_lon")
        )
    )
    return sh.groupBy("shape_id").agg(
        F.transform(
            pts,
            lambda p: F.struct(
                p["shape_pt_sequence"].alias("seq"),
                p["shape_pt_lat"].alias("lat"),
                p["shape_pt_lon"].alias("lon"),
            ),
        ).alias("points"),
        F.count("*").alias("n_points"),
    )


def shapes_wkt(tables: Tables) -> DataFrame:
    """C13/C6: shapes as WKT LINESTRING strings for the PostGIS boundary."""
    agg = shapes_aggregated(tables)
    coord = lambda p: F.concat_ws(" ", p["lon"].cast("string"), p["lat"].cast("string"))  # noqa: E731
    return agg.select(
        "shape_id",
        F.concat(
            F.lit("LINESTRING ("),
            F.array_join(F.transform("points", coord), ", "),
            F.lit(")"),
        ).alias("wkt"),
        "n_points",
    )


def frequencies_expanded(tables: Tables) -> DataFrame:
    """C14: frequency-based trips → concrete departure instants.

    explode(sequence(start, end, headway)) per frequencies row; inclusive
    start, exclusive end per GTFS spec (a trip starting exactly at
    end_time is NOT included — sequence's inclusive stop is trimmed).
    """
    fr = _opt(tables, "frequencies")
    return (
        fr.filter(
            F.col("start_time").isNotNull()
            & F.col("end_time").isNotNull()
            & (F.col("headway_secs") > 0)
            # degenerate rows (start >= end: zero-length service window,
            # which real feeds do ship) contribute no departures; without
            # this guard F.sequence(start, end-1, +step) raises 'Illegal
            # sequence boundaries' at runtime and aborts the whole job
            & (F.col("end_time") > F.col("start_time"))
        )
        .withColumn(
            "departure_sec",
            F.explode(
                F.sequence(
                    F.col("start_time"),
                    F.col("end_time") - 1,  # [start, end) per spec
                    F.col("headway_secs"),
                )
            ),
        )
        .select("trip_id", "departure_sec", "headway_secs", "exact_times")
    )


def stats_by_route_date(
    tables: Tables | None = None, *, ad: DataFrame | None = None
) -> DataFrame:
    """C15: arrivals/departures counts per (route, date) — the
    stats_by_route_date view family (gtfs-via-postgres optional views).

    Like every C15 consumer of the C11 fact: pass ``ad=`` when the
    expanded fact is already staged (C17 — the pipeline materializes
    arrivals_departures once and derives all stats from it); building it
    from ``tables`` is the standalone convenience path.
    """
    ad = arrivals_departures(tables) if ad is None else ad
    return ad.groupBy("route_id", "date").agg(
        F.count("*").alias("n_stop_events"),
        F.countDistinct("trip_id").alias("n_trips"),
        F.countDistinct("stop_id").alias("n_stops"),
    )


def stats_by_agency_route_stop_hour(
    tables: Tables | None = None, *, ad: DataFrame | None = None
) -> DataFrame:
    """C15: departure counts per (agency, route, stop, hour) — the
    stats_by_agency_route_stop_hour optional view (gtfs-via-postgres,
    generated by /root/reference/import.sh:124).

    Hour buckets are UTC epoch-hours of the absolute departure timestamp
    (DST-correct by construction — the bucket is derived from the
    instant, not the wall time). Single hash-aggregate over the expanded
    fact; partial aggregation map-side for free. Pass ``ad=`` to derive
    from a staged fact (C17) instead of rebuilding it.
    """
    ad = arrivals_departures(tables) if ad is None else ad
    return ad.groupBy(
        "agency_id",
        "route_id",
        "stop_id",
        F.floor(F.unix_timestamp("t_departure") / 3600)
        .cast("long")
        .alias("dep_hour_utc"),
    ).agg(
        F.count("*").alias("n_departures"),
        F.countDistinct("trip_id").alias("n_trips"),
    )


def active_trips_by_hour(
    tables: Tables | None = None, *, ad: DataFrame | None = None
) -> DataFrame:
    """C15: concurrently active trips per hour — the
    stats_active_trips_during_timespan surface (gtfs-via-postgres optional
    view family, /root/reference/import.sh:124), re-shaped for scale.

    The reference's view answers one timespan with an interval-overlap
    scan. A theta-join (span.start < t2 AND span.end > t1) does not
    scale, so the Spark plan turns the overlap into an equi-key: per
    (trip, date) service span → explode the covered epoch-hours →
    count distinct trips per hour. Every join/agg is hash-partitioned;
    row growth is bounded by span-hours (≤ ~31 per trip-day for 30h
    feeds). ``active_trips_at`` below is the point-query twin. Pass
    ``ad=`` to derive from a staged fact (C17) instead of rebuilding it.
    """
    ad = arrivals_departures(tables) if ad is None else ad
    a = F.unix_timestamp("t_arrival")
    d = F.unix_timestamp("t_departure")
    lo = F.least(F.coalesce(a, d), F.coalesce(d, a))
    hi = F.greatest(F.coalesce(a, d), F.coalesce(d, a))
    spans = ad.groupBy("trip_id", "date").agg(
        F.min(lo).alias("t0"), F.max(hi).alias("t1")
    )
    hours = spans.select(
        "trip_id",
        F.explode(
            F.sequence(
                F.floor(F.col("t0") / 3600).cast("long"),
                F.floor(F.col("t1") / 3600).cast("long"),
            )
        ).alias("hour_utc"),
    )
    return hours.groupBy("hour_utc").agg(
        F.countDistinct("trip_id").alias("n_active_trips")
    )


def active_trips_at(tables: Tables, at_epoch: int) -> DataFrame:
    """Point-in-time twin of active_trips_by_hour: trips whose service
    span covers ``at_epoch`` (the reference view's single-timestamp
    form). The span aggregation is shared; the overlap predicate is a
    pushed-down filter, not a join."""
    ad = arrivals_departures(tables)
    a = F.unix_timestamp("t_arrival")
    d = F.unix_timestamp("t_departure")
    lo = F.least(F.coalesce(a, d), F.coalesce(d, a))
    hi = F.greatest(F.coalesce(a, d), F.coalesce(d, a))
    spans = ad.groupBy("trip_id", "date").agg(
        F.min(lo).alias("t0"), F.max(hi).alias("t1")
    )
    return spans.filter(
        (F.col("t0") <= F.lit(at_epoch)) & (F.col("t1") >= F.lit(at_epoch))
    )


#: GTFS-spec translatable columns per table (the feed-wide surface).
TRANSLATABLE_FIELDS: dict[str, list[str]] = {
    "agency": ["agency_name", "agency_url"],
    "stops": ["stop_name", "stop_desc", "stop_url"],
    "routes": ["route_short_name", "route_long_name", "route_desc"],
    "trips": ["trip_headsign", "trip_short_name"],
}

_RECORD_ID_COLS = {
    "stops": "stop_id",
    "routes": "route_id",
    "trips": "trip_id",
    "agency": "agency_id",
}


def apply_feed_translations(
    tables: Tables,
    language: str,
    fields: dict[str, list[str]] | None = None,
) -> Tables:
    """C16 feed-wide: translate every translatable column of every table
    into ``language``, with the feed_info default-language fallback chain
    (gtfs-via-postgres translated_* views, /root/reference/import.sh:124):

      1. if ``language`` == feed_info.feed_lang, originals win (the feed
         is already in that language);
      2. else a translations.txt row for (table, field, language) matched
         by record_id, then by field_value;
      3. else the original text.

    Each (table, field) pair is one broadcast left join against the
    (tiny) translations dimension — the fact tables never shuffle. The
    1-row feed_info joins in as a broadcast cross join so the fallback
    gate stays plan-side (no driver collect). Adds ``<field>_translated``
    columns; originals are kept untouched.
    """
    fields = {k: v for k, v in (fields or TRANSLATABLE_FIELDS).items()}
    tr_all = tables.get("translations")
    fi = tables.get("feed_info")
    out: Tables = dict(tables)
    for table_name, field_list in fields.items():
        if table_name not in tables:
            continue
        df = tables[table_name]
        if fi is not None and "feed_lang" in fi.columns:
            # Aggregate to EXACTLY one row: a header-only feed_info.txt
            # (0 data rows) would otherwise make this crossJoin wipe the
            # whole table (N x 0 = 0 rows). first() over the 0-or-1-row
            # limit is deterministic; empty -> NULL feed_lang = no
            # default-language gate, originals fall through unchanged.
            fl = fi.select("feed_lang").limit(1).agg(
                F.first("feed_lang").alias("feed_lang")
            )
            df = df.crossJoin(F.broadcast(fl))
        else:
            df = df.withColumn("feed_lang", F.lit(None).cast("string"))
        id_col = _RECORD_ID_COLS.get(table_name)
        for field in field_list:
            if field not in df.columns:
                continue
            tagged = f"{field}_translated"
            if tr_all is None:
                df = df.withColumn(tagged, F.col(field))
                continue
            tr = tr_all.filter(
                (F.col("table_name") == table_name)
                & (F.col("field_name") == field)
                & (F.col("language") == language)
            )
            by_id = tr.filter(F.col("record_id").isNotNull()).select(
                F.col("record_id").alias(f"__rid_{field}"),
                F.col("translation").alias(f"__tr_id_{field}"),
            )
            by_val = tr.filter(F.col("field_value").isNotNull()).select(
                F.col("field_value").alias(f"__val_{field}"),
                F.col("translation").alias(f"__tr_val_{field}"),
            )
            df = df.join(
                F.broadcast(by_id),
                F.col(id_col).cast("string") == F.col(f"__rid_{field}")
                if id_col
                else F.lit(False),
                "left",
            )
            df = df.join(
                F.broadcast(by_val),
                F.col(field) == F.col(f"__val_{field}"),
                "left",
            )
            df = df.withColumn(
                tagged,
                F.when(F.col("feed_lang") == language, F.col(field)).otherwise(
                    F.coalesce(
                        f"__tr_id_{field}", f"__tr_val_{field}", F.col(field)
                    )
                ),
            ).drop(
                f"__rid_{field}",
                f"__tr_id_{field}",
                f"__val_{field}",
                f"__tr_val_{field}",
            )
        out[table_name] = df.drop("feed_lang")
    return out


def apply_translations(tables: Tables, table_name: str, field_name: str) -> DataFrame:
    """C16: translations.txt applied to one translatable column.

    Two join paths per spec: by record_id (the row's id column) or by
    field_value (match on the original text); translated value wins,
    original is the fallback (left join + coalesce).
    """
    base = tables[table_name]
    tr = _opt(tables, "translations").filter(
        (F.col("table_name") == table_name) & (F.col("field_name") == field_name)
    )
    id_col = {"stops": "stop_id", "routes": "route_id", "trips": "trip_id",
              "agency": "agency_id"}.get(table_name)
    by_id = tr.filter(F.col("record_id").isNotNull()).select(
        F.col("record_id").alias(id_col),
        F.col("language"),
        F.col("translation").alias("__tr_by_id"),
    )
    by_val = tr.filter(F.col("field_value").isNotNull()).select(
        F.col("field_value").alias(field_name + "__orig"),
        F.col("language").alias("__lang2"),
        F.col("translation").alias("__tr_by_val"),
    )
    out = base.join(F.broadcast(by_id), [id_col], "left")
    out = out.join(
        F.broadcast(by_val),
        (F.col(field_name) == F.col(field_name + "__orig"))
        & (F.coalesce(F.col("language"), F.col("__lang2")) == F.col("__lang2")),
        "left",
    )
    return (
        out.withColumn(
            field_name + "_translated",
            F.coalesce("__tr_by_id", "__tr_by_val", F.col(field_name)),
        )
        .withColumn("language", F.coalesce("language", "__lang2"))
        .drop("__tr_by_id", "__tr_by_val", "__lang2", field_name + "__orig")
    )


def headway_stats(
    ad: DataFrame,
    keys: list[str] | None = None,
    date_col: str = "date",
    ts_col: str = "t_departure",
) -> DataFrame:
    """Per-(route, stop) headway profile from the arrivals_departures
    fact — the service-frequency view transit analysis runs on top of
    the C11/C15 surface (gtfs-via-postgres exposes the fact,
    /root/reference/import.sh:124; headways are the first thing its
    consumers derive): consecutive-departure gaps per service date,
    aggregated to min/max/mean per key.

    Gaps are differences of absolute epoch seconds, so DST transitions
    are handled by construction (a nominal 30-minute headway across the
    spring-forward gap IS 30 minutes of wall-running time). Ordering
    ties (two trips departing the same second) contribute a 0-second
    gap regardless of tie order, so the OUTPUT is deterministic even
    though the tie permutation is not. The mean is a truncating integer
    division (Spark div == DuckDB // toward zero on these non-negative
    sums); NULL departures (arrival-only rows) are excluded up front.

    Plan: ONE window sort keyed (keys, date) for the lag, then a
    grouped aggregate on its key PREFIX — two exchanges; partitions are
    bounded by a single stop's single-day departures, never
    corpus-sized. Returns (keys..., n_departures, n_gaps, min_gap_sec,
    max_gap_sec, mean_gap_sec); keys with a single departure per date
    report NULL gap stats rather than fake zeros.
    """
    keys = list(keys or ["route_id", "stop_id"])
    te = F.unix_timestamp(F.col(ts_col))
    deps = ad.filter(F.col(ts_col).isNotNull()).select(
        *keys, F.col(date_col).alias("_d"), te.alias("_te")
    )
    w = Window.partitionBy(*keys, "_d").orderBy("_te")
    gaps = deps.withColumn("_gap", F.col("_te") - F.lag("_te").over(w))
    return gaps.groupBy(*keys).agg(
        F.count("*").cast("long").alias("n_departures"),
        F.count("_gap").cast("long").alias("n_gaps"),
        F.min("_gap").cast("long").alias("min_gap_sec"),
        F.max("_gap").cast("long").alias("max_gap_sec"),
        F.when(
            F.count("_gap") > 0,
            F.expr("sum(_gap) div count(_gap)"),
        ).cast("long").alias("mean_gap_sec"),
    )


def trip_overtaking(
    ad: DataFrame,
    route_col: str = "route_id",
    trip_col: str = "trip_id",
    seq_col: str = "stop_sequence",
    date_col: str = "date",
    ts_col: str = "t_departure",
) -> DataFrame:
    """Trip-overtaking detection over the arrivals_departures fact —
    the schedule-QA question transit feeds routinely fail: two trips
    of the same route on the same service day whose departure order
    REVERSES between consecutive stop positions (the later vehicle
    passes the earlier one on paper — usually a stop_times data bug,
    occasionally a real express pattern worth flagging either way).
    The sixth consumer of the staged C11/C17 materialization.

    A pair is reported when the order is STRICT on both sides (earlier
    at position s, strictly later at s+1) — same-second ties assert
    nothing and are not overtakes. Comparisons are absolute-epoch
    (DST-proof by construction, the headway_stats discipline).

    Plan (r12, guide §2.4): ENRICH-THEN-PAIR. Each trip-position row is
    first joined to its own next-position rows (one (route, date, seq,
    trip)-keyed self-join), and the pair self-join keyed (route, date,
    seq) then runs over rows that already carry both positions'
    departures. Algebraically identical to the old pair-then-attach
    form EVEN under duplicate (route, date, trip, seq) rows (the fact
    legitimately carries them): per pair group the old plan emitted
    TE(ta) x TE(tb) x N(ta) x N(tb) combinations and the new one emits
    (TE(ta) x N(ta)) x (TE(tb) x N(tb)) — the same multiset. The win:
    the pair-MULTIPLIED stream is never joined (or shuffled) again —
    the r11 plan reshuffled the pair output through two more
    SortMergeJoins (4 Exchanges) — and a single up-front
    ``repartition(route, date)`` co-partitions every join (subset
    partitioning satisfies both join keys), so the whole operator runs
    off ONE computed Exchange. A lead()-window rewrite was tried and
    REJECTED: it collapses duplicate rows (one lead per row, not a
    join multiplication) and lost 2/3 of the oracle's rows at sf0.01.
    Arrival-only rows (NULL departure) are excluded.

    Returns (route, svc_date, seq_from, trip_first, trip_second,
    lead_sec_from, deficit_sec_to): trip_first departs lead_sec_from
    seconds ahead at seq_from and deficit_sec_to seconds BEHIND at
    seq_from + 1.
    """
    te = F.unix_timestamp(F.col(ts_col))
    d = ad.filter(F.col(ts_col).isNotNull()).select(
        F.col(route_col).alias("_r"),
        F.col(date_col).alias("_d"),
        F.col(trip_col).alias("_t"),
        F.col(seq_col).cast("long").alias("_s"),
        te.alias("_te"),
    )
    # (A subset repartition("_r","_d") was A/B'd here: Spark's default
    # requireAllClusterKeysForCoPartition re-exchanges the joins on
    # their full keys anyway, so it was a pure extra shuffle.)
    nxt = d.select(
        "_r", "_d",
        (F.col("_s") - 1).alias("_s"),
        F.col("_t"), F.col("_te").alias("_ten"),
    )
    # each row with each of ITS OWN trip's next-position departures
    enrich = d.join(nxt, ["_r", "_d", "_s", "_t"])
    a = enrich.select(
        "_r", "_d", "_s",
        F.col("_t").alias("_ta"), F.col("_te").alias("_tea"),
        F.col("_ten").alias("_tea2"),
    )
    b = enrich.select(
        "_r", "_d", "_s",
        F.col("_t").alias("_tb"), F.col("_te").alias("_teb"),
        F.col("_ten").alias("_teb2"),
    )
    j = a.join(b, ["_r", "_d", "_s"]).filter(F.col("_ta") < F.col("_tb"))
    fwd = (F.col("_tea") < F.col("_teb")) & (F.col("_tea2") > F.col("_teb2"))
    rev = (F.col("_teb") < F.col("_tea")) & (F.col("_teb2") > F.col("_tea2"))
    out = j.filter(fwd | rev).select(
        F.col("_r").alias(route_col),
        F.col("_d").cast("string").alias("svc_date"),
        F.col("_s").alias("seq_from"),
        F.when(fwd, F.col("_ta")).otherwise(F.col("_tb")).alias("trip_first"),
        F.when(fwd, F.col("_tb")).otherwise(F.col("_ta")).alias(
            "trip_second"
        ),
        F.when(fwd, F.col("_teb") - F.col("_tea"))
        .otherwise(F.col("_tea") - F.col("_teb"))
        .cast("long")
        .alias("lead_sec_from"),
        F.when(fwd, F.col("_tea2") - F.col("_teb2"))
        .otherwise(F.col("_teb2") - F.col("_tea2"))
        .cast("long")
        .alias("deficit_sec_to"),
    )
    return out
