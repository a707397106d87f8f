"""Cleaning operators — the gtfsclean family (SURVEY.md §2.B).

The reference cleans feeds with gtfsclean before import
(/root/reference/import.sh:38-111), each behavior behind a flag. This
module re-expresses every enabled flag as a composable
``dict[str, DataFrame] -> dict[str, DataFrame]`` transform with the same
per-operator toggles (``CleaningConfig`` mirrors the env-var gates,
import.sh:50-100). Order matters and follows gtfsclean's internal
sequencing: validate/default → dedup+remap (agencies → routes →
services/shapes → stops → trips) → orphan fixpoint → minimizers.

All operators are DataFrame built-ins (joins/windows/aggregates) except
B7 shape simplification, whose Douglas-Peucker core is a grouped-map
Pandas UDF (the one place per-shape imperative geometry is genuinely
needed).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import schemas
from . import dedup as DD

Tables = dict[str, DataFrame]


@dataclass
class CleaningConfig:
    """Per-operator toggles, mirroring import.sh:50-100 env gates."""

    default_on_errors: bool = True   # B2  --default-on-errs
    drop_errors: bool = True         # B3  --drop-errs
    check_null_coords: bool = True   # B4  --check-null-coords
    keep_additional_fields: bool = False  # B5 --keep-additional-fields
    min_shapes: bool = True          # B7  --min-shapes
    materialize: bool = True         # C17 materialization barrier after cleaning
    minimize_services: bool = True   # B8  --minimize-services
    minimize_stoptimes: bool = True  # B9  --minimize-stoptimes
    delete_orphans: bool = True      # B10 --delete-orphans
    remove_red_agencies: bool = True  # B11
    remove_red_routes: bool = True    # B12
    remove_red_services: bool = True  # B13
    remove_red_shapes: bool = True    # B14
    remove_red_stops: bool = True     # B15
    remove_red_trips: bool = True     # B16
    shape_tolerance_deg: float = 1e-5  # B7 max deviation (degrees)
    warnings: dict = field(default_factory=dict)  # B17 rule -> dropped count

    @classmethod
    def from_env(cls, env: dict[str, str] | None = None) -> "CleaningConfig | None":
        """The reference's env contract: ``GTFSTIDY_BEFORE_IMPORT=false``
        disables cleaning entirely (import.sh:38, import.js:70,261-263);
        each operator has an env toggle mirroring its flag
        (import.sh:50-100), e.g. ``GTFS_CLEAN_REMOVE_RED_STOPS=false``.
        Returns None when cleaning is disabled.
        """
        import os

        e = os.environ if env is None else env
        if e.get("GTFSTIDY_BEFORE_IMPORT", "").lower() == "false":
            return None
        cfg = cls()
        for name in (
            "default_on_errors", "drop_errors", "check_null_coords",
            "keep_additional_fields", "min_shapes", "minimize_services",
            "minimize_stoptimes", "delete_orphans", "remove_red_agencies",
            "remove_red_routes", "remove_red_services", "remove_red_shapes",
            "remove_red_stops", "remove_red_trips",
        ):
            v = e.get(f"GTFS_CLEAN_{name.upper()}")
            if v is not None:
                setattr(cfg, name, v.lower() != "false")
        return cfg


# ---------------------------------------------------------------------------
# B2/B3/B4 — validation, defaulting, dropping
# ---------------------------------------------------------------------------

def apply_enum_policy(tables: Tables, cfg: CleaningConfig) -> Tables:
    """B2 default-on-errors: out-of-domain enum codes -> spec default.

    gtfsclean --default-on-errs (import.sh:53-55) replaces invalid field
    values with their spec defaults instead of failing the import.
    """
    if not cfg.default_on_errors:
        return tables
    out = dict(tables)
    for (fname, colname), (domain, default) in schemas.ENUM_DOMAINS.items():
        if fname not in out:
            continue
        col = F.col(colname)
        fixed = F.when(
            col.isNull() | col.isin(*domain), col
        ).otherwise(F.lit(default).cast("int"))
        out[fname] = out[fname].withColumn(colname, fixed)
    return out


def drop_invalid_rows(tables: Tables, cfg: CleaningConfig) -> Tables:
    """B3 drop-errors + B4 null-coordinate check.

    Rows missing required (NOT NULL) fields are dropped (gtfsclean
    --drop-errs, import.sh:56-58); stops with missing or (0,0)
    coordinates are treated as errors (--check-null-coords,
    import.sh:59-61). Cascading deletion of referencing entities is the
    orphan fixpoint's job (B10) — run after this.
    """
    if not cfg.drop_errors:
        return tables
    out = dict(tables)
    for fname, req in schemas.REQUIRED.items():
        if fname not in out:
            continue
        pred = None
        for c in req:
            p = F.col(c).isNotNull()
            pred = p if pred is None else (pred & p)
        before = out[fname]
        out[fname] = before.filter(pred)
    if cfg.check_null_coords and "stops" in out:
        lat, lon = F.col("stop_lat"), F.col("stop_lon")
        out["stops"] = out["stops"].filter(
            lat.isNotNull() & lon.isNotNull() & ~((lat == 0.0) & (lon == 0.0))
        )
    if "stop_times" in out:
        # a stop_time with no parseable arrival AND departure is useless
        out["stop_times"] = out["stop_times"].filter(
            F.col("arrival_time").isNotNull() | F.col("departure_time").isNotNull()
        )
    return out


def validation_report(tables: Tables) -> DataFrame:
    """B17 warning surfacing (--show-warnings, import.sh:45-47): per-rule
    violation counts across the feed, as one small DataFrame.

    One count() aggregate per rule, assembled with unionByName — each rule
    is a filter + count on the already-pruned columns, so the report costs
    one pass over the touched columns, not one over the feed per rule.
    """
    spark = next(iter(tables.values())).sparkSession
    parts: list[DataFrame] = []

    def rule(name: str, df) -> None:
        parts.append(
            df.agg(F.count("*").alias("n_violations")).select(
                F.lit(name).alias("rule"), "n_violations"
            )
        )

    for fname, req in schemas.REQUIRED.items():
        if fname not in tables:
            continue
        pred = None
        for c in req:
            p = F.col(c).isNull()
            pred = p if pred is None else (pred | p)
        rule(f"{fname}.missing_required", tables[fname].filter(pred))
    if "stops" in tables:
        lat, lon = F.col("stop_lat"), F.col("stop_lon")
        rule(
            "stops.null_or_zero_coords",
            tables["stops"].filter(
                lat.isNull() | lon.isNull() | ((lat == 0.0) & (lon == 0.0))
            ),
        )
    for (fname, colname), (domain, _default) in schemas.ENUM_DOMAINS.items():
        if fname not in tables:
            continue
        col = F.col(colname)
        rule(
            f"{fname}.{colname}.out_of_domain",
            tables[fname].filter(col.isNotNull() & ~col.isin(*domain)),
        )
    if not parts:
        return spark.createDataFrame([], "rule string, n_violations long")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.filter(F.col("n_violations") > 0)


# ---------------------------------------------------------------------------
# B11-B16 — redundancy removal (dedup + FK remap), in dependency order
# ---------------------------------------------------------------------------

def remove_redundant_agencies(tables: Tables) -> Tables:
    """B11 (--remove-red-agencies, import.sh:83-85): content-identical
    agencies merged, routes.agency_id remapped."""
    content = [c for c in schemas.GTFS_FILES["agency"] if c != "agency_id"]
    return DD.dedup_and_remap(tables, "agency", "agency_id", content, [("routes", "agency_id")])


def remove_redundant_routes(tables: Tables) -> Tables:
    """B12 (--remove-red-routes, import.sh:86-88)."""
    content = [c for c in schemas.GTFS_FILES["routes"] if c != "route_id"]
    return DD.dedup_and_remap(tables, "routes", "route_id", content, [("trips", "route_id")])


def remove_redundant_stops(tables: Tables) -> Tables:
    """B15 (--remove-red-stops, import.sh:95-97): exact-content dedup
    including lat/lon; stop_times/transfers/pathways remapped."""
    content = [c for c in schemas.GTFS_FILES["stops"] if c != "stop_id"]
    return DD.dedup_and_remap(
        tables,
        "stops",
        "stop_id",
        content,
        [
            ("stop_times", "stop_id"),
            ("transfers", "from_stop_id"),
            ("transfers", "to_stop_id"),
            ("pathways", "from_stop_id"),
            ("pathways", "to_stop_id"),
            ("stops", "parent_station"),
        ],
    )


def materialized_service_dates(tables: Tables) -> DataFrame:
    """(service_id, date) — the C10 expansion used for service equality.

    calendar weekly bitmap × sequence(start,end) minus type-2 exceptions
    plus type-1 exceptions (gtfs-via-postgres service_days semantics,
    SURVEY.md §2.C10).
    """
    from .derivations import service_days

    return service_days(tables)


def remove_redundant_services(tables: Tables) -> Tables:
    """B13 (--remove-red-services, import.sh:89-91): services whose
    *materialized date sets* are equal merge; trips.service_id remapped.

    Equality is on the expanded dates (not the encoding): two services —
    one weekly pattern, one exception list — with the same dates are
    duplicates. Fingerprint = sha2 of the sorted date list.
    """
    dates = materialized_service_dates(tables)
    fp = (
        dates.groupBy("service_id")
        .agg(F.sha2(F.concat_ws(",", F.sort_array(F.collect_list(F.col("date").cast("string")))), 256).alias("__fp"))
    )
    w = Window.partitionBy("__fp")
    # cut once: trips, calendar and calendar_dates all read the mapping
    mapping = DD.materialize(
        fp.withColumn("canonical_id", F.min("service_id").over(w)).select(
            "service_id", "canonical_id"
        )
    )
    out = dict(tables)
    if "trips" in out:
        out["trips"] = DD.remap_fk(out["trips"], "service_id", mapping, "service_id")
    keep = mapping.filter(F.col("service_id") == F.col("canonical_id")).select("service_id")
    for t in ("calendar", "calendar_dates"):
        if t in out:
            out[t] = out[t].join(keep, "service_id", "left_semi")
    return out


def remove_redundant_shapes(tables: Tables) -> Tables:
    """B14 (--remove-red-shapes, import.sh:92-94): geometrically identical
    shapes merge (fingerprint of the ordered point array); trips.shape_id
    remapped."""
    if "shapes" not in tables:
        return tables
    fp = (
        tables["shapes"]
        .groupBy("shape_id")
        .agg(
            F.sha2(
                F.concat_ws(
                    ";",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("shape_pt_sequence", "shape_pt_lat", "shape_pt_lon")
                            )
                        ),
                        lambda s: F.concat_ws(
                            ",",
                            s["shape_pt_lat"].cast("string"),
                            s["shape_pt_lon"].cast("string"),
                        ),
                    ),
                ),
                256,
            ).alias("__fp")
        )
    )
    w = Window.partitionBy("__fp")
    # cut once: trips and shapes both read the mapping
    mapping = DD.materialize(
        fp.withColumn("canonical_id", F.min("shape_id").over(w)).select(
            "shape_id", "canonical_id"
        )
    )
    out = dict(tables)
    if "trips" in out:
        out["trips"] = DD.remap_fk(out["trips"], "shape_id", mapping, "shape_id")
    keep = mapping.filter(F.col("shape_id") == F.col("canonical_id")).select("shape_id")
    out["shapes"] = out["shapes"].join(keep, "shape_id", "left_semi")
    return out


def remove_redundant_trips(tables: Tables) -> Tables:
    """B16 (--remove-red-trips, import.sh:98-100): trips with identical
    attributes AND identical stop-time sequences merge; stop_times of the
    dropped trips deleted, frequencies remapped."""
    if "trips" not in tables or "stop_times" not in tables:
        return tables
    st_fp = (
        tables["stop_times"]
        .groupBy("trip_id")
        .agg(
            F.sha2(
                F.concat_ws(
                    ";",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "stop_sequence", "stop_id", "arrival_time", "departure_time"
                                )
                            )
                        ),
                        lambda s: F.concat_ws(
                            ",",
                            s["stop_sequence"].cast("string"),
                            s["stop_id"],
                            s["arrival_time"].cast("string"),
                            s["departure_time"].cast("string"),
                        ),
                    ),
                ),
                256,
            ).alias("__stfp")
        )
    )
    attrs = [c for c in schemas.GTFS_FILES["trips"] if c != "trip_id"]
    trips_fp = tables["trips"].join(st_fp, "trip_id", "left")
    key = F.sha2(
        F.concat_ws(
            "\x01",
            *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in attrs],
            F.coalesce(F.col("__stfp"), F.lit("\x00")),
        ),
        256,
    )
    w = Window.partitionBy("__key")
    # cut once: trips, stop_times and frequencies all read the mapping,
    # and it embeds the stop_times fingerprint shuffle
    mapping = DD.materialize(
        trips_fp.withColumn("__key", key)
        .withColumn("canonical_id", F.min("trip_id").over(w))
        .select("trip_id", "canonical_id")
    )
    out = dict(tables)
    keep = mapping.filter(F.col("trip_id") == F.col("canonical_id")).select("trip_id")
    out["trips"] = out["trips"].join(keep, "trip_id", "left_semi")
    out["stop_times"] = out["stop_times"].join(keep, "trip_id", "left_semi")
    if "frequencies" in out:
        out["frequencies"] = DD.remap_fk(out["frequencies"], "trip_id", mapping, "trip_id")
    return out


def fuzzy_stop_pairs(
    tables: Tables,
    radius_m: float = 100.0,
    name_jaccard: float = 0.5,
) -> DataFrame:
    """Fuzzy stop-duplicate candidates: nearby AND similarly named.

    The SURVEY §7 extension of exact-match B15: candidate pairs come from
    a lat/lon grid-cell equi-join (cell size ≈ radius, 3×3 neighbor
    probe — never an all-pairs cross join, the same blocking pattern as
    trajectories.similar_shapes_topk), then are verified by haversine
    distance ≤ radius_m and token-Jaccard of the lowercased stop names ≥
    name_jaccard. Output: stop_id_a < stop_id_b, dist_m, name_jaccard_e6.
    Feeding the pairs into dedup.connected_components + remap_fk turns
    this into full fuzzy dedup; kept separate because merging nearby
    stops is a policy decision (platforms vs duplicates).
    """
    stops = tables["stops"].filter(
        F.col("stop_lat").isNotNull() & F.col("stop_lon").isNotNull()
    )
    cell_deg = max(radius_m, 1.0) / 111_320.0  # ≈ meters per degree lat
    # A degree of LONGITUDE is only 111320*cos(lat) meters, so an
    # unscaled lon cell is radius*cos(lat) meters wide and a 3x3 probe
    # MISSES in-radius pairs above ~34° latitude (radius spans >1.5
    # cells — most of Europe/North America). Widen the lon cell by the
    # feed's worst case, cos(max |lat|), via a broadcast 1-row scalar
    # (no collect); clamped at 85° so polar feeds don't divide by ~0.
    # Wider-than-needed cells near the equator of the feed only add
    # candidates — the exact haversine verify keeps correctness.
    ref = stops.agg(
        F.least(F.max(F.abs(F.col("stop_lat"))), F.lit(85.0)).alias(
            "_maxabslat"
        )
    )
    lon_cell = F.lit(cell_deg) / F.cos(F.radians(F.col("_maxabslat")))
    toks = F.array_distinct(
        F.split(F.lower(F.trim(F.coalesce("stop_name", F.lit("")))), r"\s+")
    )
    side = stops.crossJoin(F.broadcast(ref)).select(
        F.col("stop_id").alias("id"),
        F.col("stop_lat").alias("lat"),
        F.col("stop_lon").alias("lon"),
        toks.alias("toks"),
        F.floor(F.col("stop_lat") / cell_deg).alias("cx"),
        F.floor(F.col("stop_lon") / lon_cell).alias("cy"),
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    a = side.withColumn("o", F.explode(offsets)).select(
        F.col("id").alias("id_a"),
        F.col("lat").alias("lat_a"),
        F.col("lon").alias("lon_a"),
        F.col("toks").alias("toks_a"),
        (F.col("cx") + F.col("o.dx")).alias("cx"),
        (F.col("cy") + F.col("o.dy")).alias("cy"),
    )
    b = side.select(
        F.col("id").alias("id_b"),
        F.col("lat").alias("lat_b"),
        F.col("lon").alias("lon_b"),
        F.col("toks").alias("toks_b"),
        "cx",
        "cy",
    )
    pairs = a.join(b, ["cx", "cy"]).filter(F.col("id_a") < F.col("id_b"))

    # haversine (meters) as pure column arithmetic
    rad = 3.141592653589793 / 180.0
    dlat = (F.col("lat_b") - F.col("lat_a")) * rad
    dlon = (F.col("lon_b") - F.col("lon_a")) * rad
    h = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(F.col("lat_a") * rad)
        * F.cos(F.col("lat_b") * rad)
        * F.pow(F.sin(dlon / 2), 2)
    )
    dist_m = 2 * 6_371_000.0 * F.asin(F.sqrt(h))

    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size(F.array_union("toks_a", "toks_b"))
    jac = inter / F.greatest(union, F.lit(1))
    return (
        pairs.withColumn("dist_m", dist_m)
        .withColumn(
            "name_jaccard_e6",
            F.floor(jac * F.lit(1e6) + F.lit(0.5)).cast("long"),
        )
        .filter(
            (F.col("dist_m") <= radius_m)
            & (F.col("name_jaccard_e6") >= int(name_jaccard * 1e6))
        )
        .select("id_a", "id_b", "dist_m", "name_jaccard_e6")
    )


# ---------------------------------------------------------------------------
# B10 — orphan deletion (fixpoint of semi-joins)
# ---------------------------------------------------------------------------

def delete_orphans(tables: Tables, max_iters: int = 3, materialize: bool = False) -> Tables:
    """B10 (--delete-orphans, import.sh:80-82): drop entities referenced by
    nothing, cascading outward to a fixpoint.

    Pass order per iteration: trips need a live route+service; stop_times
    need a live trip; stops need a stop_time reference (unless they are
    stations/parents); shapes & services need a trip; frequencies/
    transfers follow their FKs. Each rule is a left_semi join. A handful
    of iterations reaches the fixpoint for real feeds (chains are short);
    the loop is driver-side but each pass is one distributed plan.
    """

    def _root_counts(t: Tables) -> tuple[int, ...]:
        """Cardinalities of the cascade roots, as ONE Spark action: the
        three per-table count() jobs each paid a full plan+schedule
        round trip (r11, guide §1 — actions are planning-bound here);
        a union of the three aggregates is a single job whose stages
        also materialize the roots' lazy checkpoints concurrently."""
        roots = [r for r in ("trips", "stop_times", "stops") if r in t]
        if not roots:
            return ()
        if len(roots) == 1:
            return (t[roots[0]].count(),)
        parts = [
            t[r].agg(F.count(F.lit(1)).alias("c")).select(
                F.lit(i).alias("i"), "c"
            )
            for i, r in enumerate(roots)
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionAll(p)
        by_i = {row["i"]: row["c"] for row in u.collect()}
        return tuple(by_i[i] for i in range(len(roots)))

    # Later rules of the same pass read trips (five of them), stop_times
    # and stops: cut each once as soon as it is rewritten, or every
    # reader's end-of-pass checkpoint re-runs its semi-join stages.
    cut = DD.materialize if materialize else (lambda df: df)
    out = dict(tables)
    # Seed the fixpoint fingerprint from the INPUT cascade roots (r11):
    # the passes only ever DELETE rows, so unchanged (trips, stop_times,
    # stops) counts across a pass prove that pass was the identity and
    # every later pass would be too (all rules are semi-joins against
    # these roots or relations derived from them, and semi-joins are
    # idempotent). Seeding from the input lets an orphan-free feed — the
    # common case — stop after ONE pass instead of running a second full
    # cascade just to observe it changed nothing. The input tables are
    # checkpoint leaves under the pipeline's materialize=True, so the
    # seed counts are cheap scans.
    prev_counts: tuple[int, ...] | None = _root_counts(out) or None
    for _ in range(max_iters):
        if "trips" in out:
            t = out["trips"]
            if "routes" in out:
                t = t.join(out["routes"].select("route_id"), "route_id", "left_semi")
            live_services = None
            if "calendar" in out or "calendar_dates" in out:
                parts = []
                if "calendar" in out:
                    parts.append(out["calendar"].select("service_id"))
                if "calendar_dates" in out:
                    parts.append(out["calendar_dates"].select("service_id"))
                live_services = parts[0]
                for p in parts[1:]:
                    live_services = live_services.unionByName(p)
                t = t.join(live_services.distinct(), "service_id", "left_semi")
            out["trips"] = cut(t)

        if "stop_times" in out and "trips" in out:
            out["stop_times"] = cut(out["stop_times"].join(
                out["trips"].select("trip_id"), "trip_id", "left_semi"
            ))

        if "stops" in out and "stop_times" in out:
            referenced = out["stop_times"].select("stop_id").distinct()
            parents = (
                out["stops"]
                .join(referenced, "stop_id", "left_semi")
                .filter(F.col("parent_station").isNotNull())
                .select(F.col("parent_station").alias("stop_id"))
            )
            live = referenced.unionByName(parents).distinct()
            # A live STATION's non-stop children (entrances 2, generic
            # nodes 3, boarding areas 4) never appear in stop_times but
            # are structural parts of the station's routing graph —
            # dropping them would cascade into deleting every pathway
            # that references them (valid, referenced data). Platforms
            # (location_type 0/NULL) stay droppable: an unreferenced
            # platform IS an orphan.
            if "location_type" in out["stops"].columns:
                struct_children = (
                    out["stops"]
                    .filter(F.col("location_type").isin(2, 3, 4))
                    .join(
                        live.withColumnRenamed("stop_id", "parent_station"),
                        "parent_station",
                        "left_semi",
                    )
                    .select("stop_id")
                )
                live = live.unionByName(struct_children).distinct()
            out["stops"] = cut(out["stops"].join(live, "stop_id", "left_semi"))

        if "shapes" in out and "trips" in out:
            out["shapes"] = out["shapes"].join(
                out["trips"].select("shape_id").filter(F.col("shape_id").isNotNull()).distinct(),
                "shape_id",
                "left_semi",
            )

        for t in ("calendar", "calendar_dates"):
            if t in out and "trips" in out:
                out[t] = out[t].join(
                    out["trips"].select("service_id").distinct(), "service_id", "left_semi"
                )

        if "frequencies" in out and "trips" in out:
            out["frequencies"] = out["frequencies"].join(
                out["trips"].select("trip_id"), "trip_id", "left_semi"
            )
        for t in ("transfers", "pathways"):
            if t in out and "stops" in out:
                live_stops = out["stops"].select("stop_id")
                out[t] = (
                    out[t]
                    .join(live_stops.withColumnRenamed("stop_id", "from_stop_id"), "from_stop_id", "left_semi")
                    .join(live_stops.withColumnRenamed("stop_id", "to_stop_id"), "to_stop_id", "left_semi")
                )
        if materialize:
            # iterative algorithm — cut lineage per iteration or the plan
            # doubles every pass (the standard Spark iterative-job pattern)
            out = truncate_lineage(out)
        # REAL fixpoint detection: the old `changed` flag was set
        # unconditionally whenever trips existed, so the loop always ran
        # all max_iters passes. Compare cascade-root cardinalities across
        # passes instead — one fused count action per pass (cheap under
        # materialize=True, the pipeline's setting; without it each
        # count re-executes the pass chain, which max_iters bounds).
        counts = _root_counts(out)
        if counts == prev_counts:
            break
        prev_counts = counts
    return out


# ---------------------------------------------------------------------------
# B8 — service minimization
# ---------------------------------------------------------------------------

def minimize_services(tables: Tables) -> Tables:
    """B8 (--minimize-services, import.sh:74-76): re-encode each service's
    materialized date set as the smaller of (weekly pattern + exceptions)
    vs (pure exception list), preserving the date set exactly.

    Round-trip property: materializing the re-encoded calendar/
    calendar_dates yields the identical (service_id, date) set — tested
    metamorphically (SURVEY.md §5.5).

    Heuristic (like gtfstidy): compute the dominant weekly bitmap over
    [min_date, max_date]; if encoding with it needs fewer exception rows
    than the pure date list, emit pattern + exceptions, else dates only.

    ``dates``, ``stats``, ``new_cd`` and ``cost`` each feed two to four
    of the rebuilt tables' plans, so each is cut once (``materialize``)
    instead of re-running its shuffles per consuming table.
    """
    dates = DD.materialize(materialized_service_dates(tables))
    stats = dates.groupBy("service_id").agg(
        F.min("date").alias("start_date"),
        F.max("date").alias("end_date"),
        F.count("*").alias("n_dates"),
        # set bit for a weekday if MOST of its occurrences in range are active
        *[
            F.sum(F.when(F.weekday("date") == i, 1).otherwise(0)).alias(f"__dow{i}")
            for i in range(7)
        ],
    )
    # weeks spanned per service (approx): days/7 rounded up
    stats = DD.materialize(stats.withColumn(
        "__weeks",
        F.ceil((F.datediff("end_date", "start_date") + 1) / F.lit(7.0)).cast("int"),
    ))
    dow_flags = [
        (F.col(f"__dow{i}") * 2 > F.col("__weeks")).cast("int").alias(_DOW_COLS[i])
        for i in range(7)
    ]
    new_calendar = stats.select(
        "service_id", *dow_flags, "start_date", "end_date"
    )

    # exceptions = symmetric difference between pattern expansion and the set
    pattern_days = (
        new_calendar.withColumn("date", F.explode(F.sequence("start_date", "end_date")))
        .withColumn("__dow", F.weekday("date"))
        .withColumn(
            "__active",
            F.element_at(
                F.array(*[F.col(c) for c in _DOW_COLS]), (F.col("__dow") + 1).cast("int")
            )
            == 1,
        )
        .filter(F.col("__active"))
        .select("service_id", "date")
    )
    removed = pattern_days.join(dates, ["service_id", "date"], "left_anti").select(
        "service_id", "date", F.lit(2).alias("exception_type")
    )
    added = dates.join(pattern_days, ["service_id", "date"], "left_anti").select(
        "service_id", "date", F.lit(1).alias("exception_type")
    )
    new_cd = DD.materialize(added.unionByName(removed))

    # cost comparison per service: pattern encoding = 1 calendar row
    # (weight ~1) + |exceptions|; date-list encoding = |dates|.
    exc_counts = new_cd.groupBy("service_id").agg(F.count("*").alias("__n_exc"))
    cost = DD.materialize(
        stats.select("service_id", "n_dates")
        .join(exc_counts, "service_id", "left")
        .fillna({"__n_exc": 0})
        .withColumn("__use_pattern", (F.col("__n_exc") + 1) < F.col("n_dates"))
        .select("service_id", "__use_pattern")
    )

    pattern_ids = cost.filter(F.col("__use_pattern")).select("service_id")
    datelist_ids = cost.filter(~F.col("__use_pattern")).select("service_id")

    out = dict(tables)
    out["calendar"] = new_calendar.join(pattern_ids, "service_id", "left_semi")
    out["calendar_dates"] = (
        new_cd.join(pattern_ids, "service_id", "left_semi")
        .unionByName(
            dates.join(datelist_ids, "service_id", "left_semi").select(
                "service_id", "date", F.lit(1).alias("exception_type")
            )
        )
    )
    # Services with ZERO materialized dates (every weekday inactive, or
    # all dates cancelled by exception_type=2) never appear in `dates`
    # and would silently vanish from the rebuilt tables — leaving trips
    # that reference them with dangling service_id FKs (this runs AFTER
    # the orphan pass, so nothing cleans them up). Re-encode each as an
    # all-zero-weekday calendar row anchored at a date from its original
    # definition: still exactly zero active dates (the round-trip
    # property holds), but the FK survives.
    orig_ids = []
    anchor_parts = []
    if "calendar" in tables:
        orig_ids.append(tables["calendar"].select("service_id"))
        anchor_parts.append(
            tables["calendar"].select("service_id", F.col("start_date").alias("__d"))
        )
    if "calendar_dates" in tables:
        orig_ids.append(tables["calendar_dates"].select("service_id"))
        anchor_parts.append(
            tables["calendar_dates"].select("service_id", F.col("date").alias("__d"))
        )
    if orig_ids:
        all_ids = orig_ids[0]
        for p in orig_ids[1:]:
            all_ids = all_ids.unionByName(p)
        anchors = anchor_parts[0]
        for p in anchor_parts[1:]:
            anchors = anchors.unionByName(p)
        zero_date_rows = (
            all_ids.distinct()
            .join(dates.select("service_id").distinct(), "service_id", "left_anti")
            .join(anchors.groupBy("service_id").agg(F.min("__d").alias("__d")),
                  "service_id")
            .select(
                "service_id",
                *[F.lit(0).alias(c) for c in _DOW_COLS],
                F.col("__d").alias("start_date"),
                F.col("__d").alias("end_date"),
            )
        )
        out["calendar"] = out["calendar"].unionByName(zero_date_rows)
    return out


_DOW_COLS = ["monday", "tuesday", "wednesday", "thursday", "friday", "saturday", "sunday"]


# ---------------------------------------------------------------------------
# B9 — stop_times minimization
# ---------------------------------------------------------------------------

def minimize_stop_times(tables: Tables) -> Tables:
    """B9 (--minimize-stoptimes, import.sh:77-79): canonicalize partial
    times — a missing arrival fills from the departure and vice versa,
    so every surviving row carries BOTH instants. Timetable-preserving
    by construction (column-level only).

    gtfsclean's other --minimize-stoptimes action — writing an empty
    departure_time string when it equals arrival_time — is a CSV byte
    trim with no meaning for typed columnar storage (NULLing the column
    here would only push the re-fill to every consumer); it is
    deliberately not replicated. (An earlier revision carried a
    when(dep==arr, arr).otherwise(dep) expression that was a provable
    no-op — removed rather than left implying parity it never provided.)
    """
    if "stop_times" not in tables:
        return tables
    out = dict(tables)
    st = out["stop_times"]
    st = st.withColumn(
        "arrival_time", F.coalesce("arrival_time", "departure_time")
    ).withColumn(
        "departure_time", F.coalesce("departure_time", "arrival_time")
    )
    out["stop_times"] = st
    return out


# ---------------------------------------------------------------------------
# B7 — shape simplification (Douglas-Peucker, grouped-map Pandas UDF)
# ---------------------------------------------------------------------------

def simplify_shapes(tables: Tables, tolerance_deg: float = 1e-5) -> Tables:
    """B7 (--min-shapes, import.sh:71-73): polyline simplification per
    shape, preserving endpoints and max perpendicular deviation ≤
    tolerance.

    Iterative Douglas-Peucker on numpy arrays inside applyInPandas —
    per-shape imperative geometry that column expressions can't express;
    Arrow-batched, one group per shape_id, shuffle keyed on shape_id.
    """
    if "shapes" not in tables:
        return tables
    import pandas as pd  # noqa: F401  (applyInPandas contract)

    def dp(pdf):
        import numpy as np

        pdf = pdf.sort_values("shape_pt_sequence").reset_index(drop=True)
        pts = pdf[["shape_pt_lat", "shape_pt_lon"]].to_numpy(dtype=float)
        n = len(pts)
        if n <= 2:
            return pdf
        keep = np.zeros(n, dtype=bool)
        keep[0] = keep[-1] = True
        stack = [(0, n - 1)]
        while stack:
            i, j = stack.pop()
            if j <= i + 1:
                continue
            seg = pts[j] - pts[i]
            seg_len = np.hypot(*seg)
            rel = pts[i + 1 : j] - pts[i]
            if seg_len == 0:
                dist = np.hypot(rel[:, 0], rel[:, 1])
            else:
                dist = np.abs(rel[:, 0] * seg[1] - rel[:, 1] * seg[0]) / seg_len
            k = int(np.argmax(dist))
            if dist[k] > tolerance_deg:
                mid = i + 1 + k
                keep[mid] = True
                stack.append((i, mid))
                stack.append((mid, j))
        return pdf[keep]

    out = dict(tables)
    out["shapes"] = out["shapes"].groupBy("shape_id").applyInPandas(
        dp, schema=out["shapes"].schema
    )
    return out


# ---------------------------------------------------------------------------
# the full pipeline (gtfsclean invocation order, import.sh:105-110)
# ---------------------------------------------------------------------------

def truncate_lineage(tables: Tables) -> Tables:
    """C17 materialization barrier: cut the logical plan after cleaning.

    The reference buffers the entire generated SQL stream before the load
    transaction opens (``gtfs-to-sql | zstd | sponge | zstd -d | psql``,
    /root/reference/import.sh:131). The Spark analog is a lineage cut
    between the cleaning stage and everything downstream: the ~15 chained
    dedup/orphan passes otherwise compound into a plan whose analysis cost
    (DeduplicateRelations over repeated self-joins of the same relations)
    grows superlinearly — and at 100 TB you want the cleaned tables
    computed once, not re-derived by every consumer.
    ``localCheckpoint(eager=False)`` truncates to an RDD barrier locally;
    the production pipeline writes a Parquet staging dir instead
    (sinks.staging) which also survives executor loss.

    The call is NOT lazy under AQE: building the checkpoint RDD executes
    the adaptive plan up to its final stage, so every shuffle and
    broadcast stage of each table runs here, on the calling thread, and
    only the final stage waits for the first action. Whatever several
    tables share must therefore be cut once BEFORE this barrier
    (``dedup.materialize`` on the dedup mappings and on
    ``minimize_services``' intermediates), or each table's checkpoint
    re-runs it.

    A table that is ALREADY a bare checkpoint leaf (untouched since the
    previous barrier) is passed through unchanged: re-checkpointing a
    leaf pays a full Catalyst pass per table per barrier for nothing —
    measured r11, this planning dominated the import build phase.

    The per-table checkpoints are independent, so they run on a small
    thread pool (guide §2.6 — overlap independent driver-side work):
    the ~17 feed tables plan and run their stages concurrently. The jobs
    are submitted from the pool's threads, so job-group and
    scheduler-pool thread-locals of the caller do not reach them.
    """
    todo = [
        (name, df) for name, df in tables.items()
        if not _is_checkpoint_leaf(df)
    ]
    if len(todo) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(8, len(todo))) as pool:
            cut = dict(
                zip(
                    (name for name, _ in todo),
                    pool.map(
                        lambda pair: pair[1].localCheckpoint(eager=False),
                        todo,
                    ),
                )
            )
    else:
        cut = {name: df.localCheckpoint(eager=False) for name, df in todo}
    return {name: cut.get(name, df) for name, df in tables.items()}


def _is_checkpoint_leaf(df: DataFrame) -> bool:
    """True when the frame's analyzed plan is a bare LogicalRDD leaf —
    i.e. a prior localCheckpoint with no transformations on top."""
    try:
        return (
            df._jdf.queryExecution().analyzed().getClass().getSimpleName()
            == "LogicalRDD"
        )
    except Exception:  # never let introspection break the pipeline
        return False


def clean_feed(tables: Tables, cfg: CleaningConfig | None = None) -> Tables:
    """Run the enabled cleaning operators in gtfsclean's dependency order.

    Idempotent: clean_feed(clean_feed(x)) == clean_feed(x) (metamorphic
    test, SURVEY.md §5.5).
    """
    cfg = cfg or CleaningConfig()
    # Lineage cuts (when materialize): the passes below self-join the
    # tables they rewrite, so UNBOUNDED composition makes plan analysis
    # cost compound multiplicatively (DeduplicateRelations over repeated
    # relations) — the iterative orphan fixpoint is the worst (fan-out ~5
    # per iteration). Barriers sit after each *family*, not each pass:
    # deep enough to cap analysis, coarse enough not to flood the
    # scheduler with materialization jobs.
    barrier = truncate_lineage if cfg.materialize else (lambda x: x)
    t = dict(tables)
    t = apply_enum_policy(t, cfg)
    t = drop_invalid_rows(t, cfg)
    # cut ONCE right after the typed/validated read (r11): the dedup
    # family below cross-references tables (each pass's rewrite embeds
    # other tables' plans), so letting it compose over the raw
    # read+policy+validation trees made the post-family barrier's
    # physical planning the single most expensive step of the whole
    # import build (~10 s at sf1-class, pure Catalyst). Over leaves the
    # same passes plan in a fraction of that; the extra barrier itself
    # plans shallow scan trees, which is cheap.
    t = barrier(t)
    if cfg.remove_red_agencies and "agency" in t:
        t = remove_redundant_agencies(t)
    if cfg.remove_red_routes and "routes" in t:
        t = remove_redundant_routes(t)
    if cfg.remove_red_services and ("calendar" in t or "calendar_dates" in t):
        t = remove_redundant_services(t)
    if cfg.remove_red_shapes and "shapes" in t:
        t = remove_redundant_shapes(t)
    if cfg.remove_red_stops and "stops" in t:
        t = remove_redundant_stops(t)
    if cfg.remove_red_trips and "trips" in t:
        t = remove_redundant_trips(t)
    t = barrier(t)  # after the dedup family
    if cfg.delete_orphans:
        t = barrier(delete_orphans(t, materialize=cfg.materialize))
    if cfg.minimize_services and ("calendar" in t or "calendar_dates" in t):
        t = minimize_services(t)
    if cfg.minimize_stoptimes:
        t = minimize_stop_times(t)
    if cfg.min_shapes and "shapes" in t:
        t = simplify_shapes(t, cfg.shape_tolerance_deg)
    if cfg.materialize:
        t = truncate_lineage(t)
    return t
