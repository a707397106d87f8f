"""Synthetic GTFS fixture feed concentrating the FIXTURES.md edge cases:

- >24h stop_times (25:10:00), equal arrival/departure rows, non-contiguous
  stop_sequence, single-stop trip
- duplicate agencies/routes/stops/trips (content-identical, different ids)
- two services with equal materialized date sets, encoded differently
- a DST-transition service window (Europe/Berlin, 2024-03-31)
- null/(0,0) stop coordinates, invalid route_type, orphan stop/shape
- collinear shape points; two geometrically identical shapes
- calendar_dates add outside range / remove inside
- transfers referencing a dedup-able stop; translations by id and value
"""

from __future__ import annotations

import os
import zipfile

FEED_FILES = {
    "agency.txt": """agency_id,agency_name,agency_url,agency_timezone,agency_lang,agency_phone
A1,Metro,https://metro.example,Europe/Berlin,DE,030-1
A2,Metro,https://metro.example,Europe/Berlin,DE,030-1
A3,Bus Co,https://bus.example,Europe/Berlin,de,
""",
    "stops.txt": """stop_id,stop_code,stop_name,stop_lat,stop_lon,location_type,parent_station,wheelchair_boarding,platform_code
S1,C1,Hauptbahnhof,52.5250,13.3690,1,,1,
S1a,C1a,Hauptbahnhof Gleis 1,52.5251,13.3691,0,S1,1,1
S1b,C1b,Hauptbahnhof Gleis 2,52.5252,13.3692,0,S1,1,2
S2,C2,Alexanderplatz,52.5219,13.4132,0,,1,
S3,C3,Zoo,52.5072,13.3324,0,,2,
S3dup,C3,Zoo,52.5072,13.3324,0,,2,
SNULL,CX,Nowhere,,,0,,0,
SZERO,CZ,Null Island,0,0,0,,0,
SORPHAN,CO,Ghost Stop,52.5000,13.4000,0,,0,
""",
    "routes.txt": """route_id,agency_id,route_short_name,route_long_name,route_type,route_color,route_text_color
R1,A1,U1,Uhlandstr - Warschauer,1,0000FF,FFFFFF
R2,A2,U1,Uhlandstr - Warschauer,1,0000FF,FFFFFF
R3,A3,X9,Airport Express,99,FF0000,FFFFFF
""",
    "trips.txt": """route_id,service_id,trip_id,trip_headsign,direction_id,block_id,shape_id,wheelchair_accessible,bikes_allowed
R1,WK,T1,Warschauer,0,B1,SH1,1,1
R1,WK,T1dup,Warschauer,0,B1,SH1,1,1
R1,WKX,T2,Warschauer,0,B2,SH2,1,1
R1,DST,T3,Uhlandstr,1,,SH1,1,1
R3,WK,T4,Airport,0,,,0,0
""",
    # T1/T1dup identical stop sequences (B16); T2 same geometry shape SH2≡SH1
    # (B14); T4 single-stop trip; non-contiguous stop_sequence on T1 (10,20,35).
    "stop_times.txt": """trip_id,arrival_time,departure_time,stop_id,stop_sequence,stop_headsign,pickup_type,drop_off_type,shape_dist_traveled,timepoint
T1,08:00:00,08:00:30,S1a,10,,0,0,0,1
T1,08:10:00,08:10:00,S2,20,,0,0,3.2,1
T1,08:20:00,08:21:00,S3,35,,0,0,6.4,1
T1dup,08:00:00,08:00:30,S1a,10,,0,0,0,1
T1dup,08:10:00,08:10:00,S2,20,,0,0,3.2,1
T1dup,08:20:00,08:21:00,S3,35,,0,0,6.4,1
T2,09:00:00,09:00:00,S1b,1,,0,0,,1
T2,09:12:00,09:13:00,S2,2,,0,0,,1
T3,25:10:00,25:12:00,S2,1,,0,0,,1
T3,25:30:00,25:30:00,S3,2,,0,0,,1
T4,12:00:00,12:00:00,S2,1,,0,0,,1
""",
    # WK: Mon-Fri 2024-01-01..2024-01-14. WKX: encoded purely as dates but
    # materializes to the SAME set as WK (B13). DST: spans 2024-03-30..31
    # (Europe/Berlin spring-forward on 03-31).
    "calendar.txt": """service_id,monday,tuesday,wednesday,thursday,friday,saturday,sunday,start_date,end_date
WK,1,1,1,1,1,0,0,20240101,20240114
DST,0,0,0,0,0,1,1,20240330,20240331
""",
    # WK: remove 2024-01-03 (Wed), add 2024-01-06 (Sat).
    # WKX: explicit date list == WK's materialized set.
    "calendar_dates.txt": (
        "service_id,date,exception_type\n"
        "WK,20240103,2\n"
        "WK,20240106,1\n"
        + "".join(
            f"WKX,{d},1\n"
            for d in [
                "20240101", "20240102", "20240104", "20240105", "20240106",
                "20240108", "20240109", "20240110", "20240111", "20240112",
            ]
        )
    ),
    # SH1: includes a collinear middle point (52.52,13.37)->(52.52,13.38)
    # ->(52.52,13.39) — B7 removes the middle. SH2 geometrically == SH1.
    # SHORPHAN referenced by no trip. Out-of-order sequence rows for SH1.
    "shapes.txt": """shape_id,shape_pt_lat,shape_pt_lon,shape_pt_sequence,shape_dist_traveled
SH1,52.5200,13.3900,3,2.0
SH1,52.5200,13.3700,1,0.0
SH1,52.5200,13.3800,2,1.0
SH1,52.5100,13.4100,4,3.5
SH2,52.5200,13.3700,1,0.0
SH2,52.5200,13.3800,2,1.0
SH2,52.5200,13.3900,3,2.0
SH2,52.5100,13.4100,4,3.5
SHORPHAN,52.0000,13.0000,1,0.0
SHORPHAN,52.1000,13.1000,2,1.0
""",
    # window 06:00-07:00 headway 25min -> departures 06:00,06:25,06:50
    # (07:00 excluded: [start,end) ); end past 24:00 on the second row.
    "frequencies.txt": """trip_id,start_time,end_time,headway_secs,exact_times
T2,06:00:00,07:00:00,1500,0
T3,24:30:00,25:30:00,1800,1
""",
    "transfers.txt": """from_stop_id,to_stop_id,transfer_type,min_transfer_time
S3dup,S2,0,120
S2,S1a,2,300
""",
    "feed_info.txt": """feed_publisher_name,feed_publisher_url,feed_lang,feed_start_date,feed_end_date,feed_version
Metro Open Data,https://metro.example/data,DE,20240101,20241231,v42
""",
    "translations.txt": """table_name,field_name,language,translation,record_id,record_sub_id,field_value
stops,stop_name,en,Central Station,S1,,
stops,stop_name,en,Zoo Station,,,Zoo
routes,route_long_name,en,Airport Express EN,R3,,
""",
    # P2 references S3dup (remapped to S3 by B15); pathway_mode 99 invalid.
    "pathways.txt": """pathway_id,from_stop_id,to_stop_id,pathway_mode,is_bidirectional,length,traversal_time,stair_count,max_slope,min_width
P1,S1a,S1b,1,1,50,60,,0,2.5
P2,S3dup,S2,99,0,120,90,12,,1.8
""",
    "levels.txt": """level_id,level_index,level_name
L0,0,Street
L-1,-1,Platform Level
""",
    "attributions.txt": """attribution_id,agency_id,route_id,trip_id,organization_name,is_producer,is_operator,is_authority,attribution_url,attribution_email
AT1,A1,,,Metro Data Team,1,0,0,https://metro.example,data@metro.example
""",
}


def write_feed_dir(path: str, files: dict[str, str] | None = None) -> str:
    os.makedirs(path, exist_ok=True)
    for fname, content in (files or FEED_FILES).items():
        with open(os.path.join(path, fname), "w") as f:
            f.write(content)
    return path


def write_feed_zip(zip_path: str, files: dict[str, str] | None = None) -> str:
    """The files as a zip whose bytes depend on the files alone: every
    entry carries the same fixed timestamp, not the write time, so two
    writes of one feed have one feed digest."""
    with zipfile.ZipFile(zip_path, "w") as z:
        for fname, content in (files or FEED_FILES).items():
            z.writestr(zipfile.ZipInfo(fname, date_time=(1980, 1, 1, 0, 0, 0)), content)
    return zip_path


#: A23 postprocessing-hook fixtures shared VERBATIM by the LocalCatalog
#: (DuckDB stand-in snapshot SQL engine, tests/test_publish.py) and the
#: PsqlCatalog (live `psql -1`, tests/test_pg_live.py) tests. The same
#: file content passing both backends pins the hook-SQL dialect
#: boundary: a hook written against this surface behaves identically in
#: the no-Postgres test path and in production (VERDICT r5 item 5;
#: reference: import.sh:134-148). Keep these to the ANSI intersection —
#: a PG-only construct would pass live and fail the DuckDB twin, and
#: vice versa, which is exactly the drift this pair exists to catch.
HOOK_SQL_CREATE = (
    "CREATE TABLE route_trip_counts AS "
    "SELECT route_id, count(*) AS n_trips FROM trips GROUP BY route_id;"
)
HOOK_SQL_MUTATE = "UPDATE stops SET stop_name = 'RENAMED' ;"
