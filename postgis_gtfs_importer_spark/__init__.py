"""postgis_gtfs_importer_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of mobidata-bw/postgis-gtfs-importer.

The reference (/root/reference, see SURVEY.md) is an atomic, idempotent
GTFS→PostGIS ETL pipeline. This package re-expresses its three capability
layers Spark-first:

  1. ``sources`` + ``operators.cleaning``  — zip-of-CSV ingest + the
     gtfsclean cleaning operator family (validation, defaulting, dedup,
     orphan deletion, shape simplification, service minimization).
  2. ``operators.derivations``             — the gtfs-via-postgres derived
     relational surface (service_days, arrivals_departures, connections,
     shape aggregation, frequencies expansion, stats, translations).
  3. ``plans.publish`` + ``sinks``         — digest-gated, blue/green
     atomic publication with bookkeeping, retention GC and locking.

Beyond parity, ``operators.dedup`` / ``operators.similarity`` /
``functions.text`` add the large-scale training-data-pipeline operators
(MinHash/SimHash dedup, ANN search, language ID, quality scoring), built on
the same content-hash dedup core as the gtfsclean family.

Everything is DataFrame/SQL-first so Catalyst + AQE plan execution; Python
UDFs appear only where column expressions genuinely cannot express the
semantics (Douglas-Peucker shape simplification, multimodal decode stubs).
"""

__version__ = "0.1.0"


def __getattr__(name):
    """Lazy top-level API (keeps `import postgis_gtfs_importer_spark`
    free of a SparkSession/py4j import cost until first use)."""
    if name == "get_spark":
        from .session import get_spark

        return get_spark
    if name == "run_import":
        from .plans.pipeline import run_import

        return run_import
    if name == "LocalCatalog":
        from .catalog import LocalCatalog

        return LocalCatalog
    if name == "read_feed":
        from .sources.gtfs_feed import read_feed

        return read_feed
    if name == "clean_feed":
        from .operators.cleaning import clean_feed

        return clean_feed
    raise AttributeError(name)
