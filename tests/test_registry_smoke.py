"""Every registry entry must at least ANALYZE and EXECUTE against the real
driver testdata — the cheap tripwire round 2 lacked: two queries
(asof_join, range_join) shipped with analysis errors that only the bench
surfaced, because unit tests exercised the operators on hand-built frames
and the oracle-parity suite was not run before commit. This runs each
``queries()`` entry end-to-end at sf0.001 (seconds, not the parity
suite's minutes) so a wiring break fails fast and by name.

Value-level correctness is tests/test_oracle_parity.py's job (sf0.01,
full DuckDB comparison); this is existence + executability, including
any future entries that carry no oracle.
"""

from __future__ import annotations

import pytest

from postgis_gtfs_importer_spark.plans import queries as Q

SF_DIR = "/root/testdata/sf0.001"

REGISTRY = Q.queries()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_registry_entry_runs_on_real_testdata(spark, name):
    df = REGISTRY[name](spark, SF_DIR)
    assert df.count() >= 0  # executes; emptiness is a parity question
    assert df.columns  # stable, non-empty schema

