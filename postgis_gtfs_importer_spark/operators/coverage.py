"""Coverage-maximizing subset selection (greedy max-coverage).

The data-selection shape used to pick a maximally-DIVERSE training
subset (facility-location / coverage objectives) rather than a random
(priority_sample), score-ranked (quality_gate), or
distribution-matched (balanced_mixture) one — the fourth selection
discipline in the curation family. The reference has no corpus surface
(/root/reference/import.sh:119-124 delegates its relational work); this
extends the engine toward the LLM-pipeline workload like
operators/curation.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def greedy_set_cover(
    items: DataFrame,
    k: int,
    id_col: str = "id",
    elem_col: str = "elem",
) -> DataFrame:
    """Greedily pick ``k`` sets (documents) whose union covers the most
    elements (shingles) — the classic (1 - 1/e)-approximate greedy for
    max-coverage.

    Per round: ONE count-by-set aggregate over the still-uncovered
    (set, element) relation, a deterministic argmax (gain DESC, id ASC),
    then an anti-join that deletes the newly-covered elements
    everywhere. The argmax is a 1-row driver collect — k driver-side
    picks total, the same justified class as BPE's merge selection; the
    uncovered relation only ever SHRINKS and is re-materialized each
    round (the iterative-lineage discipline kcore/sssp follow). The
    winner's element set is broadcast into the anti-join: one set's
    elements, bounded by the largest document, never corpus-sized.
    Nothing here is quadratic in corpus size; at 100 TB each round costs
    one map-side-combined aggregate plus one broadcast anti-join over
    the shrinking relation.

    Returns (round, id, gain): pick order, chosen set, and the number of
    NEW elements it covered (exact integers; ties broken by id, so the
    whole trace replays identically on any engine or partitioning).
    Stops early if coverage is exhausted before k picks.

    NULL ids and NULL elements are EXCLUDED up front (the sketch-family
    policy: no set without a name, no element without an identity).
    Without the filter both break the greedy loop's progress guarantee:
    a NULL id can win the argmax but ``col == lit(NULL)`` matches
    nothing, so its elements are never deleted and it wins every
    remaining round; a NULL elem is counted as gain but survives every
    anti-join (NULL never equi-joins), double-counting forever.
    """
    from .dedup import materialize

    spark = items.sparkSession
    id_type = items.schema[id_col].dataType.simpleString()
    remaining = materialize(
        items.filter(
            F.col(id_col).isNotNull() & F.col(elem_col).isNotNull()
        )
        .select(F.col(id_col).alias("id"), F.col(elem_col).alias("elem"))
        .dropDuplicates(["id", "elem"])
    )
    picks: list[tuple] = []
    for r in range(1, int(k) + 1):
        best = (
            remaining.groupBy("id")
            .agg(F.count("*").alias("gain"))
            .orderBy(F.desc("gain"), F.asc("id"))
            .limit(1)
            .collect()
        )
        # count(*) over existing rows is always >= 1, so a fully-covered
        # universe surfaces as an EMPTY aggregate, never a zero gain.
        if not best:
            break
        picks.append((r, best[0]["id"], best[0]["gain"]))
        covered = remaining.filter(
            F.col("id") == F.lit(best[0]["id"])
        ).select("elem")
        remaining = materialize(
            remaining.join(F.broadcast(covered), "elem", "left_anti")
        )
    return spark.createDataFrame(
        picks, schema=f"round long, id {id_type}, gain long"
    )
