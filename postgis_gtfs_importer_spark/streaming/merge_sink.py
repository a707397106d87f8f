"""Continuous ingestion sink: stream -> idempotent MERGE into a snapshot
table via ``foreachBatch``.

The reference's model is periodic whole-feed re-import (README.md:3);
its streaming twin is a feed of row-level changes folded into the
published table continuously. Structured Streaming's ``foreachBatch``
is the idiomatic bridge: each micro-batch is a bounded DataFrame handed
to BATCH operators — here ``operators.diff.merge_upsert`` — so the
exactly-once story composes from (a) the checkpoint's batch-id tracking
and (b) the merge's idempotence (re-applying a replayed batch is a
no-op). That pair, not any sink magic, is what makes restart-safe
pipelines at scale; this module keeps the pattern small and testable.

State: none in the stream (the merge target holds the state), so an
unbounded stream costs O(batch) per trigger plus the target rewrite —
with the target stored bucketed on the pk (sinks/staging.py), the merge
join is co-located and the rewrite is the only cost.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from ..operators.diff import merge_upsert


def merge_stream_into(
    stream: DataFrame,
    read_target: Callable[[], DataFrame | None],
    write_target: Callable[[DataFrame, int], None],
    pk_cols: list[str],
    order_col: str | None = None,
    query_name: str = "merge_sink",
):
    """Start a ``foreachBatch`` query MERGE-ing each micro-batch into a
    target table.

    ``read_target()`` returns the current target (or None before first
    write); ``write_target(df, batch_id)`` persists the merged result —
    the two callables keep the storage layer (LocalCatalog parquet,
    a PostgreSQL table, Delta) out of the streaming logic.

    A micro-batch may carry several changes for one pk (burst updates,
    or a replay folding multiple files into one batch). Which one wins
    must be an explicit policy, never arrival order: pass ``order_col``
    (a change sequence / event time) and the max-``order_col`` row per
    pk is kept, deterministically. Without it, duplicate pks within a
    batch raise — silently picking one is how CDC pipelines corrupt
    targets on replay.

    Returns the started StreamingQuery (caller awaits/stops).
    """

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        # The batch source lineage is consumed by up to three actions
        # (duplicate-pk probe, the merge's join, the writer) — persist
        # once so the stream source is read once per trigger, not re-
        # computed per action.
        batch.persist()
        try:
            _apply(batch, batch_id)
        finally:
            batch.unpersist()

    def _apply(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        if order_col is not None:
            w = Window.partitionBy(*pk_cols).orderBy(
                F.desc(order_col), *[F.asc(c) for c in pk_cols]
            )
            src = (
                batch.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            dup = (
                batch.groupBy(*pk_cols).count().filter("count > 1").limit(1)
            )
            if dup.count() > 0:
                raise ValueError(
                    f"batch {batch_id} has duplicate pks and no order_col;"
                    " refusing to pick a winner by arrival order"
                )
            src = batch
        target = read_target()
        merged = src if target is None else merge_upsert(target, src, pk_cols)
        # foreachBatch may hand a lazily-planned frame; the writer owns
        # materialization. A replayed batch (restart between write and
        # checkpoint commit) re-merges the same rows: merge_upsert is
        # idempotent, so the target converges to the same state.
        write_target(merged, batch_id)

    return (
        stream.writeStream.foreachBatch(apply_batch)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
