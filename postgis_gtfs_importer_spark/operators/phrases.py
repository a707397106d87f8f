"""Positional phrase search over an inverted index.

Completes the retrieval family next to operators/indexing.py
(build_inverted_index gives membership, bm25_topk relevance; this one
ADJACENCY — the phrase-query capability a positional search index
exists for). The reference has no text-corpus surface (it delegates
relational work to gtfs-via-postgres, /root/reference/import.sh:119-124);
this extends the engine toward the LLM-corpus workload like the rest of
the indexing family.

Determinism contract (shared with indexing._lower_tokens and the DuckDB
oracle twin): lowercase whitespace tokenization of ``trim(text)``;
blank text yields zero tokens; counts and positions are exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .indexing import _lower_tokens


def phrase_match(
    df: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Documents containing the token sequence ``phrase`` contiguously,
    with the occurrence count and first match position (1-based).

    The positional index is ``posexplode`` of the lowercase-whitespace
    tokens — the (doc, position, token) relation a phrase-capable search
    index stores. Matching an n-token phrase is an (n-1)-way self-join
    on ``(doc_id, pos - offset)`` — but the postings are FILTERED to the
    n phrase tokens before any join, so each join leg carries only those
    tokens' postings lists (term-selective, like an index probe), never
    the full corpus index. Joins are keyed equi-joins on
    (doc_id, start): co-partitioned after the first shuffle, no nested
    loop, nothing quadratic in corpus size; cost scales with the phrase
    terms' document frequency — at 100 TB exactly the
    postings-list-intersection cost a dedicated search engine pays.
    """
    from .dedup import materialize

    if len(phrase) < 2:
        raise ValueError("phrase_match needs >= 2 tokens")
    toks = [t.lower() for t in phrase]
    # Materialize before the per-token legs: each leg is a copy of this
    # subplan, and Spark re-executes the upstream pipeline per self-join
    # side — without the cut, an n-token phrase explodes the WHOLE
    # corpus n times instead of once (the dedup.materialize() trap).
    postings = materialize(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(_lower_tokens(text_col)).alias("pos", "tok"),
        ).filter(F.col("tok").isin(toks))
    )
    legs = None
    for i, t in enumerate(toks):
        leg = postings.filter(F.col("tok") == t).select(
            "doc_id", (F.col("pos") - F.lit(i)).alias("start")
        )
        legs = leg if legs is None else legs.join(leg, ["doc_id", "start"])
    return legs.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_matches"),
        (F.min("start") + F.lit(1)).cast("long").alias("first_pos"),
    )
