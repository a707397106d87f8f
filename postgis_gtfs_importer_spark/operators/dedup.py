"""Deduplication operators.

The exact content-hash dedup core mirrors gtfsclean's redundancy-removal
family (``--remove-red-agencies/-routes/-services/-shapes/-stops/-trips``,
enabled at /root/reference/import.sh:83-100 — SURVEY.md §2.B11-B16): group
rows by their non-key content, elect a canonical id (min id — preserving
original ids per ``--keep-ids``, import.sh:68-70), and remap every foreign
key that referenced a duplicate. On top of that core sit the corpus-scale
near-dup operators (MinHash+LSH, SimHash, n-gram Jaccard).

Scale + execution-model notes (100 TB design):
  * Shingles are built RELATIONALLY — posexplode tokens, window lead to
    form n-grams — not with per-row array lambdas. Spark's higher-order
    functions (transform/aggregate) are interpreted per element (outside
    whole-stage codegen) and measured 5-10× slower than the codegen'd
    Generate + Window + HashAggregate pipeline for the same work; rows
    also parallelize and spill, giant per-document arrays don't.
  * MinHash signatures are 32 min-aggregates over a single md5-derived
    base hash per shingle (universal-hash mixes are 3 integer ops each) —
    map-side partial aggregation, one shuffle on doc id.
  * The only all-to-all shuffle in LSH is the band-bucket self-join —
    the canonical LSH-at-scale plan (pairs generated inside buckets only).
  * Hashing is md5-based so results are deterministic and portable across
    engines (the DuckDB oracle can replay them).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import spread


def materialize(df: DataFrame) -> DataFrame:
    """Compute-once barrier before self-joins.

    A self-join's two sides are two copies of the input SUBPLAN — Spark
    re-executes the whole upstream pipeline per side (exchange reuse does
    not rescue aliased self-joins reliably). Signatures/shingle sets are
    tiny relative to the corpus, so cutting lineage here converts
    2-5 recomputations of the expensive stage into one. Locally a
    localCheckpoint(eager=False); a production pipeline stages to parquet
    (sinks.staging) for executor-loss resilience — same plan shape.

    ``eager=False`` is only partly lazy under AQE: the call runs every
    shuffle and broadcast stage of the plan at once, and only the final
    stage waits for the first action (which also stores its blocks).
    """
    return df.localCheckpoint(eager=False)


# ---------------------------------------------------------------------------
# exact dedup + FK remap (the gtfsclean B11-B16 core)
# ---------------------------------------------------------------------------

def content_hash(cols: list[Column | str]) -> Column:
    """Order-sensitive 256-bit hash of the content columns (null-safe)."""
    parts = [F.coalesce((F.col(c) if isinstance(c, str) else c).cast("string"), F.lit("\x00"))
             for c in cols]
    return F.sha2(F.concat_ws("\x01", *parts), 256)


def dedup_exact(df: DataFrame, id_col: str, content_cols: list[str]) -> tuple[DataFrame, DataFrame]:
    """Return (canonical_rows, mapping) for exact content duplicates.

    mapping has columns (id_col, canonical_id) for *every* input id; rows
    whose id == canonical_id are the survivors. Canonical = min(id) within
    a content group (deterministic, id-stable — B6 ``--keep-ids``).
    The shuffle key is the 256-bit content hash, not the full content.
    """
    hashed = df.withColumn("__h", content_hash(content_cols))
    w = Window.partitionBy("__h")
    mapping = (
        hashed.withColumn("canonical_id", F.min(id_col).over(w))
        .select(id_col, "canonical_id")
    )
    canonical = (
        hashed.withColumn("__rn", F.row_number().over(w.orderBy(id_col)))
        .filter(F.col("__rn") == 1)
        .drop("__h", "__rn")
    )
    return canonical, mapping


def remap_fk(referrer: DataFrame, fk_col: str, mapping: DataFrame, mapping_id: str) -> DataFrame:
    """Rewrite referrer.fk_col through mapping (id -> canonical_id).

    Broadcast the mapping when small (Catalyst auto-selects under the
    broadcast threshold); unmapped/null FKs pass through unchanged.
    """
    m = mapping.select(
        F.col(mapping_id).alias("__from"), F.col("canonical_id").alias("__to")
    )
    return (
        referrer.join(m, referrer[fk_col] == m["__from"], "left")
        .withColumn(fk_col, F.coalesce(F.col("__to"), F.col(fk_col)))
        .drop("__from", "__to")
    )


def dedup_and_remap(
    tables: dict[str, DataFrame],
    table: str,
    id_col: str,
    content_cols: list[str],
    referrers: list[tuple[str, str]],
) -> dict[str, DataFrame]:
    """Full gtfsclean-style dedup of one entity table + transitive FK remap.

    referrers: [(table_name, fk_column), ...] to rewrite. Returns a new
    table dict (input not mutated).

    The mapping is cut once (``materialize``): every referrer embeds it,
    so without the cut each referrer's lineage barrier re-runs the
    mapping's hash and window shuffles.
    """
    out = dict(tables)
    canonical, mapping = dedup_exact(tables[table], id_col, content_cols)
    mapping = materialize(mapping)
    out[table] = canonical
    for ref_table, fk_col in referrers:
        if ref_table in out:
            out[ref_table] = remap_fk(out[ref_table], fk_col, mapping, id_col)
    return out


# ---------------------------------------------------------------------------
# relational shingling (codegen-friendly building block)
# ---------------------------------------------------------------------------

def _jaccard_e6(inter: Column, uni: Column) -> Column:
    """Jaccard as a fixed-point e6 integer: floor(j*1e6 + 0.5).

    Ratios of small integers land exactly on decimal-rounding half
    boundaries where engines' round() implementations disagree; explicit
    floor arithmetic is portable (see plans.queries.fixed_point).
    """
    j = inter / F.greatest(uni, F.lit(1))
    return F.floor(j * F.lit(1e6) + F.lit(0.5)).cast("long")


def token_rows(df: DataFrame, id_col: str, text_col: str,
               extra_cols: list[str] | None = None) -> DataFrame:
    """(id, *extra, pos, tok): one row per lowercase whitespace token.

    posexplode of the split array — a codegen'd Generate, after spreading
    thin inputs across cores (sources.tables.spread).
    """
    df = spread(df)
    return df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in (extra_cols or [])],
        F.posexplode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("pos", "tok"),
    ).withColumn("tok", F.lower(F.col("tok")))


def shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int = 3,
                 extra_cols: list[str] | None = None) -> DataFrame:
    """(id, *extra, shingle): DISTINCT word n-grams, one row each.

    Built MAP-SIDE from each document's token array: indexed
    ``transform`` over a ``slice`` assembles the n-grams,
    ``array_distinct`` dedups within the document, one Generate explodes
    — zero shuffles. The earlier window-lead formulation was fully
    codegen'd but shuffled every corpus token on the doc id and then
    paid a corpus-wide distinct; the interpreted array lambdas are 2.5x
    faster even at sf0.1, and at 100 TB the removed exchanges are
    corpus-sized. (Same trade as pmi_bigrams — measured, not assumed.)
    """
    extra = list(extra_cols or [])
    df = spread(df)
    toks_arr = F.filter(
        F.transform(
            F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: F.lower(x)
        ),
        lambda x: x != F.lit(""),
    )
    grams = F.expr(
        f"transform(slice(_t, 1, greatest(size(_t) - {n - 1}, 0)),"
        " (x, i) -> concat_ws(' ', "
        + ", ".join(f"_t[i + {j}]" for j in range(n))
        + "))"
    )
    return (
        df.select(
            F.col(id_col).alias("id"),
            *[F.col(c) for c in extra],
            toks_arr.alias("_t"),
        )
        .select(
            "id", *extra, F.explode(F.array_distinct(grams)).alias("shingle")
        )
    )


# ---------------------------------------------------------------------------
# portable hashing primitives (md5-based; replayable in the SQL oracle)
# ---------------------------------------------------------------------------

# Mersenne prime for the universal-hash family; a_j*h stays < 2^62 so all
# arithmetic fits signed 64-bit in every engine.
MINHASH_PRIME = (1 << 31) - 1


def hash31(col: Column) -> Column:
    """Deterministic 31-bit hash as long: first 8 hex chars of md5, mod p."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % MINHASH_PRIME
    )


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) universal-hash coefficients (replayable
    anywhere without numpy — plain 64-bit LCG)."""
    state = seed
    out = []
    for _ in range(num_hashes):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MINHASH_PRIME - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MINHASH_PRIME
        out.append((a, b))
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    num_hashes: int = 32, seed: int = 42,
    *, shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, sz, sig array<long>): MinHash signature per document.

    One md5 per distinct shingle; each of the num_hashes functions is a
    3-integer-op universal-hash mix aggregated with min() — partial
    (map-side) aggregation makes the shuffle per-document, not
    per-shingle. sz = |distinct shingles| rides along for Jaccard math.

    ``shingles`` lets a caller that ALSO needs the shingle relation
    (e.g. minhash_lsh_pairs' exact-Jaccard verify) pass one shared,
    materialized (id, shingle) input so the corpus tokenize+shingle
    stage — the dominant scan cost — runs once, not twice.
    """
    sh = (
        shingles if shingles is not None
        else shingle_rows(df, id_col, text_col, n)
    ).withColumn("h", hash31(F.col("shingle")))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MINHASH_PRIME).alias(f"s{j}")
        for j, (a, b) in enumerate(minhash_params(num_hashes, seed))
    ]
    per_doc = sh.groupBy("id").agg(F.count("*").alias("sz"), *aggs)
    return per_doc.select(
        "id", "sz", F.array(*[F.col(f"s{j}") for j in range(num_hashes)]).alias("sig")
    )


def lsh_band_keys(sig_col: Column, num_hashes: int, bands: int) -> Column:
    """array<struct<band:int, key:string>> — one bucket key per band."""
    rows = num_hashes // bands
    entries = []
    for b in range(bands):
        sl = F.slice(sig_col, b * rows + 1, rows)
        key = F.md5(F.concat_ws(",", F.transform(sl, lambda x: x.cast("string"))))
        entries.append(F.struct(F.lit(b).alias("band"), key.alias("key")))
    return F.array(*entries)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, exact jaccard_e6 >= threshold).

    Plan: signatures (shuffle on id) -> explode bands -> band-bucket
    self-join (the only all-to-all shuffle, keyed on band hashes) ->
    distinct candidates -> exact-Jaccard verification via a shared-shingle
    count join (relational set-similarity, see ngram_jaccard_pairs).
    """
    sh = materialize(shingle_rows(df, id_col, text_col, n))
    sigs = materialize(
        minhash_signatures(
            df, id_col, text_col, n, num_hashes, seed, shingles=sh
        )
    )
    banded = sigs.select(
        "id", F.explode(lsh_band_keys(F.col("sig"), num_hashes, bands)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )

    # sh is the SAME materialized relation the signatures were built
    # from — one corpus tokenize+shingle scan feeds both stages
    sz = sh.groupBy("id").agg(F.count("*").alias("sz"))
    inter = (
        cand.join(sh.select(F.col("id").alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sz.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sz.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard_e6",
            _jaccard_e6(F.col("inter"), F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard_e6") >= int(threshold * 1e6))
        .select("id_a", "id_b", "jaccard_e6")
    )


def connected_components(
    pairs: DataFrame, max_iters: int = 12, algorithm: str = "star"
) -> DataFrame:
    """(id, component) for every node of the pair graph — component is the
    minimum id reachable from the node.

    ``algorithm="star"`` (default): alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    converges in O(log² n) rounds INDEPENDENT of graph diameter, which
    is the property that matters at 100 TB: a chain of transitive
    near-dups costs the propagation algorithm one round per hop, but
    star contraction collapses it geometrically. Each round is two
    self-free hash aggregations + joins with a lineage cut.

    ``algorithm="propagate"``: classic min-label propagation (one join +
    one aggregate per round, O(diameter) rounds) — kept as the
    cross-check twin and for shallow graphs where its constant factor
    wins. Both produce identical labels (the component minimum).
    """
    if algorithm == "star":
        return _cc_star(pairs, max_iters)
    # cut the pair pipeline once before mirroring (same r11 rationale
    # as _cc_star's raw checkpoint: the union's two branches otherwise
    # re-execute the caller's derivation twice in one materialization)
    edges = materialize(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    edges = materialize(
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
    )
    labels = materialize(
        edges.select(F.col("src").alias("id")).distinct().withColumn(
            "component", F.col("id")
        )
    )
    changed = -1
    for _ in range(max_iters):
        neigh = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("__ncomp"))
        )
        new_labels = materialize(
            labels.join(neigh, labels.id == neigh.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"),
                    F.coalesce("__ncomp", F.col("component")),
                ).alias("component"),
            )
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("component", "__old"), "id")
            .filter(F.col("component") != F.col("__old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        # exhausting the bound mid-propagation would return labels that
        # are NOT the component minima (nodes beyond max_iters hops from
        # it still carry interim labels) — a silently wrong clustering.
        # Deep chains are exactly what algorithm="star" exists for.
        raise RuntimeError(
            f"connected_components(propagate) did not converge within "
            f"max_iters={max_iters} (diameter exceeds the bound); raise "
            f"it or use algorithm='star' (geometric contraction)"
        )
    return labels


def _cc_star(pairs: DataFrame, max_iters: int = 12) -> DataFrame:
    """Alternating large-star/small-star contraction.

    Invariants per Kiveris et al.: large-star connects every neighbor
    v > u to min(Γ(u) ∪ {u}); small-star (on edges oriented larger→
    smaller) connects every smaller neighbor and u itself to
    min(Γ⁻(u) ∪ {u}). The edge set converges to stars rooted at each
    component's minimum id. Convergence is detected with a cheap
    (count, xor-of-hashes) fingerprint instead of a full set compare.
    """
    # materialize the RAW pair relation ONCE (r11): nodes and edges
    # below are independent lazy checkpoints — without this cut each
    # re-executed the caller's full pair-derivation pipeline (for the
    # minhash consumers, a second complete shingle+signature+band-join
    # pass; ReusedExchange only dedups within one executed plan, never
    # across separate checkpoint materializations)
    raw = materialize(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    # nodes from the RAW pairs: a self-loop-only node is its own component
    nodes = materialize(
        raw.select(F.col("src").alias("id"))
        .unionByName(raw.select(F.col("dst").alias("id")))
        .distinct()
    )
    edges = materialize(
        raw.filter(F.col("src") != F.col("dst")).distinct()
    )

    def fingerprint(e: DataFrame):
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    fp = None
    for _ in range(max_iters):
        # large-star over the undirected neighborhood
        bi = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mn = bi.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        edges = (
            bi.filter(F.col("dst") > F.col("src"))
            .join(mn, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star on larger→smaller orientation
        directed = edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        mn2 = directed.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        linked = directed.join(mn2, "src")
        edges = materialize(
            linked.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(linked.select("src", F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        new_fp = fingerprint(edges)
        if new_fp == fp:
            break
        fp = new_fp
    else:
        # the loop exhausted max_iters without two consecutive equal
        # fingerprints: the edge set is still contracting and the final
        # min-by-src read-off below would emit labels that are not the
        # component minima — fail loudly rather than return a silently
        # wrong clustering (geometric contraction makes this bound
        # generous: 12 rounds handle ~2^12-deep structures)
        raise RuntimeError(
            f"connected_components(star) did not converge within "
            f"max_iters={max_iters}; raise the bound"
        )
    # converged: every edge points child → component root (the minimum)
    labels = edges.groupBy(F.col("src").alias("id")).agg(
        F.min("dst").alias("component")
    )
    return nodes.join(labels, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )


def minhash_dedup(
    df: DataFrame, id_col: str, text_col: str, threshold: float = 0.5,
    full_cc: bool = True, **kw,
) -> DataFrame:
    """Keep one canonical doc per near-dup cluster (min id of the cluster).

    ``full_cc=True`` resolves clusters with connected_components (exact:
    a doc chained to the cluster minimum only through intermediates is
    still dropped). ``full_cc=False`` is the cheaper one-pass
    approximation (drop the greater id of every pair) — exact only for
    star-shaped clusters whose center is the minimum.
    """
    pairs = minhash_lsh_pairs(df, id_col, text_col, threshold=threshold, **kw)
    if full_cc:
        comp = connected_components(pairs)
        drop = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
    else:
        drop = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sh): 64-bit SimHash per document, fully relational.

    Tokens exploded to rows; two md5-derived 32-bit halves per token give
    the 64 bit signals; groupBy(id) counts set bits per position (64
    branch-free codegen'd sums with map-side partials — a bit's majority
    vote is 2*count > n); the final projection packs the majority bits
    into one long.
    """
    toks = token_rows(df, id_col, text_col).select(
        "id",
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long").alias("h2"),
    )
    # per bit k: count of set bits, branch-free (shift+and, no CASE).
    # The ±1 vote is recovered as 2*count - n: vote>0 ⟺ 2*count > n.
    votes = [
        F.sum(
            F.shiftright(F.col("h1") if k < 32 else F.col("h2"), k % 32)
            .bitwiseAND(F.lit(1))
        ).alias(f"c{k}")
        for k in range(64)
    ]
    per_doc = toks.groupBy("id").agg(F.count("*").alias("n"), *votes)
    packed = None
    for k in range(64):
        bit = F.when(
            F.col(f"c{k}") * 2 > F.col("n"), F.shiftleft(F.lit(1).cast("long"), k)
        ).otherwise(F.lit(0).cast("long"))
        packed = bit if packed is None else packed.bitwiseOR(bit)
    return per_doc.select("id", packed.alias("sh"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 8, bands: int = 4
) -> DataFrame:
    """Candidate near-dup pairs by banded SimHash + hamming verification.

    Pigeonhole: hashes within hamming distance < bands must agree on at
    least one 16-bit band; the band self-join generates candidates, then
    bit_count(xor) verifies. Distance > 3 bands' worth of guarantees
    means recall < 1 for max_hamming > 3 with 4 bands — raise bands for
    stricter guarantees.
    """
    h = materialize(simhash64(df, id_col, text_col))
    parts = []
    for b in range(bands):
        band_val = F.shiftright(F.col("sh"), b * 16).bitwiseAND(F.lit(0xFFFF))
        parts.append(h.select("id", "sh", F.lit(b).alias("band"), band_val.alias("key")))
    banded = parts[0]
    for p in parts[1:]:
        banded = banded.unionByName(p)
    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, set-similarity join)
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.05,
) -> DataFrame:
    """Exact word-n-gram Jaccard via a set-similarity (inverted) join.

    Only pairs that actually share a shingle are materialized: the
    shingle-keyed equi-join counts |A∩B| directly, |A∪B| follows from
    |A|+|B|-|A∩B|. Identical results to the naive all-pairs-within-block
    plan for any threshold > 0 (jaccard > 0 ⟺ ≥1 shared shingle), but
    shuffles scale linearly in corpus size + output pairs instead of
    quadratically in block size. Hot-shingle skew is AQE's skew-join case.
    """
    assert threshold > 0, "threshold must be > 0 (zero-overlap pairs are pruned)"
    src = df.withColumnRenamed(block_col, "blk") if block_col != "blk" else df
    sh = materialize(shingle_rows(src, id_col, text_col, n, extra_cols=["blk"]))
    sz = sh.groupBy("id").agg(F.count("*").alias("sz"))
    inv = sh.join(sz, "id")

    a, b = inv.alias("a"), inv.alias("b")
    pair_inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        pair_inter.withColumn(
            "jaccard_e6",
            _jaccard_e6(F.col("inter"), F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard_e6") >= int(threshold * 1e6))
        .select("id_a", "id_b", "jaccard_e6")
    )


def ngram_jaccard_pairs_capped(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.05,
    max_df: int = 1000,
) -> DataFrame:
    """ngram_jaccard_pairs with hot-shingle (stop-shingle) capping.

    The inverted-index self-join is quadratic in each shingle's document
    frequency: one shingle present in 1M docs alone produces 5*10^11
    candidate rows — the plan-killer at 100 TB that AQE's skew-join can
    split but not shrink. The standard set-similarity fix: exclude
    shingles with df > max_df from CANDIDATE GENERATION (they carry ~no
    signal — a shingle in half the corpus identifies nothing), then
    verify candidates exactly on the FULL shingle sets.

    Semantics: identical to the uncapped operator except that a pair
    whose shared shingles are ALL hot is missed — for Jaccard >=
    threshold pairs this requires every discriminating shingle to be a
    stop-shingle, which is the boilerplate-only-overlap case dedup
    explicitly doesn't want. The hot set (heavy hitters) is tiny by
    definition, so it broadcasts; candidate buckets are bounded by
    max_df, making the join's worst case max_df^2 per shingle —
    tunable, not data-dependent.
    """
    assert threshold > 0, "threshold must be > 0 (zero-overlap pairs are pruned)"
    src = df.withColumnRenamed(block_col, "blk") if block_col != "blk" else df
    sh = materialize(shingle_rows(src, id_col, text_col, n, extra_cols=["blk"]))
    sz = sh.groupBy("id").agg(F.count("*").alias("sz"))
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > max_df)
        .select("shingle")
    )
    rare = sh.join(F.broadcast(hot), "shingle", "left_anti")

    a, b = rare.alias("a"), rare.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    inter = (
        cand.join(sh.select(F.col("id").alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sz.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sz.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "jaccard_e6",
            _jaccard_e6(F.col("inter"), F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard_e6") >= int(threshold * 1e6))
        .select("id_a", "id_b", "jaccard_e6")
    )


def dedup_incremental(
    new_batch: DataFrame,
    seen_fingerprints: DataFrame,
    id_col: str,
    text_col: str,
    fp_col: str = "fp",
) -> tuple[DataFrame, DataFrame]:
    """Dedup a new ingestion batch against the already-ingested corpus.

    The batch-over-time shape of a production pipeline: the historical
    corpus is represented ONLY by its fingerprint index (``(fp_col)`` —
    16 bytes/doc, not the documents), so deduping batch N+1 never
    rescans 100 TB of text. Returns ``(survivors, new_fps)``:

      * survivors — new-batch rows that are canonical within the batch
        (min id per fingerprint) AND whose fingerprint is absent from
        the index (left-anti join);
      * new_fps — the survivors' fingerprints, to append to the index
        for batch N+2.

    Shuffles: one window on the fingerprint (intra-batch canonical
    election, batch-sized not corpus-sized) and the anti-join keyed on
    the fingerprint — both scale with the BATCH, the only corpus-sized
    object is the fingerprint index itself. Fingerprint =
    functions.text.fingerprint (md5 of whitespace-normalized lowercased
    text), the same identity dedup_exact shuffles on.
    """
    from ..functions import text as TX

    fp = TX.fingerprint(F.col(text_col)).alias(fp_col)
    batch = new_batch.select("*", fp)
    w = Window.partitionBy(fp_col)
    canonical = (
        batch.withColumn("__rn", F.row_number().over(w.orderBy(id_col)))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    survivors = canonical.join(
        seen_fingerprints.select(fp_col), fp_col, "left_anti"
    )
    return survivors.drop(fp_col), survivors.select(fp_col)


def neardup_incremental(
    new_batch: DataFrame,
    index_sigs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
    full_cc: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Near-duplicate dedup of a new ingestion batch against the corpus's
    MINHASH SIGNATURE INDEX — the fuzzy twin of dedup_incremental.

    The historical corpus is represented only by its signature index
    (``(id, sz, sig array<long>)`` — num_hashes*8 bytes/doc, NOT the
    text), so deduping batch N+1 against 100 TB of history touches
    nothing but the index. Candidates come from an LSH band join (batch
    bands vs index bands — batch-sized x band-bucket, never all-pairs);
    verification is signature agreement (matching components /
    num_hashes, the unbiased Jaccard estimator) because the index
    carries no shingle sets to verify exactly — the standard
    index-only trade, with estimator error ~1/sqrt(num_hashes).

    Returns ``(matches, new_index_rows)``:
      * matches — (batch_id, index_id, est_jaccard_e6 >= threshold);
      * new_index_rows — signatures of batch docs with NO index match
        (canonical batch survivors), to append for batch N+2.

    Shuffles: signature build (batch-sized), band join (batch bands x
    bucket), verify join on (batch_id, index_id) — all bounded by the
    BATCH and its candidate fan-out, never by corpus size.

    Cache lifecycle (same contract as sources.corpus.read_jsonl_corpus):
    three BATCH-SIZED intermediates (signatures, index-miss survivors,
    intra-batch pairs) are ``persist()``ed because each feeds 2-3
    downstream reads of the returned frames; their blocks live until
    both returned frames are garbage-collected (the ContextCleaner then
    reclaims them) — there is no explicit handle. An ingestion loop
    calling this per batch should drop its references to the PREVIOUS
    batch's frames between iterations (or ``spark.catalog.clearCache()``)
    rather than keep them live; each batch holds O(batch) signature
    rows — never corpus-sized — in MEMORY_AND_DISK until released.
    """
    # persist(), not materialize(): the lazy-localCheckpoint CALL costs
    # ~1.5 s of driver-side plan-to-RDD work on this plan shape
    # (measured) before any action runs; persist() declares the same
    # multi-read reuse at zero build cost. (materialize()'s hard
    # lineage cut matters for iterative loops; a 3-read DAG only needs
    # the cache.)
    sigs = minhash_signatures(
        new_batch, id_col, text_col, n, num_hashes, seed
    ).persist()

    def banded(s: DataFrame) -> DataFrame:
        return s.select(
            "id", F.explode(lsh_band_keys(F.col("sig"), num_hashes, bands)).alias("bk")
        ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    cand = (
        banded(sigs).alias("a")
        .join(
            banded(index_sigs).alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(F.col("a.id").alias("batch_id"), F.col("b.id").alias("index_id"))
        .distinct()
    )
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    matches = (
        cand.join(
            sigs.select(F.col("id").alias("batch_id"), F.col("sig").alias("sig_a")),
            "batch_id",
        )
        .join(
            index_sigs.select(
                F.col("id").alias("index_id"), F.col("sig").alias("sig_b")
            ),
            "index_id",
        )
        .withColumn("n_agree", agree)
        .withColumn(
            "est_jaccard_e6",
            F.floor(
                F.col("n_agree").cast("double") * F.lit(1e6) / F.lit(float(num_hashes))
                + F.lit(0.5)
            ).cast("long"),
        )
        .filter(F.col("est_jaccard_e6") >= int(threshold * 1e6))
        .select("batch_id", "index_id", "est_jaccard_e6")
    )
    # persist(), not materialize(): the lazy localCheckpoint pays ~1 s
    # of driver-side plan-to-RDD work at BUILD time (AQE) per call —
    # measured to triple the registry query's build cost while the
    # survivors output went unused. persist() declares the same
    # compute-once reuse for the three downstream reads at zero build
    # cost, materializing only if survivors are actually executed.
    no_index_match = sigs.join(
        matches.select(F.col("batch_id").alias("id")).distinct(),
        "id",
        "left_anti",
    ).persist()
    # INTRA-BATCH election: two novel-vs-index docs that are near-dups
    # OF EACH OTHER would both pass the index anti-join; without this
    # step both signatures entered the index and the near-duplicate
    # content accumulated permanently (the exact twin dedup_incremental
    # always elected a per-fingerprint canonical). Same LSH band
    # self-join + signature-agreement verify as the batch-vs-index path,
    # resolved to one canonical per cluster (component minimum) —
    # batch-sized work throughout.
    intra_cand = (
        banded(no_index_match)
        .alias("a")
        .join(
            banded(no_index_match).alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    intra_pairs = (
        intra_cand.join(
            no_index_match.select(
                F.col("id").alias("id_a"), F.col("sig").alias("sig_a")
            ),
            "id_a",
        )
        .join(
            no_index_match.select(
                F.col("id").alias("id_b"), F.col("sig").alias("sig_b")
            ),
            "id_b",
        )
        .withColumn("n_agree", agree)
        .filter(
            F.floor(
                F.col("n_agree").cast("double")
                * F.lit(1e6)
                / F.lit(float(num_hashes))
                + F.lit(0.5)
            )
            >= int(threshold * 1e6)
        )
        .select("id_a", "id_b")
    ).persist()
    if full_cc:
        # exact cluster election (component minimum survives) — the
        # iterative CC runs EAGERLY (driver-side convergence probes), so
        # this path pays build-time jobs even if survivors go unused;
        # gate it behind a 1-row existence probe for the common
        # no-intra-dup batch.
        if not intra_pairs.limit(1).collect():
            return matches, no_index_match
        comp = connected_components(intra_pairs)
        dup_ids = comp.filter(F.col("id") != F.col("component")).select("id")
    else:
        # lazy one-pass election (the minhash_dedup full_cc=False mode):
        # drop the GREATER id of every intra pair. Conservative for
        # chains (may drop a doc only transitively linked) but
        # guarantees no near-dup pair enters the index intact, and the
        # whole plan stays lazy — no driver-side iteration at build
        # time (the CC probes tripled the registry query's build cost
        # while its survivors output went unused).
        dup_ids = intra_pairs.select(F.col("id_b").alias("id")).distinct()
    survivors = no_index_match.join(dup_ids, "id", "left_anti")
    return matches, survivors


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram CONTAINMENT pairs: |A∩B| / |A| — the asymmetric
    sibling of ngram_jaccard_pairs. Jaccard misses the near-superset
    case dedup cares about most: a document QUOTED inside a much longer
    one (or boilerplate-wrapped) has tiny Jaccard (union is the big
    doc) but containment ≈ 1 from the small side — the Broder (1997)
    containment measure built for exactly this.

    Same inverted set-similarity join as ngram_jaccard_pairs (only
    pairs sharing ≥1 shingle materialize; linear shuffles, AQE skew
    case): the intersection count is computed once per unordered pair,
    then BOTH directed containments are derived from it. A pair is
    emitted when EITHER direction clears the threshold (the dedup
    question is "is either doc mostly inside the other"), with both
    directions reported so the caller can tell container from
    contained. e6 fixed-point (floor(c*1e6+0.5)) keeps the ratio
    engine-portable.

    Output: (id_a, id_b, inter, sz_a, sz_b, cont_ab_e6, cont_ba_e6)
    with id_a < id_b; cont_ab = |A∩B|/|A| (how much of A is in B).
    ``threshold`` must be > 0: zero-overlap pairs are pruned by the
    join itself (c > 0 ⟺ ≥1 shared shingle).
    """
    assert threshold > 0, "threshold must be > 0 (zero-overlap pairs are pruned)"
    src = df.withColumnRenamed(block_col, "blk") if block_col != "blk" else df
    sh = materialize(shingle_rows(src, id_col, text_col, n, extra_cols=["blk"]))
    sz = sh.groupBy("id").agg(F.count("*").alias("sz"))
    inv = sh.join(sz, "id")

    a, b = inv.alias("a"), inv.alias("b")
    pair_inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("inter"))
    )
    t_e6 = int(threshold * 1e6)
    return (
        pair_inter.withColumn(
            "cont_ab_e6", _jaccard_e6(F.col("inter"), F.col("sz_a"))
        )
        .withColumn(
            "cont_ba_e6", _jaccard_e6(F.col("inter"), F.col("sz_b"))
        )
        .filter(
            (F.col("cont_ab_e6") >= t_e6) | (F.col("cont_ba_e6") >= t_e6)
        )
        .select(
            "id_a", "id_b", "inter", "sz_a", "sz_b",
            "cont_ab_e6", "cont_ba_e6",
        )
    )


def dedup_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 20,
    min_dup: int = 2,
) -> DataFrame:
    """Exact duplicate-SPAN removal, first occurrence wins — the
    REMOVE side of the Lee et al. 2022 exact-substring result
    (dup_ngram_coverage is the MEASURE side): every corpus-duplicated
    token n-gram keeps only its globally-first occurrence (smallest
    ``(doc id, position)`` — an arbitrary but total and deterministic
    canonical order); every other occurrence's [s, s+n) span is
    removed from its document, overlaps merged so removal never
    double-counts. Approximates the suffix-array dedup at fixed span
    length n (production: n≈50 tokens; Lee et al.'s motivation —
    verbatim boilerplate repeated across docs — is exactly this).

    Returns EVERY input document as ``(id, n_tok, removed_tok,
    kept_text)``. ``kept_text`` is the TOKENIZED reconstruction
    (lowercased, single-spaced — the shared-tokenizer normalization;
    a dedup pipeline consumes tokens, not typography). Docs shorter
    than n tokens pass through untouched; NULL ids/texts are excluded
    up front.

    Scale shape (the dup_ngram_coverage rationale, extended):
    (1) n-gram starts are MAP-SIDE per-doc array expressions;
    (2) the global first + occurrence count per gram is ONE map-side-
        combinable aggregate (``min(struct(id, pos)), count``) — a
        boilerplate gram with 10M sites collapses to one row per task
        BEFORE the shuffle, so the hot key never concentrates;
    (3) removal sites join BACK on the gram key — the dup side has
        ONE row per distinct gram (skew-safe direction);
    (4) spans merge per doc (interval_union, doc-keyed) and collect
        into a per-doc interval array (bounded by doc length);
    (5) the rebuild is a per-row array filter (tokens x intervals,
        bounded per doc) — zero further shuffles.
    """
    from ..functions import text as TX
    from .temporal import interval_union

    toks = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    ).select(
        F.col(id_col).alias("_id"),
        TX.lower_ws_tokens_nonempty(F.col(text_col)).alias("_t"),
    )
    starts = F.when(
        F.size("_t") >= n, F.sequence(F.lit(1), F.size("_t") - (n - 1))
    ).otherwise(F.expr("array()").cast("array<int>"))
    grams = toks.select(
        "_id",
        F.explode(
            F.transform(
                starts,
                lambda s: F.struct(
                    s.alias("s"),
                    F.concat_ws(" ", F.slice("_t", s, n)).alias("g"),
                ),
            )
        ).alias("_p"),
    ).select(
        "_id",
        F.col("_p.s").cast("long").alias("_s"),
        F.col("_p.g").alias("_g"),
    )
    firsts = grams.groupBy("_g").agg(
        F.min(F.struct("_id", "_s")).alias("_first"),
        F.count("*").alias("_cnt"),
    ).filter(F.col("_cnt") >= int(min_dup))
    removal = (
        grams.join(firsts, "_g")
        .filter(
            (F.col("_id") != F.col("_first._id"))
            | (F.col("_s") != F.col("_first._s"))
        )
        .select("_id", F.col("_s").alias("_lo"), (F.col("_s") + n).alias("_hi"))
    )
    ivs = (
        interval_union(removal, "_id", "_lo", "_hi")
        .groupBy("_id")
        .agg(
            F.collect_list(F.struct(F.col("lo"), F.col("hi"))).alias("_ivs")
        )
    )
    joined = toks.join(ivs, "_id", "left").select(
        "_id",
        "_t",
        F.coalesce(
            "_ivs", F.expr("array()").cast("array<struct<lo:long,hi:long>>")
        ).alias("_ivs"),
    )
    kept = F.filter(
        F.transform(
            F.col("_t"),
            lambda x, i: F.struct(x.alias("x"), (i + 1).alias("idx")),
        ),
        lambda st: ~F.exists(
            F.col("_ivs"),
            lambda iv: (st["idx"] >= iv["lo"]) & (st["idx"] < iv["hi"]),
        ),
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.size("_t").cast("long").alias("n_tok"),
        (F.size("_t") - F.size(kept)).cast("long").alias("removed_tok"),
        F.array_join(
            F.transform(kept, lambda st: st["x"]), " "
        ).alias("kept_text"),
    )


def canonical_by_quality(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    cluster_col: str = "component",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware canonical election per near-dup cluster — the
    production policy minhash_dedup's min-id election approximates:
    when a cluster holds near-duplicates of unequal quality (longer,
    cleaner, higher-scored), KEEP THE BEST ONE, not the one with the
    smallest id. Standard in dedup pipelines (Dolma/RefinedWeb keep
    longest-or-highest-scored representatives).

    Election: per cluster, the member with the highest NUMERIC score
    (compared as DOUBLE — fractional scores order exactly, and the
    negation can't overflow the way a LONG_MIN negate would; a NaN
    score can never win: the election minimizes the NEGATED score,
    and NaN sorts as the largest value in both Spark and DuckDB, so
    NaN ``_neg`` is the worst possible effective score — a NaN member
    loses to every non-NaN member and only becomes canonical when the
    whole cluster is NaN. Cross-engine consistent either way, but
    score columns should still be NaN-free for a meaningful election);
    ties break toward the smallest id; members with a NULL score can
    never win but still receive their cluster's canonical (they are
    members, just unscoreable). The argmax is ONE map-side-combinable
    ``min(struct(score_is_null, -score, id))`` aggregate — no window,
    no per-cluster sort, so a million-member cluster costs one
    combine-friendly shuffle row per task (the dedup_spans
    first-occurrence discipline applied to election).

    Returns every member as (id, cluster, canonical_id, is_canonical)
    — apply with ``filter(is_canonical)`` for the survivor set or use
    the mapping to rewrite references.
    """
    j = clusters.select(
        F.col(id_col).alias("_id"), F.col(cluster_col).alias("_cl")
    ).join(
        scores.select(
            F.col(id_col).alias("_id"),
            F.col(score_col).cast("double").alias("_sc"),
        ),
        "_id",
        "left",
    )
    best = j.groupBy("_cl").agg(
        F.min(
            F.struct(
                F.col("_sc").isNull().alias("_nul"),
                (-F.coalesce(F.col("_sc"), F.lit(0.0))).alias("_neg"),
                F.col("_id").alias("_best"),
            )
        ).alias("_b")
    ).select("_cl", F.col("_b._best").alias("canonical_id"))
    return (
        j.join(best, "_cl")
        .select(
            F.col("_id").alias(id_col),
            F.col("_cl").alias(cluster_col),
            "canonical_id",
            (F.col("_id") == F.col("canonical_id")).alias("is_canonical"),
        )
    )
