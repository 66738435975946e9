"""Deduplication operators (north-star surface, BASELINE.json):
exact, MinHash+LSH banding, SimHash, n-gram Jaccard.

Design for 100 TB:
  - exact dedup is a single hash-aggregate shuffle on the content key (or a
    digest of it — group on md5/sha2 of the text, not the text itself, so
    the shuffle carries 32 bytes per row instead of the document);
  - MinHash/LSH replaces the quadratic all-pairs comparison with an
    equi-join on band keys: only documents sharing a band collide, so the
    join fan-out is proportional to true near-duplicate density;
  - SimHash gives a 64→16-bit locality-sensitive digest for Hamming-style
    bucketing;
  - all hashing is md5-based Column expressions: deterministic,
    engine-portable (exact DuckDB twins), and codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from taar_gcp_etl_spark.functions import token_ngrams, tokens


def exact_dedup(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: canonical representative (min id) per distinct content +
    duplicate count. Grouping on the md5 digest keeps the shuffle narrow;
    the full text never leaves the scan projection."""
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
    )


def token_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct n-token shingles of a token-array column (the
    MinHash/Jaccard unit); [] for documents shorter than n tokens. `toks`
    must be a projected column — see functions.token_ngrams."""
    return F.array_distinct(token_ngrams(toks, n))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash signature per document: sig_i = min over shingles of
    md5('i:' || shingle). Lexicographic min over the hex digest is a valid
    random-permutation proxy and is reproducible in any engine with md5.
    Per-row map — no shuffle.

    The text is split once, in its own projection, and the shingles are
    cut from that token column: a `tokens(text)` inlined into the shingle
    lambda re-splits the whole document for every shingle
    (functions.token_ngrams). The shingle array and the per-shingle md5
    array are each materialized in their own projection before the four
    slice-min folds read them: whole-stage codegen does NOT
    common-subexpression-eliminate across higher-order-function lambdas
    (nor reliably across two uses of the same expensive array expression
    in one Project), so inlining
    `transform(shingles, md5)` into each fold re-hashes every shingle once
    per signature — measured 40 s inlined / 21 s one-projection / 8.5 s
    this shape on the sf0.1 corpus at matched parallelism. CollapseProject
    keeps the split because the referenced arrays are expensive and
    multiply-referenced."""
    # One md5 per shingle PER GROUP OF FOUR signatures, each digest sliced
    # into four 32-bit (8-hex-char) independent signatures — 4× fewer hash
    # evaluations than hashing per-signature, which dominates the cost of
    # this operator at corpus scale. n_hashes > 4 (the larger b×r LSH
    # profiles) derives further digests by salting the shingle with the
    # digest-group index.
    shingled = (
        df.select(id_col, tokens(text_col).alias("_toks"))
        .filter(F.size("_toks") >= shingle_n)
        .select(id_col, token_shingles(F.col("_toks"), shingle_n).alias(
            "shingles"
        ))
    )
    n_digests = (n_hashes + 3) // 4

    def digest(g: int):
        if g == 0:
            return F.transform(F.col("shingles"), lambda s: F.md5(s))
        return F.transform(
            F.col("shingles"), lambda s: F.md5(F.concat(F.lit(f"{g}:"), s))
        )

    base = shingled.select(
        id_col,
        "shingles",
        *[digest(g).alias(f"_hashes{g}") for g in range(n_digests)],
    )

    def slice_min(i: int):
        # NB: single-parameter lambda — a second parameter makes Spark's
        # transform() pass the element INDEX into it.
        g, off = divmod(i, 4)
        return F.array_min(
            F.transform(
                F.col(f"_hashes{g}"),
                lambda h: F.substring(h, 1 + 8 * off, 8),
            )
        ).alias(f"sig{i}")

    sigs = [slice_min(i) for i in range(n_hashes)]
    return base.select(id_col, "shingles", *sigs)


def drop_hot_bands(
    bands: DataFrame, band_col: str = "band", max_band_size: int | None = 1000
) -> DataFrame:
    """Cap pathological LSH buckets before a band self-join: a boilerplate
    band shared by b documents contributes b² candidate pairs — one viral
    header at corpus scale is a quadratic blowup AQE can split but not
    shrink. Bands over `max_band_size` are dropped entirely (standard
    LSH-dedup practice: a bucket that hot is boilerplate, not near-dup
    signal — its members still pair through their other, discriminative
    bands).

    Implementation: a count over Window.partitionBy(band) — ONE pass over
    the upstream (a groupBy+anti-join formulation recomputes the band input,
    and band input derives from the expensive signature hashing: measured
    7.0 s vs 3.3 s at sf0.1), and the band-key exchange it introduces is
    exactly the partitioning the following self-join wants."""
    if max_band_size is None:
        return bands
    w = Window.partitionBy(band_col)
    return (
        bands.withColumn("_band_n", F.count("*").over(w))
        .filter(F.col("_band_n") <= max_band_size)
        .drop("_band_n")
    )


def lsh_near_dup_pairs(
    signed: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 4,
    jaccard_threshold: float = 0.5,
    max_band_size: int | None = 1000,
    persist_signatures: bool = True,
    rows_per_band: int = 1,
) -> DataFrame:
    """LSH banding: one signature per band → band key; documents sharing any
    band key become candidate pairs; candidates are verified with exact
    shingle Jaccard. The band-key equi-join is the scale move — candidate
    volume tracks duplicate density, not corpus size². Band groups are
    skew-prone (a boilerplate shingle shared by millions of docs): AQE
    skew-join splitting handles moderate skew, and bands larger than
    `max_band_size` are dropped before the self-join (drop_hot_bands), which
    bounds the worst band's contribution at max_band_size² candidates.

    `signed` is consumed by THREE subtrees (band explode + the two
    candidate shingle joins); unpersisted, the upstream shingle+md5
    pipeline re-executes per subtree. With the signature hashing now
    single-pass (see minhash_signatures) the recompute dominates:
    persisting MEMORY_AND_DISK measured 20 s → 10.5 s at sf0.1. At corpus
    scale this is the standard MinHashLSH trade — the persisted projection
    is (id, shingles, 4×8-char sigs), disk-backed, freed by the caller via
    `unpersist()` / `spark.catalog.clearCache()` / session teardown. A
    caller that already persisted `signed` keeps its own storage level and
    lifecycle — the guard never re-persists; loops over many corpora
    should unpersist after the action, or memoize one relation per corpus
    as queries.py does.

    `rows_per_band` is the SELECTIVITY dial (classic banded-MinHash
    b×r): band key b concatenates signatures sig[b·r .. b·r+r-1], so a
    pair candidates with P = 1 − (1 − J^r)^b instead of r=1's
    1 − (1 − J)^b. Against a corpus with a BACKGROUND similarity floor
    — boilerplate, templated text, weak topical overlap — r=1 candidates
    weakly-similar pairs at rate ~bJ, which the r4 sf10 soak measured as
    the dominant cost (cross-copy J≈0.4 fixture: candidate volume grew
    with pairs-above-J≈0.25, 51× wall-clock at 10× rows). r=2 with the
    same band count drops the J=0.25 candidate rate ~4× while keeping
    ~90%+ recall at the 0.5 verify threshold with b=8. The default stays
    b=4, r=1 (the oracle-mirrored registry profile); feed
    minhash_signatures(n_hashes=b·r) for larger profiles."""
    if persist_signatures:
        from pyspark import StorageLevel

        if signed.storageLevel == StorageLevel.NONE:
            signed = signed.persist(StorageLevel.MEMORY_AND_DISK)
    # Band matching runs on NARROW rows (id, band) — the wide shingle arrays
    # would otherwise ride through the self-join shuffle and the dedup. The
    # candidate set is small by construction (tracks duplicate density), so
    # the arrays are joined back per-candidate afterwards.
    r = rows_per_band
    bands = signed.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{b}:"),
                        *[F.col(f"sig{b * r + i}") for i in range(r)],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    )
    bands = drop_hot_bands(bands, "band", max_band_size)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh = signed.select(id_col, "shingles")
    with_a = sh.join(
        F.broadcast(cand), F.col(id_col) == F.col("doc_a")
    ).select("doc_a", "doc_b", F.col("shingles").alias("sh_a"))
    pairs = sh.join(with_a, F.col(id_col) == F.col("doc_b")).select(
        "doc_a", "doc_b", "sh_a", F.col("shingles").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # Threshold on the UNROUNDED ratio (rounding only the projected output):
    # a pair at 0.4999996 must fail here exactly as it does in the oracle.
    return (
        pairs.withColumn("_j", inter / union)
        .filter(F.col("_j") >= jaccard_threshold)
        .select("doc_a", "doc_b", F.round("_j", 6).alias("jaccard"))
    )


def _all_pairs_shingle_scores(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    score,
    out_col: str,
    min_score: float | None,
) -> DataFrame:
    """Shared all-pairs scaffold for the exact shingle-overlap baselines
    (Jaccard / containment): shingle projection, empty filter, ordered
    self-join, score, optional gate. The gate filters on the UNROUNDED
    score — rounding first would admit boundary pairs the oracle's
    unrounded WHERE rejects (a 0.79999997 pair must fail a 0.8 gate in
    both engines); the rounded value is output-only."""
    # filter on the token count, not on size(sh): a filter on the shingle
    # array is pushed below its projection and re-shingles inline
    sh = (
        df.select(F.col(id_col), tokens(text_col).alias("_toks"))
        .filter(F.size("_toks") >= shingle_n)
        .select(id_col, token_shingles(F.col("_toks"), shingle_n).alias("sh"))
    )
    a, b = sh.alias("a"), sh.alias("b")
    raw = score(
        F.size(F.array_intersect("a.sh", "b.sh")),
        F.size("a.sh"),
        F.size("b.sh"),
    )
    out = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        raw.alias("_raw"),
    )
    if min_score is not None:
        out = out.filter(F.col("_raw") >= min_score)
    return out.select(
        "doc_a", "doc_b", F.round(F.col("_raw"), 6).alias(out_col)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """All-pairs n-gram Jaccard — the exact (quadratic) baseline the LSH
    variant approximates. Only for bounded subsets (the caller filters);
    at corpus scale use lsh_near_dup_pairs."""
    return _all_pairs_shingle_scores(
        df, text_col, id_col, shingle_n,
        score=lambda inter, na, nb: inter / (na + nb - inter),
        out_col="jaccard",
        min_score=None,
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    min_containment: float = 0.8,
) -> DataFrame:
    """All-pairs n-gram CONTAINMENT — |A∩B| / min(|A|, |B|), the
    ASYMMETRIC near-dup signal Jaccard misses: a short document quoted
    wholesale inside a long one has containment ≈ 1 but Jaccard ≈
    |short|/|long| ≈ 0, so Jaccard-gated dedup keeps both and the quoted
    text trains twice. This is the quote/inclusion detector (RefinedWeb
    and Dolma run exactly this gate next to their Jaccard gate).

    Output: (doc_a, doc_b, containment) for pairs at or above the gate
    (gated on the UNROUNDED ratio — see _all_pairs_shingle_scores), with
    the smaller-id doc first. Like ngram_jaccard_pairs this is the exact
    bounded-subset baseline — at corpus scale seed candidates from the
    LSH band join first (containment-heavy pairs still collide on the
    contained side's bands) and verify with this formula."""
    return _all_pairs_shingle_scores(
        df, text_col, id_col, shingle_n,
        score=lambda inter, na, nb: inter / F.least(na, nb),
        out_col="containment",
        min_score=min_containment,
    )


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Full 64-bit SimHash as two 32-bit words (simhash_hi, simhash_lo) —
    the production variant of `simhash` (two unsigned-32 words instead of
    one 64-bit value keeps every intermediate inside a signed BIGINT, so the
    digest is bit-identical across engines with no overflow edge cases).

    Plan shape: the per-token (hi, lo) md5 words are materialized ONCE in
    an intermediate projection; bit b of the digest is then an independent
    scalar fold `popcount_b = aggregate(hashed, 0, acc + bit_b)` with
    `2·popcount_b > n_tokens` as the majority vote (identical to the
    textbook ±1 vote sum: Σ±1 > 0 ⟺ 2·popcount − n > 0). 64 scalar folds
    look more expensive than one array fold, but the array formulation
    (zip_with over a fresh 64-element vote vector per token) generates one
    enormous codegen unit whose Janino compile alone costs ~4 s, and
    allocates 64-long arrays per token at runtime: measured 5.1 s cold /
    1.3 s warm vs 1.0 s / 0.9 s for this shape at sf0.1. O(tokens × 64)
    adds per row either way, zero shuffle."""
    # Staged projections so each expensive array is computed exactly once
    # (same no-CSE-across-lambdas reality as minhash_signatures): tokens →
    # one md5 per token → (hi, lo) words sliced from that digest; _n comes
    # from the token array, which needs no hashing at all.
    toked = df.select(
        F.col(id_col), F.array_distinct(tokens(text_col)).alias("_t")
    )
    digested = toked.select(
        id_col,
        F.transform(F.col("_t"), lambda t: F.md5(t)).alias("_m"),
        F.size(F.col("_t")).alias("_n"),
    )
    base = digested.select(
        id_col,
        F.transform(
            F.col("_m"),
            lambda m: F.struct(
                F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("hi"),
                F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("lo"),
            ),
        ).alias("_h"),
        "_n",
    )

    def popcount_bit(b: int) -> Column:
        # unrolled: b is a Python int, so shift amounts are static
        return F.aggregate(
            F.col("_h"),
            F.lit(0).cast("long"),
            lambda acc, s: acc
            + F.shiftright(s["hi"] if b >= 32 else s["lo"], b % 32).bitwiseAND(
                F.lit(1)
            ),
        )

    def word_from(lo_bit: int) -> Column:
        out = F.lit(0).cast("long")
        for b in range(32):
            out = out + F.when(
                popcount_bit(lo_bit + b) * 2 > F.col("_n"), F.lit(1 << b)
            ).otherwise(F.lit(0))
        return out

    return base.select(
        id_col,
        word_from(32).alias("simhash_hi"),
        word_from(0).alias("simhash_lo"),
    )


def simhash_hamming_pairs(
    digests: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 8,
    max_band_size: int | None = 1000,
) -> DataFrame:
    """Hamming-neighbor pairing over 64-bit SimHash digests: split the
    digest into four 16-bit bands; by pigeonhole, any pair within Hamming
    distance 3 agrees exactly on at least one band (and near-dup pairs at
    larger distances almost always do), so candidates come from an equi-join
    on (band_index, band_value) — never all-pairs. Candidates are verified
    with the exact popcount Hamming distance. Hot bands (a band value shared
    by a boilerplate cohort) are capped exactly like MinHash-LSH bands.

    The digest words travel WITH the band rows (2 extra longs on a narrow
    row) so the Hamming verify runs inside the band-join stage, before any
    re-shuffle: the pair-dedup exchange then carries only verified pairs.
    The alternative — dedup all candidates, then join the digests back
    twice — shuffles the full candidate volume (dense near-dup corpora
    produce far more candidates than verified pairs; measured 6× more on
    the fixture, 5.3 s vs 2.4 s at sf0.1)."""
    hi, lo = F.col("simhash_hi"), F.col("simhash_lo")
    bands = digests.select(
        id_col,
        hi,
        lo,
        F.explode(
            F.array(
                F.concat(F.lit("0:"), F.shiftright(hi, 16).bitwiseAND(F.lit(0xFFFF))),
                F.concat(F.lit("1:"), hi.bitwiseAND(F.lit(0xFFFF))),
                F.concat(F.lit("2:"), F.shiftright(lo, 16).bitwiseAND(F.lit(0xFFFF))),
                F.concat(F.lit("3:"), lo.bitwiseAND(F.lit(0xFFFF))),
            )
        ).alias("band"),
    )
    bands = drop_hot_bands(bands, "band", max_band_size)
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash_hi").bitwiseXOR(F.col("b.simhash_hi"))
    ) + F.bit_count(F.col("a.simhash_lo").bitwiseXOR(F.col("b.simhash_lo")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """SimHash over distinct tokens: bit b of the digest is 1 iff the sum of
    (+1 / −1) votes — token hash bit b — is positive. 16 bits from the first
    4 hex chars of md5(token): compact, engine-portable, and enough buckets
    for Hamming-distance candidate grouping at fixture scale (use 64 bits /
    the full digest in production)."""
    toks = F.array_distinct(tokens(text_col))

    def h16(t):
        return F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("int")

    def vote(b: int):
        # single-parameter lambda (see minhash_signatures note)
        return lambda t: F.shiftright(h16(t), b).bitwiseAND(F.lit(1)) * 2 - 1

    bit_cols = []
    for b in range(bits):
        votes = F.aggregate(
            F.transform(toks, vote(b)),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        bit_cols.append(F.when(votes > 0, F.lit(1 << b)).otherwise(F.lit(0)))
    digest = bit_cols[0]
    for c in bit_cols[1:]:
        digest = digest + c
    return df.select(F.col(id_col), digest.cast("long").alias("simhash"))


def connected_components(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-duplicate edge list →
    (id_col, cluster_id), cluster_id = the component's minimum doc id.

    This is the step that turns PAIRS into DEDUP DECISIONS: transitively
    linked near-dups (a~b, b~c) must land in one cluster with one canonical
    representative, or the pipeline keeps both ends of every chain. No
    Spark built-in expresses iterative closure, so this is a driver LOOP of
    declarative steps — each iteration is (1) min-label propagation, every
    node takes the min label over itself and its neighbors (one join + one
    partial-agg'd groupBy on narrow (long, long) rows), then (2) one
    pointer-doubling hop, node takes its LABEL's label (a self-join on the
    label relation), which collapses chains in O(log diameter) rounds
    instead of O(diameter) — the same two-phase shape as the
    large-star/small-star MapReduce algorithm. LSH components are
    near-cliques, so in practice 2-3 rounds converge; the doubling step is
    insurance against adversarial chain topologies.

    Each round's labels are cut with an eager `localCheckpoint` — persist()
    alone is NOT enough for an iterative loop: it short-circuits execution
    but keeps the full LOGICAL lineage, which grows ~3× per round (the
    doubling self-join + the convergence join each duplicate the subtree),
    and plan canonicalization inside the cache manager goes exponential
    (measured: OOM on a 64-node chain by round ~8). localCheckpoint
    truncates the plan at the materialized partitions. It is
    executor-local (non-reliable): on a real cluster, swap in
    `df.checkpoint()` against a durable checkpoint dir, or round-trip to
    parquet every few rounds — same plan-cutting effect, restart-safe.
    Convergence is one `limit(1).count()` on the changed-rows relation per
    round: an O(1) early-exit action, not a full count."""
    e = edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    )
    # Symmetrize with a single scan: exploding both directions per edge row
    # keeps ONE pass over the (often expensive) upstream pair lineage —
    # a union of e with its own reversal would execute that lineage once
    # per branch before the persist materializes.
    sym = (
        e.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("src"), F.col("dst").alias("dst")
                    ),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .distinct()
    )
    sym = sym.persist()

    # label(n) = min(n, min neighbor) — the first propagation round, fused
    # into initialization. Checkpoints are TRACKED so each superseded
    # round's blocks are released explicitly once the next round has
    # materialized (r13, operators/checkpoint.py — the ContextCleaner
    # only frees them on a JVM GC, which a large heap may not run for
    # the whole session; across a query suite the dead generations
    # accumulate in the unified memory manager).
    from taar_gcp_etl_spark.operators.checkpoint import (
        checkpoint_tracked,
        release_rdds,
    )

    spark = edges.sparkSession
    labels, lbl_ids = checkpoint_tracked(
        sym.groupBy("src")
        .agg(F.min("dst").alias("nbr_min"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("nbr_min")).alias("lbl"),
        )
    )

    for _ in range(max_iter):
        nbr_min = (
            sym.join(
                labels.select(F.col("node").alias("dst"), "lbl"), "dst"
            )
            .groupBy("src")
            .agg(F.min("lbl").alias("nbr_min"))
            .select(F.col("src").alias("node"), "nbr_min")
        )
        propagated = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(F.col("lbl"), F.coalesce("nbr_min", F.col("lbl"))).alias(
                "lbl"
            ),
        )
        # pointer doubling: lbl <- label(lbl); labels are node ids, so the
        # parent lookup is a self-join on the label relation. Exactly ONE
        # doubling hop per round: a second hop was tried and REJECTED with
        # measurements (sf0.1 co-purchase graph, 11.6k-node giant
        # component: 15 s → 22 s) — the min only flows one EDGE per round
        # regardless, so extra label-space compression doesn't cut round
        # count enough to pay for two more shuffled joins per round.
        parent = propagated.select(
            F.col("node").alias("lbl"), F.col("lbl").alias("parent_lbl")
        )
        new_labels, new_ids = checkpoint_tracked(
            propagated.join(parent, "lbl", "left")
            .select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce("parent_lbl", F.col("lbl"))
                ).alias("lbl"),
            )
        )
        changed = (
            new_labels.withColumnRenamed("lbl", "new_lbl")
            .join(labels, "node")
            .filter(F.col("new_lbl") != F.col("lbl"))
            .limit(1)
            .count()
        )
        # the convergence check above was the old generation's last
        # consumer — release its checkpoint blocks now
        release_rdds(spark, lbl_ids)
        labels, lbl_ids = new_labels, new_ids
        if changed == 0:
            break
    sym.unpersist()
    return labels.select(
        F.col("node").alias(id_col), F.col("lbl").alias("cluster_id")
    )


def benchmark_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    fast_hash: bool = False,
) -> DataFrame:
    """Benchmark decontamination: per-corpus-document count of n-token
    shingles that also appear anywhere in the benchmark/eval set (the
    standard train-test-overlap gate — GPT-3 used 13-grams, Gopher 8-grams;
    a document with any overlap is quarantined before training).

    Scale shape: the benchmark gram set is DISTINCT-ed and BROADCAST — eval
    suites are bounded (thousands of documents, ≪ broadcast limit) while
    the corpus is the 100 TB side, so the corpus never shuffles: explode,
    map-side hash-lookup against the broadcast set, partial-agg back to one
    row per document. If the benchmark ever outgrew a broadcast, the same
    plan degrades gracefully to a shuffle equi-join on the gram key (drop
    the hint); a Bloom filter over gram hashes is the intermediate step.

    The probe key is a 64-bit md5 prefix of the gram, not the gram string:
    broadcast rows are a fixed 16 hex chars instead of n unbounded tokens
    (~7× smaller for 8-grams of English text — the difference between a
    benchmark suite fitting the broadcast limit or not), and the same
    truncation on both engines keeps the oracle in lockstep. Collision
    odds at 2^-64 per pair are far below any training-data materiality.

    Documents shorter than n tokens have no grams and are excluded (no
    basis for a ratio). Output: (id, n_grams, n_overlap, overlap_ratio).
    """

    # fast_hash=True probes on xxhash64: a LONG key instead of a 16-char
    # string. The hashing itself is only ~10% of this operator at sf0.1
    # (shingle construction dominates, unlike hash_bucket_fast's 7× —
    # measured 1.83 s vs 2.00 s warm), but the broadcast halves (8-byte
    # longs vs 16-byte strings) and the probe compares longs — the terms
    # that grow with the benchmark suite. Cost: engine portability, so
    # oracle-paired callers keep the md5 prefix. Both are 64-bit keys;
    # identical collision posture.
    def gram_keys(df: DataFrame, *keep: str) -> DataFrame:
        grams = token_shingles(F.col("_toks"), n)
        if fast_hash:
            keys = F.transform(grams, lambda g: F.xxhash64(g))
        else:
            keys = F.transform(grams, lambda g: F.substring(F.md5(g), 1, 16))
        return df.select(*keep, tokens(text_col).alias("_toks")).select(
            *keep, F.explode(keys).alias("gram")
        )

    c = gram_keys(corpus, id_col)
    b = (
        gram_keys(benchmark)
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = c.join(F.broadcast(b), "gram", "left")
    return (
        joined.groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_overlap"),
        )
        .select(
            id_col,
            "n_grams",
            "n_overlap",
            F.round(F.col("n_overlap") / F.col("n_grams"), 6).alias(
                "overlap_ratio"
            ),
        )
    )


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 20,
) -> DataFrame:
    """Segment-level exact dedup (the paragraph/line-dedup stage of
    CCNet/RefinedWeb): split every document into fixed-width token segments,
    keep only the globally FIRST occurrence of each distinct segment
    (ordered by (doc id, position) — deterministic), and reassemble each
    document from its surviving segments in original order. Boilerplate
    repeated across documents (headers, footers, navigation chrome)
    disappears from every copy but the first.

    With newline-structured text, split on the delimiter instead of token
    windows — the pipeline below is identical from the explode on.

    Scale shape: two linear shuffles, no self-join —
      1. exchange on the segment hash for the first-occurrence window
         (row_number over partitionBy(segment); grouping on md5(segment)
         keeps the exchange narrow, the text rides along once);
      2. exchange on doc id to reassemble.
    Candidate volume is corpus-linear (each segment appears once per
    occurrence, never paired). Output: (id, n_segments, n_kept,
    cleaned_text).
    """
    segs = token_ngrams(F.col("_toks"), seg_tokens, step=seg_tokens)
    rows = df.select(F.col(id_col), tokens(text_col).alias("_toks")).select(
        id_col, F.posexplode(segs).alias("pos", "seg")
    )
    w = Window.partitionBy(F.md5(F.col("seg"))).orderBy(
        F.col(id_col), F.col("pos")
    )
    ranked = rows.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.when(F.col("_rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_rn") == 1,
                                F.struct(F.col("pos"), F.col("seg")),
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("cleaned_text"),
        )
    )


def connected_components_alternating(
    edges: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    id_col: str = "doc_id",
    max_rounds: int = 30,
) -> DataFrame:
    """Connected components by the ALTERNATING large-star / small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond") — same contract as `connected_components` (node → component
    minimum), different convergence mechanics: instead of FLOWING the
    min label one edge per round (diameter-bound), each round REWIRES
    the edge set itself toward stars rooted at component minima,
    converging in O(log² n) rounds regardless of diameter, with the edge
    relation typically SHRINKING per round (later rounds are cheaper —
    the opposite of propagation, whose per-round cost is constant).

    Round = two edge-set rewrites, each one aggregate + one join on
    narrow (long, long) rows:
      - LARGE-STAR: every node u hangs its LARGER neighbors off
        m(u) = min(N(u) ∪ {u}) — long chains fold toward their minima
        from every local dip simultaneously;
      - SMALL-STAR: every node u re-hangs its SMALLER neighbors (and
        itself) off their minimum — flattening the partial trees
        large-star built.
    Both preserve connectivity exactly (each emitted edge connects two
    nodes already connected through u), and the fixed point is the star
    forest {(v, min_C)}. An earlier NAIVE min-neighbor contraction was
    rejected here (docs/NEXT.md): without the alternation it peels ONE
    node per round on descending chains. The alternation is what makes
    chains fold geometrically.

    Convergence check = equal edge count AND empty set-difference vs the
    previous round (two cheap actions on the bounded edge relation);
    lineage cut per round with eager localCheckpoint (cluster: swap for
    checkpoint()). Measured head-to-head (sf0.1 co-purchase graph,
    11.6k-node giant component, local[32]): alternating 4.1 s vs
    propagation 8.3 s with identical output — the giant component's
    diameter is what propagation pays for. On a pure 100k-node CHAIN the
    ranking flips (23.7 s vs 17.7 s): propagation's pointer doubling
    already folds chains in log rounds and its per-round cost is lower.
    Rule of thumb: alternating for organic graphs with a large-diameter
    giant component, propagation for near-clique components (LSH
    near-dup groups converge in 2-3 rounds) and pure chains."""
    # persist the cast edge relation: its upstream is the caller's
    # expensive lineage (co-purchase self-joins, LSH pair generation) and
    # it feeds THREE evaluations here — the initial oriented-distinct
    # `e` plus the nodes union's two branches (guide §5: cache when
    # reused and recompute is expensive; the eager checkpoint of `e`
    # below materializes the cache, so nodes' later first use reads it)
    e0 = edges.select(
        F.col(src_col).cast("long").alias("a"),
        F.col(dst_col).cast("long").alias("b"),
    ).persist()
    nodes = (
        e0.select(F.col("a").alias("node"))
        .unionByName(e0.select(F.col("b").alias("node")))
        .distinct()
        .persist()
    )
    from taar_gcp_etl_spark.operators.checkpoint import (
        checkpoint_tracked,
        release_rdds,
    )

    spark = edges.sparkSession
    e, e_ids = checkpoint_tracked(
        e0.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        )
        .distinct()
    )
    n_prev = e.count()
    for _ in range(max_rounds):
        if n_prev == 0:
            break
        # ---- large-star: every node u hangs its LARGER neighbors off
        # m(u) = min(N(u) ∪ {u}). The relation is oriented a > b, so the
        # full-neighborhood min splits into an a-side and a b-side
        # partial — each a map-side-combined aggregate over the |E|-row
        # relation, merged on the ≤|V|-row min tables — where the old
        # symmetrized union built and aggregated a 2·|E|-row view every
        # round for the same result (r13, guide §2.3: shuffle/scan
        # fewer bytes; a keyed-generation variant that also removed the
        # per-round exchanges via AQE-off checkpoints was measured 4×
        # SLOWER at bench scale — broadcast joins degraded to static
        # sort-merge — and reverted; see OPTIMIZATION_r13.md).
        m1 = e.groupBy(F.col("a").alias("u")).agg(F.min("b").alias("m"))
        m2 = e.groupBy(F.col("b").alias("u")).agg(F.min("a").alias("m2"))
        # least() skips nulls, so a node missing one side degrades to
        # the other side's min (∪ {u} via the key itself)
        m_lg = m1.join(m2, "u", "full").select(
            "u", F.least(F.col("u"), F.col("m"), F.col("m2")).alias("m")
        )
        # u's larger neighbors v are exactly the e rows with b = u
        # (v = a), and m(u) ≤ u < v, so the emitted edge (v, m(u)) is
        # already oriented — no greatest/least needed
        e1, e1_ids = checkpoint_tracked(
            # m ≤ b < a on every row, so no emitted edge is a self-loop
            e.join(m_lg.withColumnRenamed("u", "b"), "b")
            .select("a", F.col("m").alias("b"))
            .distinct()
        )
        # ---- small-star: per node u over its SMALLER neighbors; edges
        # already oriented a(big) → b(small)
        m_sm = e1.groupBy("a").agg(F.min("b").alias("m"))
        joined = e1.join(m_sm, "a")
        e2, e2_ids = checkpoint_tracked(
            joined.filter(F.col("b") != F.col("m"))
            # m = min of a's smaller neighbors, so b > m: (b, m) is
            # already oriented
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(
                m_sm.select(
                    F.col("a").alias("a"), F.col("m").alias("b")
                )
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # e2 materialized — e1's blocks are superseded (r13 explicit
        # lifecycle: three generations per round × up to 30 rounds
        # otherwise accumulate until a JVM GC; operators/checkpoint.py)
        release_rdds(spark, e1_ids)
        n_new = e2.count()
        # set difference as an anti join: both generations are distinct
        # (and null-free — a≠b filters drop null rows), so left_anti ≡
        # subtract without subtract's extra left-side distinct aggregate
        converged = (
            n_new == n_prev
            and e2.join(e, ["a", "b"], "left_anti").limit(1).count() == 0
        )
        # the anti join above was the previous edge generation's last
        # consumer — release it before rebinding
        release_rdds(spark, e_ids)
        e, e_ids, n_prev = e2, e2_ids, n_new
        if converged:
            break
    # star forest → labels; isolated/self-loop-only nodes label
    # themselves. The min-aggregate (not a bare projection) keeps the
    # one-row-per-node contract even if max_rounds exhausted before the
    # fixed point: an unconverged edge set can hold several (node, lbl)
    # edges per node, and a bare projection would fan the node out into
    # conflicting rows — min degrades to a valid partial labeling, the
    # same failure mode as an unconverged propagation run.
    lbl = e.groupBy(F.col("a").alias("node")).agg(
        F.min("b").alias("lbl")
    )
    out = (
        nodes.join(lbl, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("lbl", F.col("node")).alias("cluster_id"),
        )
    )
    out = out.localCheckpoint(eager=True)
    nodes.unpersist()
    e0.unpersist()
    release_rdds(spark, e_ids)  # out materialized; final edge gen free
    return out


def remove_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_count: int = 2,
    keep: str = "all",
) -> DataFrame:
    """Exact-substring deduplication (the ExactSubstr operator of Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): remove every token covered by an n-token span whose
    exact content occurs at least ``min_count`` times across the
    corpus. Memorization studies trace disproportionate memorization
    to these verbatim repeats (licenses, boilerplate, quoted chunks) —
    document-level near-dedup cannot catch a repeated paragraph inside
    otherwise-distinct documents; this operator works at span
    granularity.

    The paper builds a corpus suffix array (inherently sequential);
    the Spark-native equivalent is rolling n-gram fingerprints — the
    same primitive the decontamination and winnowing operators use:

    1. tokenize (whitespace) and fingerprint every n-gram per doc
       (xxhash64 over the joined tokens — array ops, JVM-side);
    2. corpus frequency per fingerprint (map-side-combined aggregate +
       join-back for keep='all'; a window over the gram hash for
       keep='first', which needs positional order) — no persisted
       intermediate either way (see the inline note); grams with
       count >= min_count are the repeated spans;
    3. expand each hit to its covered token positions and collect the
       per-doc covered set (bounded by doc length);
    4. rebuild each doc JVM-side with an index-aware array filter —
       no Python, no second corpus shuffle.

    ``keep`` selects the removal policy. ``'all'`` (default) is
    symmetric — EVERY occurrence of a repeated span is cut, as in the
    paper's public implementation. ``'first'`` keeps one canonical
    copy: the occurrence with the smallest (id, position) survives
    (row_number over the gram hash, deterministic), the rest are cut —
    the right policy for corpora where exactly one copy of repeated
    boilerplate should remain in the training mix. Output text is
    whitespace-normalized (single spaces), which the oracle mirrors.
    Docs shorter than n tokens pass through unchanged — they have no
    n-gram to repeat. Returns (id, text, n_tokens, n_removed).
    """
    if keep not in ("all", "first"):
        raise ValueError(f"keep {keep!r}: use 'all' or 'first'")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(
        F.col(id_col).alias("_id"),
        toks.alias("_toks"),
        F.size(toks).alias("_len"),
    )
    gram = F.xxhash64(
        F.array_join(
            F.slice(F.col("_toks"), F.col("i") + 1, n), "\x1f"
        )
    )
    grams = (
        base.filter(F.col("_len") >= n)
        .select(
            "_id",
            F.explode(
                F.sequence(F.lit(0), F.col("_len") - n)
            ).alias("i"),
            "_toks",
        )
        .select("_id", "i", gram.alias("_g"))
    )
    # No persist of the corpus-tokens-sized gram relation (ADVICE r5:
    # repeated invocations from looped corpora / foreachBatch pinned it
    # in the cache manager forever — and at 100 TB a corpus-sized
    # MEMORY_AND_DISK persist is a spill hazard in its own right).
    # keep='all' re-derives grams on the probe side instead: the
    # frequency aggregate combines map-side to ~distinct grams, and the
    # probe is a broadcast join when the repeated set is small (AQE
    # decides) — the recomputed explode+hash map stage measured cheaper
    # than either the persist (r5 shape) or a full window shuffle of
    # the gram relation at sf0.1. keep='first' genuinely needs per-gram
    # positional order, so it pays the one window shuffle.
    if keep == "first":
        counted = grams.withColumn(
            "_c", F.count("*").over(Window.partitionBy("_g"))
        ).filter(F.col("_c") >= min_count)
        # the same shuffle+sort serves both window functions (identical
        # partitioning; the ordered frame just adds the sort key)
        counted = counted.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("_g").orderBy("_id", "i")
            ),
        ).filter(F.col("_rn") >= 2)
    else:
        repeated = (
            grams.groupBy("_g")
            .count()
            .filter(F.col("count") >= min_count)
            .select("_g")
        )
        counted = grams.join(repeated, "_g")
    covered = (
        counted
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + n - 1)
            ).alias("p"),
        )
        .groupBy("_id")
        .agg(F.collect_set("p").alias("_cov"))
    )
    joined = base.join(covered, "_id", "left").withColumn(
        "_cov", F.coalesce(F.col("_cov"), F.array().cast("array<int>"))
    )
    kept = F.filter(
        F.col("_toks"), lambda t, i: ~F.array_contains(F.col("_cov"), i)
    )
    return joined.select(
        F.col("_id").alias(id_col),
        F.array_join(kept, " ").alias(text_col),
        F.col("_len").alias("n_tokens"),
        F.size("_cov").alias("n_removed"),
    )
