"""Join family (SURVEY.md §2.4, §2.11).

Reference parity: J1 delete-by-key anti-join
(taar_etl/taar_profile_bigtable.py:193-223), J2 key-addressed enrichment
(taar_etl/taar_amodump.py:199-205), SET1 intersection-as-semi-join
(taar_etl/taar_amowhitelist.py:100-113). The general matrix
(inner/outer/semi/anti, non-equi) is §2.11.

Scale notes: dimension-sized right sides are broadcast explicitly
(`F.broadcast`) so the fact table never shuffles for the join; fact-fact
joins are left to Catalyst's sort-merge with AQE skew splitting. A broadcast
anti-join makes the GDPR delete a map-side filter over the serving table —
no shuffle of 100 TB of profiles to delete a few thousand keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def anti_join_delete(
    store: DataFrame, deletions: DataFrame, key: str | list[str],
    broadcast_deletions: bool = True,
) -> DataFrame:
    """J1 — rewrite of the serving table dropping rows whose key appears in
    the deletion set (taar_etl/taar_profile_bigtable.py:193-223,332-339).
    The deletion set (opt-out requests over a lookback window) is tiny
    relative to the store → broadcast it: the anti-join executes map-side."""
    if broadcast_deletions:
        deletions = F.broadcast(deletions)
    return store.join(deletions, key, "left_anti")


def enrich_left_join(
    base: DataFrame, enrichment: DataFrame, key: str | list[str],
    broadcast_enrichment: bool = False,
) -> DataFrame:
    """J2 — per-key enrichment merge (taar_etl/taar_amodump.py:199-205):
    catalog LEFT JOIN first_dates ON guid. Broadcast when the enrichment is
    dimension-sized."""
    if broadcast_enrichment:
        enrichment = F.broadcast(enrichment)
    return base.join(enrichment, key, "left")


def semi_intersection(
    left: DataFrame, right: DataFrame, key: str | list[str]
) -> DataFrame:
    """SET1 — featured ∩ whitelist; the reference computes it as a predicate
    conjunction (taar_etl/taar_amowhitelist.py:100-113), the engine verifies
    semi-join ≡ conjunction in tests."""
    return left.join(right, key, "left_semi")


def range_join(
    left: DataFrame,
    right: DataFrame,
    equi: Column,
    range_cond: Column,
) -> DataFrame:
    """§2.11 — non-equi (theta) join with an equi component. Keeping an equi
    key in the condition lets Catalyst plan a hash/sort-merge join on the key
    and apply the range predicate as a post-join filter — without it this
    degenerates to a broadcast-nested-loop. At scale, ALWAYS carry an equi
    component (bucketize the range key if none exists naturally)."""
    return left.join(right, equi & range_cond)


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_val: str,
    direction: str = "backward",
) -> DataFrame:
    """§2.11 — as-of join: for each left row, the value of the most recent
    right row with right_ts <= left_ts ('backward', the default) or the
    earliest right row with right_ts >= left_ts ('forward') on the same
    key (ties: the right row at the exact timestamp matches either way).

    Spark lacks a native as-of operator; the scalable rewrite is
    union + last-value window: tag both sides, union on (key, ts), sort
    within key with right rows first at equal ts, carry the last non-null
    right value forward, keep left rows. 'forward' is the same plan with
    the timestamp order reversed. ONE shuffle on the key — the same cost
    as the sort-merge join an engine with native as-of would run — and
    no per-group pandas (merge_asof) round-trip.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    r = right.select(
        F.col(key),
        F.col(right_ts).alias("_ts"),
        F.lit(1).alias("_is_right"),
        F.col(right_val).alias("_rv"),
    )
    lcols = [c for c in left.columns]
    l = left.select(  # noqa: E741
        *lcols,
        F.col(left_ts).alias("_ts"),
        F.lit(0).alias("_is_right"),
        F.lit(None).cast(r.schema["_rv"].dataType).alias("_rv"),
    )
    unioned = l.unionByName(
        r.select(
            *[
                F.lit(None).cast(left.schema[c].dataType).alias(c)
                if c != key
                else F.col(key)
                for c in lcols
            ],
            "_ts",
            "_is_right",
            "_rv",
        )
    )
    from pyspark.sql import Window

    ts_order = F.asc("_ts") if direction == "backward" else F.desc("_ts")
    w = (
        Window.partitionBy(key)
        .orderBy(ts_order, F.desc("_is_right"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn("_filled", F.last("_rv", ignorenulls=True).over(w))
        .filter(F.col("_is_right") == 0)
        .drop("_ts", "_is_right", "_rv")
        .withColumnRenamed("_filled", right_val)
    )


def fuzzy_self_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    max_distance: int = 2,
    max_block_size: int | None = None,
) -> DataFrame:
    """Approximate-string self-join: (id_a, id_b, dist) for every pair
    with levenshtein(text_a, text_b) <= max_distance — entity-resolution's
    core primitive (near-identical names/titles/URLs).

    All-pairs edit distance is O(n² · L²) — unrunnable at corpus scale.
    Same rewrite discipline as the LSH band join: candidates come ONLY
    from equality blocks (`block_cols` — a domain, a sort key prefix, a
    phonetic code), so the join is a standard shuffled equi-join whose
    fan-out is bounded by block size, then two verify filters run in cost
    order INSIDE the join stage: the length window
    |len_a − len_b| <= max_distance (a necessary condition costing two
    ints) prunes before any DP matrix, and the exact levenshtein decides.
    Hot blocks are the same quadratic hazard as hot LSH bands —
    `max_block_size` drops blocks over the bound entirely before the
    self-join (dedup.drop_hot_bands on the composite key), bounding the
    worst block's contribution at max_block_size² DP calls; a block that
    hot is a degenerate blocking key (empty domain, placeholder name),
    not resolvable-entity signal.

    The verify uses the bounded levenshtein(l, r, threshold) (Spark >=
    3.5): the banded DP costs O(k*L) instead of O(L^2) cells — worth
    ~L/k on long strings (measured r12 at sf1 on ~9-char trimmed keys:
    steady-state verify 3.6 s -> 2.5 s over 41.7M candidate pairs).
    Results are identical to the unbounded form by its contract — it
    returns the exact distance when <= threshold and -1 otherwise, so
    `bounded >= 0` keeps exactly the rows `unbounded <= k` kept, with
    the same dist values (pinned by the 41.7M-pair exceptAll check and
    tests/test_scale_features.py); the DuckDB twin's unbounded
    levenshtein + filter computes the same set.
    """
    src = df
    if max_block_size is not None:
        from taar_gcp_etl_spark.operators.dedup import drop_hot_bands

        src = src.withColumn(
            "_blk", F.concat_ws("\x1f", *[F.col(c) for c in block_cols])
        )
        src = drop_hot_bands(src, "_blk", max_block_size).drop("_blk")
    a = src.select(
        F.col(id_col).alias("_id_a"),
        F.col(text_col).alias("_t_a"),
        *block_cols,
    )
    b = src.select(
        F.col(id_col).alias("_id_b"),
        F.col(text_col).alias("_t_b"),
        *block_cols,
    )
    dist = F.levenshtein(F.col("_t_a"), F.col("_t_b"), max_distance)
    return (
        a.join(b, block_cols)
        .filter(F.col("_id_a") < F.col("_id_b"))
        .filter(
            F.abs(F.length("_t_a") - F.length("_t_b")) <= max_distance
        )
        .filter(dist >= 0)
        .select(
            F.col("_id_a").alias("id_a"),
            F.col("_id_b").alias("id_b"),
            dist.cast("int").alias("dist"),
        )
    )

def _common_affix_lengths(
    df: DataFrame, text_col: str
) -> tuple[int, int]:
    """Corpus-wide longest common prefix / suffix lengths, one tiny
    aggregate (lexicographic min & max bound the LCP of the whole set;
    same for reversed strings and the suffix), clamped so prefix+suffix
    never exceed the shortest string. Driver receives ONE row — the
    bounded-collect pattern (cf. int8_quantization_stats)."""
    row = df.select(
        F.min(text_col).alias("lo"),
        F.max(text_col).alias("hi"),
        F.min(F.reverse(F.col(text_col))).alias("rlo"),
        F.max(F.reverse(F.col(text_col))).alias("rhi"),
        F.min(F.length(text_col)).alias("minlen"),
    ).collect()[0]
    if row.lo is None:
        return 0, 0

    def lcp(a: str, b: str) -> int:
        n = 0
        for x, y in zip(a, b):
            if x != y:
                break
            n += 1
        return n

    p = lcp(row.lo, row.hi)
    s = min(lcp(row.rlo, row.rhi), max(0, row.minlen - p))
    return p, s


_BOUNDARY_SAMPLE_ROWS = 100_000
_BOUNDARY_MAX_CLASSES = 4096  # driver map cap: classes beyond fall back even
_BLIND_GRAM = 8  # frequent-gram length for blind template clustering
_BLIND_MAX_GRAMS = 128  # marker-gram vocabulary cap (bounded collect)


def _blind_cluster_sig(expr: DataFrame, n_sampled: int, gram: int):
    """Template-marker signature for CORPUS-BLIND boundary estimation
    (NEXT.md r8 #3): mine the sample for frequent fixed-content
    substrings (``gram``-length grams occurring in >= max(16, n/1000)
    sampled strings — a block-local template leaves its literal content
    as exactly such grams), then sign each string with the sorted set
    of marker grams it contains. Strings of one template share its
    markers, so the signature recovers the latent block WITHOUT a block
    column; corpora with no repeated template content (random/natural
    strings) yield no frequent grams and return None (single class —
    the r6 corpus-wide behavior). The marker vocabulary is a bounded
    collect (<= _BLIND_MAX_GRAMS rows); the signature is a pure column
    expression over it.

    ``gram`` is sized by the caller to the corpus: a constant run can
    only ever host a hot piece when it is at least one piece long
    (~len/(d+1)), so the mining gram must be no longer than that —
    short entity strings (len < 3x8 at d=2) need shorter grams or
    their per-cluster runs are invisible to the fixed 8-gram."""
    grams = (
        # strings shorter than the gram contribute nothing: Spark's
        # sequence(1, 0) is the DESCENDING [1, 0], not empty, so
        # without the length guard every short string would emit its
        # whole text twice as a pseudo-gram and frequent short values
        # ('N/A', country codes) would crowd real template markers out
        # of the bounded vocabulary (review fix, verified on 4.1.2)
        expr.filter(F.length("_t") >= gram)
        .select(
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(1, length(_t) - "
                        f"{gram - 1}), "
                        f"i -> substring(_t, i, {gram}))"
                    )
                )
            ).alias("_g")
        )
        .groupBy("_g")
        .count()
        .filter(F.col("count") >= max(16, n_sampled // 1000))
        .orderBy(F.desc("count"), "_g")
        .limit(_BLIND_MAX_GRAMS)
        .collect()
    )
    freq = sorted(r._g for r in grams)
    if not freq:
        return None
    arr = F.array(*[F.lit(g) for g in freq])
    return F.concat_ws(
        "\x1f", F.filter(arr, lambda g: F.col("_t").contains(g))
    )


def _entropy_boundaries(
    df: DataFrame,
    d: int,
    sample_frac: float | None,
    max_len: int,
    block_cols: list[str] | None = None,
    max_classes: int = _BOUNDARY_MAX_CLASSES,
    blind_clusters: bool = True,
) -> dict[tuple[str, int], list[int]]:
    """Frequency-adaptive segment boundaries per (block, length) class
    (the Ed-Join content-filtering idea recast for the segment join):
    positions inside corpus-constant runs carry no discriminating
    power, so a piece that falls wholly inside one is a single hot key
    and candidates go quadratic. Estimate per-(block, length, position)
    character diversity from a sample, then place the d+1 piece
    boundaries at EQUAL CUMULATIVE-ENTROPY quantiles — every piece
    straddles some variable content, so its keys spread.

    Keying the aggregate by ``block_cols`` (r7) de-heats BLOCK-LOCAL
    templates: a constant run that varies across blocks but is fixed
    within each (e.g. a per-tenant prefix) is invisible to corpus-wide
    diversity — every position looks variable globally — yet inside
    one block it is exactly the quadratic hot key. Candidates only
    ever form within a block, so per-block boundaries target the
    distribution that actually matters.

    When ``block_cols`` is absent, ``blind_clusters`` (r8) recovers the
    same cut without a block column: strings are clustered by their
    frequent-gram template signature (_blind_cluster_sig) and position
    entropy becomes the cluster-size-weighted WITHIN-cluster diversity
    sum(n_sig * log(ndc_sig)) — a position constant inside each
    template contributes ~0 even when its value varies across
    templates, so the single per-length boundary list dodges it. The
    output stays keyed ("", length): one map both join sides read, so
    this is a quality change only.

    Sound for ANY boundary scheme B(block, L, i): the pigeonhole proof
    only needs index (length L) and probe (targeting partner length L)
    of the SAME pair to cut at the same B — a matching pair shares its
    block by the join's equality on block_cols, and both sides read
    this map; classes absent from the map fall back to even splits on
    BOTH sides. Driver receives one row per sampled (block, length <=
    max_len) class, hard-capped at ``max_classes`` keeping the HOTTEST
    classes by sampled string count (ADVICE r7: unbounded block
    cardinality could reach hundreds of MB on the driver; hot classes
    are where the quadratic risk lives, cold ones fall back to even
    splits) — so the driver map is <= max_classes x max_len ints
    (~32 MB at the defaults) and the diversity aggregate stays
    O(sample chars) at corpus scale."""
    if not block_cols and not blind_clusters:
        # the legacy corpus-wide blind arm is measured-quadratic on
        # block-local templates (soak block_blind curve: 141/488/1901
        # candidates-per-string at just 2k/4k/8k) — kept only as the
        # soak's negative control; reaching it without a warning
        # invites production misuse (VERDICT r8 #7)
        import warnings

        warnings.warn(
            "_entropy_boundaries(blind_clusters=False) without "
            "block_cols uses corpus-wide position entropy, which is "
            "measured-quadratic on corpora with block-local templates; "
            "use the default blind_clusters=True (frequent-gram "
            "template clustering) or pass block_cols.",
            RuntimeWarning,
            stacklevel=2,
        )
    bk = (
        F.concat_ws("\x1f", *[F.col(c) for c in block_cols])
        if block_cols
        else F.lit("")
    )
    expr = df.select(
        bk.alias("_bk"),
        F.length("_t").alias("_l"),
        F.col("_t"),
    ).filter((F.col("_l") > 0) & (F.col("_l") <= max_len))
    blind = not block_cols
    med_len = 0
    if sample_frac is None or (blind and blind_clusters):
        # one pre-sample pass serves both the auto sample fraction and
        # the blind gram sizing (review fix: a separate
        # percentile_approx job re-scanned the corpus)
        row = expr.agg(
            F.count("*").alias("n"),
            F.percentile_approx("_l", 0.5).alias("m"),
        ).first()
        n, med_len = row["n"], int(row["m"] or 0)
    else:
        n = 0  # unused: block path with explicit frac needs no count
    if sample_frac is None:
        # auto: bound the per-position explode to ~_BOUNDARY_SAMPLE_ROWS
        # strings regardless of corpus size (review fix: the 1.0
        # default exploded every character of the corpus). Small
        # corpora (tests, dimension tables) keep fraction 1.0, so the
        # boundaries stay deterministic there.
        sample_frac = min(1.0, _BOUNDARY_SAMPLE_ROWS / max(n, 1))
    if sample_frac < 1.0:
        expr = expr.sample(fraction=sample_frac, seed=7)
    n_sampled = max(1, int(n * sample_frac))

    if blind and blind_clusters:
        # gram no longer than a piece (~median_len/(d+1), capped at
        # _BLIND_GRAM, floor 4): a within-cluster constant run matters
        # exactly when it can host a whole piece, and a gram longer
        # than the run cannot see it (short entity strings would make
        # every template invisible to the fixed 8-gram)
        gram = max(4, min(_BLIND_GRAM, med_len // (d + 1)))
        sig = _blind_cluster_sig(expr, n_sampled, gram)
        cls = sig if sig is not None else F.lit("")
    else:
        cls = F.col("_bk")
    per_cls = expr.select(
        cls.alias("_cls"),
        F.col("_bk"),
        "_l",
        F.posexplode(F.split(F.col("_t"), "(?!^)(?=.)")).alias("_p", "_c"),
    ).groupBy("_cls", "_bk", "_l", "_p").agg(
        F.count_distinct("_c").alias("_ndc"),
        F.count("*").alias("_ns"),  # sampled strings in this class
    )
    if blind:
        # weighted conditional entropy, folded back to ONE class per
        # length (the map key both sides read stays ("", L))
        per_pos = per_cls.groupBy("_bk", "_l", "_p").agg(
            F.sum(F.col("_ns") * F.log("_ndc")).alias("_e"),
            F.sum("_ns").alias("_ns"),
        )
    else:
        per_pos = per_cls.select(
            "_bk", "_l", "_p", F.log("_ndc").alias("_e"), "_ns"
        )
    rows = (
        per_pos.groupBy("_bk", "_l")
        .agg(
            F.map_from_arrays(
                F.collect_list("_p"), F.collect_list("_e")
            ).alias("_m"),
            F.max("_ns").alias("_n"),
        )
        # hottest classes first; ties broken deterministically
        .orderBy(F.desc("_n"), "_bk", "_l")
        .limit(max_classes)
        .collect()
    )

    out: dict[tuple[str, int], list[int]] = {}
    nseg = d + 1
    for row in rows:
        L = row._l
        ent = [float(row._m.get(p) or 0.0) for p in range(L)]
        total = sum(ent)
        if total <= 0.0:
            continue  # no variable positions sampled: even splits
        # boundaries at equal cumulative-entropy quantiles, kept
        # non-decreasing and inside [0, L]
        bnds = [0]
        acc = 0.0
        target = total / nseg
        want = 1
        for p in range(L):
            acc += ent[p]
            while want < nseg and acc >= want * target:
                bnds.append(p + 1)
                want += 1
        while len(bnds) < nseg:
            bnds.append(L)
        bnds.append(L)
        out[(row._bk, L)] = bnds
    return out


def _even_keyed(
    base: DataFrame,
    idx_keys: str,
    probe_keys: str,
    block_cols: list[str],
    with_texts: bool = False,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Index/probe key relations for the even-split path: each side is
    (id, segment#, piece [, block_cols]); candidates are their equi-join
    on everything but the id. Shared by the candidate generator and the
    volume estimator so the guard measures EXACTLY the keys the join
    will shuffle. ``with_texts`` additionally carries each side's
    original text and trimmed length (_t_i/_l_i, _t_p/_l_p) so the
    caller can verify INSIDE the key join (r13 restructure; the
    estimator keeps the narrow default)."""
    ic = (
        [F.col("_orig").alias("_t_i"), F.col("_len").alias("_l_i")]
        if with_texts
        else []
    )
    pc = (
        [F.col("_orig").alias("_t_p"), F.col("_len").alias("_l_p")]
        if with_texts
        else []
    )
    icn = ["_t_i", "_l_i"] if with_texts else []
    pcn = ["_t_p", "_l_p"] if with_texts else []
    idx = base.select(
        F.col("_id").alias("_id_i"),
        *ic,
        *block_cols,
        F.explode(F.expr(idx_keys)).alias("_k"),
    ).select("_id_i", *icn, *block_cols, "_k.seg", "_k.piece")
    probe = base.select(
        F.col("_id").alias("_id_p"),
        *pc,
        *block_cols,
        F.explode(F.expr(probe_keys)).alias("_k"),
    ).select("_id_p", *pcn, *block_cols, "_k.seg", "_k.piece")
    return idx, probe, ["seg", "piece", *block_cols]


def _verified_pairs(
    idx: DataFrame, probe: DataFrame, keycols: list[str], d: int
) -> DataFrame:
    """Key-equijoin + ORIENTATION HALVING + INLINE VERIFY (r13, VERDICT
    r12 #2 — guide §2.3 shuffle fewer bytes / §2.4 remove shuffles):

    - ORIENTATION HALVING: the pigeonhole substring-selection lemma is
      complete for EACH orientation independently — partition EITHER
      string of a true pair into d+1 pieces and the other side's probe
      enumeration (partner lengths ±d x shifts ±d; the even path's
      empty-piece keys and the adaptive path's L-floor-0 cover trimmed
      length 0) contains a matching key. The old `_id_i != _id_p` join
      therefore found every pair TWICE (once per orientation) and
      collapsed the duplicate downstream with least/greatest +
      dropDuplicates; `_id_i < _id_p` keeps exactly one complete
      orientation and HALVES the key-join output with zero recall loss
      (sf1: 41.7M -> ~20.8M candidate rows before any verify).
    - INLINE VERIFY: both sides carry their original text through the
      key join, so the length window and the banded DP run inside the
      join condition and only SURVIVORS — bounded by (d+1) x the result
      set, one row per matching segment — ever reach the dedup. The old
      pipeline hash-deduped the FULL candidate volume (a partial+final
      aggregate over 41.7M rows at sf1, 35x over-generated on the
      piece-collision floor) and then joined texts back twice.
      Trade-off: the probe exchange now carries the text (~L bytes x
      probe fan-out); that loses to the old narrow-rows shape only when
      texts are long AND blocking is healthy (candidates ~ results), in
      which regime both shapes are cheap — on the collision-floor
      corpora where the join is actually expensive, candidate volume
      dominates and inline verify wins.

    Exactness: the candidate-pair SET entering the DP is the orientation
    -halved superset of true pairs (complete per the lemma), the DP is
    the same banded levenshtein, and dist is a pure function of the two
    texts, so duplicate survivor rows are identical and dropDuplicates
    returns the same (id_a, id_b, dist) multiset as the r12 pipeline —
    pinned by the exceptAll snapshot check (docs/OPTIMIZATION_r13.md)
    and the DuckDB oracle."""
    dist = F.levenshtein(F.col("_t_i"), F.col("_t_p"), d)
    return (
        idx.join(probe, keycols)
        .filter(F.col("_id_i") < F.col("_id_p"))
        .filter(F.abs(F.col("_l_i") - F.col("_l_p")) <= d)
        .filter(dist >= 0)
        .select(
            F.col("_id_i").alias("id_a"),
            F.col("_id_p").alias("id_b"),
            dist.cast("int").alias("dist"),
        )
        # multi-segment duplicates carry IDENTICAL dist (pure function
        # of the two texts), so min() is exact; a plain aggregate (not
        # dropDuplicates) keeps the pair-dedup a partial-aggregated
        # groupBy and avoids Deduplicate's first()-rewrite, which
        # Catalyst failed to bind under exceptAll composition
        # (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND, seen on 4.1.2).
        .groupBy("id_a", "id_b")
        .agg(F.min("dist").alias("dist"))
    )


def _even_candidates(
    base: DataFrame,
    idx_keys: str,
    probe_keys: str,
    block_cols: list[str],
) -> DataFrame:
    """Distinct candidate PAIR SET under even splits and the r13
    orientation filter — the pre-verify volume the production join
    shuffles. Kept as the tests' candidate-volume probe (the production
    path itself verifies inline: _verified_pairs)."""
    idx, probe, keycols = _even_keyed(base, idx_keys, probe_keys, block_cols)
    return (
        idx.join(probe, keycols)
        .filter(F.col("_id_i") < F.col("_id_p"))
        .select(
            F.col("_id_i").alias("id_a"), F.col("_id_p").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def _adaptive_keyed(
    base: DataFrame,
    d: int,
    bmap: dict[tuple[str, int], list[int]],
    block_cols: list[str],
    with_texts: bool = False,
) -> tuple[DataFrame, DataFrame, list[str]]:
    """Index/probe key relations for the adaptive path (see
    _adaptive_candidates); split out so the candidate-volume estimator
    samples the SAME key distribution the join will shuffle.

    Candidate pairs under per-(block, length)-class boundaries:
    index cuts at B(block, _len, ·), probe cuts its own text at
    B(block, L, ·) for every partner length L in ±d with shifts ±d —
    the same enumeration as the even path, with the boundary positions
    coming from the broadcast boundary map (even-split fallback for
    unmapped classes keeps the two sides consistent; a matching pair
    shares its block by the join's block_cols equality, so both sides
    always read the same entry). The partner length L rides in the
    join key: an index piece cut at B(_len) can only ever satisfy a
    probe row that targeted L = _len, so the key is strictly tighter
    at zero recall cost."""
    spark = base.sparkSession
    nseg = d + 1
    bk = (
        F.concat_ws("\x1f", *[F.col(c) for c in block_cols])
        if block_cols
        else F.lit("")
    )
    base = base.withColumn("_bbk", bk)
    rows = [(k, L, b) for (k, L), b in sorted(bmap.items())]
    bnds = spark.createDataFrame(
        rows, "_bkk string, _bl int, _b array<int>"
    ) if rows else None

    def start0(i: str, L: str) -> str:
        return (
            f"coalesce(element_at(_b, {i} + 1), "
            f"cast(floor({i} * {L} / {nseg}) as int))"
        )

    def end0(i: str, L: str) -> str:
        return (
            f"coalesce(element_at(_b, {i} + 2), "
            f"cast(floor(({i} + 1) * {L} / {nseg}) as int))"
        )

    def with_bounds(df: DataFrame, length_col: str) -> DataFrame:
        if bnds is None:
            return df.withColumn("_b", F.lit(None).cast("array<int>"))
        return df.join(
            F.broadcast(bnds),
            (df[length_col] == bnds["_bl"]) & (df["_bbk"] == bnds["_bkk"]),
            "left",
        ).drop("_bl", "_bkk")

    idx_keys = (
        f"transform(sequence(0, {d}), i -> named_struct("
        f"'seg', i, 'piece', substring(_t, {start0('i', '_len')} + 1, "
        f"{end0('i', '_len')} - {start0('i', '_len')})))"
    )
    ic = (
        [F.col("_orig").alias("_t_i"), F.col("_len").alias("_l_i")]
        if with_texts
        else []
    )
    pc = (
        [F.col("_orig").alias("_t_p"), F.col("_len").alias("_l_p")]
        if with_texts
        else []
    )
    icn = ["_t_i", "_l_i"] if with_texts else []
    pcn = ["_t_p", "_l_p"] if with_texts else []
    idx = (
        with_bounds(base, "_len")
        .select(
            F.col("_id").alias("_id_i"),
            *ic,
            F.col("_len").alias("_lk"),
            *block_cols,
            F.explode(F.expr(idx_keys)).alias("_k"),
        )
        .select("_id_i", *icn, "_lk", *block_cols, "_k.seg", "_k.piece")
    )
    s0, e0 = start0("i", "L"), end0("i", "L")
    probe_keys = (
        f"array_distinct(filter(flatten("
        f"transform(sequence(0, {d}), i -> "
        f"transform(sequence(-{d}, {d}), s -> "
        f"CASE WHEN {s0} + 1 + s >= 1 "
        f"AND {s0} + s + ({e0} - {s0}) <= _len "
        f"THEN named_struct('seg', i, 'piece', "
        f"substring(_t, {s0} + 1 + s, {e0} - {s0})) END))), "
        f"x -> x IS NOT NULL))"
    )
    probe = (
        with_bounds(
            base.withColumn(
                # floor 0, NOT 1: the adaptive key carries the partner
                # length, so a pair of strings whose trimmed length is
                # 0 (corpus-constant block) only ever meets through
                # L = 0 probe rows — clamping at 1 silently dropped
                # those pairs (review fix; the even path has no L in
                # the key and matched them through any L's empty piece)
                "L",
                F.explode(
                    F.sequence(
                        F.greatest(F.col("_len") - d, F.lit(0)),
                        F.col("_len") + d,
                    )
                ),
            ),
            "L",
        )
        .select(
            F.col("_id").alias("_id_p"),
            *pc,
            F.col("L").alias("_lk"),
            *block_cols,
            F.explode(F.expr(probe_keys)).alias("_k"),
        )
        .select("_id_p", *pcn, "_lk", *block_cols, "_k.seg", "_k.piece")
    )
    return idx, probe, ["seg", "piece", "_lk", *block_cols]


def _adaptive_candidates(
    base: DataFrame,
    d: int,
    bmap: dict[tuple[str, int], list[int]],
    block_cols: list[str],
) -> DataFrame:
    """Distinct candidate PAIR SET from the adaptive key relations
    under the r13 orientation filter — the tests' candidate-volume
    probe; production verifies inline (_verified_pairs)."""
    idx, probe, keycols = _adaptive_keyed(base, d, bmap, block_cols)
    return (
        idx.join(probe, keycols)
        .filter(F.col("_id_i") < F.col("_id_p"))
        .select(
            F.col("_id_i").alias("id_a"), F.col("_id_p").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )


class CandidateVolumeExceeded(ValueError):
    """Raised by fuzzy_self_join_segments when the sampled candidate-volume
    estimate exceeds the caller's explicit `candidate_budget` — the
    plan-time guard for the measured short-string quadratic regime
    (SCALE.md: low piece entropy puts EVERY exact pigeonhole scheme on a
    collision floor; no boundary scheme can fix it, only real blocking or
    LSH can)."""


def _candidate_volume(
    idx: DataFrame, probe: DataFrame, keycols: list[str], scale: float
) -> float:
    """Expected key-join output rows (cross pairs, pre-dedup) from sampled
    index/probe key relations, extrapolated to the full corpus.

    Per join key k with sampled counts (i_k, p_k): the join emits
    i_k * p_k rows. Under string-sampling at fraction f, CROSS-pair terms
    (two distinct strings) survive with probability f² while SELF-pair
    terms (a string matching its own keys) survive with probability f —
    so Σ i_k·p_k naively scaled by 1/f² over-counts the diagonal by 1/f,
    which DOMINATES on healthy corpora (unique pieces: the diagonal is
    ~all of S). Estimate the diagonal exactly (keys shared by one id's
    own index and probe sets) and scale the two terms separately:

        E[cross] ≈ (S − Self) / f²

    Cross pairs are the quantity returned and budgeted — self matches
    are discarded by the id_i < id_p orientation filter, are bounded at
    ~(d+1)·n rows, and folding their 1/f-scaled term back in would drown
    the signal on healthy corpora (the diagonal IS ~all of S there).
    The (S − Self) cross term counts BOTH orientations of every pair;
    the r13 join keeps exactly one (_id_i < _id_p, complete per the
    pigeonhole lemma — see _verified_pairs), so the estimate carries a
    final × 0.5 to stay calibrated to what the join actually emits
    (tests pin it within 2× of the measured join output).
    Cost: two groupBy-counts + one key-count join + one sampled equi-join
    count, all bounded by sample_rows × per-string key fan-out (~45 keys
    at d=2) — no pair materialization ever happens here."""
    ic = idx.groupBy(*keycols).agg(F.count("*").alias("_ci"))
    pc = probe.groupBy(*keycols).agg(F.count("*").alias("_cp"))
    row = ic.join(pc, keycols).agg(
        F.sum(F.col("_ci") * F.col("_cp")).alias("_s")
    ).first()
    s = float(row["_s"] or 0.0)
    self_n = float(
        idx.join(
            probe.withColumnRenamed("_id_p", "_id_i"),
            [*keycols, "_id_i"],
        ).count()
    )
    return max(0.0, s - self_n) * scale * scale * 0.5


def _segment_base(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    trim_common_affixes: bool,
    d: int,
) -> tuple[DataFrame, str, str]:
    """Affix-trimmed working relation + the even-split index/probe key
    expressions — shared by fuzzy_self_join_segments and the public
    candidate-volume estimator so both see the identical key space."""
    nseg = d + 1
    trim_p, trim_s = (
        _common_affix_lengths(df, text_col) if trim_common_affixes else (0, 0)
    )
    trimmed = F.expr(
        f"substring({text_col}, {trim_p} + 1, "
        f"greatest(length({text_col}) - {trim_p + trim_s}, 0))"
    )
    base = df.select(
        F.col(id_col).alias("_id"),
        F.col(text_col).alias("_orig"),
        trimmed.alias("_t"),
        F.length(trimmed).alias("_len"),
        *block_cols,
    )
    piece = (
        "substring(_t, cast(floor({i} * {L} / %(nseg)d) as int) + 1 + {s}, "
        "cast(floor(({i} + 1) * {L} / %(nseg)d) "
        "- floor({i} * {L} / %(nseg)d) as int))" % {"nseg": nseg}
    )
    idx_keys = (
        "transform(sequence(0, %(d)d), i -> "
        "named_struct('seg', i, 'piece', %(p)s))"
        % {"d": d, "p": piece.format(i="i", L="_len", s="0")}
    )
    probe_piece = piece.format(i="i", L="L", s="s")
    probe_keys = (
        "array_distinct(filter(flatten(flatten("
        "transform(sequence(0, %(d)d), i -> "
        "transform(sequence(greatest(_len - %(d)d, 1), _len + %(d)d), L -> "
        "transform(sequence(-%(d)d, %(d)d), s -> "
        "CASE WHEN cast(floor(i * L / %(n)d) as int) + 1 + s >= 1 "
        "AND cast(floor(i * L / %(n)d) as int) + s "
        "+ cast(floor((i + 1) * L / %(n)d) - floor(i * L / %(n)d) as int) "
        "<= _len "
        "THEN named_struct('seg', i, 'piece', %(p)s) END))))), "
        "x -> x IS NOT NULL))" % {"d": d, "n": nseg, "p": probe_piece}
    )
    return base, idx_keys, probe_keys


_GUARD_SAMPLE_ROWS = 50_000
_GUARD_MIN_ROWS = 100_000  # "auto" estimates only at quadratic-risk scale


def _sampled_estimate(
    base: DataFrame,
    d: int,
    block_cols: list[str],
    idx_keys: str,
    probe_keys: str,
    bmap: dict[tuple[str, int], list[int]] | None,
    sample_rows: int,
    n: int,
) -> tuple[float, float]:
    """Sample the corpus and estimate cross-pair key-join volume over
    the SAME key relations the join shuffles. The one shared seam the
    guard (_guard_candidate_volume) and the public estimator
    (estimate_fuzzy_join_candidates) both go through — they must stay
    in lockstep or the estimator stops predicting what the guard
    enforces. Returns (estimate, sample_frac)."""
    frac = min(1.0, sample_rows / max(n, 1))
    sample = base.sample(fraction=frac, seed=11) if frac < 1.0 else base
    if bmap is not None:
        idx, probe, keycols = _adaptive_keyed(sample, d, bmap, block_cols)
    else:
        idx, probe, keycols = _even_keyed(
            sample, idx_keys, probe_keys, block_cols
        )
    return _candidate_volume(idx, probe, keycols, 1.0 / frac), frac


def _guard_candidate_volume(
    base: DataFrame,
    d: int,
    block_cols: list[str],
    idx_keys: str,
    probe_keys: str,
    bmap: dict[tuple[str, int], list[int]] | None,
    budget: int | str,
    sample_rows: int,
    min_rows: int,
) -> tuple[float, int] | None:
    """Estimate candidate volume from a string sample and enforce the
    budget. Explicit int budget: always estimate, raise
    CandidateVolumeExceeded over budget. "auto": estimate only when the
    corpus is big enough for a quadratic to matter (>= min_rows strings)
    and warn over 64·n — 64 verify comparisons per string is already far
    beyond any healthy blocking scheme's fan-out, while a quadratic
    regime blows past it immediately (n²/4096 > 64n at n ≈ 260k).
    Returns (estimate, n) when an estimate was made."""
    explicit = not isinstance(budget, str)
    if not explicit and budget != "auto":
        raise ValueError(
            f"candidate_budget must be an int, 'auto', or None — got "
            f"{budget!r}"
        )
    if not explicit:
        # bounded probe, not a full count (review fix): LocalLimit
        # short-circuits, so corpora under the risk threshold pay
        # O(min_rows) rows scanned — honoring the "small corpora pay
        # nothing" contract — instead of a full pass that exists only
        # to learn the guard doesn't apply
        if base.limit(min_rows).count() < min_rows:
            return None
    n = base.count()
    est, _ = _sampled_estimate(
        base, d, block_cols, idx_keys, probe_keys, bmap, sample_rows, n
    )
    limit = float(budget) if explicit else 64.0 * n
    if est > limit:
        msg = (
            f"fuzzy_self_join_segments: estimated candidate volume "
            f"~{est:.3g} pairs exceeds budget {limit:.3g} at n={n} "
            f"strings — the corpus is in a piece-collision regime "
            f"(short strings / low alphabet entropy: SCALE.md) where "
            f"every exact pigeonhole scheme is quadratic. Supply "
            f"block_cols that genuinely partition the corpus, fall back "
            f"to LSH near-dup (operators.dedup.lsh_near_duplicates), or "
            f"raise candidate_budget if the volume is intended."
        )
        if explicit:
            raise CandidateVolumeExceeded(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=3)
    return est, n


def estimate_fuzzy_join_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str] | None = None,
    max_distance: int = 2,
    trim_common_affixes: bool = True,
    adaptive_boundaries: bool = False,
    boundary_sample_frac: float | None = None,
    boundary_max_len: int = 512,
    sample_rows: int = _GUARD_SAMPLE_ROWS,
) -> dict:
    """Plan-time candidate-volume estimate for fuzzy_self_join_segments
    under the SAME parameters: expected key-equijoin output rows (cross
    pairs, pre-dedup — the shuffle volume the verify stage would pay).
    Returns {"n", "sample_frac", "estimate"}. See _candidate_volume for
    the diagonal-corrected extrapolation; tests pin it within 2× of the
    measured join volume at two corpus scales."""
    d = max_distance
    block_cols = block_cols or []
    base, idx_keys, probe_keys = _segment_base(
        df, text_col, id_col, block_cols, trim_common_affixes, d
    )
    bmap = (
        _entropy_boundaries(
            base, d, boundary_sample_frac, boundary_max_len,
            block_cols=block_cols,
        )
        if adaptive_boundaries
        else None
    )
    n = base.count()
    est, frac = _sampled_estimate(
        base, d, block_cols, idx_keys, probe_keys, bmap, sample_rows, n
    )
    return {"n": n, "sample_frac": frac, "estimate": est}


def fuzzy_self_join_segments(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str] | None = None,
    max_distance: int = 2,
    trim_common_affixes: bool = True,
    adaptive_boundaries: bool = False,
    boundary_sample_frac: float | None = None,
    boundary_max_len: int = 512,
    candidate_budget: int | str | None = "auto",
) -> DataFrame:
    """Scalable EXACT blocking for the approximate-string self-join:
    pigeonhole segment join (the PassJoin family — Li, Deng, Feng 2011,
    a published exact-edit-distance join algorithm).

    Why fuzzy_self_join's categorical blocking caps out: its block COUNT
    is fixed by the blocking domain (25 nations x 5 segments = 125), so
    at 10x data each block has 10x members and the per-block self-join
    does 100x DP comparisons — the r4 sf1.0 soak measured exactly that
    curve (34x wall-clock at 10x rows). Segment blocking replaces the
    fixed domain with CONTENT-derived keys whose cardinality grows with
    the corpus, so candidates per key stay O(1) and total work O(n).

    Pigeonhole: split each string into d+1 contiguous pieces. Any ≤ d
    edit operations leave at least one piece untouched, and ≤ d indels
    shift its position by at most d — so for every true pair, one side's
    exact piece occurs in the other side within a ±d position window.
    INDEX side emits its d+1 pieces keyed (segment#, content); PROBE
    side emits, for each partner length L within ±d and each shift in
    ±d, the same-length substring at the shifted boundary. Equality on
    (segment#, piece [, block_cols]) is then a standard shuffled
    equi-join — complete by construction (no recall loss: the final
    levenshtein verify is exact), so the DuckDB all-pairs oracle is
    unchanged.

    Costs: index fan-out d+1 rows/string; probe fan-out ≤
    (d+1)(2d+1)² distinct keys/string (~45 at d=2, after dedup usually
    far fewer since adjacent L/shift combinations repeat substrings).
    r13 (VERDICT r12 #2): the key join keeps only the _id_i < _id_p
    ORIENTATION (the pigeonhole lemma is complete per orientation, so
    the old two-orientation join emitted every pair twice — exact 2x
    output cut) and VERIFIES INLINE — both sides carry their original
    text, the length window + banded DP run inside the join condition,
    and only survivors reach the pair dedup. The r12 shape hash-deduped
    the full candidate volume (41.7M rows at sf1) and joined texts back
    twice; see _verified_pairs for the exactness argument and the
    narrow-rows trade-off. Strings
    shorter than d+1 produce empty pieces that key all short strings in
    a block together — correct, and bounded because such strings are by
    definition near everything their length admits.

    LOW-ENTROPY AFFIX DEGENERACY (and its exact fix): templated strings
    like TPC-H's 'Customer#%09d' share a constant prefix, so the piece
    covering it is one corpus-wide hot key and candidates go quadratic
    again — measured: the first segment-join soak run stayed at ~30x
    wall-clock at 10x rows. `trim_common_affixes` removes the
    corpus-constant prefix/suffix before segmenting. This is EXACT:
    Levenshtein's affix-trimming property says ed(P·a·S, P·b·S) =
    ed(a, b), every pair shares at least the corpus-wide affixes, and
    the verify still runs on the ORIGINAL strings. The affix lengths
    come from one tiny aggregate (_common_affix_lengths). Residual
    low-entropy structure INSIDE strings (a templated constant run that
    is not a global affix) is the remaining hot-key source:
    ``adaptive_boundaries=True`` replaces the even splits with
    per-length-class boundaries at equal cumulative-entropy quantiles
    (_entropy_boundaries — the Ed-Join content-filtering idea), so
    every piece straddles variable content and its keys spread; the
    adaptive path also carries the partner length L in the join key
    (strictly tighter, exact). Both knobs preserve exactness — the
    boundary scheme is shared by index and probe, and the final
    levenshtein verify is unchanged.

    PIECE-ENTROPY CEILING AND THE CANDIDATE-VOLUME GUARD (r9): boundary
    placement cannot rescue a corpus whose pieces have too few possible
    values — ~18-char strings over an 8-letter alphabet give a ~4-char
    piece only 8⁴ = 4096 values, so EVERY exact pigeonhole scheme rides
    a quadratic collision floor there (measured: SCALE.md, soak
    short_* curves — adapted boundaries cut the constant 4.5×, not the
    exponent). `candidate_budget` turns that documented regime into a
    plan-time guard: before the candidate join runs, the expected
    key-equijoin output volume is estimated from a bounded string
    sample over the EXACT key relations the join would shuffle
    (_candidate_volume: per-key count products with the self-match
    diagonal scaled separately — unbiased for cross pairs). The default
    "auto" estimates only at quadratic-risk scale (>= 100k strings, so
    small corpora pay nothing) and WARNS past 64·n expected
    pairs; an explicit int budget always estimates and RAISES
    CandidateVolumeExceeded with the remedy (real block_cols, LSH
    near-dup, or a bigger budget). None/0 disables. Related floor: the
    blind boundary estimator's marker-gram is never shorter than 4
    chars (_blind_cluster_sig), so corpora with median trimmed length
    < 12 at d=2 get pieces shorter than the gram can certify — blind
    clustering degrades to corpus-wide entropy there, exactly the
    regime the guard exists to catch."""
    d = max_distance
    block_cols = block_cols or []
    base, idx_keys, probe_keys = _segment_base(
        df, text_col, id_col, block_cols, trim_common_affixes, d
    )

    bmap = (
        _entropy_boundaries(
            base, d, boundary_sample_frac, boundary_max_len,
            block_cols=block_cols,
        )
        if adaptive_boundaries
        else None
    )
    if candidate_budget:
        _guard_candidate_volume(
            base, d, block_cols, idx_keys, probe_keys, bmap,
            candidate_budget, _GUARD_SAMPLE_ROWS, _GUARD_MIN_ROWS,
        )
    # r13: orientation-halved key join with the (length window + banded
    # DP) verify inlined into the join condition — see _verified_pairs
    # for the lemma and the shuffle-volume argument. The bounded DP is
    # identical in results to `unbounded <= d` (returns the exact
    # distance when <= d, -1 otherwise); see fuzzy_self_join's docstring
    # for the r12 measured win and the equality argument.
    if bmap is not None:
        idx, probe, keycols = _adaptive_keyed(
            base, d, bmap, block_cols, with_texts=True
        )
    else:
        idx, probe, keycols = _even_keyed(
            base, idx_keys, probe_keys, block_cols, with_texts=True
        )
    return _verified_pairs(idx, probe, keycols, d)
