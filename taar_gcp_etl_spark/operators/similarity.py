"""Similarity-search operators (north-star surface, BASELINE.json):
brute-force cosine top-k baseline + bucketed (LSH/IVF-style) ANN variant.

Design for 100 TB:
  - brute force is exact but O(queries × corpus): keep the query side small
    and broadcast it, so the corpus never shuffles — each corpus partition
    scores locally and only k rows per partition survive the top-k;
  - the bucketed variant assigns every vector a coarse bucket key
    (hyperplane sign pattern); neighbors are searched only inside the
    query's bucket via an equi-join on the key — probe cost drops by the
    bucket fan-out at some recall cost (standard IVF/LSH trade);
  - dot products are `zip_with` + `aggregate` Column expressions (JVM,
    codegen'd); for very wide vectors a Pandas-UDF BLAS path would win —
    measured at 64 dims, the built-in expressions are faster than the
    Arrow round-trip.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _l2_normalized(
    df: DataFrame, vec_col: Column, out_col: str, *keep: str
) -> DataFrame:
    """Project `keep` + an L2-normalized copy of `vec_col` as `out_col`.
    Two staged selects so the norm is computed once per VECTOR: referencing
    `_norm(vec)` inside the divide lambda would re-evaluate it per ELEMENT
    (no CSE across higher-order-function lambdas — docs/NEXT.md)."""
    staged = df.select(
        *keep, vec_col.alias("_v"), _norm(vec_col).alias("_nrm")
    )
    return staged.select(
        *keep,
        F.transform(F.col("_v"), lambda x: x / F.col("_nrm")).alias(out_col),
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against the corpus, score
    every pair, keep k per query. Ranking uses the ROUNDED score with an id
    tie-break so results are deterministic and engine-portable."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 4))
        .select("query_id", "neighbor_id", "cos")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def donor_clusters(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """§2.10 — the taar_similarity donors.json contract (README.md:96-100):
    cluster profile feature vectors into donor groups. Spark ML KMeans
    (seeded for reproducibility — cluster IDs are stable for a fixed seed
    and input). Returns (id, cluster). Not SQL-expressible → rows-only
    correctness check; tests assert determinism and cluster-count bounds.
    Thin wrapper over donor_index (one fit path; callers that also need the
    learned centroids — e.g. IVF ANN — use donor_index directly)."""
    return donor_index(df, k=k, id_col=id_col, vec_col=vec_col, seed=seed)[0]


def donor_index(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """One seeded KMeans fit returning BOTH products: per-vector cluster
    assignments (the donor_clusters contract) and the learned centroids
    (cluster, centroid array<double>) — the coarse quantizer for IVF ANN
    (ivf_topk). Fitting once and sharing avoids a second MLlib pass when a
    session needs clusters and an IVF index over the same corpus."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.select(
        F.col(id_col),
        array_to_vector(_as_double(F.col(vec_col))).alias("features"),
    )
    feat = feat.cache()
    try:
        model = KMeans(k=k, seed=seed, maxIter=20, tol=1e-4).fit(feat)
        assignments = model.transform(feat).select(
            id_col, F.col("prediction").alias("cluster")
        )
        spark = df.sparkSession
        centroids = spark.createDataFrame(
            [
                (int(i), [float(x) for x in c])
                for i, c in enumerate(model.clusterCenters())
            ],
            "cluster int, centroid array<double>",
        )
        return assignments, centroids
    finally:
        feat.unpersist(blocking=False)


def ivf_topk(
    corpus: DataFrame,
    assignments: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN with LEARNED centroids: the KMeans centroids
    from donor_index replace ann_bucketed's axis-aligned sign planes as the
    coarse quantizer — cells follow the data distribution, so recall at the
    same probe cost is higher.

    Plan: each query scores the k centroids (tiny broadcast cross-join) and
    keeps its `nprobe` nearest cells; the probe list equi-joins the corpus
    on the cell id — only ~nprobe/k of the corpus is scored exactly. The
    corpus shuffles once on the cell key; the centroid table never exceeds
    k rows. Not SQL-expressible (iterative KMeans upstream) → rows-only."""
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    cent = centroids.select("cluster", F.col("centroid").alias("cv"))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("cent_cos"), F.asc("cluster")
    )
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("cent_cos", cosine(F.col("qv"), F.col("cv")))
        .withColumn("_pr", F.row_number().over(probe_w))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "qv", "cluster")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("nv"),
    ).join(
        assignments.select(
            F.col(id_col).alias("neighbor_id"), "cluster"
        ),
        "neighbor_id",
    )
    scored = (
        c.join(F.broadcast(probes), "cluster")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("nv")), 4))
        .select("query_id", "neighbor_id", "cos")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def likelihood_curves(
    clustered: DataFrame,
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bins: int = 20,
) -> DataFrame:
    """§2.10 — the taar_similarity lr_curves.json contract (README.md:96-100):
    score distributions for same-donor-cluster vs cross-cluster pairs, the
    numerator/denominator curves of the likelihood ratio.

    Plan: join cluster assignments onto vectors, self-join WITHIN cluster
    for the same-cluster curve (equi-join on cluster id — never all-pairs;
    quadratic only in cluster size, so at corpus scale sample each cluster
    first), and a deterministic cross-cluster sample for the denominator:
    rank vectors WITHIN each cluster (partitioned window — every window in
    this module is partitioned; a global orderBy would funnel all donors
    through one task) and equi-join rank r of cluster c with rank r of
    cluster c+1. Sample size = Σ min(|c|,|c+1|) over adjacent cluster pairs,
    fully parallel on the (cluster, rank) key. Output: (bin, same_cluster,
    n).

    Two shapes matter here: (1) vectors are L2-NORMALIZED once before the
    self-join, so each pair costs one dot product instead of dot + two
    norms (3× less per-pair array work); (2) the right side is broadcast —
    the join key has only k_clusters distinct values, so a shuffle join
    hashes every pair-cosine onto ≤ k partitions (AQE then coalesces the
    small pre-join shuffle even further — measured 2 active tasks out of
    32 cores; the pair explosion happens AFTER the exchange, where AQE
    can't see it). Broadcasting keeps the quadratic work at the mappers'
    parallelism. The donor set is bounded (it's a sampled cohort by
    contract), so the broadcast is bounded too; 4.3 s → 0.9 s at sf0.1.

    r12: the normalized+labeled relation `v` feeds FOUR consumers (the
    same-cluster join's stream and broadcast sides, and both sides of
    the cross-cluster rank join) — un-materialized, the normalize+join
    lineage re-ran four times, twice inside broadcast builds. One eager
    localCheckpoint evaluates it once; the donor set is bounded by
    contract, so the checkpointed footprint is too (guide §5)."""
    v = (
        _l2_normalized(vectors, _as_double(F.col(vec_col)), "v", id_col)
        .join(clustered, id_col)
        .localCheckpoint(eager=True)
    )
    a, b = v.alias("a"), v.alias("b")
    same = (
        a.join(
            F.broadcast(b),
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.round(_dot(F.col("a.v"), F.col("b.v")), 6).alias("cos"),
            F.lit(True).alias("same_cluster"),
        )
    )
    # cross-cluster denominator: rank-r of cluster c pairs with rank-r of
    # cluster c+1 — a cheap deterministic sample, not all pairs, computed
    # with a PER-CLUSTER window so no single task sees the whole donor set
    w = Window.partitionBy("cluster").orderBy(F.col(id_col))
    seq = v.withColumn("_rn", F.row_number().over(w))
    s1, s2 = seq.alias("s1"), seq.alias("s2")
    cross = (
        s1.join(
            F.broadcast(s2),
            (F.col("s2.cluster") == F.col("s1.cluster") + 1)
            & (F.col("s2._rn") == F.col("s1._rn")),
        )
        .select(
            F.round(_dot(F.col("s1.v"), F.col("s2.v")), 6).alias("cos"),
            F.lit(False).alias("same_cluster"),
        )
    )
    pairs = same.unionByName(cross)
    binned = pairs.withColumn(
        "bin",
        F.least(
            F.floor((F.col("cos") + 1.0) / 2.0 * n_bins).cast("int"),
            F.lit(n_bins - 1),
        ),
    )
    return binned.groupBy("bin", "same_cluster").agg(
        F.count("*").alias("n")
    )


def sign_bucket(vec: Column, n_planes: int = 4) -> Column:
    """Coarse LSH bucket: sign pattern of the first n dimensions (axis-
    aligned hyperplanes — deterministic and engine-portable; random
    hyperplanes would be drawn from a seeded generator in production)."""
    bits = [
        F.when(F.element_at(vec, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(n_planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def cosine_topk_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
) -> DataFrame:
    """ANN via sign-bucket LSH: equi-join query and corpus on the bucket key,
    then exact cosine top-k inside the bucket. The equi-join shuffles on the
    bucket key instead of broadcasting the corpus — at 100 TB this is the
    difference between scoring everything and scoring ~1/2^n_planes of it."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
        sign_bucket(F.col(vec_col), n_planes).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        sign_bucket(F.col(vec_col), n_planes).alias("bucket"),
    )
    scored = (
        c.join(q, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), 4))
        .select("query_id", "neighbor_id", "cos")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def semantic_dedup(
    corpus: DataFrame,
    k: int = 8,
    threshold: float = 0.97,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    pair_salt: int = 8,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): embeddings are clustered with seeded KMeans
    (donor_index — one MLlib fit, reused if the session already built an
    IVF index), near-duplicate pairs are searched ONLY within a cluster,
    and transitive duplicate groups collapse to one canonical doc.

    Returns (id_col, cluster, dup_group, is_canonical): dup_group is the
    connected component's minimum id (docs with no near-dup form their own
    singleton group), is_canonical marks the one row per group to keep.

    Plan (100 TB posture): the within-cluster pair join is an equi-join on
    (cluster, salt) — never all-pairs across the corpus. The cluster key
    alone has only k distinct values, so a plain equi-join would hash the
    quadratic pair work onto ≤ k reducers; a deterministic id-hash salt on
    one side, exploded 0..pair_salt-1 on the other, spreads it over
    k × pair_salt reducers (same shape as skew.salted_join, but
    deterministic so results are reproducible). At real scale k is chosen
    ∝ corpus size (SemDeDup uses ~100k clusters for billions of docs) so
    each cluster's quadratic term stays bounded; vectors are L2-normalized
    once before the join, so each pair costs a single dot product.
    Iterative KMeans upstream → rows-only correctness contract
    (determinism + synthetic-fixture tests). Pass `assignments`
    (id_col, cluster) to reuse an existing donor_index fit."""
    if assignments is None:
        assignments, _ = donor_index(
            corpus, k=k, id_col=id_col, vec_col=vec_col, seed=seed
        )
        # r12: `v` (and through it the KMeans transform inside
        # `assignments`) feeds three consumers — both pair-join sides
        # and the final labeling join — so the per-row model transform
        # re-ran for each. Checkpoint the NARROW (id, cluster) relation
        # only: one transform pass, while the wide vector column keeps
        # flowing lazily so Catalyst still prunes it out of the
        # consumers that don't need it (a full-`v` checkpoint was
        # measured SLOWER at sf1 — it defeated column pruning).
        # Callers that pass `assignments` in hand us an already-cached
        # relation (the memoized donor fit) — no second materialization.
        assignments = assignments.localCheckpoint(eager=True)
    v = _l2_normalized(
        corpus, _as_double(F.col(vec_col)), "v", id_col
    ).join(assignments, id_col)
    a = v.withColumn(
        "_salt", F.pmod(F.hash(F.col(id_col)), F.lit(pair_salt))
    ).alias("a")
    b = v.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(pair_salt - 1)))
    ).alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col("a._salt") == F.col("b._salt"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(
            F.round(_dot(F.col("a.v"), F.col("b.v")), 6) >= F.lit(threshold)
        )
        .select(
            F.col(f"a.{id_col}").alias("dup_a"),
            F.col(f"b.{id_col}").alias("dup_b"),
        )
    )
    from taar_gcp_etl_spark.operators.dedup import connected_components

    comp = connected_components(pairs, "dup_a", "dup_b", id_col=id_col)
    labeled = v.select(F.col(id_col), "cluster").join(
        comp.withColumnRenamed("cluster_id", "_grp"), id_col, "left"
    )
    grp = F.coalesce(F.col("_grp"), F.col(id_col).cast("long"))
    return labeled.select(
        F.col(id_col),
        F.col("cluster"),
        grp.alias("dup_group"),
        (grp == F.col(id_col).cast("long")).alias("is_canonical"),
    )


def int8_quantization_stats(
    corpus: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, span) for affine int8 quantization, learned from
    the corpus in one cheap pass: posexplode → partial min/max per map task
    → one tiny shuffle of `dim` groups → `dim` rows to the driver. The
    stats then travel as literal arrays inside the quantizing projection,
    so the 100 TB quantization pass itself is map-only (no shuffle, no
    broadcast table)."""
    stats = (
        corpus.select(
            F.posexplode(_as_double(F.col(vec_col))).alias("pos", "x")
        )
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .collect()
    )
    by_pos = sorted(stats, key=lambda r: r["pos"])
    mins = [r["mn"] for r in by_pos]
    spans = [r["mx"] - r["mn"] for r in by_pos]
    return mins, spans


def int8_quantize(
    df: DataFrame,
    mins: list[float],
    spans: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "qv",
) -> DataFrame:
    """Affine int8 quantization: x → floor((x-mn)/span·254 + 0.5) − 127
    per dimension, clamped to [−127, 127] (0 for degenerate dims; the
    clamp only fires for values OUTSIDE the range the stats were learned
    from — out-of-sample query vectors — and is a no-op on the corpus
    itself). 4× smaller than float32 — at vector-store scale the quantized
    corpus is what you keep hot. Integer output makes downstream scoring
    EXACT (engine-portable: no float summation-order sensitivity)."""
    mn_arr = F.array(*[F.lit(float(v)) for v in mins])
    span_arr = F.array(*[F.lit(float(v)) for v in spans])
    q = F.transform(
        _as_double(F.col(vec_col)),
        lambda x, i: F.when(
            F.element_at(span_arr, i + 1) > 0,
            F.greatest(
                F.lit(0).cast("long"),
                F.least(
                    F.lit(254).cast("long"),
                    # clamp the LONG floor result BEFORE narrowing: casting
                    # first would wrap values beyond 2^31 under ANSI-off
                    # and clamp to the wrong sign
                    F.floor(
                        (x - F.element_at(mn_arr, i + 1))
                        / F.element_at(span_arr, i + 1)
                        * 254
                        + F.lit(0.5)
                    ),
                ),
            ).cast("int")
            - 127,
        ).otherwise(F.lit(0)),
    )
    return df.select(F.col(id_col), q.alias(out_col))


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantized maximum-inner-product top-k: both sides quantized with the
    CORPUS's per-dim stats, ranked by the integer dot product. Same
    broadcast-the-queries shape as the brute-force path (corpus never
    shuffles; k rows per partition survive the window), but each corpus
    vector costs int multiplies over an array 4× smaller in memory — the
    scan-speed/recall trade every production vector store ships. Integer
    scores are exact, so ranking is deterministic and oracle-pairable."""
    mins, spans = int8_quantization_stats(corpus, vec_col)
    qc = int8_quantize(corpus, mins, spans, id_col, vec_col, "cv").select(
        F.col(id_col).alias("neighbor_id"), "cv"
    )
    qq = int8_quantize(queries, mins, spans, id_col, vec_col, "qv").select(
        F.col(id_col).alias("query_id"), "qv"
    )
    ip = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        qc.join(F.broadcast(qq), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("ip", ip)
        .select("query_id", "neighbor_id", "ip")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("ip"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rnk", F.row_number().over(w)
    ).filter(F.col("rnk") <= k)


def pca_project(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Fit a PCA on the embedding column and project every vector to its
    top-``k`` principal components → (df with vec_col replaced by the
    k-dim projection, explained_variance list).

    Dimensionality reduction is the standard pre-ANN move: cosine in a
    k≪d PCA space costs k/d of every probe's dot products while
    preserving most neighborhood structure when the spectrum decays
    (recall is measured, not assumed — see the ann_pca test). The fit is
    MLlib PCA (distributed covariance via treeAggregate, local eigen on
    the driver's d×d Gram — fine while d is model-sized; past ~10k dims
    use randomized sketching instead). Projection is a map-only
    vector-matrix multiply. Deterministic for fixed input (no sampling,
    no seed; eigenvector sign is implementation-pinned)."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = df.select(
        id_col, array_to_vector(_as_double(F.col(vec_col))).alias("_fv")
    )
    model = PCA(k=k, inputCol="_fv", outputCol="_pc").fit(feat)
    projected = model.transform(feat).select(
        id_col, vector_to_array(F.col("_pc")).alias(vec_col)
    )
    explained = [float(x) for x in model.explainedVariance]
    return projected, explained
