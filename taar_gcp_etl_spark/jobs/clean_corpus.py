"""Composed pretraining-corpus cleaning pipeline: language gate → quality
gate → exact dedup → near-dup (MinHash-LSH) removal, with per-stage
attrition accounting.

This is the canonical 100 TB training-data job the individual operators
exist for (no reference counterpart — the reference is an addon-metadata
ETL; this composes the engine's LLM-pipeline surface end to end).

Scale design — ONE linear labeled lineage, not N filtered copies:
  - one projection splits each document once; the row-level gates
    (language, quality) are Column predicates over that token array,
    folded into the next projection, which assigns each document its
    first-failing stage;
  - exact dedup is one window over md5(text): the min SURVIVING id per
    digest is the representative, so no aggregate is joined back;
  - near dedup hashes shingles of the survivors only (a doc already
    dropped by a cheap gate never reaches the expensive shingle hashing —
    the gates run in cost order on purpose), and its verdicts attach by
    one left join; drop_stage is the first non-null stage label;
  - the attrition report and the cleaned corpus are two consumers of the
    same persisted labeled DataFrame: `groupBy(drop_stage).count()` and
    `filter(drop_stage IS NULL)`. No per-stage count() actions, no
    re-execution per stage or per consumer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taar_gcp_etl_spark.functions import tokens

KEEP = None  # drop_stage value for surviving documents


def label_corpus(
    docs: DataFrame,
    rules: DataFrame,
    target_lang: str = "en",
    jaccard_threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    near_dup_mode: str = "greedy",
) -> DataFrame:
    """Label every document with the first pipeline stage that drops it
    (NULL = kept): 'language' → 'quality' → 'exact_dup' → 'near_dup'.

    Exact dedup keeps the min-id representative per content digest. Near
    dedup has two modes: 'greedy' (default) keeps the lower id of each
    LSH-verified pair — one pass, no iteration, but on a chain a~b~c it
    drops BOTH b and c even though c may not resemble a; 'components'
    closes the pair set into connected components (operators.dedup
    .connected_components, O(log diameter) iterative joins) and keeps
    exactly one canonical doc — the component min id — per cluster, the
    decision an at-scale dedup actually wants."""
    from taar_gcp_etl_spark.operators.dedup import (
        connected_components,
        lsh_near_dup_pairs,
        minhash_signatures,
    )
    from taar_gcp_etl_spark.operators.text import stopword_language

    toks = F.col("_toks")
    n_tokens = F.size(toks)
    avg_len = F.length(text_col) / n_tokens
    stop_ratio = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to"))
    ) / n_tokens
    quality_ok = (
        (n_tokens >= F.col("min_tokens"))
        & (avg_len >= F.col("min_avg_len"))
        & (avg_len <= F.col("max_avg_len"))
        & (stop_ratio >= F.col("min_stop_ratio"))
    )
    _, _, lang = stopword_language(toks)

    # cheap row-level gates in cost order, over one tokenization
    gated = (
        docs.crossJoin(F.broadcast(rules))
        .select(
            id_col, text_col, tokens(text_col).alias("_toks"), *rules.columns
        )
        .select(
            id_col,
            text_col,
            F.when(lang != target_lang, F.lit("language"))
            .when(~quality_ok, F.lit("quality"))
            .alias("drop_stage"),
        )
    )

    # exact dedup over gate survivors: the min surviving id per digest
    rep_id = F.min(
        F.when(F.col("drop_stage").isNull(), F.col(id_col))
    ).over(Window.partitionBy(F.md5(F.col(text_col))))
    deduped = gated.select(
        id_col,
        text_col,
        F.coalesce(
            F.col("drop_stage"),
            F.when(F.col(id_col) != rep_id, F.lit("exact_dup")),
        ).alias("drop_stage"),
    )

    # near-dup over exact-dedup survivors: drop the higher id of each pair
    uniq = deduped.filter(F.col("drop_stage").isNull())
    pairs = lsh_near_dup_pairs(
        minhash_signatures(uniq, text_col, id_col),
        id_col=id_col,
        jaccard_threshold=jaccard_threshold,
    )
    if near_dup_mode == "components":
        # transitive closure: drop every non-canonical member, keep the
        # component min — exactly one survivor per near-dup cluster
        cc = connected_components(pairs, "doc_a", "doc_b", id_col)
        near_dups = cc.filter(F.col(id_col) != F.col("cluster_id")).select(
            id_col
        )
    else:
        near_dups = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    # plain (shuffle) left join, NOT a broadcast: near_dups is the full
    # near-duplicate id set — commonly 20-40% of a web-scale corpus — so a
    # broadcast hint here is O(corpus) driver memory. Let AQE pick the
    # strategy; at fixture scale it still broadcasts on its own.
    return deduped.join(
        near_dups.withColumn("_nd", F.lit(True)),
        id_col,
        "left",
    ).select(
        id_col,
        text_col,
        F.coalesce(
            F.col("drop_stage"), F.when(F.col("_nd"), F.lit("near_dup"))
        ).alias("drop_stage"),
    )


def run(
    spark: SparkSession,
    sf_dir: str,
    target_lang: str = "en",
    jaccard_threshold: float = 0.5,
    near_dup_mode: str = "greedy",
) -> tuple[DataFrame, DataFrame]:
    """Returns (cleaned corpus, attrition report). The report has one row
    per drop stage plus a 'kept' row — counts over the single labeled
    lineage, which is persisted so the two outputs label the corpus once."""
    from taar_gcp_etl_spark.io import read_table
    from taar_gcp_etl_spark.operators.quality import default_rulepack

    docs = read_table(spark, sf_dir, "documents")
    labeled = label_corpus(
        docs,
        default_rulepack(spark),
        target_lang=target_lang,
        jaccard_threshold=jaccard_threshold,
        near_dup_mode=near_dup_mode,
    ).persist()
    cleaned = labeled.filter(F.col("drop_stage").isNull()).select(
        "doc_id", "text"
    )
    report = (
        labeled.select(
            F.coalesce(F.col("drop_stage"), F.lit("kept")).alias("stage")
        )
        .groupBy("stage")
        .count()
    )
    return cleaned, report
