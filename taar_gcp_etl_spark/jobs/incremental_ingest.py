"""Incremental corpus ingest: dedupe a NEW document batch against an
EXISTING corpus without rescanning the corpus.

The batch jobs (clean_corpus, build_training_set) assume the whole corpus
is in hand. Production corpora grow daily: the realistic shape at 100 TB
is "yesterday's 100 TB is already deduped and indexed; today's 0.1 TB
batch must be checked against it in O(batch), not O(corpus)". This job
maintains that index and runs that probe.

Index layout (parquet, written once, appended per accepted batch):
  <index_dir>/digests/  — (digest, doc_id), partitioned by `pfx` = the
    first 2 hex chars of the content md5 (256 partitions).
  <index_dir>/bands/    — (band, doc_id, sig0..sig3), partitioned by
    `pfx` = first 2 hex chars of md5(band).

Scale design:
  - Probes are PARTITION-PRUNED: the batch's distinct key prefixes (≤256)
    become an `isin` filter on the partition column, so the exact probe
    reads only the index partitions the batch can possibly hit. For a
    small batch that is a small fraction of the index; a batch large
    enough to touch all 256 prefixes still reads each partition at most
    once (never more than one full index scan, vs. one scan per batch
    document for a naive per-doc lookup).
  - Join direction: `batch LEFT ANTI index_slice` on the digest. The
    batch side is the small side; the pruned index slice shuffles by
    digest only within the touched partitions. No O(corpus) broadcast
    anywhere (index >> driver memory by design).
  - Near-dup probe is the LSH band equi-join against the band index, so
    candidate volume is proportional to true collision density, exactly
    like the in-corpus `lsh_near_dup_pairs`. The index stores the 4
    MinHash signatures (16 bytes/doc), NOT the shingle sets (O(text)):
    the verdict is the signature-agreement Jaccard estimate
    (matching sigs / 4 ≥ threshold). Full-text verification would require
    a join back to the corpus text store; with 4 signatures the estimate
    is coarse (quartiles), so `sig_agree_min` defaults to 2/4 = an
    estimated Jaccard ≥ 0.5 — same threshold the batch pipeline verifies
    exactly. Corpus-side hot bands were capped at index-build time;
    batch-side banding needs no cap (the join fans out only into indexed
    bands).
  - Index maintenance is an APPEND of the accepted docs' digest and band
    rows into the same partition layout — no rewrite of existing data.
    Each append adds one file per touched partition; pair with
    operators.layout.compact_partitions on a slow cadence (the standard
    small-file story).

No reference counterpart (the reference rebuilds its whitelists from
scratch each run — at its scale a full rescan is fine; at 100 TB it is
not).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_SIGS = 4


def _digest_rows(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    d = F.md5(F.col(text_col))
    return docs.select(
        d.alias("digest"),
        F.col(id_col).alias("doc_id"),
        F.substring(d, 1, 2).alias("pfx"),
    )


def _band_rows(signed: DataFrame, id_col: str) -> DataFrame:
    """(band, doc_id, sig0..3, pfx) — one row per (doc, signature band).
    Band key 'i:sig_i' matches operators.dedup.lsh_near_dup_pairs."""
    sigs = [f"sig{i}" for i in range(N_SIGS)]
    bands = F.array(
        *[
            F.concat_ws(":", F.lit(str(i)), F.col(s))
            for i, s in enumerate(sigs)
        ]
    )
    return signed.select(
        F.col(id_col).alias("doc_id"), *sigs, F.explode(bands).alias("band")
    ).withColumn("pfx", F.substring(F.md5(F.col("band")), 1, 2))


def build_corpus_index(
    docs: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_band_size: int = 1000,
) -> None:
    """Materialize the digest + band indexes for an already-deduped corpus.
    One corpus scan feeds both writes (signatures derive from the same
    projection). Hot bands are dropped here, once, at build time — a
    boilerplate band would otherwise fan every future batch join out into
    its cohort."""
    from taar_gcp_etl_spark.operators.dedup import (
        drop_hot_bands,
        minhash_signatures,
    )

    _digest_rows(docs, text_col, id_col).write.partitionBy("pfx").mode(
        "overwrite"
    ).parquet(os.path.join(index_dir, "digests"))

    signed = minhash_signatures(docs, text_col, id_col).drop("shingles")
    bands = drop_hot_bands(
        _band_rows(signed, id_col), "band", max_band_size
    )
    bands.write.partitionBy("pfx").mode("overwrite").parquet(
        os.path.join(index_dir, "bands")
    )


def _pruned(index: DataFrame, probe: DataFrame) -> DataFrame:
    """Restrict an index read to the partitions the probe can hit. The
    distinct-prefix list is tiny (≤256 two-hex-char strings) — collecting
    it is a driver-side constant, and the resulting `isin` lands in the
    scan's PartitionFilters (verified by tests), so unmatched partitions
    are never read."""
    prefixes = [r.pfx for r in probe.select("pfx").distinct().collect()]
    return index.filter(F.col("pfx").isin(prefixes))


def ingest_batch(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    sig_agree_min: int = 2,
    update_index: bool = True,
    corpus_text: DataFrame | None = None,
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
) -> tuple[DataFrame, dict[str, int]]:
    """Ingest a new batch against the index: in-batch exact dedup →
    corpus exact probe → corpus near-dup probe → (optionally) append the
    accepted docs to the index. Returns (accepted_docs, attrition).

    The batch is assumed driver-collectable in COUNT only (the attrition
    report); document contents never move to the driver. The three
    filters run as one lineage over a cached batch projection — the cache
    is justified because the batch is the small side (0.1% of corpus in
    the motivating shape) and is consumed by four actions.

    Near-dup verdicts: by default the 4-signature agreement estimate
    (coarse — quartile Jaccard resolution, no corpus I/O beyond the band
    index). Pass `corpus_text` (an (id_col, text_col) view of the corpus
    text store) to verify candidates by EXACT shingle Jaccard instead:
    the band join's candidate PAIRS pull only their corpus documents
    (an equi-join on the candidate id set — never a corpus broadcast,
    never a corpus scan beyond the join's pruned side), both sides'
    shingle sets are computed just for those docs, and a batch doc is
    dropped only when some pair's exact Jaccard >= `jaccard_threshold`.
    A candidate whose corpus doc is absent from `corpus_text` (text
    store lagging the index, stale snapshot) falls back to the
    signature-agreement verdict rather than being silently accepted.
    Candidate volume ∝ true collision density (hot bands were capped at
    index-build time), so the verify join is O(candidates), not
    O(batch × corpus)."""
    from taar_gcp_etl_spark.operators.dedup import minhash_signatures

    digests = spark.read.parquet(os.path.join(index_dir, "digests"))
    band_index = spark.read.parquet(os.path.join(index_dir, "bands"))

    b = batch.select(id_col, text_col).withColumn(
        "digest", F.md5(F.col(text_col))
    )
    n_batch = b.count()

    # 1. in-batch exact dedup: keep the min-id representative per digest
    w_min = b.groupBy("digest").agg(F.min(id_col).alias("_rep"))
    b1 = (
        b.join(w_min, "digest")
        .filter(F.col(id_col) == F.col("_rep"))
        .drop("_rep")
        .withColumn("pfx", F.substring(F.col("digest"), 1, 2))
        .cache()
    )
    n_in_batch_unique = b1.count()

    # 2. exact probe against the pruned digest index
    b2 = b1.join(
        _pruned(digests, b1).select("digest"), "digest", "left_anti"
    ).cache()
    n_after_exact = b2.count()

    # 3. near-dup probe: batch bands vs pruned band index; verdict by
    # signature agreement (≥ sig_agree_min of 4 ⇒ est. Jaccard ≥ min/4)
    signed = minhash_signatures(b2, text_col, id_col).drop("shingles")
    bb = _band_rows(signed, id_col)
    idx = _pruned(band_index, bb)
    # one definition of the signature-agreement verdict and the aliased
    # index projection for BOTH verify modes — the text-verify fallback
    # must never diverge from the no-text path
    agree = sum(
        (F.col(f"sig{i}") == F.col(f"c_sig{i}")).cast("int")
        for i in range(N_SIGS)
    )
    idx_sigs = idx.select(
        "band",
        F.col("doc_id").alias("c_doc_id"),
        *[F.col(f"sig{i}").alias(f"c_sig{i}") for i in range(N_SIGS)],
    )
    if corpus_text is None:
        near = (
            bb.join(idx_sigs, "band")
            .filter(agree >= F.lit(sig_agree_min))
            .select("doc_id")
            .distinct()
        )
    else:
        from taar_gcp_etl_spark.functions import tokens
        from taar_gcp_etl_spark.operators.dedup import token_shingles

        def shingled(df: DataFrame, id_as: str, sh_as: str) -> DataFrame:
            return df.select(
                F.col(id_col).alias(id_as), tokens(text_col).alias("_toks")
            ).select(id_as, token_shingles(F.col("_toks"), shingle_n).alias(
                sh_as
            ))

        cand = (
            bb.join(idx_sigs, "band")
            .select(
                "doc_id",
                "c_doc_id",
                (agree >= F.lit(sig_agree_min)).alias("_sig_verdict"),
            )
            .distinct()
        )
        c_sh = shingled(corpus_text, "c_doc_id", "_c_sh")
        b_sh = shingled(b2, "doc_id", "_b_sh")
        inter = F.size(F.array_intersect("_b_sh", "_c_sh"))
        union = F.size("_b_sh") + F.size("_c_sh") - inter
        # LEFT join to the text store: a candidate whose corpus doc is
        # absent from corpus_text (stale snapshot, text store lagging the
        # index) must NOT be silently dropped-and-accepted — it falls
        # back to the signature-agreement verdict, which needs no text.
        near = (
            cand.join(c_sh, "c_doc_id", "left")
            .join(b_sh, "doc_id")
            .filter(
                F.when(
                    F.col("_c_sh").isNotNull() & (union > 0),
                    inter / union >= F.lit(jaccard_threshold),
                ).otherwise(F.col("_sig_verdict"))
            )
            .select("doc_id")
            .distinct()
        )
    # localCheckpoint, not cache: the index APPEND below refreshes the
    # parquet paths this lineage read from, which drops any dependent
    # cache entry — a cached `accepted` would silently recompute against
    # the just-updated index and dedupe itself away. Checkpointing cuts
    # the lineage so the accepted set is fixed before the index moves.
    accepted = b2.join(
        near.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    ).localCheckpoint(eager=True)
    n_accepted = accepted.count()

    report = {
        "n_batch": n_batch,
        "in_batch_exact_dup": n_batch - n_in_batch_unique,
        "corpus_exact_dup": n_in_batch_unique - n_after_exact,
        "corpus_near_dup": n_after_exact - n_accepted,
        "accepted": n_accepted,
    }

    if update_index and n_accepted:
        _digest_rows(accepted, text_col, id_col).write.partitionBy(
            "pfx"
        ).mode("append").parquet(os.path.join(index_dir, "digests"))
        acc_signed = minhash_signatures(accepted, text_col, id_col).drop(
            "shingles"
        )
        _band_rows(acc_signed, id_col).write.partitionBy("pfx").mode(
            "append"
        ).parquet(os.path.join(index_dir, "bands"))

    b1.unpersist()
    b2.unpersist()
    return accepted.select(id_col, text_col), report


def compact_index(
    spark: SparkSession,
    index_dir: str,
    max_files_per_partition: int = 8,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, dict[str, int]]:
    """Maintenance cadence for the append-only index: each `ingest_batch`
    append adds one file per touched `pfx` partition, so after ~k batches
    a hot partition holds ~k small files and every probe pays k opens.
    Compacts any digest/band partition over `max_files_per_partition`
    via operators.layout.compact_partitions (in-place, per-partition,
    Hadoop-FS swap) and returns {sub_index: {pfx: files_after}}.

    Cadence guidance: call after every ~max_files_per_partition accepted
    batches (the count is exactly the fragmentation bound), or on a daily
    tick — compaction cost is proportional to the fragmented slice only,
    so an over-eager cadence wastes nothing but the file-listing pass."""
    from taar_gcp_etl_spark.operators.layout import compact_partitions

    return {
        sub: compact_partitions(
            spark,
            os.path.join(index_dir, sub),
            partition_col="pfx",
            max_files=max_files_per_partition,
            target_file_bytes=target_file_bytes,
        )
        for sub in ("digests", "bands")
    }
