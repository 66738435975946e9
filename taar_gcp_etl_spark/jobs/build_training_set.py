"""End-to-end training-set builder: the composed job the round-3 LLM
operators exist for.

    clean (language → quality → exact dup → near dup)
      → tokenize against the cleaned corpus's own vocabulary
      → pack into fixed-length training sequences
      → write range-sharded parquet + a JSON manifest

No reference counterpart (the reference is addon-metadata ETL); this is
the pipeline a pretraining-data team runs over the cleaned corpus.

Scale design:
  - each stage consumes the previous stage's DataFrame — one driver
    program, one cluster session, no intermediate landing zone (a
    deployment that wants restartability inserts parquet checkpoints
    between the stage calls; the stages are plain DataFrame-in /
    DataFrame-out functions, so that is a caller-side write+read, not an
    engine mode);
  - tokenization happens AFTER cleaning, so the vocabulary and the
    token-count statistics reflect only surviving documents;
  - the corpus is tokenized once: the vocabulary fit and the encoding
    read the cleaned corpus, and packing reads the encoded rows (their
    n_tokens), so nothing is re-split or joined back on doc_id;
  - packing's prefix sum orders by doc_id, and shard k holds the k-th of
    n_shards equal runs of seq_ids, assigned as an exact partition id
    (no sampled range bounds) — a re-run reproduces byte-identical shard
    membership;
  - the output is range-sharded on seq_id so each training shard holds a
    contiguous run of sequences (a data loader streams shards in order
    without a shuffle pass).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def build(
    spark: SparkSession,
    sf_dir: str,
    seq_len: int = 2048,
    vocab_size: int = 1000,
    target_lang: str = "en",
    near_dup_mode: str = "greedy",
    shuffle_docs: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (packed, vocab, attrition): `packed` is one row per
    surviving document — token_ids plus its packed position (seq_id,
    offset_in_seq, n_seqs_spanned); `vocab` the (token, id) dictionary;
    `attrition` the per-stage drop report."""
    from taar_gcp_etl_spark.jobs import clean_corpus
    from taar_gcp_etl_spark.operators.packing import pack_positions
    from taar_gcp_etl_spark.operators.text import (
        tokenize_to_ids,
        vocab_with_ids,
    )

    cleaned, attrition = clean_corpus.run(
        spark, sf_dir, target_lang=target_lang, near_dup_mode=near_dup_mode
    )
    # cleaned is consumed twice (vocab fit, tokenize); it reads the
    # labeled corpus clean_corpus.run persisted
    vocab = vocab_with_ids(cleaned, vocab_size=vocab_size)
    encoded = tokenize_to_ids(cleaned, vocab)
    # the encoded rows carry n_tokens, so they are packed as they are: no
    # second tokenization, no join back on doc_id. shuffle_docs=True packs
    # in deterministic hash order instead of doc_id order — the global
    # pseudo-random permutation a training run wants (crawl order is
    # domain-correlated); still fully reproducible
    packed = pack_positions(encoded, seq_len, shuffle=shuffle_docs)
    return packed, vocab, attrition


def run(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    manifest_path: str,
    seq_len: int = 2048,
    vocab_size: int = 1000,
    n_shards: int = 8,
    target_lang: str = "en",
    near_dup_mode: str = "greedy",
    shuffle_docs: bool = False,
) -> dict:
    """Materialize: range-sharded parquet (contiguous seq_id runs per
    shard) + vocab parquet + JSON manifest with the stats a data loader
    and an auditor need. Returns the manifest dict."""
    packed, vocab, attrition = build(
        spark,
        sf_dir,
        seq_len=seq_len,
        vocab_size=vocab_size,
        target_lang=target_lang,
        near_dup_mode=near_dup_mode,
        shuffle_docs=shuffle_docs,
    )
    stats = packed.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_oov").alias("n_oov"),
    ).collect()[0]
    total_tokens = int(stats["n_tokens"] or 0)
    # ceil(total/seq_len): max(seq_id)+1 would undercount when the final
    # document spans past its starting sequence
    n_sequences = -(-total_tokens // seq_len)
    # Shard k holds the k-th of n_shards equal runs of sequences: an exact
    # partition id, not repartitionByRange, whose bounds come from a
    # sample seeded by the RDD id — a re-run could move rows across shards
    shard = F.floor(F.col("seq_id") * n_shards / max(n_sequences, 1))
    (
        packed.repartitionById(n_shards, shard.cast("int"))
        .sortWithinPartitions("seq_id", "doc_id")
        .write.mode("overwrite")
        .parquet(f"{out_dir}/packed")
    )
    # the vocabulary is at most vocab_size rows: one file
    vocab.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/vocab")

    manifest = {
        "seq_len": seq_len,
        "vocab_size": vocab_size,
        "n_shards": n_shards,
        "shuffle_docs": shuffle_docs,
        "n_docs": stats["n_docs"],
        "n_tokens": total_tokens,
        "n_oov": int(stats["n_oov"] or 0),
        "n_sequences": n_sequences,
        "attrition": {
            r["stage"]: r["count"] for r in attrition.collect()
        },
    }
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)
    return manifest
