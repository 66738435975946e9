"""Incremental ingest: O(batch) dedup probes against a persisted corpus
index — exact + near-dup attrition, index append, partition pruning."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from taar_gcp_etl_spark.io import read_table
from taar_gcp_etl_spark.jobs import incremental_ingest
from tests.conftest import SF_SMOKE


def _corpus(spark):
    # an already-deduped corpus slice: distinct texts only
    docs = read_table(spark, SF_SMOKE, "documents").filter(
        F.col("doc_id") < 40
    )
    w = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    return docs.join(w, ["doc_id", "text"]).select("doc_id", "text")


class TestIncrementalIngest:
    def test_attrition_and_index_append(self, spark, tmp_path):
        index_dir = str(tmp_path / "index")
        corpus = _corpus(spark)
        incremental_ingest.build_corpus_index(corpus, index_dir)

        rows = corpus.orderBy("doc_id").limit(3).collect()
        exact_copy = [(1000, rows[0].text)]  # exact dup of corpus doc
        near_dup = [(1001, rows[1].text + " extra token")]  # most shingles shared
        fresh = [
            (1002, "completely novel document text nothing like the corpus"),
            (1003, "completely novel document text nothing like the corpus"),
            (1004, "a second genuinely new document with different words"),
        ]  # 1002/1003 are in-batch exact dups of each other
        batch = spark.createDataFrame(
            exact_copy + near_dup + fresh, "doc_id long, text string"
        )

        accepted, rep = incremental_ingest.ingest_batch(
            spark, batch, index_dir
        )
        assert rep["n_batch"] == 5
        assert rep["in_batch_exact_dup"] == 1  # 1003 folded into 1002
        assert rep["corpus_exact_dup"] == 1  # 1000
        assert rep["corpus_near_dup"] == 1  # 1001
        assert rep["accepted"] == 2
        ids = {r.doc_id for r in accepted.collect()}
        assert ids == {1002, 1004}

        # re-ingesting the same batch now hits the APPENDED index: the
        # previously accepted docs are corpus exact-dups this time
        _, rep2 = incremental_ingest.ingest_batch(spark, batch, index_dir)
        assert rep2["corpus_exact_dup"] == 3  # 1000 + 1002 + 1004
        assert rep2["accepted"] == 0

    def test_probe_is_partition_pruned(self, spark, tmp_path):
        index_dir = str(tmp_path / "index")
        corpus = _corpus(spark)
        incremental_ingest.build_corpus_index(corpus, index_dir)

        from taar_gcp_etl_spark.plans import formatted_plan

        digests = spark.read.parquet(os.path.join(index_dir, "digests"))
        one = digests.limit(1).collect()[0]
        pruned = incremental_ingest._pruned(
            digests, digests.filter(F.col("pfx") == one.pfx)
        )
        # the isin filter must reach the scan as a PARTITION filter (whole
        # pfx= directories skipped), not a post-scan row filter
        plan = formatted_plan(pruned.select("digest"))
        assert "PartitionFilters" in plan
        assert "pfx" in plan
        # and it must actually restrict the read to the one prefix
        n_all = digests.count()
        n_pruned = pruned.count()
        n_expected = digests.filter(F.col("pfx") == one.pfx).count()
        assert n_pruned == n_expected < n_all

    def test_no_index_growth_when_disabled(self, spark, tmp_path):
        index_dir = str(tmp_path / "index")
        corpus = _corpus(spark)
        incremental_ingest.build_corpus_index(corpus, index_dir)
        n_before = spark.read.parquet(
            os.path.join(index_dir, "digests")
        ).count()

        batch = spark.createDataFrame(
            [(2000, "never seen before text for the update gate test")],
            "doc_id long, text string",
        )
        _, rep = incremental_ingest.ingest_batch(
            spark, batch, index_dir, update_index=False
        )
        assert rep["accepted"] == 1
        n_after = spark.read.parquet(
            os.path.join(index_dir, "digests")
        ).count()
        assert n_after == n_before


class TestExactVerify:
    def test_exact_jaccard_threshold_decides_not_the_sig_estimate(
        self, spark, tmp_path
    ):
        """With `corpus_text` supplied, the near-dup verdict is the EXACT
        shingle Jaccard against the colliding corpus doc — so the same
        near-identical batch doc is dropped at threshold 0.5 but KEPT at
        threshold 0.99 (its true Jaccard is ~0.85). The 4-signature
        estimate can only resolve quartiles; the exact path makes the
        threshold a real dial."""
        index_dir = str(tmp_path / "index")
        corpus = _corpus(spark)
        incremental_ingest.build_corpus_index(corpus, index_dir)

        base = corpus.orderBy("doc_id").limit(1).collect()[0].text
        batch = spark.createDataFrame(
            [(3000, base + " extra token")], "doc_id long, text string"
        )

        _, rep_lo = incremental_ingest.ingest_batch(
            spark,
            batch,
            index_dir,
            update_index=False,
            corpus_text=corpus,
            jaccard_threshold=0.5,
        )
        assert rep_lo["corpus_near_dup"] == 1
        assert rep_lo["accepted"] == 0

        _, rep_hi = incremental_ingest.ingest_batch(
            spark,
            batch,
            index_dir,
            update_index=False,
            corpus_text=corpus,
            jaccard_threshold=0.99,
        )
        assert rep_hi["corpus_near_dup"] == 0
        assert rep_hi["accepted"] == 1

    def test_exact_verify_matches_signature_path_on_clear_cases(
        self, spark, tmp_path
    ):
        """Exact dup, obvious near-dup, and fresh doc get identical
        verdicts from both verify modes — the exact join only changes
        verdicts in the estimate's error band."""
        index_dir = str(tmp_path / "index")
        corpus = _corpus(spark)
        incremental_ingest.build_corpus_index(corpus, index_dir)

        rows = corpus.orderBy("doc_id").limit(2).collect()
        batch = spark.createDataFrame(
            [
                (4000, rows[0].text),
                (4001, rows[1].text + " extra token"),
                (4002, "entirely unrelated brand new document words here"),
            ],
            "doc_id long, text string",
        )
        _, rep_sig = incremental_ingest.ingest_batch(
            spark, batch, index_dir, update_index=False
        )
        _, rep_exact = incremental_ingest.ingest_batch(
            spark,
            batch,
            index_dir,
            update_index=False,
            corpus_text=corpus,
        )
        assert rep_sig == rep_exact
        assert rep_exact["accepted"] == 1


class TestExactVerifyFallback:
    def test_missing_corpus_text_falls_back_to_signature_verdict(
        self, spark, tmp_path
    ):
        """A candidate whose corpus doc is absent from the text store
        must NOT be silently accepted (the inner-join bug class): it
        falls back to the signature verdict, which drops a near-identical
        doc exactly like the no-text path."""
        index_dir = str(tmp_path / "index")
        corpus = _corpus(spark)
        incremental_ingest.build_corpus_index(corpus, index_dir)

        target = corpus.orderBy("doc_id").limit(1).collect()[0]
        batch = spark.createDataFrame(
            [(3100, target.text + " extra token")],
            "doc_id long, text string",
        )
        # text store MISSING the colliding doc
        lagging = corpus.filter(F.col("doc_id") != target.doc_id)
        _, rep = incremental_ingest.ingest_batch(
            spark,
            batch,
            index_dir,
            update_index=False,
            corpus_text=lagging,
            jaccard_threshold=0.99,  # exact verify would KEEP at 0.99...
        )
        # ...but the text is missing, so the signature verdict (agree
        # >= 2/4 for a near-identical doc) drops it
        assert rep["corpus_near_dup"] == 1
        assert rep["accepted"] == 0


class TestIndexCompaction:
    def test_append_fragmentation_compacted_in_place(self, spark, tmp_path):
        """Three accepted batches append three files into any touched pfx
        partition; compact_index rewrites fragmented partitions down to
        one file each WITHOUT changing the indexed row set."""
        from taar_gcp_etl_spark.operators.layout import partition_file_counts

        index_dir = str(tmp_path / "index")
        corpus = _corpus(spark)
        incremental_ingest.build_corpus_index(corpus, index_dir)

        for i in range(3):
            batch = spark.createDataFrame(
                [
                    (
                        9000 + i,
                        f"fragmentation batch number {i} unique text payload",
                    )
                ],
                "doc_id long, text string",
            )
            _, rep = incremental_ingest.ingest_batch(spark, batch, index_dir)
            assert rep["accepted"] == 1

        digests_dir = os.path.join(index_dir, "digests")
        before = partition_file_counts(spark, digests_dir)
        assert max(before.values()) > 1  # appends fragmented something
        rows_before = {
            (r.digest, r.doc_id)
            for r in spark.read.parquet(digests_dir).collect()
        }

        result = incremental_ingest.compact_index(
            spark, index_dir, max_files_per_partition=1
        )
        assert result["digests"]  # at least one partition rewritten

        after = partition_file_counts(spark, digests_dir)
        assert max(after.values()) == 1
        rows_after = {
            (r.digest, r.doc_id)
            for r in spark.read.parquet(digests_dir).collect()
        }
        assert rows_after == rows_before

    def test_crash_recovery_restores_orphaned_backup(self, spark, tmp_path):
        """Simulate a compaction crash between the two swap renames: the
        live partition dir is gone, its rows sit in the .old_ backup.
        The next compact_partitions call must restore it before doing
        anything else — no rows lost, partition readable again."""
        import shutil

        from taar_gcp_etl_spark.operators.layout import compact_partitions

        index_dir = str(tmp_path / "index")
        incremental_ingest.build_corpus_index(_corpus(spark), index_dir)
        digests_dir = os.path.join(index_dir, "digests")
        rows_before = {
            (r.digest, r.doc_id)
            for r in spark.read.parquet(digests_dir).collect()
        }
        # pick one partition and fake the mid-swap crash state
        part = next(
            d for d in os.listdir(digests_dir) if d.startswith("pfx=")
        )
        val = part.split("=", 1)[1]
        shutil.move(
            os.path.join(digests_dir, part),
            os.path.join(digests_dir, f".old_pfx={val}"),
        )
        partial = {
            (r.digest, r.doc_id)
            for r in spark.read.parquet(digests_dir).collect()
        }
        assert partial < rows_before  # the hole is real pre-recovery

        compact_partitions(spark, digests_dir, max_files=64)
        rows_after = {
            (r.digest, r.doc_id)
            for r in spark.read.parquet(digests_dir).collect()
        }
        assert rows_after == rows_before
        assert not any(
            d.startswith(".old_") for d in os.listdir(digests_dir)
        )

    def test_unfragmented_index_is_noop(self, spark, tmp_path):
        index_dir = str(tmp_path / "index")
        incremental_ingest.build_corpus_index(_corpus(spark), index_dir)
        result = incremental_ingest.compact_index(
            spark, index_dir, max_files_per_partition=64
        )
        assert result == {"digests": {}, "bands": {}}


class TestIngestCli:
    def test_build_index_and_ingest_batch_cli(self, spark, tmp_path):
        """`python -m taar_gcp_etl_spark build_index / ingest_batch` —
        index build, probe, accepted parquet + attrition JSON."""
        import json

        from taar_gcp_etl_spark.__main__ import main

        corpus_path = str(tmp_path / "corpus")
        _corpus(spark).write.parquet(corpus_path)
        dup_text = _corpus(spark).orderBy("doc_id").limit(1).collect()[0].text
        batch_path = str(tmp_path / "batch")
        spark.createDataFrame(
            [(7000, dup_text), (7001, "fresh cli document text entirely new")],
            "doc_id long, text string",
        ).write.parquet(batch_path)

        idx = str(tmp_path / "idx")
        assert main(["build_index", "--corpus", corpus_path, "--index", idx]) == 0
        out, rep = str(tmp_path / "acc"), str(tmp_path / "rep.json")
        assert (
            main(
                [
                    "ingest_batch",
                    "--batch", batch_path,
                    "--index", idx,
                    "--out", out,
                    "--report", rep,
                ]
            )
            == 0
        )
        report = json.load(open(rep))
        assert report["n_batch"] == 2
        assert report["corpus_exact_dup"] == 1
        assert report["accepted"] == 1
        assert spark.read.parquet(out).collect()[0].doc_id == 7001

    def test_compact_index_cli(self, spark, tmp_path):
        from taar_gcp_etl_spark.__main__ import main

        idx = str(tmp_path / "idx")
        incremental_ingest.build_corpus_index(_corpus(spark), idx)
        for i in range(2):
            batch = spark.createDataFrame(
                [(8800 + i, f"cli compaction batch {i} fresh text")],
                "doc_id long, text string",
            )
            incremental_ingest.ingest_batch(spark, batch, idx)
        n_before = spark.read.parquet(os.path.join(idx, "digests")).count()
        assert (
            main(["compact_index", "--index", idx, "--max-files", "1"]) == 0
        )
        assert (
            spark.read.parquet(os.path.join(idx, "digests")).count()
            == n_before
        )
