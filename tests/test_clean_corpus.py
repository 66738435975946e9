"""Composed corpus-cleaning pipeline: stage attrition + invariants."""

from __future__ import annotations

import collections

from pyspark.sql import functions as F

from taar_gcp_etl_spark.io import read_table
from taar_gcp_etl_spark.jobs import clean_corpus
from taar_gcp_etl_spark.operators.quality import default_rulepack
from taar_gcp_etl_spark.operators.text import language_id
from tests.conftest import SF_SMOKE


class TestCleanCorpus:
    def test_every_doc_labeled_once_and_counts_reconcile(self, spark):
        docs = read_table(spark, SF_SMOKE, "documents")
        cleaned, report = clean_corpus.run(spark, SF_SMOKE)
        stages = {r.stage: r["count"] for r in report.collect()}

        assert sum(stages.values()) == docs.count()
        labeled = clean_corpus.label_corpus(docs, default_rulepack(spark))
        assert labeled.select("doc_id").distinct().count() == docs.count()
        assert stages.get("kept", 0) == cleaned.count() > 0

    def test_stage_counts_match_independent_filters(self, spark):
        docs = read_table(spark, SF_SMOKE, "documents")
        _, report = clean_corpus.run(spark, SF_SMOKE)
        stages = {r.stage: r["count"] for r in report.collect()}

        lang = language_id(docs)
        n_lang_dropped = lang.filter(
            F.col("predicted_lang") != "en"
        ).count()
        assert stages.get("language", 0) == n_lang_dropped

        # exact-dup drops = survivors minus distinct texts among survivors
        en_ids = lang.filter(F.col("predicted_lang") == "en").select("doc_id")
        # quality stage evaluated only on language survivors
        assert stages.get("quality", 0) <= en_ids.count()

    def test_stage_counts_match_python_reference(self, spark):
        """Every stage count of the attrition report against a pure-Python
        relabeling of the corpus: the stopword language gate, the rulepack
        quality thresholds and the min id per md5 among gate survivors.
        The near-dup count is the distinct doc_b of the LSH pairs over the
        reference's own unique set."""
        import hashlib
        import re

        from taar_gcp_etl_spark.operators.dedup import (
            lsh_near_dup_pairs,
            minhash_signatures,
        )
        from taar_gcp_etl_spark.operators.quality import (
            DEFAULT_QUALITY_RULES as R,
        )
        from taar_gcp_etl_spark.operators.text import (
            STOPWORDS_DE,
            STOPWORDS_EN,
        )

        docs = read_table(spark, SF_SMOKE, "documents")
        rows = docs.select("doc_id", "text").collect()

        def label(text):
            if text is None:  # NULL scores fall through to 'de'
                return "language"
            # Spark: split(trim(lower(text)), '\s+') — trim strips spaces
            # only, and \s is Java's ASCII whitespace class
            toks = re.split(r"[ \t\n\x0b\f\r]+", text.lower().strip(" "))
            n = len(toks)
            en = sum(t in STOPWORDS_EN for t in toks) / n
            de = sum(t in STOPWORDS_DE for t in toks) / n
            lang = "und" if en == 0 and de == 0 else "en" if en >= de else "de"
            if lang != "en":
                return "language"
            avg = len(text) / n
            stop = sum(t in ("the", "a", "of", "and", "to") for t in toks) / n
            if not (
                n >= R["min_tokens"]
                and R["min_avg_len"] <= avg <= R["max_avg_len"]
                and stop >= R["min_stop_ratio"]
            ):
                return "quality"
            return None

        want = collections.Counter()
        rep: dict[str, int] = {}
        survivors = []
        for r in rows:
            stage = label(r.text)
            if stage:
                want[stage] += 1
                continue
            digest = hashlib.md5(r.text.encode()).hexdigest()
            rep[digest] = min(rep.get(digest, r.doc_id), r.doc_id)
            survivors.append((r.doc_id, digest))
        uniq = [i for i, d in survivors if rep[d] == i]
        want["exact_dup"] += len(survivors) - len(uniq)
        pairs = lsh_near_dup_pairs(
            minhash_signatures(docs.filter(F.col("doc_id").isin(uniq)))
        )
        want["near_dup"] += pairs.select("doc_b").distinct().count()
        want["kept"] += len(uniq) - want["near_dup"]
        assert want["language"] and want["quality"] and want["kept"]

        _, report = clean_corpus.run(spark, SF_SMOKE)
        got = {r.stage: r["count"] for r in report.collect()}
        assert got == {k: v for k, v in want.items() if v}

    def test_cleaned_corpus_has_no_duplicates(self, spark):
        from taar_gcp_etl_spark.operators.dedup import (
            lsh_near_dup_pairs,
            minhash_signatures,
        )

        docs = read_table(spark, SF_SMOKE, "documents")
        cleaned, _ = clean_corpus.run(spark, SF_SMOKE)

        # no two kept docs share content
        assert (
            cleaned.select("text").distinct().count() == cleaned.count()
        )

        # no kept pair remains from the near-dup pair set over the
        # pre-near-dup survivor universe (greedy doc_b removal guarantee)
        labeled = clean_corpus.label_corpus(docs, default_rulepack(spark))
        uniq = labeled.filter(
            F.col("drop_stage").isNull()
            | (F.col("drop_stage") == "near_dup")
        ).select("doc_id", "text")
        pairs = lsh_near_dup_pairs(minhash_signatures(uniq)).collect()
        kept = {r.doc_id for r in cleaned.select("doc_id").collect()}
        both_kept = [
            (p.doc_a, p.doc_b)
            for p in pairs
            if p.doc_a in kept and p.doc_b in kept
        ]
        assert both_kept == []


class TestCleanCorpusCli:
    def test_cli_writes_corpus_and_report(self, spark, tmp_path):
        """`python -m taar_gcp_etl_spark clean_corpus` — parquet out +
        attrition JSON, totals reconciling with the input corpus."""
        import json

        from taar_gcp_etl_spark.__main__ import main

        out = str(tmp_path / "cleaned")
        report = str(tmp_path / "report.json")
        rc = main(
            [
                "clean_corpus",
                "--sf-dir",
                SF_SMOKE,
                "--out",
                out,
                "--report",
                report,
            ]
        )
        assert rc == 0
        stages = json.load(open(report))
        docs = read_table(spark, SF_SMOKE, "documents")
        assert sum(stages.values()) == docs.count()
        assert stages["kept"] > 0


class TestRepetition:
    def test_repetition_detects_looping_text(self, spark):
        from pyspark.sql import Row

        from taar_gcp_etl_spark.operators.text import repetition_stats

        rows = [
            Row(doc_id=1, text="spam ham eggs " * 20),  # pure loop
            Row(doc_id=2, text="the quick brown fox jumps over a lazy dog"),
            Row(doc_id=3, text="too short"),  # < n tokens -> 0 grams
        ]
        got = {
            r.doc_id: r
            for r in repetition_stats(spark.createDataFrame(rows)).collect()
        }
        assert got[1].repeat_ratio > 0.9
        assert got[2].repeat_ratio == 0.0
        assert got[3].n_grams == 0 and got[3].repeat_ratio == 0.0


class TestComponentsMode:
    def test_components_mode_keeps_one_canonical_per_cluster(self, spark):
        """near_dup_mode='components': every near-dup component keeps
        EXACTLY its min-id member; greedy mode can only keep fewer or the
        same documents (it drops doc_b of every pair, including chain
        tails that components mode may keep)."""
        from taar_gcp_etl_spark.operators.dedup import (
            connected_components,
            lsh_near_dup_pairs,
            minhash_signatures,
        )

        docs = read_table(spark, SF_SMOKE, "documents")
        rules = default_rulepack(spark)
        cc_labeled = clean_corpus.label_corpus(
            docs, rules, near_dup_mode="components"
        )
        greedy_labeled = clean_corpus.label_corpus(docs, rules)

        # rebuild the same pair universe the pipeline saw
        uniq = cc_labeled.filter(
            F.col("drop_stage").isNull() | (F.col("drop_stage") == "near_dup")
        ).select("doc_id", "text")
        pairs = lsh_near_dup_pairs(minhash_signatures(uniq))
        labels = {
            r.doc_id: r.cluster_id
            for r in connected_components(pairs).collect()
        }
        assert labels, "fixture should contain near-dup pairs"

        kept_cc = {
            r.doc_id
            for r in cc_labeled.filter(F.col("drop_stage").isNull()).collect()
        }
        # per component: the canonical (min id) survives, others dropped
        import collections

        comp = collections.defaultdict(set)
        for node, lbl in labels.items():
            comp[lbl].add(node)
        for lbl, members in comp.items():
            assert lbl in kept_cc
            assert not (members - {lbl}) & kept_cc

        kept_greedy = {
            r.doc_id
            for r in greedy_labeled.filter(
                F.col("drop_stage").isNull()
            ).collect()
        }
        assert kept_greedy <= kept_cc


class TestBuildTrainingSet:
    def test_end_to_end_manifest_and_shards(self, spark, tmp_path):
        """The composed clean->tokenize->pack job must produce internally
        consistent output: packed rows only for cleaned docs, exact global
        token accounting, contiguous seq_id shards, and a manifest whose
        attrition sums to the corpus size. A second run reproduces the
        shard membership."""
        import glob
        import json

        import pyarrow.parquet as pq

        from taar_gcp_etl_spark.jobs import build_training_set
        from tests.conftest import SF_SMOKE

        def build(name):
            out = str(tmp_path / name)
            manifest = build_training_set.run(
                spark,
                SF_SMOKE,
                out,
                f"{out}.json",
                seq_len=128,
                vocab_size=20,
                n_shards=3,
            )
            assert manifest == json.load(open(f"{out}.json"))
            parts = [
                pq.read_table(f, columns=["doc_id", "seq_id"]).to_pydict()
                for f in sorted(glob.glob(f"{out}/packed/part-*.parquet"))
            ]
            return out, manifest, parts

        out, manifest, parts = build("ts")
        # the part files hold disjoint, ascending seq_id ranges
        assert len(parts) > 1
        for lo, hi in zip(parts, parts[1:]):
            assert max(lo["seq_id"]) < min(hi["seq_id"])
        seq_files = collections.Counter(
            s for p in parts for s in set(p["seq_id"])
        )
        assert set(seq_files.values()) == {1}
        # a re-run puts the same documents in the same part files
        _, manifest2, parts2 = build("ts2")
        assert manifest2 == manifest
        assert [set(p["doc_id"]) for p in parts2] == [
            set(p["doc_id"]) for p in parts
        ]
        # attrition accounts for every document in the corpus
        from taar_gcp_etl_spark.io import read_table

        n_docs_raw = read_table(spark, SF_SMOKE, "documents").count()
        assert sum(manifest["attrition"].values()) == n_docs_raw
        assert manifest["n_docs"] == manifest["attrition"].get("kept", 0)
        assert manifest["n_docs"] > 0

        packed = spark.read.parquet(f"{out}/packed")
        rows = packed.collect()
        assert len(rows) == manifest["n_docs"]
        # exact token accounting: prefix of the LAST doc + its tokens
        # equals the total count
        by_offset = sorted(rows, key=lambda r: r.tokens_before)
        total = by_offset[-1].tokens_before + by_offset[-1].n_tokens
        assert total == manifest["n_tokens"]
        assert manifest["n_sequences"] == total // 128 + (
            1 if total % 128 else 0
        )
        # every token id decodes through the written vocab or is OOV
        vocab_ids = {
            r.id for r in spark.read.parquet(f"{out}/vocab").collect()
        }
        assert vocab_ids == set(range(20))
        sample = rows[0].token_ids
        assert all(t == -1 or t in vocab_ids for t in sample)


class TestLeakSafeSplit:
    def test_near_dup_pairs_never_straddle_splits(self, spark):
        """The invariant the query exists for: every near-dup pair's two
        documents carry the SAME split label (an eval doc can never have
        a training-set twin)."""
        from taar_gcp_etl_spark.operators.dedup import ngram_jaccard_pairs
        from taar_gcp_etl_spark.queries import SPARK_QUERIES, _wide

        sf = "/root/testdata/sf0.001"
        split = SPARK_QUERIES["leak_safe_split"](spark, sf)
        docs = _wide(spark, sf, "documents").filter(F.col("doc_id") < 256)
        pairs = ngram_jaccard_pairs(docs).filter(F.col("jaccard") >= 0.5)
        a = split.select(
            F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
        )
        b = split.select(
            F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
        )
        straddlers = (
            pairs.join(a, "doc_a")
            .join(b, "doc_b")
            .filter(F.col("split_a") != F.col("split_b"))
            .count()
        )
        assert pairs.count() > 0  # fixture actually has near-dups
        assert straddlers == 0

    def test_every_document_assigned_exactly_once(self, spark):
        from taar_gcp_etl_spark.queries import SPARK_QUERIES

        sf = "/root/testdata/sf0.001"
        split = SPARK_QUERIES["leak_safe_split"](spark, sf)
        rows = split.collect()
        assert len(rows) == len({r["doc_id"] for r in rows})
        assert {r["split"] for r in rows} <= {"train", "val", "test"}
