"""Scale-feature tests: salting correctness, bucketed co-located joins
(shuffle elimination visible in the plan), approx-aggregate tolerances."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from taar_gcp_etl_spark.io import read_table
from taar_gcp_etl_spark.operators.skew import salted_grouped_agg, salted_join
from taar_gcp_etl_spark.plans import formatted_plan
from tests.conftest import SF_SMOKE


class TestSalting:
    def test_salted_agg_equals_direct(self, spark):
        """Salted two-phase aggregation must be value-identical to the
        direct groupBy (longs — exact)."""
        ev = read_table(spark, SF_SMOKE, "events").withColumn(
            "v", F.col("event_id") % 97
        )
        direct = {
            r.event_type: (r.s, r.n)
            for r in ev.groupBy("event_type")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect()
        }
        salted = {
            r.event_type: (r.sum_v, r.n_rows)
            for r in salted_grouped_agg(ev, "event_type", "v").collect()
        }
        assert salted == direct

    def test_salted_join_equals_plain(self, spark):
        ev = read_table(spark, SF_SMOKE, "events")
        dim = spark.createDataFrame(
            [("click", 1), ("view", 2), ("purchase", 3), ("signup", 4), ("error", 5)],
            ["event_type", "type_id"],
        )
        plain = sorted(
            (r.event_id, r.type_id)
            for r in ev.join(dim, "event_type").select("event_id", "type_id").collect()
        )
        salted = sorted(
            (r.event_id, r.type_id)
            for r in salted_join(ev, dim, "event_type", buckets=4)
            .select("event_id", "type_id")
            .collect()
        )
        assert salted == plain


class TestBucketing:
    def test_bucketed_join_eliminates_shuffle(self, spark, tmp_path):
        """Two tables bucketed on the join key must sort-merge join with NO
        Exchange on either side — the co-located join that saves the
        dominant shuffle of a 100 TB fact-fact join."""
        orders = read_table(spark, SF_SMOKE, "orders")
        lineitem = read_table(spark, SF_SMOKE, "lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        (
            orders.write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("overwrite")
            .saveAsTable("b_orders")
        )
        (
            lineitem.withColumnRenamed("l_orderkey", "o_orderkey")
            .write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .mode("overwrite")
            .saveAsTable("b_lineitem")
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("b_lineitem").join(
                spark.table("b_orders"), "o_orderkey"
            )
            plan = formatted_plan(joined)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "bucketed join must not shuffle"
            # sanity: result is right
            assert joined.count() == lineitem.count()
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
            spark.sql("DROP TABLE IF EXISTS b_orders")
            spark.sql("DROP TABLE IF EXISTS b_lineitem")


class TestMergeScd2:

    def test_upsert_duplicate_update_keys_last_write_wins(self, spark):
        from taar_gcp_etl_spark.operators.merge import upsert

        store = spark.createDataFrame(
            [("k1", 1, 100), ("k2", 1, 200)], "k string, v int, ts int"
        )
        updates = spark.createDataFrame(
            [("k1", 2, 300), ("k1", 3, 400), ("k3", 9, 350)],
            "k string, v int, ts int",
        )
        out = upsert(store, updates, "k", order_by=F.col("ts"))
        rows = {r.k: r.v for r in out.collect()}
        assert rows == {"k1": 3, "k2": 1, "k3": 9}  # one version per key
        assert out.count() == 3
        # no order_by: still exactly one row per key, deterministically
        out2 = upsert(store, updates, "k")
        assert out2.count() == 3
        assert out2.filter(F.col("k") == "k1").count() == 1


class TestLshHotBandCap:
    def test_boilerplate_band_is_dropped(self, spark):
        """A synthetic viral band (every doc shares sig0) must be excluded
        from candidate generation, bounding the self-join at max_band_size²
        per band; discriminative bands still pair their docs."""
        from taar_gcp_etl_spark.operators.dedup import lsh_near_dup_pairs

        n = 40
        rows = [
            # same shingle set pairwise only for (0,1): sig1..3 unique
            # elsewhere; sig0 identical EVERYWHERE (the boilerplate band)
            (i, ["a b c", "d e f"] if i < 2 else [f"x{i} y z", f"q{i} r s"],
             "HOT",
             "s1_near" if i < 2 else f"s1_{i}",
             "s2_near" if i < 2 else f"s2_{i}",
             "s3_near" if i < 2 else f"s3_{i}")
            for i in range(n)
        ]
        signed = spark.createDataFrame(
            rows,
            "doc_id long, shingles array<string>, sig0 string, sig1 string,"
            " sig2 string, sig3 string",
        )
        # cap below the hot band's size: only sig1..3 bands generate pairs
        out = lsh_near_dup_pairs(signed, max_band_size=10).collect()
        assert {(r.doc_a, r.doc_b) for r in out} == {(0, 1)}
        # uncapped: the hot band generates all C(40,2) candidates, but only
        # the true near-dup pair survives jaccard verification
        uncapped = lsh_near_dup_pairs(signed, max_band_size=None).collect()
        assert {(r.doc_a, r.doc_b) for r in uncapped} == {(0, 1)}

    def test_candidate_volume_bounded(self, spark):
        """Direct check on the band stage: with the cap, no candidate pairs
        come from the hot band at all."""
        from taar_gcp_etl_spark.operators.dedup import drop_hot_bands

        bands = spark.createDataFrame(
            [(i, "HOT") for i in range(50)] + [(1, "b1"), (2, "b1")],
            "doc_id long, band string",
        )
        kept = drop_hot_bands(bands, max_band_size=10)
        assert kept.count() == 2
        assert {r.band for r in kept.collect()} == {"b1"}


class TestNoGlobalWindows:
    def test_no_unpartitioned_window_in_package(self):
        """Every Window in the engine must be partitioned: a Window.orderBy
        without partitionBy is a single-task global sort — the one plan shape
        that cannot scale past one executor (VERDICT r1 §wrong-1)."""
        import pathlib
        import re

        pkg = pathlib.Path("taar_gcp_etl_spark")
        offenders = []
        for path in pkg.rglob("*.py"):
            src = path.read_text()
            # Window.orderBy(...) directly on the class (not on a
            # Window.partitionBy(...) spec object) is the global-sort shape
            for m in re.finditer(r"Window\s*\.\s*orderBy\s*\(", src):
                offenders.append(f"{path}:{src[:m.start()].count(chr(10))+1}")
            # partitionBy(F.lit(...)) LOOKS partitioned but Catalyst
            # folds the literal out of the physical spec — a truly
            # unpartitioned window plus Spark's scale-hazard warning
            # (r13, VERDICT r12 #7); use a non-foldable constant like
            # isnull(<col>) for deliberate bounded single partitions
            for m in re.finditer(r"partitionBy\s*\(\s*F\.lit\s*\(", src):
                offenders.append(f"{path}:{src[:m.start()].count(chr(10))+1}")
        assert not offenders, f"unpartitioned windows: {offenders}"

    def test_bounded_single_partition_key_survives_to_plan(self, spark):
        """binary_auc / skew_report sort a DOCUMENTED-BOUNDED relation in
        one deliberate partition; the constant partition key must survive
        into the physical window spec — a folded-away key plans a truly
        unpartitioned window and fires Spark's "No Partition Defined for
        Window" warning in driver logs (VERDICT r12 #7)."""
        import re

        from taar_gcp_etl_spark.queries import SPARK_QUERIES

        for name in ("binary_auc", "skew_report"):
            plan = (
                SPARK_QUERIES[name](spark, SF_SMOKE)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            # a physical Window line reads
            #   Window [funcs...], [partition cols], [order cols]
            # (the constant key is projected into a _w0 attribute below)
            # — the folded/unpartitioned shape has NO middle group.
            specs = re.findall(r"windowspecdefinition\([^\n]*", plan)
            assert specs, f"{name}: no window in plan?"
            for s in specs:
                assert s.count("], [") >= 2, (name, s)


class TestApproxAggregates:
    def test_approx_count_distinct_within_rsd(self, spark):
        ev = read_table(spark, SF_SMOKE, "events")
        exact = {
            r.event_type: r.n
            for r in ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        approx = {
            r.event_type: r.n
            for r in ev.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id", 0.01).alias("n"))
            .collect()
        }
        for k, n in exact.items():
            assert abs(approx[k] - n) <= max(1, 0.05 * n)

    def test_percentile_approx_close_to_exact(self, spark):
        ev = read_table(spark, SF_SMOKE, "events")
        row = ev.agg(
            F.percentile_approx("value", 0.5, 10000).alias("ap"),
            F.percentile("value", 0.5).alias("ex"),
        ).collect()[0]
        assert row.ap == pytest.approx(row.ex, rel=0.05)


class TestSequencePacking:
    """pack_sequences — the distributed prefix-sum must be exact and
    invariant to the partition count (the scale knob must not change
    results)."""

    def test_prefix_sum_matches_driver_computation(self, spark):
        from taar_gcp_etl_spark.operators.packing import pack_sequences

        docs = read_table(spark, SF_SMOKE, "documents")
        out = {
            r.doc_id: r
            for r in pack_sequences(docs, 100, num_partitions=5).collect()
        }
        running = 0
        for doc_id in sorted(out):
            r = out[doc_id]
            assert r.tokens_before == running
            assert r.seq_id == running // 100
            assert r.offset_in_seq == running % 100
            last = running + max(r.n_tokens - 1, 0)
            assert r.n_seqs_spanned == last // 100 - r.seq_id + 1
            running += r.n_tokens

    def test_invariant_to_partition_count(self, spark):
        from taar_gcp_etl_spark.operators.packing import pack_sequences

        docs = read_table(spark, SF_SMOKE, "documents")
        a = sorted(
            map(tuple, pack_sequences(docs, 64, num_partitions=1).collect())
        )
        b = sorted(
            map(tuple, pack_sequences(docs, 64, num_partitions=13).collect())
        )
        assert a == b

    def test_shuffled_packing_is_deterministic_permutation(self, spark):
        """shuffle=True must (a) still be an exact prefix sum in hash
        order, (b) reproduce identically across runs and partition counts,
        (c) actually change the packing order vs id order."""
        from taar_gcp_etl_spark.operators.packing import pack_sequences

        docs = read_table(spark, SF_SMOKE, "documents")
        a = pack_sequences(docs, 100, num_partitions=5, shuffle=True)
        b = pack_sequences(docs, 100, num_partitions=11, shuffle=True)
        rows_a = sorted(map(tuple, a.collect()))
        assert rows_a == sorted(map(tuple, b.collect()))

        # exact prefix sum when replayed in (xxhash64(id), id) order
        hashed = {
            r.doc_id: r.h
            for r in docs.select(
                "doc_id", F.xxhash64("doc_id").alias("h")
            ).collect()
        }
        out = {r.doc_id: r for r in a.collect()}
        running = 0
        for doc_id in sorted(out, key=lambda d: (hashed[d], d)):
            r = out[doc_id]
            assert r.tokens_before == running
            assert r.seq_id == running // 100
            running += r.n_tokens

        # the permutation differs from id order (astronomically certain
        # on a 100+-doc fixture unless the hash degenerates)
        id_order = sorted(out)
        hash_order = sorted(out, key=lambda d: (hashed[d], d))
        assert id_order != hash_order


class TestInt8Ann:
    def test_recall_vs_exact_topk(self, spark):
        """Quantization to int8 must preserve neighbor ranking well enough:
        recall@5 vs the exact float cosine top-5 above 0.6 on the fixture
        (64-dim synthetic embeddings; affine per-dim quantization)."""
        from taar_gcp_etl_spark.operators.similarity import (
            cosine_topk_bruteforce,
            int8_topk,
        )

        emb = read_table(spark, SF_SMOKE, "embeddings")
        q = emb.filter(F.col("vec_id") < 20)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk_bruteforce(emb, q, k=5).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in int8_topk(emb, q, k=5).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall > 0.6, f"int8 recall@5 = {recall}"

    def test_quantized_values_bounded(self, spark):
        from taar_gcp_etl_spark.operators.similarity import (
            int8_quantization_stats,
            int8_quantize,
        )

        emb = read_table(spark, SF_SMOKE, "embeddings")
        mins, spans = int8_quantization_stats(emb)
        row = (
            int8_quantize(emb, mins, spans)
            .select(
                F.min(F.array_min("qv")).alias("lo"),
                F.max(F.array_max("qv")).alias("hi"),
            )
            .collect()[0]
        )
        assert -127 <= row.lo and row.hi <= 127

    def test_out_of_sample_values_clamp(self, spark):
        """Queries outside the corpus's learned range must clamp into
        [-127, 127], not wrap or overflow."""
        from taar_gcp_etl_spark.operators.similarity import int8_quantize

        # 1e8 exceeds the long→int wrap threshold (2^31/254 ≈ 8.5e6);
        # 1e300 exercises the double→long saturation path
        extreme = spark.createDataFrame(
            [(0, [1e8] * 4), (1, [-1e8] * 4), (2, [1e300] * 4)],
            "vec_id long, embedding array<double>",
        )
        row = (
            int8_quantize(extreme, [0.0] * 4, [1.0] * 4)
            .select(
                F.min(F.array_min("qv")).alias("lo"),
                F.max(F.array_max("qv")).alias("hi"),
            )
            .collect()[0]
        )
        assert row.lo == -127 and row.hi == 127


class TestFastHashBucket:
    def test_deterministic_and_uniform(self, spark):
        from taar_gcp_etl_spark.operators.sampling import hash_bucket_fast

        df = spark.range(20_000).select(
            hash_bucket_fast(F.col("id"), 10).alias("b")
        )
        counts = {r.b: r.n for r in df.groupBy("b").count().withColumnRenamed("count", "n").collect()}
        assert set(counts) == set(range(10))
        for n in counts.values():
            assert abs(n - 2000) < 300  # within 15% of uniform
        again = spark.range(20_000).select(
            hash_bucket_fast(F.col("id"), 10).alias("b")
        )
        assert df.collect() == again.collect()

    def test_fast_path_plugs_into_stratified_sample(self, spark):
        from taar_gcp_etl_spark.operators.sampling import (
            hash_bucket_fast,
            stratified_sample,
        )

        ev = read_table(spark, SF_SMOKE, "events")
        rates = spark.createDataFrame(
            [("click", 0.5), ("view", 0.1)], "event_type string, rate double"
        )
        out = stratified_sample(
            ev, rates, "event_type", "event_id", bucket_fn=hash_bucket_fast
        )
        kept = out.groupBy("event_type").count().collect()
        assert {r.event_type for r in kept} <= {"click", "view"}
        total = {
            r.event_type: r["count"]
            for r in ev.groupBy("event_type").count().collect()
        }
        for r in kept:
            rate = 0.5 if r.event_type == "click" else 0.1
            assert r["count"] < total[r.event_type]
            assert abs(r["count"] / total[r.event_type] - rate) < 0.15


class TestWeightedSample:
    def test_biased_toward_heavy_rows_and_partition_invariant(self, spark):
        """Efraimidis-Spirakis keys must (a) produce the same sample under
        any partitioning, (b) prefer heavy rows: the weighted sample's
        mean weight exceeds the corpus mean (weights span ~2 orders of
        magnitude on the fixture, so this holds deterministically for the
        fixed md5 draw), (c) never include non-positive weights."""
        from taar_gcp_etl_spark.operators.sampling import weighted_sample_n

        docs = read_table(spark, SF_SMOKE, "documents")
        a = weighted_sample_n(docs, 20, "n_chars", "doc_id")
        b = weighted_sample_n(
            docs.repartition(13), 20, "n_chars", "doc_id"
        )
        ids_a = sorted(r.doc_id for r in a.collect())
        assert ids_a == sorted(r.doc_id for r in b.collect())
        assert len(ids_a) == 20

        mean_all = docs.agg(F.avg("n_chars")).collect()[0][0]
        mean_sample = a.agg(F.avg("n_chars")).collect()[0][0]
        assert mean_sample > mean_all

    def test_zero_weight_rows_excluded(self, spark):
        from taar_gcp_etl_spark.operators.sampling import weighted_sample_n

        df = spark.createDataFrame(
            [(1, 0), (2, -5), (3, 10), (4, None)],
            "id long, w int",
        )
        out = weighted_sample_n(df, 10, "w", "id")
        assert {r.id for r in out.collect()} == {3}


class TestInterleave:
    def test_prefix_ratios_track_weights(self, spark):
        """Reading in mix_key order must honor the weight ratios in every
        prefix: with weights 2:1 over equal-sized sources, any prefix that
        has consumed k of source B has consumed ~2k of source A."""
        from taar_gcp_etl_spark.operators.sampling import interleave_sources

        rows = [(i, "a") for i in range(200)] + [
            (1000 + i, "b") for i in range(200)
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        weights = spark.createDataFrame(
            [("a", 2.0), ("b", 1.0)], "source string, weight double"
        )
        out = interleave_sources(df, weights).orderBy("mix_key").collect()
        for prefix in (30, 90, 150):
            head = out[:prefix]
            n_a = sum(1 for r in head if r.source == "a")
            n_b = prefix - n_a
            assert abs(n_a - 2 * n_b) <= 2, (prefix, n_a, n_b)

    def test_unweighted_sources_dropped(self, spark):
        from taar_gcp_etl_spark.operators.sampling import interleave_sources

        df = spark.createDataFrame(
            [(1, "a"), (2, "zzz")], "doc_id long, source string"
        )
        weights = spark.createDataFrame(
            [("a", 1.0)], "source string, weight double"
        )
        assert [r.doc_id for r in interleave_sources(df, weights).collect()] == [1]


class TestResampleFill:
    def test_empty_buckets_emitted_with_zeros(self, spark):
        from taar_gcp_etl_spark.operators.windows import resample_fill

        df = spark.createDataFrame(
            [
                ("2024-01-01 00:10:00", 1.5),
                ("2024-01-01 00:40:00", 2.5),
                # hour 01 entirely missing
                ("2024-01-01 02:05:00", 4.0),
            ],
            "ts string, value double",
        ).select(F.to_timestamp("ts").alias("ts"), "value")
        out = {
            str(r.bucket): r
            for r in resample_fill(df, "hour", value_col="value").collect()
        }
        assert len(out) == 3  # 00,01,02 — the gap hour is present
        assert out["2024-01-01 00:00:00"].n_events == 2
        assert out["2024-01-01 00:00:00"].sum_value == 4.0
        assert out["2024-01-01 01:00:00"].n_events == 0
        assert out["2024-01-01 01:00:00"].sum_value == 0.0
        assert out["2024-01-01 02:00:00"].n_events == 1

    def test_events_never_join_raw(self, spark):
        """The fill join must run post-aggregate: no join operator may sit
        below an aggregate of the raw events (grid x per-bucket only)."""
        from taar_gcp_etl_spark.operators.windows import resample_fill

        df = spark.createDataFrame(
            [("2024-01-01 00:10:00", 1.0)], "ts string, value double"
        ).select(F.to_timestamp("ts").alias("ts"), "value")
        plan = formatted_plan(resample_fill(df, "hour", value_col="value"))
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" not in plan


class TestFuzzyJoinHotBlock:
    def test_hot_block_dropped_cold_blocks_pair(self, spark):
        from taar_gcp_etl_spark.operators.joins import fuzzy_self_join

        rows = [(i, f"name{i:03d}", "hot") for i in range(10)] + [
            (100, "alpha", "cold"),
            (101, "alphb", "cold"),
        ]
        df = spark.createDataFrame(rows, "id long, name string, dom string")
        out = fuzzy_self_join(
            df, "name", "id", ["dom"], max_distance=2, max_block_size=5
        ).collect()
        # the 10-member hot block is dropped wholesale; the cold pair
        # (alpha, alphb) at distance 1 survives
        assert {(r.id_a, r.id_b, r.dist) for r in out} == {(100, 101, 1)}

    def test_no_cap_keeps_hot_block(self, spark):
        from taar_gcp_etl_spark.operators.joins import fuzzy_self_join

        rows = [(i, f"name{i:03d}", "hot") for i in range(10)]
        df = spark.createDataFrame(rows, "id long, name string, dom string")
        out = fuzzy_self_join(df, "name", "id", ["dom"], max_distance=2)
        assert out.count() > 0  # name000~name001 etc. within distance 2


class TestBoundedVerifyEquivalence:
    """r12: both fuzzy verifies use the bounded levenshtein(l, r, k)
    (banded DP, O(k*L) cells). Its contract — exact distance when <= k,
    -1 otherwise — makes `bounded >= 0` select exactly the rows
    `unbounded <= k` selects, with identical dist values. Pin that on a
    corpus whose pairs straddle the threshold (distances 0..4 at k=2),
    for both the categorical and the segment candidate paths."""

    CORPUS = [
        (1, "abcdefgh", "b"),   # anchor
        (2, "abcdefgh", "b"),   # dist 0
        (3, "abcdefgX", "b"),   # dist 1
        (4, "abcdeXYh", "b"),   # dist 2 (boundary: kept)
        (5, "abXYZfgh", "b"),   # dist 3 (just over: dropped)
        (6, "aWXYZegh", "b"),   # dist 4 from anchor
    ]

    def _expected(self, k=2):
        import itertools

        def lev(a, b):
            m = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, m[0] = m[0], i
                for j, cb in enumerate(b, 1):
                    prev, m[j] = m[j], min(
                        m[j] + 1, m[j - 1] + 1, prev + (ca != cb)
                    )
            return m[len(b)]

        out = set()
        for (ia, ta, _), (ib, tb, _) in itertools.combinations(
            self.CORPUS, 2
        ):
            d = lev(ta, tb)
            if d <= k:
                out.add((ia, ib, d))
        return out

    def test_categorical_path_matches_unbounded_semantics(self, spark):
        from taar_gcp_etl_spark.operators.joins import fuzzy_self_join

        df = spark.createDataFrame(
            self.CORPUS, "id long, name string, dom string"
        )
        out = fuzzy_self_join(df, "name", "id", ["dom"], max_distance=2)
        got = {(r.id_a, r.id_b, r.dist) for r in out.collect()}
        assert got == self._expected()
        # no -1 sentinel may ever escape the filter
        assert all(d >= 0 for _, _, d in got)

    def test_segment_path_matches_unbounded_semantics(self, spark):
        from taar_gcp_etl_spark.operators.joins import (
            fuzzy_self_join_segments,
        )

        df = spark.createDataFrame(
            self.CORPUS, "id long, name string, dom string"
        )
        out = fuzzy_self_join_segments(
            df, "name", "id", ["dom"], max_distance=2,
            trim_common_affixes=False,
        )
        got = {
            (min(r.id_a, r.id_b), max(r.id_a, r.id_b), r.dist)
            for r in out.collect()
        }
        assert got == self._expected()
        assert all(d >= 0 for _, _, d in got)

    def test_segment_orientation_halving_degenerate_lengths(self, spark):
        """r13 pin for the orientation filter (_id_i < _id_p): the
        pigeonhole lemma must hold PER ORIENTATION even for strings
        shorter than d+1 (empty pieces, trimmed length 0) — the one
        regime where the even path's L enumeration floors at 1 and
        matching flows through empty-piece keys. Ground truth: python
        all-pairs DP over a corpus of lengths 0..5, BOTH id orders
        interleaved so the kept orientation is exercised both ways."""
        import itertools

        from taar_gcp_etl_spark.operators.joins import (
            fuzzy_self_join_segments,
        )

        strings = ["", "a", "b", "ab", "ba", "abc", "abcd", "abcde",
                   "zz", "az", "", "xy"]
        # ids deliberately NOT aligned with length order
        corpus = [(len(strings) - i, t) for i, t in enumerate(strings)]

        def lev(a, b):
            m = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                prev, m[0] = m[0], i
                for j, cb in enumerate(b, 1):
                    prev, m[j] = m[j], min(
                        m[j] + 1, m[j - 1] + 1, prev + (ca != cb)
                    )
            return m[len(b)]

        expected = set()
        for (ia, ta), (ib, tb) in itertools.combinations(corpus, 2):
            d = lev(ta, tb)
            if d <= 2:
                expected.add((min(ia, ib), max(ia, ib), d))
        df = spark.createDataFrame(corpus, "id long, t string")
        for adaptive in (False, True):
            out = fuzzy_self_join_segments(
                df, "t", "id", max_distance=2,
                trim_common_affixes=False,
                adaptive_boundaries=adaptive,
            )
            got = {(r.id_a, r.id_b, r.dist) for r in out.collect()}
            assert got == expected, (adaptive, got ^ expected)


class TestRefreshAggregate:
    def _store(self, spark):
        return spark.createDataFrame(
            [(1, 10.0, 3, 2.0), (2, 20.0, 2, 5.0)],
            ["k", "total", "n", "mx"],
        )

    def test_equals_full_recompute(self, spark):
        """The maintenance identity: incremental refresh over (history,
        delta) equals a full re-aggregate over history ∪ delta."""
        from taar_gcp_etl_spark.operators.merge import refresh_aggregate

        history = spark.createDataFrame(
            [(1, 2.0), (1, 6.0), (1, 2.0), (2, 15.0), (2, 5.0)],
            ["k", "v"],
        )
        delta = spark.createDataFrame(
            [(1, 7.0), (3, 4.0), (3, 1.0)], ["k", "v"]
        )
        measures = {
            "total": ("sum", "v"),
            "n": ("count", "v"),
            "mx": ("max", "v"),
        }
        store = history.groupBy("k").agg(
            F.max("v").alias("mx"),
            F.count("v").alias("n"),
            F.sum("v").alias("total"),
        ).select("k", "mx", "n", "total")
        got = refresh_aggregate(store, delta, ["k"], measures)
        full = (
            history.unionByName(delta)
            .groupBy("k")
            .agg(
                F.sum("v").alias("total"),
                F.count("v").alias("n"),
                F.max("v").alias("mx"),
            )
        )
        norm = lambda df: sorted(  # noqa: E731
            tuple(r) for r in df.select("k", "mx", "n", "total").collect()
        )
        assert norm(got) == norm(full)

    def test_untouched_rows_carry_over_without_shuffle(self, spark):
        """Key 2 is absent from the delta: its stored row must survive
        bit-identical, and the untouched branch must reach the output
        through a broadcast anti-join (store never shuffles)."""
        from taar_gcp_etl_spark.operators.merge import refresh_aggregate
        from taar_gcp_etl_spark.plans import formatted_plan

        delta = spark.createDataFrame([(1, 1.0)], ["k", "v"])
        out = refresh_aggregate(
            self._store(spark),
            delta,
            ["k"],
            {"total": ("sum", "v"), "n": ("count", "v"), "mx": ("max", "v")},
        )
        rows = {r["k"]: r for r in out.collect()}
        assert (rows[2]["total"], rows[2]["n"], rows[2]["mx"]) == (
            20.0, 2, 5.0,
        )
        assert (rows[1]["total"], rows[1]["n"], rows[1]["mx"]) == (
            11.0, 4, 2.0,
        )
        plan = formatted_plan(out)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_new_key_inserts_with_delta_partial(self, spark):
        from taar_gcp_etl_spark.operators.merge import refresh_aggregate

        delta = spark.createDataFrame([(9, 3.0), (9, 4.0)], ["k", "v"])
        out = refresh_aggregate(
            self._store(spark),
            delta,
            ["k"],
            {"total": ("sum", "v"), "n": ("count", "v"), "mx": ("max", "v")},
        )
        row = {r["k"]: r for r in out.collect()}[9]
        assert (row["total"], row["n"], row["mx"]) == (7.0, 2, 4.0)

    def test_non_mergeable_aggregate_rejected(self, spark):
        import pytest

        from taar_gcp_etl_spark.operators.merge import refresh_aggregate

        delta = spark.createDataFrame([(1, 1.0)], ["k", "v"])
        with pytest.raises(ValueError, match="avg"):
            refresh_aggregate(
                self._store(spark), delta, ["k"], {"total": ("avg", "v")}
            ).collect()

    def test_distinct_aggregates_rejected_not_mismerged(self, spark):
        """The old Column-based signature dispatched on the expression
        repr, and F.sum_distinct reprs as plain 'sum' — it was silently
        merged with '+' and produced wrong results. The spec vocabulary
        is closed, so any distinct variant is a hard error."""
        import pytest

        from taar_gcp_etl_spark.operators.merge import refresh_aggregate

        delta = spark.createDataFrame([(1, 1.0)], ["k", "v"])
        with pytest.raises(ValueError, match="sum_distinct"):
            refresh_aggregate(
                self._store(spark), delta, ["k"],
                {"total": ("sum_distinct", "v")},
            ).collect()

    def test_approx_distinct_sketch_merges_across_batches(self, spark):
        """approx_distinct maintains a union-mergeable HLL sketch: any
        batching of the input yields the same estimate as one shot, and
        for small cardinalities the Datasketches estimate is EXACT, so
        the equality is strict, not a tolerance."""
        from taar_gcp_etl_spark.operators.merge import (
            _measure_agg,
            refresh_aggregate,
            sketch_estimates,
        )

        measures = {"u": ("approx_distinct", "v"), "n": ("count", "v")}
        rows = [(k, f"val{i % (k * 7)}") for k in (1, 2, 3)
                for i in range(40)]
        full = spark.createDataFrame(rows, ["k", "v"])
        exact = {
            r.k: r.u
            for r in full.groupBy("k")
            .agg(F.countDistinct("v").alias("u"))
            .collect()
        }
        empty = full.limit(0).groupBy("k").agg(
            *[_measure_agg(measures[m]).alias(m) for m in sorted(measures)]
        )
        for n_batches in (2, 3, 5):
            store = empty
            for b in range(n_batches):
                batch = spark.createDataFrame(
                    rows[b::n_batches], ["k", "v"]
                )
                store = refresh_aggregate(store, batch, ["k"], measures)
            got = {
                r.k: r.u
                for r in sketch_estimates(store, measures).collect()
            }
            assert got == exact, n_batches

    def test_approx_distinct_all_null_group_estimates_zero(self, spark):
        from taar_gcp_etl_spark.operators.merge import (
            refresh_aggregate,
            sketch_estimates,
        )

        measures = {"u": ("approx_distinct", "v")}
        store = (
            spark.createDataFrame([(1, "a")], ["k", "v"])
            .limit(0)
            .groupBy("k")
            .agg(F.hll_sketch_agg("v").alias("u"))
        )
        delta = spark.createDataFrame(
            [(1, None), (1, None), (2, "x")], ["k", "v"]
        )
        out = sketch_estimates(
            refresh_aggregate(store, delta, ["k"], measures), measures
        )
        got = {r.k: r.u for r in out.collect()}
        assert got == {1: 0, 2: 1}

    def test_approx_distinct_tracks_large_cardinality(self, spark):
        """Standard HLL accuracy at lgK=12 is ~1.6% RSE: a 20k-distinct
        stream split into 4 batches must land within 5%."""
        from taar_gcp_etl_spark.operators.merge import (
            refresh_aggregate,
            sketch_estimates,
        )

        measures = {"u": ("approx_distinct", "v")}
        n = 20000
        store = (
            spark.range(0)
            .select(F.lit(1).alias("k"), F.lit("x").alias("v"))
            .groupBy("k")
            .agg(F.hll_sketch_agg("v").alias("u"))
        )
        for b in range(4):
            batch = spark.range(b * n // 4, (b + 1) * n // 4).select(
                F.lit(1).alias("k"),
                F.concat(F.lit("id-"), F.col("id")).alias("v"),
            )
            store = refresh_aggregate(store, batch, ["k"], measures)
        est = sketch_estimates(store, measures).first().u
        assert abs(est - n) / n < 0.05, est


class TestSkewKillSwitch:
    """Adversarial hot-key fixtures (VERDICT r3 next-7): the hot-band /
    hot-block / hot-group caps exist as code — these tests hit them with
    deliberately pathological keys and assert the CANDIDATE VOLUME is
    actually bounded (measured counts, not just output correctness)."""

    def test_fuzzy_join_hot_block_bounds_candidates(self, spark):
        """One degenerate block of 500 rows (an empty-domain placeholder)
        next to 20 healthy blocks. Uncapped, the hot block alone is
        C(500,2) = 124,750 candidate DP comparisons; with the cap its
        contribution must be ZERO and the total candidate volume stays
        at the healthy blocks' sum."""
        from taar_gcp_etl_spark.operators.dedup import drop_hot_bands
        from taar_gcp_etl_spark.operators.joins import fuzzy_self_join

        hot = [(i, f"hotname{i:04d}", "") for i in range(500)]
        cold = [
            (1000 + b * 10 + j, f"entity{b:02d}x{j}", f"dom{b:02d}")
            for b in range(20)
            for j in range(3)
        ]
        df = spark.createDataFrame(
            hot + cold, "id long, name string, dom string"
        )

        # measured candidate volume = sum over surviving blocks of C(n,2),
        # computed on the SAME capped relation the join consumes
        capped = drop_hot_bands(df.withColumn("_blk", F.col("dom")), "_blk", 50)
        cand = (
            capped.groupBy("_blk")
            .count()
            .selectExpr("sum(count * (count - 1) / 2) as cands")
            .collect()[0]
            .cands
        )
        assert cand == 20 * 3  # 20 blocks × C(3,2); hot block contributes 0
        uncapped_hot = 500 * 499 / 2
        assert cand < uncapped_hot / 1000  # three orders of magnitude

        out = fuzzy_self_join(
            df, "name", "id", ["dom"], max_distance=2, max_block_size=50
        ).collect()
        ids = {r.id_a for r in out} | {r.id_b for r in out}
        assert ids and all(i >= 1000 for i in ids)  # no hot-block survivors
        # healthy entities still resolve: entityNNxJ names differ by 1 char
        assert {(r.id_a, r.id_b) for r in out} >= {(1000, 1001), (1001, 1002)}

    def test_lsh_hot_band_bounds_candidates(self, spark):
        """300 boilerplate-identical documents share every band — the
        classic viral-header blowup (C(300,2) = 44,850 candidates per
        band uncapped). With max_band_size=50 the boilerplate bands are
        dropped wholesale while a genuine near-dup pair in healthy
        documents still surfaces."""
        from taar_gcp_etl_spark.operators.dedup import (
            lsh_near_dup_pairs,
            minhash_signatures,
        )

        boiler = [(i, "subscribe to our newsletter terms apply today") for i in range(300)]
        real = [
            (1000, "the quick brown fox jumps over the lazy dog tonight"),
            (1001, "the quick brown fox jumps over the lazy dog again"),
            (1002, "completely unrelated text about distributed query engines"),
        ]
        df = spark.createDataFrame(boiler + real, "doc_id long, text string")
        signed = minhash_signatures(df)
        pairs = lsh_near_dup_pairs(
            signed, max_band_size=50, jaccard_threshold=0.5
        ).collect()
        ids = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
        assert all(i >= 1000 for i in ids)  # zero boilerplate pairs
        assert (1000, 1001) in {(r.doc_a, r.doc_b) for r in pairs}

    def test_coinstall_hot_group_bounds_fanout(self, spark):
        """A bot client with 200 distinct items is C(200,2) = 19,900
        pairs on its own — more than every real client combined. With
        max_group_size the bot is excluded and the pair counts equal the
        bot-free result exactly; candidate volume is provably ≤
        groups × C(cap, 2)."""
        from taar_gcp_etl_spark.operators.ranking import (
            _coinstall_membership,
            coinstall_pairs,
        )

        bot = [("bot", f"item{i:03d}") for i in range(200)]
        normal = [
            (f"u{u:02d}", f"item{(u + j) % 10:03d}")
            for u in range(50)
            for j in range(4)
        ]
        df = spark.createDataFrame(bot + normal, "client string, addon string")

        memb = _coinstall_membership(df, "client", "addon", 20)
        max_group = (
            memb.groupBy("g").count().agg(F.max("count")).collect()[0][0]
        )
        assert max_group <= 20  # fan-out per group ≤ C(20,2)

        capped = {
            (r.item_a, r.item_b): r.pair_count
            for r in coinstall_pairs(
                df, "client", "addon", max_group_size=20
            ).collect()
        }
        botless = {
            (r.item_a, r.item_b): r.pair_count
            for r in coinstall_pairs(
                spark.createDataFrame(normal, "client string, addon string"),
                "client",
                "addon",
            ).collect()
        }
        assert capped == botless  # bot contributes nothing, others exact


class TestBandedSelectivity:
    def test_rows_per_band_cuts_background_candidates(self, spark):
        """The b×r selectivity dial (sf10 soak finding): against a corpus
        with a background-similarity floor, r=1 banding candidates
        weakly-similar pairs at rate ~bJ; r=2 on the same band count
        must cut candidates while still pairing a true near-dup."""
        from taar_gcp_etl_spark.operators.dedup import (
            lsh_near_dup_pairs,
            minhash_signatures,
        )

        base = "alpha bravo charlie delta echo foxtrot golf hotel india"
        # 40 docs sharing ~half their tokens (background J ~0.2-0.4),
        # plus one true near-dup pair (J > 0.8)
        rows = [
            (i, base + f" x{i} y{i} z{i} w{i} v{i} u{i} t{i} s{i}")
            for i in range(40)
        ]
        rows += [(100, base + " uniq1 uniq2"), (101, base + " uniq1 uniq3")]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        def n_cands(n_hashes, n_bands, r):
            signed = minhash_signatures(df, n_hashes=n_hashes)
            # candidates = pairs sharing any band key (pre-verify)
            pairs = lsh_near_dup_pairs(
                signed,
                n_bands=n_bands,
                rows_per_band=r,
                jaccard_threshold=0.0,  # count raw candidates
                persist_signatures=False,
            )
            return {(p.doc_a, p.doc_b) for p in pairs.collect()}

        r1 = n_cands(4, 4, 1)
        r2 = n_cands(8, 4, 2)
        assert (100, 101) in r1 and (100, 101) in r2  # true pair kept
        assert len(r2) < len(r1)  # background candidates cut


class TestAdaptiveSegmentBoundaries:
    """Frequency-adaptive piece selection for the segment join (NEXT.md
    r6 #3, the Ed-Join content-filtering idea): per-length-class
    boundaries at equal cumulative-entropy quantiles de-heat pieces
    that would otherwise fall inside a corpus-constant interior run.
    Exactness: the pigeonhole proof holds for ANY boundary scheme
    shared by index and probe, so results must be identical to the
    even-split path."""

    def _interior_hot(self, spark, n=300):
        import random

        random.seed(11)

        def rnd(k):
            return "".join(
                random.choice("abcdefghij") for _ in range(k)
            )

        # constant 16-char interior run, 4 variable chars each side —
        # NOT a global affix, so affix trimming cannot remove it
        rows = [(i, rnd(4) + "Z" * 16 + rnd(4)) for i in range(n)]
        rows.append((9000, rows[0][1][:-1] + "q"))     # true near-pair
        rows.append((9001, "x" + rows[1][1][1:]))      # true near-pair
        return spark.createDataFrame(rows, "id long, t string")

    def test_adaptive_equals_even_results(self, spark):
        from taar_gcp_etl_spark.operators.joins import (
            fuzzy_self_join_segments,
        )

        df = self._interior_hot(spark, n=120)
        norm = lambda out: sorted(  # noqa: E731
            (r.id_a, r.id_b, r.dist) for r in out.collect()
        )
        even = norm(fuzzy_self_join_segments(df, "t", "id"))
        adap = norm(
            fuzzy_self_join_segments(
                df, "t", "id", adaptive_boundaries=True
            )
        )
        assert adap == even and len(even) >= 2

    def test_adaptive_boundaries_cut_candidate_volume(self, spark):
        """On the interior-hot fixture the even middle piece is 'Z'*k
        for every string → one hot key → ~n² candidates; entropy
        quantiles straddle the variable ends, so the adaptive candidate
        volume must be a small fraction."""
        from taar_gcp_etl_spark.operators import joins as J

        df = self._interior_hot(spark, n=300)
        base = df.select(
            F.col("id").alias("_id"),
            F.col("t").alias("_orig"),
            F.col("t").alias("_t"),
            F.length("t").alias("_len"),
        )
        d, nseg = 2, 3
        piece = (
            "substring(_t, cast(floor({i} * {L} / %(nseg)d) as int) + 1 "
            "+ {s}, cast(floor(({i} + 1) * {L} / %(nseg)d) "
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
            "transform(sequence(greatest(_len - %(d)d, 1), _len + %(d)d), "
            "L -> transform(sequence(-%(d)d, %(d)d), s -> "
            "CASE WHEN cast(floor(i * L / %(n)d) as int) + 1 + s >= 1 "
            "AND cast(floor(i * L / %(n)d) as int) + s "
            "+ cast(floor((i + 1) * L / %(n)d) - floor(i * L / %(n)d) "
            "as int) <= _len "
            "THEN named_struct('seg', i, 'piece', %(p)s) END))))), "
            "x -> x IS NOT NULL))" % {"d": d, "n": nseg, "p": probe_piece}
        )
        n_even = J._even_candidates(base, idx_keys, probe_keys, []).count()
        bmap = J._entropy_boundaries(base, d, 1.0, 512)
        n_adap = J._adaptive_candidates(base, d, bmap, []).count()
        n = df.count()
        assert n_even > n * (n - 1) / 4  # the hot key went quadratic
        assert n_adap < n_even / 10, (n_adap, n_even)

    def test_zero_trimmed_length_pairs_survive_adaptive_key(self, spark):
        """Review fix: strings identical to the corpus-wide affix trim
        to length 0; the adaptive key carries the partner length, so
        the probe's L enumeration must include 0 or those dist-0 pairs
        silently vanish (the even path matched them via empty pieces)."""
        from taar_gcp_etl_spark.operators.joins import (
            fuzzy_self_join_segments,
        )

        df = spark.createDataFrame(
            [(i, "SAMESAMESAME") for i in range(6)], "id long, t string"
        )
        norm = lambda out: sorted(  # noqa: E731
            (r.id_a, r.id_b, r.dist) for r in out.collect()
        )
        even = norm(fuzzy_self_join_segments(df, "t", "id"))
        adap = norm(
            fuzzy_self_join_segments(
                df, "t", "id", adaptive_boundaries=True
            )
        )
        assert adap == even and len(even) == 15  # C(6,2), all dist 0

    def test_entropy_boundaries_straddle_constant_run(self, spark):
        """The boundary map itself: for the 24-char template the three
        pieces must each contain variable positions (no piece wholly
        inside [4, 20))."""
        from taar_gcp_etl_spark.operators import joins as J

        df = self._interior_hot(spark, n=100)
        base = df.select(
            F.col("t").alias("_t"), F.length("t").alias("_len")
        )
        bmap = J._entropy_boundaries(base, 2, 1.0, 512)
        b = bmap[("", 24)]
        assert b[0] == 0 and b[-1] == 24 and len(b) == 4
        for lo, hi in zip(b, b[1:]):
            assert not (lo >= 4 and hi <= 20), b

    def _block_hot(self, spark, n_per_block, blocks=("P", "Q")):
        """Per-BLOCK constant interior runs: block k's strings share a
        16-char run of letter k, but the letter differs across blocks —
        corpus-wide per-position diversity sees every position as
        variable (>=2 distinct chars), so only block-keyed boundaries
        can dodge the run."""
        import random

        random.seed(13)

        def rnd(k):
            return "".join(
                random.choice("abcdefghij") for _ in range(k)
            )

        rows = []
        for bi, blk in enumerate(blocks):
            for i in range(n_per_block):
                rows.append(
                    (bi * 10000 + i, blk, rnd(4) + blk * 16 + rnd(4))
                )
        # one true near-pair inside each block
        rows.append((90000, blocks[0], rows[0][2][:-1] + "q"))
        rows.append((90001, blocks[1], rows[n_per_block][2][:-1] + "q"))
        return spark.createDataFrame(rows, "id long, blk string, t string")

    def test_block_keyed_boundaries_cut_block_local_hot_runs(self, spark):
        """ADVICE/NEXT r7 #2: boundaries keyed by (block, length)
        de-heat templates that are constant only WITHIN a block —
        corpus-wide boundaries (blind to blocks) leave them quadratic."""
        from taar_gcp_etl_spark.operators import joins as J

        df = self._block_hot(spark, n_per_block=150)
        base = df.select(
            F.col("id").alias("_id"),
            F.col("t").alias("_orig"),
            F.col("t").alias("_t"),
            F.length("t").alias("_len"),
            "blk",
        )
        d = 2
        # LEGACY corpus-wide map (blind_clusters=False), re-keyed to
        # every block so the block-scoped join consults the BLIND
        # boundaries (not the even fallback — review fix): every
        # interior position shows 2 distinct chars, so cumulative
        # entropy still places the middle piece inside the
        # block-constant run — one hot key per block
        corpus = J._entropy_boundaries(
            base, d, 1.0, 512, blind_clusters=False
        )
        corpus = {(b, L): v for (_, L), v in corpus.items()
                  for b in ("P", "Q")}
        n_corpus = J._adaptive_candidates(base, d, corpus, ["blk"]).count()
        blocked = J._entropy_boundaries(
            base, d, 1.0, 512, block_cols=["blk"]
        )
        assert set(k[0] for k in blocked) == {"P", "Q"}
        n_blocked = J._adaptive_candidates(
            base, d, blocked, ["blk"]
        ).count()
        n = 150
        assert n_corpus > 2 * n * (n - 1) / 4, (n_corpus,)  # quadratic
        assert n_blocked < n_corpus / 10, (n_blocked, n_corpus)
        # r8 hybrid: the BLIND path (no block column at all) now
        # clusters by frequent-gram template signature, so its single
        # per-length map dodges the per-block runs too
        hybrid = J._entropy_boundaries(base, d, 1.0, 512)
        assert set(k[0] for k in hybrid) == {""}
        hybrid = {(b, L): v for (_, L), v in hybrid.items()
                  for b in ("P", "Q")}
        n_hybrid = J._adaptive_candidates(base, d, hybrid, ["blk"]).count()
        assert n_hybrid < n_corpus / 10, (n_hybrid, n_corpus)

    def test_blind_gram_adapts_to_short_strings(self, spark):
        """Short entity strings (18 chars): a 6-char block-specific
        constant run can host a whole piece (piece ~ 6 at d=2) yet is
        invisible to a fixed 8-gram — the gram length must shrink to
        ~median_len/(d+1) so the template markers are mined and the
        blind boundaries dodge the run. Results stay exactly the even
        path's."""
        import random

        from taar_gcp_etl_spark.operators import joins as J

        random.seed(17)

        def rnd(k):  # 8-letter flanks: globally LESS diverse per
            # position than the ~10-digit run positions, but rich
            # enough that short flank pieces still discriminate 1k
            # strings (4-letter flanks made EVERY scheme collide)
            return "".join(random.choice("abcdefgh") for _ in range(k))

        # 20 latent blocks, each with a distinct 6-digit run at
        # positions 7-12: per-position global diversity of the run
        # (~10 digits) EXCEEDS the flanks' (4 letters), so corpus-wide
        # entropy pulls the middle piece INTO the run — one hot key per
        # block. The run is 6 chars: a whole piece fits in it (18/3),
        # but a fixed 8-gram cannot, so only the length-adapted gram
        # mining can see the template markers.
        rows = []
        for bi in range(20):
            run = f"{(bi * 53421 + 123456) % 1000000:06d}"
            for i in range(50):
                rows.append((bi * 10000 + i, rnd(6) + run + rnd(6)))
        rows.append((90000, rows[0][1][:-1] + "q"))  # true near-pair
        df = spark.createDataFrame(rows, "id long, t string")
        base = df.select(
            F.col("id").alias("_id"),
            F.col("t").alias("_orig"),
            F.col("t").alias("_t"),
            F.length("t").alias("_len"),
        )
        d = 2
        legacy = J._entropy_boundaries(
            base, d, 1.0, 512, blind_clusters=False
        )
        n_legacy = J._adaptive_candidates(base, d, legacy, []).count()
        hybrid = J._entropy_boundaries(base, d, 1.0, 512)
        n_hybrid = J._adaptive_candidates(base, d, hybrid, []).count()
        assert n_legacy > 5000, (n_legacy,)  # per-block hot middle piece
        assert n_hybrid < n_legacy / 10, (n_hybrid, n_legacy)
        # exactness: full join equals the even path
        from taar_gcp_etl_spark.operators.joins import (
            fuzzy_self_join_segments,
        )

        norm = lambda out: sorted(  # noqa: E731
            (r.id_a, r.id_b, r.dist) for r in out.collect()
        )
        even = norm(fuzzy_self_join_segments(df, "t", "id"))
        adap = norm(
            fuzzy_self_join_segments(
                df, "t", "id", adaptive_boundaries=True
            )
        )
        assert adap == even and len(even) >= 1

    def test_blind_hybrid_results_match_even_path(self, spark):
        """Exactness of the blind hybrid: with NO block column the
        adaptive join (frequent-gram clustered boundaries) returns
        exactly the even-split results on the per-block-template
        corpus."""
        from taar_gcp_etl_spark.operators.joins import (
            fuzzy_self_join_segments,
        )

        df = self._block_hot(spark, n_per_block=60)
        norm = lambda out: sorted(  # noqa: E731
            (r.id_a, r.id_b, r.dist) for r in out.collect()
        )
        even = norm(fuzzy_self_join_segments(df, "t", "id"))
        adap = norm(
            fuzzy_self_join_segments(
                df, "t", "id", adaptive_boundaries=True
            )
        )
        assert adap == even and len(even) >= 2

    def test_max_classes_caps_driver_map_and_stays_exact(self, spark):
        """ADVICE r7: the boundary map collected to the driver is
        hard-capped at max_classes, keeping the HOTTEST classes by
        sampled count; dropped classes fall back to even splits on both
        sides, so results are unchanged."""
        from taar_gcp_etl_spark.operators import joins as J

        df = self._block_hot(spark, n_per_block=60)
        base = df.select(
            F.col("id").alias("_id"),
            F.col("t").alias("_orig"),
            F.col("t").alias("_t"),
            F.length("t").alias("_len"),
            "blk",
        )
        capped = J._entropy_boundaries(
            base, 2, 1.0, 512, block_cols=["blk"], max_classes=1
        )
        assert len(capped) == 1
        # the kept class is one of the two (equal-mass) blocks
        assert list(capped)[0][0] in ("P", "Q")
        full = J._entropy_boundaries(base, 2, 1.0, 512, block_cols=["blk"])

        def verified(bmap):
            # candidates -> exact levenshtein verify, the shape
            # fuzzy_self_join_segments composes: candidate sets under
            # different boundary schemes legitimately differ (each is
            # complete for true pairs, not a superset of the other),
            # so RESULT equality is the right exactness assertion
            texts = base.select("_id", "_t")
            cand = J._adaptive_candidates(base, 2, bmap, ["blk"])
            out = (
                cand.join(
                    texts.select(
                        F.col("_id").alias("id_a"),
                        F.col("_t").alias("_t_a"),
                    ),
                    "id_a",
                )
                .join(
                    texts.select(
                        F.col("_id").alias("id_b"),
                        F.col("_t").alias("_t_b"),
                    ),
                    "id_b",
                )
                .filter(F.levenshtein("_t_a", "_t_b") <= 2)
            )
            return sorted((r.id_a, r.id_b) for r in out.collect())

        res_cap, res_full = verified(capped), verified(full)
        # the dropped class's even-split fallback loses NOTHING: final
        # results identical, and the planted pairs are in them
        assert res_cap == res_full
        assert (90000 in {a for a, _ in res_cap}
                or 90000 in {b for _, b in res_cap})

    def test_block_keyed_adaptive_results_match_even_path(self, spark):
        """Exactness: the per-block adaptive join returns exactly the
        even-split within-block results (the all-pairs oracle shape)."""
        from taar_gcp_etl_spark.operators.joins import (
            fuzzy_self_join_segments,
        )

        df = self._block_hot(spark, n_per_block=60)
        norm = lambda out: sorted(  # noqa: E731
            (r.id_a, r.id_b, r.dist) for r in out.collect()
        )
        even = norm(
            fuzzy_self_join_segments(df, "t", "id", block_cols=["blk"])
        )
        adap = norm(
            fuzzy_self_join_segments(
                df, "t", "id", block_cols=["blk"],
                adaptive_boundaries=True,
            )
        )
        assert adap == even and len(even) >= 2


class TestSpanDedupSkew:
    """r7 #6: adversarial skew for remove_repeated_spans(keep='first').
    A license block repeated across the whole corpus turns each of its
    n-grams into one hot window key (the shuffle partitions on the
    gram hash). The work per key is LINEAR (count + row_number share
    one sort), never pairwise — these tests pin that bound and the
    keep-exactly-one semantics at high repetition."""

    LICENSE = ("licensed under the apache license version two point "
               "zero you may not use this file")  # 16 tokens

    def _corpus(self, spark, n_docs):
        return spark.range(n_docs).selectExpr(
            "id as doc_id",
            f"concat('{self.LICENSE}', ' unique', id, ' tail', id) as text",
        )

    def test_hot_gram_volume_is_linear_not_pairwise(self, spark):
        """The window input for a gram repeated R times is exactly R
        rows (occurrences), not R^2 (pairs) — the bounded-candidate
        assertion: total hot rows == repeats x grams-per-block."""
        from pyspark.sql import Window

        from taar_gcp_etl_spark.operators import dedup as D

        n_docs, n = 2_000, 8
        df = self._corpus(spark, n_docs)
        toks = F.split(F.trim(F.col("text")), r"\s+")
        base = df.select(
            F.col("doc_id").alias("_id"), toks.alias("_toks"),
            F.size(toks).alias("_len"),
        )
        gram = F.xxhash64(F.array_join(
            F.slice(F.col("_toks"), F.col("i") + 1, n), "\x1f"))
        grams = base.select(
            "_id",
            F.explode(F.sequence(F.lit(0), F.col("_len") - n)).alias("i"),
            "_toks",
        ).select("_id", "i", gram.alias("_g"))
        hot = grams.withColumn(
            "_c", F.count("*").over(Window.partitionBy("_g"))
        ).filter(F.col("_c") >= 2)
        # L-token license -> its first L-n+1 grams repeat in every
        # doc (positions that mix license+unique tail are per-doc);
        # volume = (L-n+1) * n_docs rows, strictly linear
        L = len(self.LICENSE.split())
        assert hot.count() == (L - n + 1) * n_docs

    def test_keep_first_leaves_exactly_one_copy_at_scale(self, spark):
        from taar_gcp_etl_spark.operators.dedup import (
            remove_repeated_spans,
        )

        n_docs = 5_000
        out = remove_repeated_spans(
            self._corpus(spark, n_docs), keep="first"
        ).cache()
        try:
            survivors = out.filter(
                F.col("text").contains("apache license")
            )
            assert survivors.count() == 1
            assert survivors.first().doc_id == 0  # smallest (id, pos)
            # every other doc lost exactly the license span's tokens
            # covered by repeated grams; unique tails survive verbatim
            assert out.filter(
                ~F.col("text").contains("unique")
            ).count() == 0
        finally:
            out.unpersist()

    def test_window_partitions_on_gram_hash_no_single_partition(
        self, spark
    ):
        """The plan must hash-partition the window on the gram column —
        a SinglePartition window here would serialize the whole corpus
        through one task."""
        from taar_gcp_etl_spark.operators.dedup import (
            remove_repeated_spans,
        )

        out = remove_repeated_spans(
            self._corpus(spark, 100), keep="first"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan
        assert "hashpartitioning(_g" in plan


class TestCandidateVolumeGuard:
    """Plan-time candidate-volume guard for the pigeonhole fuzzy join
    (NEXT/VERDICT r8 #1): the short-string piece-collision regime
    (SCALE.md ceiling) was documented but SILENT — a user running the
    segment join on 10M short entity strings got the quadratic with no
    warning. The guard estimates expected key-join output volume from a
    bounded string sample over the exact key relations the join would
    shuffle, then warns ("auto") or raises (explicit budget)."""

    def _short_corpus(self, spark, n, n_blocks=20):
        """18-char strings over an 8-letter alphabet with a per-block
        6-digit run — the measured quadratic fixture (soak short_*)."""
        return spark.range(n).select(
            F.col("id"),
            F.concat(
                F.translate(
                    F.substring(F.md5(F.col("id").cast("string")), 1, 6),
                    "0123456789abcdef", "abcdefghabcdefgh",
                ),
                F.lpad(
                    ((F.col("id") % n_blocks) * 53421 + 123456)
                    .cast("string"), 6, "0",
                ),
                F.translate(
                    F.substring(F.md5(F.col("id").cast("string")), 7, 6),
                    "0123456789abcdef", "abcdefghabcdefgh",
                ),
            ).alias("t"),
        )

    def _healthy_corpus(self, spark, n):
        """32-hex strings: pieces are ~10 hex chars, key space vastly
        exceeds any corpus — candidates stay ~O(n)."""
        return spark.range(n).select(
            F.col("id"), F.md5(F.col("id").cast("string")).alias("t")
        )

    def _measured_cross_volume(self, df, sample_rows=None):
        """Ground truth: actual key-equijoin output rows under the r13
        orientation filter (_id_i < _id_p — what the join now emits and
        what _candidate_volume's ×0.5-scaled estimate targets)."""
        from taar_gcp_etl_spark.operators import joins as J

        base, ik, pk = J._segment_base(df, "t", "id", [], True, 2)
        idx, probe, keycols = J._even_keyed(base, ik, pk, [])
        return (
            idx.join(probe, keycols)
            .filter(F.col("_id_i") < F.col("_id_p"))
            .count()
        )

    def test_estimator_within_2x_of_measured_at_two_scales(self, spark):
        """The r8 VERDICT done-bar: sampled estimate within ~2x of the
        measured candidate volume at two corpus scales of the quadratic
        fixture (sampling actually exercised: sample_rows << n)."""
        from taar_gcp_etl_spark.operators.joins import (
            estimate_fuzzy_join_candidates,
        )

        for n in (1_500, 3_000):
            df = self._short_corpus(spark, n)
            measured = self._measured_cross_volume(df)
            est = estimate_fuzzy_join_candidates(
                df, "t", "id", sample_rows=600
            )
            assert est["n"] == n and est["sample_frac"] < 0.5
            ratio = est["estimate"] / max(measured, 1)
            assert 0.5 <= ratio <= 2.0, (n, measured, est)

    def test_estimator_no_diagonal_blowup_on_healthy_corpus(self, spark):
        """Unique-piece corpora: naive 1/f² scaling of the raw key-join
        count would over-estimate by 1/f because self matches scale
        linearly; the diagonal-corrected estimate must stay ~O(n), not
        O(n/f)."""
        from taar_gcp_etl_spark.operators.joins import (
            estimate_fuzzy_join_candidates,
        )

        n = 4_000
        est = estimate_fuzzy_join_candidates(
            self._healthy_corpus(spark, n), "t", "id", sample_rows=400
        )
        # cross volume on random hex is essentially zero; allow noise
        # far below n but fail hard on any 1/f-scaled diagonal leak
        # (400-row sample -> f=0.1 -> a leak would read ~n/f = 40k)
        assert est["estimate"] < n, est

    def test_explicit_budget_raises_with_actionable_message(self, spark):
        from taar_gcp_etl_spark.operators.joins import (
            CandidateVolumeExceeded,
            fuzzy_self_join_segments,
        )

        df = self._short_corpus(spark, 2_000)
        with pytest.raises(CandidateVolumeExceeded) as ei:
            fuzzy_self_join_segments(
                df, "t", "id", candidate_budget=5_000
            )
        msg = str(ei.value)
        assert "block_cols" in msg and "candidate_budget" in msg

    def test_explicit_budget_passes_healthy_corpus(self, spark):
        from taar_gcp_etl_spark.operators.joins import (
            fuzzy_self_join_segments,
        )

        df = self._healthy_corpus(spark, 2_000)
        out = fuzzy_self_join_segments(
            df, "t", "id", candidate_budget=500_000
        )
        assert out.count() == 0  # random hex: no pairs within d=2

    def test_auto_mode_silent_below_risk_scale(self, spark):
        """'auto' must not estimate (or warn) on small corpora — the
        registry/bench fuzzy queries run at ~15k strings and pay
        nothing for the guard."""
        import warnings

        from taar_gcp_etl_spark.operators.joins import (
            fuzzy_self_join_segments,
        )

        df = self._short_corpus(spark, 1_000)
        with warnings.catch_warnings():
            warnings.simplefilter("error", RuntimeWarning)
            fuzzy_self_join_segments(df, "t", "id").count()

    def test_auto_mode_warns_at_risk_scale(self, spark, monkeypatch):
        """Past _GUARD_MIN_ROWS strings, 'auto' estimates and warns when
        the expected volume exceeds 64·n. The threshold is monkeypatched
        down so the unit test stays seconds; the real 100k threshold is
        exercised by the soak's guard arm. Corpus: constant 12-char
        interior run -> the even middle piece is ONE hot key -> expected
        cross volume ~n² >> 64·n deterministically."""
        from taar_gcp_etl_spark.operators import joins as J
        from taar_gcp_etl_spark.operators.joins import (
            fuzzy_self_join_segments,
        )

        monkeypatch.setattr(J, "_GUARD_MIN_ROWS", 500)
        n = 2_000
        df = spark.range(n).select(
            F.col("id"),
            F.concat(
                F.substring(F.md5(F.col("id").cast("string")), 1, 3),
                F.lit("Z" * 12),
                F.substring(F.md5(F.col("id").cast("string")), 4, 3),
            ).alias("t"),
        )
        with pytest.warns(RuntimeWarning, match="candidate volume"):
            fuzzy_self_join_segments(df, "t", "id")

    def test_legacy_blind_arm_warns(self, spark):
        """VERDICT r8 #7: the measured-quadratic corpus-wide blind arm
        (blind_clusters=False, no block_cols) stays reachable as the
        soak's negative control but must announce itself."""
        from taar_gcp_etl_spark.operators import joins as J

        df = self._short_corpus(spark, 300)
        base = df.select(
            F.col("id").alias("_id"),
            F.col("t").alias("_orig"),
            F.col("t").alias("_t"),
            F.length("t").alias("_len"),
        )
        with pytest.warns(RuntimeWarning, match="blind_clusters"):
            J._entropy_boundaries(base, 2, 1.0, 512, blind_clusters=False)

    def test_adaptive_path_guard_raises_too(self, spark):
        """The guard rides the adaptive key relations when adaptive
        boundaries are on — same budget contract."""
        from taar_gcp_etl_spark.operators.joins import (
            CandidateVolumeExceeded,
            fuzzy_self_join_segments,
        )

        df = self._short_corpus(spark, 2_000)
        with pytest.raises(CandidateVolumeExceeded):
            fuzzy_self_join_segments(
                df, "t", "id",
                adaptive_boundaries=True,
                candidate_budget=5_000,
            )
