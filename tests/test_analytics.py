"""Event-analytics operators: funnel ordering semantics, cohort offsets,
PSI drift properties, snapshot diff classification."""

from __future__ import annotations

from pyspark.sql import functions as F

from taar_gcp_etl_spark.operators.analytics import (
    cohort_retention,
    distribution_psi,
    funnel_steps,
)
from taar_gcp_etl_spark.operators.merge import snapshot_diff


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    ).select(
        "user_id", "event_type", F.col("ts").cast("timestamp").alias("ts")
    )


class TestFunnel:
    def test_strict_ordering_gates_conversion(self, spark):
        """u1 converts all three steps in order; u2 purchased BEFORE
        clicking, so the purchase must not count (strict sequential
        semantics — the whole point vs. a per-type distinct count)."""
        import datetime as dt

        t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
        rows = [
            (1, "view", t(0)),
            (1, "click", t(1)),
            (1, "purchase", t(2)),
            (2, "view", t(0)),
            (2, "purchase", t(1)),  # before the click — must not convert
            (2, "click", t(2)),
        ]
        out = {
            r.step: r.users
            for r in funnel_steps(_ev(spark, rows), ["view", "click", "purchase"]).collect()
        }
        assert out == {"view": 2, "click": 2, "purchase": 1}

    def test_equal_timestamp_does_not_convert(self, spark):
        """Strictly-after: a click at the exact view timestamp is not a
        conversion (prevents same-event double counting when steps share
        a type's timestamp granularity)."""
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1)
        rows = [(1, "view", t0), (1, "click", t0)]
        out = {
            r.step: r.users
            for r in funnel_steps(_ev(spark, rows), ["view", "click"]).collect()
        }
        assert out == {"view": 1, "click": 0}

    def test_empty_steps_returns_empty_frame(self, spark):
        import datetime as dt

        df = _ev(spark, [(1, "view", dt.datetime(2024, 1, 1))])
        out = funnel_steps(df, [])
        assert out.collect() == []
        assert out.columns == ["step_idx", "step", "users"]

    def test_monotone_on_fixture(self, spark):
        from taar_gcp_etl_spark.queries import SPARK_QUERIES

        rows = (
            SPARK_QUERIES["funnel"](spark, "/root/testdata/sf0.001")
            .orderBy("step_idx")
            .collect()
        )
        users = [r.users for r in rows]
        assert users == sorted(users, reverse=True)
        assert users[0] > 0


class TestAttribution:
    def test_last_vs_first_touch_and_window_bound(self, spark):
        """User 1: view@0:00, click@0:30, purchase@1:00 → last-touch
        credits the click, first-touch the view. User 2's only touch is
        25h before the purchase — outside the 24h lookback → null
        credit row (visible, not dropped)."""
        import datetime as dt

        from taar_gcp_etl_spark.operators.analytics import (
            attribute_conversions,
        )

        t = lambda h, m=0: dt.datetime(2024, 1, 2, h, m)  # noqa: E731
        rows = [
            (1, 1, "view", t(0)),
            (2, 1, "click", t(0, 30)),
            (3, 1, "purchase", t(1)),
            (4, 2, "view", dt.datetime(2024, 1, 1, 0)),  # 25h before
            (5, 2, "purchase", dt.datetime(2024, 1, 2, 1)),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, "
            "ts timestamp"
        )
        last = {
            r.event_id: r.touch_type
            for r in attribute_conversions(
                df, "purchase", ["view", "click"], 24, "last_touch"
            ).collect()
        }
        first = {
            r.event_id: r.touch_type
            for r in attribute_conversions(
                df, "purchase", ["view", "click"], 24, "first_touch"
            ).collect()
        }
        assert last == {3: "click", 5: None}
        assert first == {3: "view", 5: None}

    def test_invalid_model_rejected(self, spark):
        import pytest

        from taar_gcp_etl_spark.operators.analytics import (
            attribute_conversions,
        )

        df = spark.createDataFrame(
            [], "event_id long, user_id long, event_type string, ts timestamp"
        )
        with pytest.raises(ValueError, match="last_touch"):
            attribute_conversions(df, "purchase", ["view"], 24, "linear")


class TestCohortRetention:
    def test_offset_zero_covers_every_user_once(self, spark):
        """Every user is active in their own cohort week by definition,
        so the offset-0 column sums to the distinct user count."""
        import datetime as dt

        rows = [
            (1, "view", dt.datetime(2024, 1, 1)),   # week of Jan 1
            (1, "view", dt.datetime(2024, 1, 10)),  # +1 week
            (2, "view", dt.datetime(2024, 1, 9)),   # week of Jan 8
        ]
        out = cohort_retention(_ev(spark, rows)).collect()
        zero = sum(r.n_users for r in out if r.periods_since == 0)
        assert zero == 2
        plus1 = [r for r in out if r.periods_since == 1]
        assert len(plus1) == 1 and plus1[0].n_users == 1


class TestCohortValidation:
    def test_calendar_period_rejected_with_clear_error(self, spark):
        import datetime as dt

        import pytest

        df = _ev(spark, [(1, "view", dt.datetime(2024, 1, 1))])
        with pytest.raises(ValueError, match="month"):
            cohort_retention(df, period="month")


class TestDistributionPsi:
    def test_identical_distribution_is_near_zero(self, spark):
        df = spark.range(1000).select(
            (F.col("id") % 100).cast("double").alias("v")
        )
        out = distribution_psi(df, df, "v", 0.0, 100.0)
        total = out.agg(F.sum("psi_term")).collect()[0][0]
        assert abs(total) < 1e-9

    def test_shift_detected_and_out_of_range_clamps(self, spark):
        a = spark.range(1000).select(
            (F.col("id") % 50).cast("double").alias("v")
        )
        b = spark.range(1000).select(
            (F.col("id") % 50 + 150).cast("double").alias("v")
        )  # 150..199 clamps into the top bin of [0, 100]
        out = distribution_psi(a, b, "v", 0.0, 100.0)
        assert out.count() == 10  # every bin emitted, empty ones included
        total = out.agg(F.sum("psi_term")).collect()[0][0]
        assert total > 0.2  # conventional "investigate" line

    def test_bin_grid_joins_are_broadcast(self, spark):
        from taar_gcp_etl_spark.plans import formatted_plan

        df = spark.range(100).select(F.col("id").cast("double").alias("v"))
        plan = formatted_plan(distribution_psi(df, df, "v", 0.0, 100.0))
        assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
        assert "SortMergeJoin" not in plan


class TestRankingMetrics:
    def test_hand_computed_values(self, spark):
        """Query 1: truth {a,b}, pred ranks [a@1, c@2] → recall 1/2,
        MRR 1, NDCG = (1/log2(2)) / (1/log2(2)+1/log2(3)). Query 2:
        truth {x}, pred [y@1, z@2] → all zeros. Query 3: truth {m}, no
        pred rows at all → row still emitted, zeros (silent omission is
        how recall regressions hide)."""
        import math

        from taar_gcp_etl_spark.operators.metrics import ranking_metrics

        truth = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "x"), (3, "m")],
            "query_id long, neighbor_id string",
        )
        pred = spark.createDataFrame(
            [(1, "a", 1), (1, "c", 2), (2, "y", 1), (2, "z", 2)],
            "query_id long, neighbor_id string, rnk int",
        )
        out = {
            r.query_id: (r.n_rel, r.recall, r.mrr, r.ndcg)
            for r in ranking_metrics(pred, truth, k=2).collect()
        }
        ideal2 = 1 / math.log2(2) + 1 / math.log2(3)
        assert out[1] == (2, 0.5, 1.0, round((1 / math.log2(2)) / ideal2, 6))
        assert out[2] == (1, 0.0, 0.0, 0.0)
        assert out[3] == (1, 0.0, 0.0, 0.0)

    def test_ranks_beyond_k_ignored(self, spark):
        from taar_gcp_etl_spark.operators.metrics import ranking_metrics

        truth = spark.createDataFrame(
            [(1, "a")], "query_id long, neighbor_id string"
        )
        pred = spark.createDataFrame(
            [(1, "a", 3)], "query_id long, neighbor_id string, rnk int"
        )
        row = ranking_metrics(pred, truth, k=2).collect()[0]
        assert (row.recall, row.mrr) == (0.0, 0.0)


class TestSnapshotDiff:
    def test_classification(self, spark):
        old = spark.createDataFrame([("a",), ("b",)], "k string")
        new = spark.createDataFrame([("b",), ("c",)], "k string")
        out = {r.k: r.status for r in snapshot_diff(old, new, ["k"]).collect()}
        assert out == {"a": "removed", "b": "retained", "c": "added"}

    def test_shuffles_key_columns_only(self, spark):
        """The diff of wide relations must shuffle the key projection,
        not the payload — the full-outer join's exchanges carry only k."""
        from taar_gcp_etl_spark.plans import formatted_plan

        old = spark.createDataFrame(
            [("a", "x" * 10)], "k string, payload string"
        )
        new = spark.createDataFrame(
            [("a", "y" * 10)], "k string, payload string"
        )
        plan = formatted_plan(snapshot_diff(old, new, ["k"]))
        # payload is projected away before any exchange: no Exchange node
        # (nor anything downstream of one) may reference it
        blocks = plan.split("\n\n")
        exchange_blocks = [b for b in blocks if "Exchange" in b.split("\n")[0]]
        assert exchange_blocks, "expected at least one exchange in the diff"
        for b in exchange_blocks:
            assert "payload" not in b


class TestPageRank:
    def test_star_graph_center_dominates_and_mass_conserved(self, spark):
        """Star: 1..4 all link to 0, 0 links to 1. Node 0 must hold the
        highest rank; total mass stays 1 (dangling + damping handled)."""
        from taar_gcp_etl_spark.operators.graph import pagerank

        edges = spark.createDataFrame(
            [(i, 0) for i in range(1, 5)] + [(0, 1)], "src long, dst long"
        )
        # the 0↔1 two-cycle converges slowly (rank oscillates with
        # iteration parity); 40 iterations settle it on this 5-node graph
        out = {r.node: r.rank for r in pagerank(edges, iters=40).collect()}
        assert max(out, key=out.get) == 0
        # analytic fixed point: r0 = 0.1065/(1-0.7225) ≈ 0.4757
        assert abs(out[0] - 0.4757) < 1e-3
        assert abs(sum(out.values()) - 1.0) < 1e-9
        spark.catalog.clearCache()

    def test_dangling_nodes_do_not_leak_mass(self, spark):
        """2 is a sink (no out-edges): its mass redistributes uniformly
        instead of vanishing — total stays 1."""
        from taar_gcp_etl_spark.operators.graph import pagerank

        edges = spark.createDataFrame(
            [(0, 1), (1, 2)], "src long, dst long"
        )
        out = {r.node: r.rank for r in pagerank(edges, iters=8).collect()}
        assert abs(sum(out.values()) - 1.0) < 1e-9
        assert out[2] > out[0]  # downstream of the chain accumulates
        spark.catalog.clearCache()

    def test_deterministic_and_duplicate_edges_ignored(self, spark):
        from taar_gcp_etl_spark.operators.graph import pagerank

        e1 = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0)], "src long, dst long"
        )
        e2 = spark.createDataFrame(
            [(0, 1), (0, 1), (1, 2), (2, 0)], "src long, dst long"
        )
        a = sorted(pagerank(e1, iters=6).collect())
        b = sorted(pagerank(e2, iters=6).collect())
        assert a == b
        spark.catalog.clearCache()


class TestEventTransitions:
    def test_per_user_sequences_counted(self, spark):
        """u1: a→b→a (transitions a→b, b→a); u2: a→b. Matrix:
        a→b = 2, b→a = 1. Each user's first event has no predecessor."""
        import datetime as dt

        from taar_gcp_etl_spark.operators.analytics import event_transitions

        t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
        rows = [
            (1, 1, "a", t(0)), (2, 1, "b", t(1)), (3, 1, "a", t(2)),
            (4, 2, "a", t(0)), (5, 2, "b", t(1)),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, "
            "ts timestamp"
        )
        out = {
            (r.from_type, r.to_type): r.n
            for r in event_transitions(df).collect()
        }
        assert out == {("a", "b"): 2, ("b", "a"): 1}

    def test_equal_timestamps_break_by_id(self, spark):
        import datetime as dt

        from taar_gcp_etl_spark.operators.analytics import event_transitions

        t0 = dt.datetime(2024, 1, 1)
        rows = [(2, 1, "b", t0), (1, 1, "a", t0)]  # same ts; id orders
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, "
            "ts timestamp"
        )
        out = {
            (r.from_type, r.to_type): r.n
            for r in event_transitions(df).collect()
        }
        assert out == {("a", "b"): 1}


class TestFunnelTiming:
    def test_deltas_match_hand_computation(self, spark):
        """u1: view@0:00 click@0:10 purchase@0:40 → click delta 600s,
        purchase delta 1800s. u2: view@0:00 click@0:30 (no purchase) →
        click delta 1800s. Step 'click': users 2, median/avg of
        {600, 1800}; step 'purchase': users 1."""
        import datetime as dt

        from taar_gcp_etl_spark.operators.analytics import funnel_step_timing

        t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
        rows = [
            (1, "view", t(0)), (1, "click", t(10)), (1, "purchase", t(40)),
            (2, "view", t(0)), (2, "click", t(30)),
        ]
        out = {
            r.step: (r.users, r.median_secs, r.avg_secs)
            for r in funnel_step_timing(
                _ev(spark, rows), ["view", "click", "purchase"]
            ).collect()
        }
        assert out["click"] == (2, 1200.0, 1200.0)
        assert out["purchase"] == (1, 1800.0, 1800.0)
        spark.catalog.clearCache()

    def test_single_step_returns_empty(self, spark):
        import datetime as dt

        from taar_gcp_etl_spark.operators.analytics import funnel_step_timing

        df = _ev(spark, [(1, "view", dt.datetime(2024, 1, 1))])
        assert funnel_step_timing(df, ["view"]).collect() == []


class TestBfsDistances:
    def _edges(self, spark, pairs):
        return spark.createDataFrame(pairs, ["src", "dst"])

    def test_hand_graph_min_hops(self, spark):
        from taar_gcp_etl_spark.operators.graph import bfs_distances

        # 1→2→3→4→5 chain plus shortcut 1→4; directed
        e = self._edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4)])
        seeds = spark.createDataFrame([(1,)], ["node"])
        got = {r["node"]: r["hops"] for r in bfs_distances(e, seeds).collect()}
        assert got == {1: 0, 2: 1, 3: 2, 4: 1, 5: 2}

    def test_max_hops_bounds_and_multi_source_min(self, spark):
        from taar_gcp_etl_spark.operators.graph import bfs_distances

        e = self._edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (9, 4)])
        seeds = spark.createDataFrame([(1,), (9,)], ["node"])
        got = {
            r["node"]: r["hops"]
            for r in bfs_distances(e, seeds, max_hops=2).collect()
        }
        # node 4 is 3 hops from source 1 but 1 hop from source 9 → 1;
        # node 5 is 2 hops via 9→4→5; nothing beyond depth 2 appears
        assert got == {1: 0, 9: 0, 2: 1, 3: 2, 4: 1, 5: 2}

    def test_unreached_nodes_absent(self, spark):
        from taar_gcp_etl_spark.operators.graph import bfs_distances

        e = self._edges(spark, [(1, 2), (7, 8)])
        seeds = spark.createDataFrame([(1,)], ["node"])
        nodes = {r["node"] for r in bfs_distances(e, seeds).collect()}
        assert nodes == {1, 2}


class TestLabelPropagation:
    def test_two_cliques_with_bridge_split(self, spark):
        from taar_gcp_etl_spark.operators.graph import label_propagation

        # two triangles joined by one bridge edge — LPA should keep them
        # as two communities (the bridge is outvoted by clique neighbors)
        tri1 = [(1, 2), (2, 3), (1, 3)]
        tri2 = [(11, 12), (12, 13), (11, 13)]
        bridge = [(3, 11)]
        e = spark.createDataFrame(tri1 + tri2 + bridge, ["src", "dst"])
        got = {
            r["node"]: r["community"]
            for r in label_propagation(e, iters=4).collect()
        }
        assert len(set(got.values())) == 2
        assert got[1] == got[2] == got[3]
        assert got[11] == got[12] == got[13]

    def test_deterministic_across_runs(self, spark):
        from taar_gcp_etl_spark.operators.graph import label_propagation

        import random

        rng = random.Random(7)
        pairs = [
            (rng.randrange(30), rng.randrange(30)) for _ in range(80)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        e = spark.createDataFrame(pairs, ["src", "dst"])
        a = sorted(map(tuple, label_propagation(e, iters=5).collect()))
        b = sorted(map(tuple, label_propagation(e, iters=5).collect()))
        assert a == b

    def test_labels_are_node_ids(self, spark):
        from taar_gcp_etl_spark.operators.graph import label_propagation

        e = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
        rows = label_propagation(e, iters=3).collect()
        nodes = {r["node"] for r in rows}
        assert {r["community"] for r in rows} <= nodes


class TestHeavyHitters:
    def test_exact_threshold_semantics(self, spark):
        from taar_gcp_etl_spark.operators.analytics import heavy_hitters

        # 60 rows: key 'a'×30, 'b'×20, then c..l ×1 each → n/k with k=4
        # is 15: a and b qualify, the singletons never do
        data = (
            [("a",)] * 30 + [("b",)] * 20 + [(c,) for c in "cdefghijkl"]
        )
        df = spark.createDataFrame(data, ["k"]).repartition(8)
        got = {r["k"]: r["freq"] for r in heavy_hitters(df, "k", k=4).collect()}
        assert got == {"a": 30, "b": 20}

    def test_pigeonhole_guarantee_across_partitions(self, spark):
        from taar_gcp_etl_spark.operators.analytics import heavy_hitters

        # the true heavy hitter is spread thin across many partitions —
        # candidate generation must still surface it from SOME batch
        import random

        rng = random.Random(3)
        rows = [("hot",)] * 400 + [(f"u{i}", ) for i in range(600)]
        rng.shuffle(rows)
        df = spark.createDataFrame(rows, ["k"]).repartition(16)
        got = {r["k"]: r["freq"] for r in heavy_hitters(df, "k", k=3).collect()}
        # n=1000, threshold n/3≈333.3 → only "hot" (400) qualifies
        assert got == {"hot": 400}

    def test_null_keys_excluded_and_int64_exact(self, spark):
        """NULL keys are out of contract (both engines filter them), and
        64-bit ids past 2^53 survive the candidate pass exactly even
        when the batch carries nulls — the mapInArrow path never visits
        pandas, whose int64-with-nulls -> float64 coercion corrupted
        snowflake-scale ids."""
        from taar_gcp_etl_spark.operators.analytics import heavy_hitters

        big_a = (1 << 60) + 1
        big_b = (1 << 60) + 3  # collides with big_a after float64 rounding
        rows = (
            [(big_a,)] * 6 + [(big_b,)] * 2 + [(None,)] * 8 + [(7,)] * 1
        )
        df = spark.createDataFrame(rows, "k long").repartition(2)
        got = {r["k"]: r["freq"] for r in heavy_hitters(df, "k", k=2).collect()}
        # n (non-null) = 9, threshold 4.5 -> only big_a qualifies, with
        # its exact id and exact count
        assert got == {big_a: 6}

    def test_matches_plain_group_by(self, spark):
        from taar_gcp_etl_spark.operators.analytics import heavy_hitters
        from pyspark.sql import functions as F

        df = (
            spark.range(2000)
            .select((F.col("id") % 37).cast("string").alias("k"))
            .repartition(8)
        )
        k = 30
        expect = {
            r["k"]: r["freq"]
            for r in df.groupBy("k")
            .agg(F.count(F.lit(1)).alias("freq"))
            .filter(F.col("freq") > 2000 / k)
            .collect()
        }
        got = {r["k"]: r["freq"] for r in heavy_hitters(df, "k", k=k).collect()}
        assert got == expect


class TestRollingZscore:
    def test_spike_flagged_cold_start_not(self, spark):
        from taar_gcp_etl_spark.operators.analytics import rolling_zscore

        # steady 10±1 series with one large spike at t=8; the first rows
        # lack min_periods history and must never be flagged even though
        # their values equal the spike's
        rows = [
            (1, 1, 100.0),  # would be "anomalous" but no history
            (1, 2, 10.0), (1, 3, 11.0), (1, 4, 9.0), (1, 5, 10.5),
            (1, 6, 9.5), (1, 7, 10.0), (1, 8, 100.0), (1, 9, 10.0),
        ]
        df = spark.createDataFrame(rows, ["user_id", "seq", "value"])
        got = rolling_zscore(
            df, "user_id", ["seq"], "value", lookback=5,
            min_periods=3, z=3.0,
        ).collect()
        assert [r["seq"] for r in got] == [8]
        assert got[0]["zscore"] > 3

    def test_zero_variance_baseline_never_flags(self, spark):
        from taar_gcp_etl_spark.operators.analytics import rolling_zscore

        rows = [(1, i, 5.0) for i in range(1, 7)] + [(1, 7, 6.0)]
        df = spark.createDataFrame(rows, ["user_id", "seq", "value"])
        got = rolling_zscore(
            df, "user_id", ["seq"], "value", lookback=5,
            min_periods=3, z=3.0,
        ).collect()
        # baseline stddev is exactly 0 → division guarded, nothing flagged
        assert got == []

    def test_partitions_by_key(self, spark):
        from taar_gcp_etl_spark.operators.analytics import rolling_zscore

        # two users, identical spike pattern — flags land per user; also
        # pins that the window is partitioned (no global sort): the plan
        # must contain a hash-partitioned window, not a single-partition one
        rows = []
        for u in (1, 2):
            rows += [(u, i, 10.0 + (i % 3) * 0.5) for i in range(1, 8)]
            rows += [(u, 8, 50.0)]
        df = spark.createDataFrame(rows, ["user_id", "seq", "value"])
        out = rolling_zscore(
            df, "user_id", ["seq"], "value", lookback=5,
            min_periods=3, z=3.0,
        )
        assert sorted((r["user_id"], r["seq"]) for r in out.collect()) == [
            (1, 8), (2, 8),
        ]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "user_id" in plan


class TestTimeRangeRolling:
    def test_range_frame_adapts_to_density_and_peers(self, spark):
        from datetime import datetime

        from taar_gcp_etl_spark.operators.windows import time_range_rolling

        def t(m, s=0):
            return datetime(2026, 1, 1, 10, m, s)

        rows = [
            # burst: three events within one minute, one of them a peer
            # (identical timestamp) — RANGE peers must see each other
            (1, 1, t(0), 1.0),
            (2, 1, t(0), 2.0),
            (3, 1, t(1), 4.0),
            # quiet: next event 2 hours later — window must have dropped
            # everything
            (4, 1, t(0) .replace(hour=13), 8.0),
        ]
        df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
        got = {
            r["event_id"]: (r["win_sum"], r["win_n"])
            for r in time_range_rolling(
                df, "user_id", "ts", "value", lookback_sec=3600
            ).collect()
        }
        assert got[1] == (3.0, 2)  # peer rows see each other: 1+2
        assert got[2] == (3.0, 2)
        assert got[3] == (7.0, 3)
        assert got[4] == (8.0, 1)  # 2h gap: frame emptied

    def test_rows_frame_would_differ(self, spark):
        # sanity that this is genuinely RANGE semantics: a ROWS(2) frame
        # over the same burst would give event 3 a different count
        from datetime import datetime

        from taar_gcp_etl_spark.operators.windows import time_range_rolling

        base = datetime(2026, 1, 1, 10, 0)
        rows = [(i, 1, base, 1.0) for i in range(5)]  # 5 peers, same ts
        df = spark.createDataFrame(rows, ["event_id", "user_id", "ts", "value"])
        out = time_range_rolling(df, "user_id", "ts", "value").collect()
        assert all(r["win_n"] == 5 for r in out)


class TestGraphStats:
    def test_hand_counted_triangles_and_clustering(self, spark):
        from taar_gcp_etl_spark.operators.graph import graph_stats

        # triangle 1-2-3 plus pendant 3-4: node 3 has degree 3 and one
        # triangle -> clustering 2*1/(3*2) = 1/3; node 4 degree 1 -> 0
        e = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"]
        )
        got = {
            r["node"]: (r["degree"], r["triangles"], r["clustering"])
            for r in graph_stats(e).collect()
        }
        assert got[1] == (2, 1, 1.0)
        assert got[2] == (2, 1, 1.0)
        assert got[3] == (3, 1, round(1 / 3, 6))
        assert got[4] == (1, 0, 0.0)

    def test_each_triangle_counted_once_under_skew(self, spark):
        """Hub star + one closing edge: the hub's (deg, id) orientation
        must not double-count, and the skew bound holds — the hub emits
        no out-wedges because every neighbor has lower degree."""
        from taar_gcp_etl_spark.operators.graph import graph_stats

        hub = [(100, i) for i in range(1, 20)]  # hub degree 19
        closing = [(1, 2)]  # exactly one triangle: (100, 1, 2)
        e = spark.createDataFrame(hub + closing, ["src", "dst"])
        got = {
            r["node"]: r["triangles"] for r in graph_stats(e).collect()
        }
        assert got[100] == 1 and got[1] == 1 and got[2] == 1
        assert sum(got.values()) == 3  # one triangle, three memberships


class TestBinaryAuc:
    def _auc(self, spark, rows):
        from taar_gcp_etl_spark.operators.metrics import binary_auc

        df = spark.createDataFrame(rows, "score double, y boolean")
        return binary_auc(df, "score", "y").collect()[0]

    def test_perfect_and_inverted_and_random(self, spark):
        perfect = [(float(i + 10), True) for i in range(5)] + [
            (float(i), False) for i in range(5)
        ]
        r = self._auc(spark, perfect)
        assert (r["auc"], r["n_pos"], r["n_neg"]) == (1.0, 5, 5)
        inverted = [(s, not y) for s, y in perfect]
        assert self._auc(spark, inverted)["auc"] == 0.0

    def test_ties_contribute_half(self, spark):
        # one positive and one negative at the SAME score: U = 0.5
        r = self._auc(spark, [(1.0, True), (1.0, False)])
        assert r["auc"] == 0.5

    def test_matches_sklearn_free_reference(self, spark):
        """Hand reference: pairwise comparison over a small mixed set
        (including ties) must equal the grouped rank-sum result."""
        import random

        rng = random.Random(11)
        rows = [
            (round(rng.uniform(0, 1), 2), rng.random() < 0.4)
            for _ in range(80)
        ]
        if not any(y for _, y in rows):
            rows[0] = (rows[0][0], True)
        if all(y for _, y in rows):
            rows[1] = (rows[1][0], False)
        pos = [s for s, y in rows if y]
        neg = [s for s, y in rows if not y]
        u = sum(
            1.0 if p > n else (0.5 if p == n else 0.0)
            for p in pos
            for n in neg
        )
        expect = round(u / (len(pos) * len(neg)), 6)
        assert self._auc(spark, rows)["auc"] == expect


class TestCalibrationBins:
    def test_bin_rates_and_clamping(self, spark):
        from taar_gcp_etl_spark.operators.metrics import calibration_bins

        rows = (
            [(0.05, False)] * 9 + [(0.05, True)]       # bin 0: 10% pos
            + [(0.95, True)] * 8 + [(0.95, False)] * 2  # bin 9: 80% pos
            + [(1.7, True), (-0.3, False)]              # clamp to 9 / 0
        )
        df = spark.createDataFrame(rows, "score double, y boolean")
        got = {
            r["bin"]: (r["n"], r["pos_rate"])
            for r in calibration_bins(df, "score", "y").collect()
        }
        assert got[0] == (11, round(1 / 11, 6))
        assert got[9] == (11, round(9 / 11, 6))
        assert set(got) == {0, 9}
