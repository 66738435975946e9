"""Checkpoint/persist lifecycle (r13, VERDICT r12 #3): iterative
operators must release SUPERSEDED localCheckpoint generations explicitly
— dead blocks otherwise wait for a JVM GC that a large heap may never
run mid-session, and across a 135-query suite the accumulation inflates
late-suite queries (r12 measured als_neighbors 9.05 s in-suite vs
1.42 s fresh-JVM on the same HEAD).

The contract tested here: after an iterative operator returns, the only
persistent RDDs it leaves behind are the ones backing its RESULT —
bounded by a small constant per call, NOT O(rounds)."""

from __future__ import annotations

from pyspark.sql import functions as F

from taar_gcp_etl_spark.operators.checkpoint import (
    _persistent_ids,
    checkpoint_tracked,
    release_rdds,
)


def _chain_edges(spark, n=400):
    """A long chain — worst case for propagation round count."""
    return spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )


class TestTrackedCheckpoint:
    def test_checkpoint_tracked_registers_and_release_frees(self, spark):
        df = spark.range(100).selectExpr("id", "id * 2 as x")
        before = _persistent_ids(spark)
        out, ids = checkpoint_tracked(df)
        assert ids, "eager localCheckpoint must register persistent RDDs"
        assert out.count() == 100
        release_rdds(spark, ids)
        assert not (_persistent_ids(spark) & set(ids))

    def test_release_is_idempotent_and_ignores_unknown_ids(self, spark):
        df = spark.range(10)
        out, ids = checkpoint_tracked(df)
        release_rdds(spark, ids)
        release_rdds(spark, ids)  # second release: no-op, no error
        release_rdds(spark, {999999})  # unknown id: no-op


class TestIterativeOperatorLifecycle:
    """Each operator leaves only O(1) persistent RDDs (its result), not
    O(rounds) — the leak the r12 suite accumulated."""

    def _leaked(self, spark, fn):
        before = _persistent_ids(spark)
        out = fn()
        rows = out.count()  # materialize through the lazy tail
        leaked = _persistent_ids(spark) - before
        return rows, leaked

    def test_connected_components_releases_rounds(self, spark):
        from taar_gcp_etl_spark.operators.dedup import connected_components

        edges = _chain_edges(spark)
        rows, leaked = self._leaked(
            spark, lambda: connected_components(edges, "src", "dst")
        )
        assert rows == 400
        # result = final label generation only (1 checkpoint)
        assert len(leaked) <= 1, leaked

    def test_alternating_cc_releases_rounds(self, spark):
        from taar_gcp_etl_spark.operators.dedup import (
            connected_components_alternating,
        )

        edges = _chain_edges(spark)
        rows, leaked = self._leaked(
            spark,
            lambda: connected_components_alternating(edges, "src", "dst"),
        )
        assert rows == 400
        assert len(leaked) <= 1, leaked  # the checkpointed result

    def test_pagerank_releases_rounds(self, spark):
        from taar_gcp_etl_spark.operators.graph import pagerank

        edges = _chain_edges(spark, 100)
        rows, leaked = self._leaked(spark, lambda: pagerank(edges, iters=7))
        assert rows == 100
        assert len(leaked) <= 1, leaked

    def test_pagerank_empty_graph_releases_caches(self, spark):
        """ADVICE r12: the empty-graph early return must not leak the
        nodes cache entry."""
        from taar_gcp_etl_spark.operators.graph import pagerank

        empty = spark.createDataFrame([], "src long, dst long")
        rows, leaked = self._leaked(spark, lambda: pagerank(empty))
        assert rows == 0
        assert len(leaked) <= 1, leaked  # the checkpointed empty result

    def test_label_propagation_releases_rounds(self, spark):
        from taar_gcp_etl_spark.operators.graph import label_propagation

        edges = _chain_edges(spark, 100)
        rows, leaked = self._leaked(
            spark, lambda: label_propagation(edges, iters=5)
        )
        assert rows == 100
        assert len(leaked) <= 1, leaked

    def test_bfs_keeps_only_frontier_generations(self, spark):
        from taar_gcp_etl_spark.operators.graph import bfs_distances

        edges = _chain_edges(spark, 100)
        seeds = spark.createDataFrame([(0,)], "node long")
        before = _persistent_ids(spark)
        out = bfs_distances(edges, seeds, max_hops=4)
        rows = out.count()
        leaked = _persistent_ids(spark) - before
        assert rows == 5  # seed + 4 hops along the chain
        # the result IS the union of per-hop frontier checkpoints:
        # seed + max_hops frontiers, nothing else (the old shape also
        # re-checkpointed the accumulated dist every round)
        assert len(leaked) <= 5, leaked
