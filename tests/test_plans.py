"""Physical-plan assertions (SURVEY.md §4): the scale properties the engine
promises — pushdown, pruning, broadcast dimension joins, partial aggregation,
no cartesian products — checked against the actual Catalyst output, so a
regression that silently de-optimizes a plan fails CI."""

from __future__ import annotations

import pytest

from taar_gcp_etl_spark.operators.dedup import (
    minhash_signatures,
    segment_dedup,
)
from taar_gcp_etl_spark.operators.text import (
    fingerprint,
    repetition_stats,
    winnow_fingerprints,
)
from taar_gcp_etl_spark.plans import (
    has_partial_aggregate,
    has_pushed_filter,
    join_strategies,
    scan_read_schema,
)
from taar_gcp_etl_spark.queries import SPARK_QUERIES
from tests.conftest import SF_SMOKE, spark_jobs


def test_filter_pushdown_reaches_scan(spark):
    """P2/P5-family predicates must reach the parquet reader."""
    df = SPARK_QUERIES["filter_project"](spark, SF_SMOKE)
    assert has_pushed_filter(df, "o_orderstatus")
    assert has_pushed_filter(df, "o_totalprice")


def test_projection_prunes_scan(spark):
    """The orders scan must read only the referenced columns, not all six."""
    df = SPARK_QUERIES["filter_project"](spark, SF_SMOKE)
    cols = scan_read_schema(df)
    assert "o_orderkey" in cols
    assert "o_totalprice" in cols
    assert "o_orderstatus" in cols  # needed by the filter
    assert "o_orderdate" in cols
    # pruned:
    assert "o_comment" not in cols


def test_dimension_join_is_broadcast(spark):
    """J2 enrichment joins a dimension — must be BroadcastHashJoin, never a
    shuffle of the fact side."""
    df = SPARK_QUERIES["enrich_left_join"](spark, SF_SMOKE)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies
    assert "SortMergeJoin" not in strategies


def test_anti_join_delete_is_broadcast(spark):
    """J1 GDPR delete must broadcast the deletion set (map-side anti-join —
    the 100 TB serving store never shuffles)."""
    df = SPARK_QUERIES["anti_join_delete"](spark, SF_SMOKE)
    assert "BroadcastHashJoin" in join_strategies(df)


def test_aggregate_is_partial(spark):
    """A1 grouped count must plan map-side partial aggregation — the shuffle
    carries one row per (partition × key), not per input row."""
    df = SPARK_QUERIES["install_ranking"](spark, SF_SMOKE)
    assert has_partial_aggregate(df)


def test_tpch_q1_partial_aggregate(spark):
    df = SPARK_QUERIES["tpch_q1"](spark, SF_SMOKE)
    assert has_partial_aggregate(df)


def test_tpch_q5_dimension_chain_broadcasts(spark):
    """The 5-way snowflake must broadcast every dimension: exactly one
    sort-merge/shuffled join (orders⋈lineitem) may shuffle."""
    df = SPARK_QUERIES["tpch_q5"](spark, SF_SMOKE)
    strategies = join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 4
    assert strategies.count("SortMergeJoin") + strategies.count(
        "ShuffledHashJoin"
    ) <= 1
    assert "CartesianProduct" not in strategies


def test_tpch_q17_decorrelates_scalar_subquery(spark):
    """The correlated avg-quantity subquery must decorrelate to an aggregate
    joined back (no per-row re-scan, no nested loop over lineitem); the
    filtered part dimension broadcasts."""
    df = SPARK_QUERIES["tpch_q17"](spark, SF_SMOKE)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies
    assert has_partial_aggregate(df)


def test_tpch_q7_nation_pair_broadcasts(spark):
    """Q7's two nation dimensions must broadcast (the OR'd pair predicate
    must not force a nested loop); the fact-fact joins may shuffle."""
    df = SPARK_QUERIES["tpch_q7"](spark, SF_SMOKE)
    strategies = join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies
    assert has_partial_aggregate(df)


def test_tpch_q20_nested_semi_joins(spark):
    """Q20's two IN levels must plan as semi-joins (no decorrelated
    re-scan, no nested loop)."""
    from taar_gcp_etl_spark.plans import formatted_plan

    df = SPARK_QUERIES["tpch_q20"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies


def test_tpch_q22_not_exists_is_anti_join(spark):
    """NOT EXISTS must plan as an anti-join (broadcast or shuffled), never a
    nested loop per customer row."""
    from taar_gcp_etl_spark.plans import formatted_plan

    df = SPARK_QUERIES["tpch_q22"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_partition_pruning_on_date_partitioned_table(spark, tmp_path):
    """P2 at scale: on a date-partitioned table the submission-date predicate
    must become a PartitionFilter (non-matching directories never opened) —
    the reference's BigQuery date-partition pruning, reproduced on parquet
    (taar_etl/taar_lite_guid_ranking.py:25)."""
    from pyspark.sql import functions as F

    from taar_gcp_etl_spark.io import read_table
    from taar_gcp_etl_spark.plans import formatted_plan

    ev = read_table(spark, SF_SMOKE, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_date")
    ev.write.partitionBy("event_date").parquet(path)

    df = spark.read.parquet(path).filter(
        F.col("event_date") == "2024-01-15"
    )
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan
    assert "2024-01-15" in plan or "event_date" in plan
    # the scan must report only the matching partition's files
    assert df.count() > 0


@pytest.mark.parametrize(
    "name",
    [
        "install_ranking",
        "tpch_q1",
        "coinstall_rates",
        "lsh_near_dup",
        "simhash_hamming",
        "anti_join_delete",
        "range_join",
        "sessionize",
        "tpch_q17",
        "tpch_q22",
        "fuzzy_join",
        "token_budget",
        "weighted_sample",
        "source_cap",
    ],
)
def test_no_cartesian_products(spark, name):
    """No query may degenerate to CartesianProduct/BroadcastNestedLoop —
    the plans that die first at scale. (cosine_topk is deliberately exempt:
    its query side is a bounded broadcast.)"""
    df = SPARK_QUERIES[name](spark, SF_SMOKE)
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies


def test_tpch_q18_having_semi_join_broadcasts(spark):
    """Q18's HAVING relation (orders past the quantity threshold) is tiny
    after aggregation — the semi-join against orders must broadcast, and
    the detail side must keep partial aggregation."""
    from taar_gcp_etl_spark.plans import formatted_plan

    df = SPARK_QUERIES["tpch_q18"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(df)


def test_tpch_q21_semi_and_anti_self_joins(spark):
    """Q21's EXISTS/NOT EXISTS pair must plan as one left-semi and one
    left-anti join on the order key — never a per-row re-scan."""
    from taar_gcp_etl_spark.plans import formatted_plan

    df = SPARK_QUERIES["tpch_q21"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies


def test_sample_stratified_no_shuffle_on_fact(spark):
    """The stratified sample is a broadcast join + codegen'd predicate:
    the events fact must reach the filter without an exchange (zero
    corpus shuffle is the operator's whole design)."""
    from taar_gcp_etl_spark.plans import formatted_plan

    df = SPARK_QUERIES["sample_stratified"](spark, SF_SMOKE)
    strategies = join_strategies(df)
    assert set(strategies) == {"BroadcastHashJoin"}
    # no shuffle exchange anywhere: the only exchange is the broadcast
    plan = formatted_plan(df)
    assert "Exchange hashpartitioning" not in plan


def test_tpch_q4_exists_semi_join_with_pruned_scan(spark):
    """Q4's EXISTS decorrelates to a left-semi probe; the quarter filter
    must reach the orders scan (partition-prunable at 100 TB) and the
    probe side must project only the join key."""
    from taar_gcp_etl_spark.plans import formatted_plan

    df = SPARK_QUERIES["tpch_q4"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert has_partial_aggregate(df)


def test_tpch_q14_part_broadcasts(spark):
    """Q14 joins one month of fact to the part dimension: the dimension
    must broadcast (fact never shuffles for the join) and the month
    filter must reach the lineitem scan."""
    df = SPARK_QUERIES["tpch_q14"](spark, SF_SMOKE)
    assert set(join_strategies(df)) == {"BroadcastHashJoin"}
    assert has_pushed_filter(df, "l_shipdate")


def test_tpch_q6_filters_all_pushed(spark):
    """Q6 is the canonical pushdown probe: all three range predicates must
    reach the lineitem scan, and the single-row sum keeps a map-side
    partial."""
    df = SPARK_QUERIES["tpch_q6"](spark, SF_SMOKE)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert has_pushed_filter(df, col), col
    assert has_partial_aggregate(df)
    assert join_strategies(df) == []


def test_tpch_q8_snowflake_broadcasts(spark):
    """Q8's five dimension edges (part, supplier, nation×2, region) must
    broadcast; only the two fact-fact edges (lineitem-orders,
    orders-customer) may shuffle."""
    df = SPARK_QUERIES["tpch_q8"](spark, SF_SMOKE)
    strategies = join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 5
    assert strategies.count("SortMergeJoin") + strategies.count(
        "ShuffledHashJoin"
    ) <= 2
    assert "CartesianProduct" not in strategies
    assert has_pushed_filter(df, "o_orderdate")


def test_tpch_q10_top20_is_take_ordered(spark):
    """Q10's top-20 must plan as TakeOrderedAndProject (k·partitions driver
    merge), not a global sort; nation broadcasts."""
    from taar_gcp_etl_spark.plans import formatted_plan

    df = SPARK_QUERIES["tpch_q10"](spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in join_strategies(df)
    assert has_pushed_filter(df, "l_returnflag")


def test_tpch_q19_disjunction_keeps_equi_join(spark):
    """Q19's OR-of-conjunctions must not break the partkey equi-join into a
    nested-loop: part broadcasts, the disjunction is a residual filter."""
    strategies = join_strategies(SPARK_QUERIES["tpch_q19"](spark, SF_SMOKE))
    assert set(strategies) == {"BroadcastHashJoin"}


def test_lm_score_vocab_broadcasts_doc_agg_partial(spark):
    """lm_score's scoring join must broadcast the V-row vocabulary (the
    corpus never shuffles at token grain for the join) and the per-doc
    mean must partial-aggregate map-side; the vocab cut is a TakeOrdered,
    not a global sort."""
    from taar_gcp_etl_spark.plans import formatted_plan

    df = SPARK_QUERIES["lm_score"](spark, SF_SMOKE)
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies
    assert "SortMergeJoin" not in strategies
    assert "ShuffledHashJoin" not in strategies
    assert "CartesianProduct" not in strategies
    assert has_partial_aggregate(df)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_source_mix_no_fact_shuffle_joins(spark):
    """source_mix joins only single-row broadcast normalizers back to the
    source-grain rollup — no shuffled join anywhere, and the rollup itself
    partial-aggregates map-side."""
    df = SPARK_QUERIES["source_mix"](spark, SF_SMOKE)
    strategies = join_strategies(df)
    assert "SortMergeJoin" not in strategies
    assert "ShuffledHashJoin" not in strategies
    assert "CartesianProduct" not in strategies
    assert has_partial_aggregate(df)


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """At 100 TB the dimension side of a selective join often exceeds the
    broadcast limit, falling back to a shuffle join that drags the whole
    fact table through the exchange. Spark's runtime bloom filter
    (`spark.sql.optimizer.runtime.bloomFilter.enabled`, on by default)
    recovers most of the broadcast win: a bloom filter built over the
    filtered dimension keys is pushed into the fact side, discarding
    non-joining rows BEFORE the shuffle. The production thresholds
    (application side ≥ 10 GB scan) can never trigger at fixture scale, so
    this test lowers them to pin the posture: broadcast off + selective
    dimension filter ⇒ `might_contain` probe on the fact side and a
    `bloom_filter_agg` build over the dimension keys."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter"
            ".applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
            F.col("o_totalprice") > 100000
        )
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan
        assert "bloom_filter_agg" in plan
        assert j.count() > 0  # the filter prunes, it must not drop matches
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_aqe_coalesces_small_shuffle_partitions(spark):
    """AQE runtime re-planning, half 1: a 32-partition shuffle whose
    output is tiny must coalesce to few partitions at runtime (the
    fixed `spark.sql.shuffle.partitions` is sized for the big
    aggregations — without coalescing every small shuffle would pay 32
    near-empty tasks; at 1000 executors that is pure scheduler drag).
    The final adaptive plan is only visible on the EXECUTED
    QueryExecution — collect() on the same DataFrame, then inspect."""
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").count()
    agg.collect()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan
    assert "coalesced" in plan


def test_aqe_splits_skewed_join_partition(spark):
    """AQE runtime re-planning, half 2: a shuffled join with one hot key
    must split the oversized partition (SortMergeJoin(skew=true)) instead
    of serializing the whole key onto one task — the runtime complement
    to the explicit salting in operators/skew.py (salting for aggregates
    and known-hot keys, AQE for joins discovered skewed at runtime). The
    production thresholds can't trigger at fixture scale, so they are
    lowered to pin the posture, exactly like the bloom-filter test."""
    from pyspark.sql import functions as F

    keys = (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "10KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "5KB"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1"
        )
        left = spark.range(200_000).select(
            F.when(F.col("id") % 10 == 0, F.col("id"))
            .otherwise(F.lit(7))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "skewed" in plan  # AQEShuffleRead ... skewed
        # correctness unchanged by the split: hot key 7 joins right row 7
        assert sum(1 for r in rows if r.k == 7) == 180_000
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_no_cartesian_product_anywhere_in_registry(spark):
    """Registry-wide structural audit: NO query plan may contain a
    CartesianProduct — the join shape that dies first at scale. Unlike
    the named-subset test above (which also bans BroadcastNestedLoop),
    this sweep allows bounded-broadcast BNLJ (1-row aggregate joins like
    winsorize's bounds) but a true cartesian is never acceptable.
    Exemption: als_recs — MLlib's recommendForAllUsers internally scores
    user×item FACTOR BLOCKS pairwise (a blocked, bounded cross product —
    the algorithm, not a planning accident)."""
    from taar_gcp_etl_spark.plans import formatted_plan

    exempt = {"als_recs"}
    offenders = []
    for name, fn in SPARK_QUERIES.items():
        if name in exempt:
            continue
        plan = formatted_plan(fn(spark, SF_SMOKE))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert offenders == []


def test_heavy_hitters_verify_joins_are_broadcast(spark):
    """The sketch-then-verify contract: the exact recount must reach the
    fact side through BROADCAST joins on the bounded candidate/total
    relations — a SortMergeJoin here would shuffle the 100 TB side on
    every key and defeat the candidate pruning."""
    from taar_gcp_etl_spark.plans import formatted_plan

    plan = formatted_plan(SPARK_QUERIES["heavy_hitters"](spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the candidate pass is Python (Arrow-native mapInArrow — shows as
    # InMemoryTableScan over the persisted candidate relation or as
    # MapInArrow when uncached); the recount itself is JVM-side
    assert "MapInArrow" in plan or "InMemoryTableScan" in plan
    assert "HashAggregate" in plan


def test_agg_refresh_untouched_store_never_shuffles(spark):
    """Incremental maintenance promise: the stored aggregate reaches the
    output through broadcast anti/semi joins on the delta's keys — no
    SortMergeJoin, so the history-sized side never shuffles."""
    from taar_gcp_etl_spark.plans import formatted_plan

    plan = formatted_plan(SPARK_QUERIES["agg_refresh"](spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_rolling_windows_are_hash_partitioned(spark):
    """rolling_anomaly / range_window: every Window node partitions on
    the entity key (hashpartitioning in its required distribution) — the
    no-global-sort discipline, asserted on the executed plan."""
    for name in ("rolling_anomaly", "range_window"):
        df = SPARK_QUERIES[name](spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" in plan, name
        # a partitionless window plans a SinglePartition exchange
        assert "SinglePartition" not in plan, name


def _lambda_bodies(plan: str) -> list[str]:
    """Every `lambdafunction(...)` of a plan string, found by a
    balanced-parenthesis scan (nested lambdas are listed on their own
    too)."""
    bodies, start = [], 0
    while (i := plan.find("lambdafunction(", start)) >= 0:
        j, depth = i + len("lambdafunction("), 1
        while depth:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
        bodies.append(plan[i:j])
        start = i + 1
    return bodies


def _label_corpus(docs):
    from taar_gcp_etl_spark.jobs.clean_corpus import label_corpus
    from taar_gcp_etl_spark.operators.quality import default_rulepack

    return label_corpus(docs, default_rulepack(docs.sparkSession))


SPLIT_ONCE = {
    "minhash_signatures": minhash_signatures,
    "repetition_stats": repetition_stats,
    "winnow_fingerprints": winnow_fingerprints,
    "fingerprint": fingerprint,
    "segment_dedup": segment_dedup,
    "label_corpus": _label_corpus,
}


@pytest.mark.parametrize("name", list(SPLIT_ONCE))
def test_no_regex_split_inside_lambdas(spark, name):
    """The n-gram operators split each document once, in a projection, and
    cut their windows from that token column: Catalyst does not eliminate
    common subexpressions inside higher-order-function lambdas, so a
    `split(...)` in a lambda body runs once per window — O(tokens²) per
    document. Checked on the optimized plan; building it runs no job."""
    from taar_gcp_etl_spark.io import read_table

    docs = read_table(spark, SF_SMOKE, "documents")
    plan, n = spark_jobs(
        spark,
        lambda: SPLIT_ONCE[name](docs)
        ._jdf.queryExecution().optimizedPlan().toString(),
    )
    assert n == 0, n
    bodies = _lambda_bodies(plan)
    assert bodies, "the plan should shingle inside a lambda"
    assert not [b for b in bodies if "split(" in b], name


def test_zorder_scan_pruned_file_list_and_pushdown(spark, tmp_path):
    """Data-skipping composition (layout.py): the pruned scan's FileScan
    must carry (a) only the zone-map-kept files and (b) the residual
    predicate as PushedFilters — manifest-level skipping and parquet
    row-group skipping stack."""
    from taar_gcp_etl_spark import layout
    from taar_gcp_etl_spark.plans import formatted_plan

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    t = str(tmp_path / "z")
    layout.commit_clustered(
        orders, t, ["o_custkey", "o_totalprice"], n_files=8
    )
    filters = [("o_custkey", "between", (1, 30))]
    rep = layout.prune_report(spark, t, filters)
    assert rep["kept_files"] < rep["total_files"]
    df = layout.scan_pruned(spark, t, filters)
    plan = formatted_plan(df)
    assert f"{rep['kept_files']} paths" in plan or "InMemoryFileIndex" in plan
    from taar_gcp_etl_spark.plans import has_pushed_filter

    assert has_pushed_filter(df, "o_custkey")
    # the scan's file count equals the prune report's kept set
    assert len(df.inputFiles()) == rep["kept_files"]


class TestPlanFingerprint:
    """plans.plan_fingerprint (round 11): the bench ledger's per-query
    plan identity. Must be STABLE across independent plannings of the
    same query (expression ids and paths are normalized away) and
    SENSITIVE to real plan changes (a different filter, a lost
    projection) — the quarantine gate's plan-change exemption rides on
    exactly these two properties."""

    def test_stable_across_replanning(self, spark):
        from taar_gcp_etl_spark.plans import plan_fingerprint

        def q():
            return (
                spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
                .filter("o_custkey < 100")
                .groupBy("o_orderstatus")
                .count()
            )

        fp1, fp2 = plan_fingerprint(q()), plan_fingerprint(q())
        assert fp1 == fp2
        assert len(fp1) == 12

    def test_stable_for_registry_query(self, spark):
        from taar_gcp_etl_spark.plans import plan_fingerprint

        fn = SPARK_QUERIES["tpch_q1"]
        assert plan_fingerprint(fn(spark, SF_SMOKE)) == plan_fingerprint(
            fn(spark, SF_SMOKE)
        )

    def test_sensitive_to_plan_changes(self, spark):
        from taar_gcp_etl_spark.plans import plan_fingerprint

        base = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        a = plan_fingerprint(base.filter("o_custkey < 100"))
        b = plan_fingerprint(base.filter("o_custkey < 200"))
        c = plan_fingerprint(
            base.filter("o_custkey < 100").select("o_orderkey")
        )
        assert a != b  # changed literal
        assert a != c  # changed projection


class TestCrossSessionFingerprint:
    """Round 12 (VERDICT r11 #1b): plan_fingerprint normalization must be
    stable ACROSS JVM sessions — 8 registry queries churned fingerprints
    between every pair of identical-code ledger entries in r11, turning
    the quarantine's plan-change exemption into a permanent hole.

    Fixtures are RAW formatted plans captured from two separate
    fresh-JVM sessions running identical code (sf0.1 for the suite
    queries, sf0.001 for the MLlib ones), committed gzipped under
    tests/data/plans_xsession/. Each churned for a now-normalized
    reason: RDD lineage ids + call sites (cc_clusters, interleave,
    tokenize_ids), session-global lambda-variable counters
    (tokenize_ids), JVM lambda identities (als_recs), FP-Growth
    createDataFrame RDD ids (basket_rules). validate_batch's
    grouping-set gid assignment churns SCALA-side (not textually
    normalizable) and is instead absorbed by bench.stable_plan_changed's
    stability precondition — pinned here as a known-unstable marker so
    a future normalization win is noticed."""

    @staticmethod
    def _digest(name: str) -> str:
        import gzip
        import hashlib
        import os

        from taar_gcp_etl_spark.plans import normalize_plan

        path = os.path.join(
            os.path.dirname(__file__), "data", "plans_xsession",
            f"{name}.txt.gz",
        )
        with gzip.open(path, "rt") as f:
            return hashlib.sha256(
                normalize_plan(f.read()).encode()
            ).hexdigest()[:12]

    @pytest.mark.parametrize(
        "a,b",
        [
            ("p01_cc_clusters_1a", "p01_cc_clusters_2a"),
            ("p01_interleave_1a", "p01_interleave_2a"),
            ("p01_tokenize_ids_1a", "p01_tokenize_ids_2a"),
            ("plane_als_recs_1", "plane_als_recs_2"),
            ("plane_basket_rules_1", "plane_basket_rules_2"),
        ],
    )
    def test_identical_code_fingerprints_identically(self, a, b):
        assert self._digest(a) == self._digest(b)

    def test_validate_batch_known_unstable(self):
        """Scala-side grouping-set gid churn — if this ever stabilizes
        (Spark upgrade or smarter normalization), flip the assertion
        and drop the stable_plan_changed carve-out note."""
        assert self._digest("p01_validate_batch_1a") != self._digest(
            "p01_validate_batch_1b"
        )

    def test_normalization_preserves_sensitivity(self):
        """Sorting ExpressionSet lists must not erase real differences:
        a changed operator/element still changes the digest."""
        import gzip
        import hashlib
        import os

        from taar_gcp_etl_spark.plans import normalize_plan

        path = os.path.join(
            os.path.dirname(__file__), "data", "plans_xsession",
            "p01_tokenize_ids_1a.txt.gz",
        )
        with gzip.open(path, "rt") as f:
            raw = f.read()
        mutated = raw.replace("SortMergeJoin", "BroadcastHashJoin", 1)
        assert mutated != raw or "SortMergeJoin" not in raw
        if "SortMergeJoin" in raw:
            assert hashlib.sha256(
                normalize_plan(raw).encode()
            ).hexdigest() != hashlib.sha256(
                normalize_plan(mutated).encode()
            ).hexdigest()
        # element-level sensitivity: dropping one aggregate key changes it
        mutated2 = raw.replace("doc_id", "other_id")
        assert hashlib.sha256(
            normalize_plan(raw).encode()
        ).hexdigest() != hashlib.sha256(
            normalize_plan(mutated2).encode()
        ).hexdigest()
