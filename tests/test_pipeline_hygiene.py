"""Corpus-hygiene operators (r3): PII redaction, benchmark decontamination,
segment-level dedup — crafted-fixture semantics plus the plan shapes that
matter at corpus scale (broadcast benchmark set, no self-joins)."""

from __future__ import annotations

from pyspark.sql import functions as F

from taar_gcp_etl_spark.operators.dedup import benchmark_overlap, segment_dedup
from taar_gcp_etl_spark.operators.pii import pii_stats


class TestPii:
    def test_counts_and_redaction(self, spark):
        df = spark.createDataFrame(
            [
                (1, "mail a@b.co and c.d+x@e.org ip 10.0.0.7 tel +1-555-0001"),
                (2, "no pii here at all"),
                (3, "two ips 1.2.3.4 then 5.6.7.8"),
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in pii_stats(df).collect()}
        assert (rows[1].n_emails, rows[1].n_ips, rows[1].n_phones) == (2, 1, 1)
        assert rows[1].redacted == "mail <EMAIL> and <EMAIL> ip <IP> tel <PHONE>"
        assert (rows[2].n_emails, rows[2].n_ips, rows[2].n_phones) == (0, 0, 0)
        assert rows[2].redacted == "no pii here at all"
        assert rows[3].n_ips == 2
        assert rows[3].redacted == "two ips <IP> then <IP>"

    def test_email_rule_wins_over_ip_inside_address(self, spark):
        # digits-and-dots inside an email domain must NOT be re-redacted as
        # an IP fragment: email replacement runs first and consumes the span
        df = spark.createDataFrame(
            [(1, "x user@10.0.0.7.example.com y")], "doc_id long, text string"
        )
        red = pii_stats(df).first().redacted
        assert red == "x <EMAIL> y"

    def test_zero_shuffle_plan(self, spark):
        df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        plan = pii_stats(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestBenchmarkOverlap:
    def _fixture(self, spark):
        toks = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"  # 10 tokens → 3 8-grams
        return spark.createDataFrame(
            [
                (1, toks),  # identical to benchmark doc → all grams overlap
                (2, "u0 u1 u2 u3 u4 u5 u6 u7 u8"),  # disjoint, 2 grams
                (3, "short doc"),  # < 8 tokens → no grams → excluded
            ],
            "doc_id long, text string",
        ), spark.createDataFrame([(100, toks)], "doc_id long, text string")

    def test_overlap_counts(self, spark):
        corpus, bench = self._fixture(spark)
        rows = {r.doc_id: r for r in benchmark_overlap(corpus, bench).collect()}
        assert set(rows) == {1, 2}  # doc 3 has no grams
        assert (rows[1].n_grams, rows[1].n_overlap) == (3, 3)
        assert rows[1].overlap_ratio == 1.0
        assert (rows[2].n_grams, rows[2].n_overlap) == (2, 0)
        assert rows[2].overlap_ratio == 0.0

    def test_fast_hash_path_same_counts(self, spark):
        """The xxhash64 production probe must reproduce the md5 path's
        overlap accounting exactly (both are 64-bit keys; only the
        engine-portability differs)."""
        corpus, bench = self._fixture(spark)
        slow = {
            tuple(r)
            for r in benchmark_overlap(corpus, bench).collect()
        }
        fast = {
            tuple(r)
            for r in benchmark_overlap(
                corpus, bench, fast_hash=True
            ).collect()
        }
        assert slow == fast

    def test_benchmark_side_broadcasts(self, spark):
        corpus, bench = self._fixture(spark)
        plan = (
            benchmark_overlap(corpus, bench)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the corpus (100 TB side) must never shuffle for the probe: the
        # benchmark gram set broadcasts, corpus-side exchange only for the
        # final per-doc aggregation
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan


class TestSegmentDedup:
    def test_first_occurrence_wins_and_reassembly(self, spark):
        # seg width 3: doc1 = [A B], doc2 = [B C] (B duplicated), doc3 = [A]
        a, b, c = "a1 a2 a3", "b1 b2 b3", "c1 c2 c3"
        df = spark.createDataFrame(
            [(1, f"{a} {b}"), (2, f"{b} {c}"), (3, a)],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r for r in segment_dedup(df, seg_tokens=3).collect()
        }
        assert (rows[1].n_segments, rows[1].n_kept) == (2, 2)
        assert rows[1].cleaned_text == f"{a} {b}"
        # doc2 keeps only the novel segment C, in original order
        assert (rows[2].n_segments, rows[2].n_kept) == (2, 1)
        assert rows[2].cleaned_text == c
        # doc3's A was already claimed by doc1 → empty survivor text
        assert (rows[3].n_segments, rows[3].n_kept) == (1, 0)
        assert rows[3].cleaned_text == ""

    def test_partial_tail_segment(self, spark):
        df = spark.createDataFrame(
            [(1, "x1 x2 x3 x4")], "doc_id long, text string"
        )
        r = segment_dedup(df, seg_tokens=3).first()
        assert r.n_segments == 2  # [x1 x2 x3] + [x4]
        assert r.cleaned_text == "x1 x2 x3 x4"

    def test_no_self_join(self, spark):
        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        plan = (
            segment_dedup(df, seg_tokens=2)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Join" not in plan  # window + reagg only, corpus-linear


class TestValidateBatch:
    def test_verdicts_and_fail_closed_on_all_null(self, spark):
        from taar_gcp_etl_spark.operators.quality import validate_batch

        df = spark.createDataFrame(
            [(1.0, None), (2.0, None), (50.0, None)],
            "good double, bad double",
        )
        exp = spark.createDataFrame(
            [
                ("good", 0.0, 100.0, 0.0, 2),
                ("bad", 0.0, 100.0, 0.5, 1),  # all-null > any rate bound
            ],
            "column string, min_allowed double, max_allowed double,"
            " max_null_rate double, min_distinct long",
        )
        out = {r["column"]: r for r in validate_batch(df, exp).collect()}
        assert out["good"].ok == 1
        # all-null column: min/max are NULL -> comparison NULL -> fail
        # CLOSED, never silently promoted
        assert out["bad"].ok == 0
        assert out["bad"].n_nulls == 3

    def test_bound_violation_flags_column(self, spark):
        from taar_gcp_etl_spark.operators.quality import validate_batch

        df = spark.createDataFrame([(5.0,), (150.0,)], "v double")
        exp = spark.createDataFrame(
            [("v", 0.0, 100.0, 0.0, 1)],
            "column string, min_allowed double, max_allowed double,"
            " max_null_rate double, min_distinct long",
        )
        row = validate_batch(df, exp).collect()[0]
        assert row.ok == 0  # max 150 > allowed 100
        assert row.max_val == 150.0


class TestColumnProfileApprox:
    def test_approx_within_tolerance_and_no_expand(self, spark):
        """approx=True must (a) track the exact distinct counts within
        HLL++ tolerance, (b) plan WITHOUT any row fan-out (neither the
        r12 melt Generate nor the pre-r12 multi-count-distinct Expand) —
        the whole point of the production path."""
        from taar_gcp_etl_spark.io import read_table
        from taar_gcp_etl_spark.operators.quality import column_profile
        from tests.conftest import SF_SMOKE

        li = read_table(spark, SF_SMOKE, "lineitem")
        cols = ["l_quantity", "l_extendedprice"]
        exact = {
            r["column"]: r.n_distinct
            for r in column_profile(li, cols).collect()
        }
        approx_df = column_profile(li, cols, approx=True)
        approx = {r["column"]: r.n_distinct for r in approx_df.collect()}
        for c in cols:
            # default HLL++ rsd is 5%; allow ~2 sigma
            assert abs(approx[c] - exact[c]) <= max(5, 0.10 * exact[c])

        plan = approx_df._jdf.queryExecution().executedPlan().toString()
        assert "Expand" not in plan
        # no pre-aggregation row fan-out (the stack() unpivot DOES plan a
        # Generate, but over the single aggregated row — harmless)
        assert "posexplode" not in plan
        exact_plan = (
            column_profile(li, cols)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # r12: the exact path melts (posexplode Generate) instead of
        # planning the multi-count-distinct Expand whose first-level
        # aggregate keyed on every profiled column at once
        assert "Expand" not in exact_plan
        assert "posexplode" in exact_plan

    def test_exact_melt_matches_naive_wide_agg(self, spark):
        """r12 melt rewrite: every statistic must be IDENTICAL to the
        naive one-agg formulation, on data with duplicates and nulls,
        in both mean modes, with and without include_rows — and an
        empty batch still yields one row per requested column (the
        fail-closed contract validate_batch relies on)."""
        from pyspark.sql import functions as F

        from taar_gcp_etl_spark.operators.quality import column_profile

        df = spark.createDataFrame(
            [
                (1.25, 10.0),
                (1.25, None),
                (-3.5, 2.0),
                (None, 2.0),
                (0.0, -0.0),
            ],
            "a double, b double",
        )
        for dec in (None, 2):
            prof = {
                r["column"]: r
                for r in column_profile(
                    df, ["a", "b"], include_rows=True, exact_decimals=dec
                ).collect()
            }
            naive = df.agg(
                F.sum(F.when(F.col("a").isNull(), 1).otherwise(0)).alias(
                    "nn"
                ),
                F.count_distinct(F.col("a")).alias("nd"),
                F.min("a").alias("mn"),
                F.max("a").alias("mx"),
                F.round(F.avg("a"), 6).alias("mean"),
                F.count(F.lit(1)).alias("nr"),
            ).collect()[0]
            a = prof["a"]
            assert (
                a.n_nulls,
                a.n_distinct,
                a.min_val,
                a.max_val,
                a.n_rows,
            ) == (naive.nn, naive.nd, naive.mn, naive.mx, naive.nr)
            assert a.mean_val == naive.mean  # small exact doubles
            b = prof["b"]
            # -0.0 and 0.0 are one distinct value (normalized), as
            # count_distinct sees it
            assert b.n_distinct == 3 and b.n_nulls == 1

        empty = column_profile(
            df.filter(F.lit(False)), ["a", "b"], include_rows=True
        ).collect()
        assert {r["column"] for r in empty} == {"a", "b"}
        for r in empty:
            assert r.n_distinct == 0 and r.min_val is None
            assert r.n_rows == 0


class TestNoClockReads:
    """A job's output is a function of its inputs and an explicit run
    date: the CLI (__main__.py) is the one place that reads the clock
    and passes the date down."""

    def test_clock_reads_only_in_cli(self):
        import os
        import re

        pkg = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "taar_gcp_etl_spark",
        )
        clock = re.compile(r"current_date\(|date\.today\(|datetime\.now\(")
        hits = []
        for root, _dirs, files in os.walk(pkg):
            for name in files:
                path = os.path.join(root, name)
                if not name.endswith(".py") or name == "__main__.py":
                    continue
                with open(path) as f:
                    for no, line in enumerate(f, 1):
                        if clock.search(line):
                            hits.append(f"{os.path.relpath(path, pkg)}:{no}")
        assert hits == [], hits


class TestSessionFitsMachine:
    def test_driver_heap_fits_physical_memory(self, spark):
        """get_spark sizes the driver heap from the machine: with a heap
        cap above physical memory the JVM grows until the box runs out
        instead of collecting."""
        import os

        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext.getConf().get("spark.driver.memory")
        heap = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            conf
        )
        assert heap <= phys, (conf, phys)
        assert jvm.java.lang.Runtime.getRuntime().maxMemory() <= phys


class TestNoUnreachedCode:
    """Every public package definition is reached from a job, the CLI, the
    registry, the session factory or the benchmark — or is a known
    leftover listed here. New code that only tests reach fails; deleting
    a known leftover deletes its entry too, so the list stays exact."""

    ROOT_FILES = (
        "taar_gcp_etl_spark/__main__.py",
        "taar_gcp_etl_spark/queries.py",
        "taar_gcp_etl_spark/session.py",
        "__spark_entry__.py",
    )
    ROOT_DIRS = ("taar_gcp_etl_spark/jobs", "jobbench")

    KNOWN_UNREACHED = frozenset({
        "avro_ocf.MAGIC",
        "avro_ocf.avro_schema_for",
        "avro_ocf.decode_ocf",
        "avro_ocf.decode_ocf_header",
        "avro_ocf.encode_ocf",
        "avro_ocf.spark_schema_for",
        "io.TABLE_NAMES",
        "io.avro_supported",
        "io.read_avro",
        "io.read_json_artifact",
        "io.write_avro",
        "operators.dedup.simhash",
        "operators.filters.date_partition_predicate",
        "operators.filters.nonempty_array_predicate",
        "operators.filters.webextension_any_predicate",
        "operators.joins.estimate_fuzzy_join_candidates",
        "operators.joins.fuzzy_self_join",
        "operators.layout.sorted_range_write",
        "operators.merge.sketch_estimates",
        "operators.ranking.coinstall_pairs",
        "operators.recommend.als_recommend",
        "operators.sampling.hash_bucket_fast",
        "operators.similarity.donor_clusters",
        "operators.skew.salted_grouped_agg",
        "operators.skew.salted_join",
        "operators.skew.with_salt",
        "operators.text.fingerprint",
        "plans.formatted_plan",
        "plans.has_partial_aggregate",
        "plans.has_pushed_filter",
        "plans.join_strategies",
        "plans.normalize_plan",
        "plans.plan_fingerprint",
        "plans.scan_read_schema",
        "schemas.ACTIVE_ADDON",
        "schemas.CLIENTS_PROFILE",
        "schemas.EDITORIAL_ROW",
        "txn.ConditionalPutManifestPublisher",
        "txn.cdc_prune_report",
        "txn.set_manifest_publisher",
    })

    @staticmethod
    def _names(node) -> set[str]:
        """Every identifier a node mentions: names, attributes, imports."""
        import ast

        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.split(".")[-1])
            elif isinstance(n, ast.ImportFrom) and n.module:
                out.update(n.module.split("."))
        return out

    def _scan(self) -> tuple[dict, set[str]]:
        """({(module, name): names it mentions} for every top-level
        definition outside the roots, names the roots mention). A
        module's non-definition statements (imports, registrations)
        count as roots."""
        import ast
        import os

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pkg = os.path.join(repo, "taar_gcp_etl_spark")
        root_paths = {os.path.join(repo, f) for f in self.ROOT_FILES}
        for d in self.ROOT_DIRS:
            for name in os.listdir(os.path.join(repo, d)):
                if name.endswith(".py"):
                    root_paths.add(os.path.join(repo, d, name))

        reached, defs = set(), {}
        for root, _dirs, files in os.walk(pkg):
            for name in files:
                if not name.endswith(".py"):
                    continue
                path = os.path.join(root, name)
                mod = os.path.relpath(path, pkg)[:-3].replace(os.sep, ".")
                mod = mod.removesuffix("__init__").rstrip(".")
                with open(path) as f:
                    tree = ast.parse(f.read())
                for st in tree.body:
                    if isinstance(st, (ast.FunctionDef, ast.ClassDef)):
                        targets = [st.name]
                    elif isinstance(st, ast.Assign):
                        targets = [
                            t.id for t in st.targets if isinstance(t, ast.Name)
                        ]
                    else:
                        targets = []
                    if targets and path not in root_paths:
                        for t in targets:
                            defs[(mod, t)] = self._names(st)
                    else:
                        reached |= self._names(st)
        for path in root_paths:
            if not path.startswith(pkg + os.sep):
                with open(path) as f:
                    reached |= self._names(ast.parse(f.read()))
        return defs, reached

    def _unreached(self) -> set[str]:
        """Public definitions not reached by name from the roots,
        iterated to a fixpoint."""
        defs, reached = self._scan()
        live, grew = set(), True
        while grew:
            grew = False
            for (mod, name), uses in defs.items():
                if (mod, name) not in live and name in reached:
                    live.add((mod, name))
                    reached |= uses
                    grew = True
        return {
            f"{mod}.{name}".lstrip(".")
            for mod, name in defs.keys() - live
            if not name.startswith("_")
        }

    def test_unreached_definitions_are_known_leftovers(self):
        new = self._unreached() - self.KNOWN_UNREACHED
        assert not new, sorted(new)

    def test_known_leftovers_are_still_defined(self):
        defs, _ = self._scan()
        defined = {f"{mod}.{name}".lstrip(".") for mod, name in defs}
        stale = self.KNOWN_UNREACHED - defined
        assert not stale, sorted(stale)
