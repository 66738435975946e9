"""Z-order clustering + zone-map data skipping (taar_gcp_etl_spark/
layout.py): the scan-efficiency layer over the txn table format.

What must hold:
* scan_pruned ≡ full-scan-and-filter for every supported predicate
  (correctness independent of stats quality — stats only remove files
  provably disjoint from the predicate);
* Z-order actually earns its shuffle: single-column predicates prune
  on EVERY clustered dimension (a linear sort prunes only its leading
  column — pinned by a head-to-head);
* a clustered commit is transactional: a replayed epoch is skipped
  before any write.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from taar_gcp_etl_spark import layout, txn

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestZorderKey:
    def test_interleave_is_deterministic_and_bounded(self, spark, orders):
        keyed, key = layout.zorder_key(
            orders, ["o_custkey", "o_totalprice"], bits=4
        )
        vals = [r[0] for r in keyed.select(key).collect()]
        assert all(0 <= v < (1 << 8) for v in vals)  # 2 cols × 4 bits
        keyed2, key2 = layout.zorder_key(
            orders, ["o_custkey", "o_totalprice"], bits=4
        )
        assert vals == [r[0] for r in keyed2.select(key2).collect()]

    def test_complex_column_rejected_with_guidance(self, spark, orders):
        arr = orders.withColumn("a", F.array(F.col("o_custkey")))
        with pytest.raises(ValueError, match="unsupported type"):
            layout.zorder_key(arr, ["a"])

    def test_quantile_ranks_spread_skewed_domain(self, spark):
        """Skew-robustness: one heavy-hitter value plus a long tail must
        not crush the tail into a single bucket (the linear min-max
        failure). The tail's ranks should span many buckets."""
        rows = [(0.0,)] * 500 + [(float(i),) for i in range(1, 101)]
        df = spark.createDataFrame(rows, "x double")
        keyed, key = layout.zorder_key(df, ["x"], bits=6)
        tail_ranks = {
            r[0]
            for r in keyed.filter(F.col("x") > 0).select(key).collect()
        }
        assert len(tail_ranks) > 8


class TestCommitClusteredAndPrune:
    @pytest.fixture(scope="class")
    def table(self, spark, orders, tmp_path_factory):
        t = str(tmp_path_factory.mktemp("zt") / "orders_z")
        v = layout.commit_clustered(
            orders,
            t,
            ["o_custkey", "o_totalprice"],
            n_files=8,
            stats_cols=["o_custkey", "o_totalprice", "o_orderdate"],
        )
        assert v == 1
        return t

    def test_manifest_carries_per_file_zone_maps(self, spark, table):
        man = txn.latest_manifest(spark, table)
        assert man["clustered_by"] == ["o_custkey", "o_totalprice"]
        assert len(man["files"]) == 8
        for entry in man["files"]:
            assert entry["rows"] > 0
            lo, hi = entry["stats"]["o_custkey"]
            assert lo <= hi

    def test_both_zorder_dimensions_prune(self, spark, table):
        """THE z-order property: a range predicate on EITHER clustered
        column alone skips files — each file covers a compact
        hyper-rectangle, not a full-range slab."""
        for filters in (
            [("o_custkey", "between", (1, 30))],
            [("o_totalprice", "between", (1000.0, 20000.0))],
        ):
            rep = layout.prune_report(spark, table, filters)
            assert rep["total_files"] == 8
            assert 0 < rep["kept_files"] < rep["total_files"], filters
            # r7: row-group footer stats refine the rows estimate —
            # kept files' in-file sorting means the matching rows are
            # a subset of the kept files' rows, never more
            assert 0 < rep["kept_rows"] <= rep["total_rows"], filters
            exact = (
                layout.scan_pruned(spark, table, filters).count()
            )
            assert exact <= rep["kept_rows"], filters

    def test_conjunction_prunes_at_least_as_hard(self, spark, table):
        a = layout.prune_report(spark, table, [("o_custkey", "<=", 50)])
        both = layout.prune_report(
            spark,
            table,
            [("o_custkey", "<=", 50), ("o_totalprice", ">=", 150000.0)],
        )
        assert both["kept_files"] <= a["kept_files"]

    @pytest.mark.parametrize(
        "filters",
        [
            [("o_custkey", "between", (10, 40))],
            [("o_custkey", "=", 7)],
            [("o_totalprice", ">=", 250000.0)],
            [("o_totalprice", "<", 5000.0)],
            [("o_custkey", ">", 100), ("o_totalprice", "<=", 80000.0)],
            [("o_orderdate", ">=", __import__("datetime").datetime(1997, 1, 1))],
            [("o_custkey", "in", [3, 7, 41])],
        ],
    )
    def test_pruned_scan_equals_full_filter(
        self, spark, table, orders, filters
    ):
        got = _sorted_rows(layout.scan_pruned(spark, table, filters))
        exp = _sorted_rows(orders.filter(layout._residual(filters)))
        assert got == exp and len(exp) > 0

    def test_in_list_prunes_like_equalities(self, spark, table):
        """The 'in' op keeps a file iff ANY listed value intersects its
        [min, max]; a list of out-of-domain values reads zero files."""
        rep = layout.prune_report(spark, table, [("o_custkey", "in", [7])])
        eq = layout.prune_report(spark, table, [("o_custkey", "=", 7)])
        assert rep == eq
        none = layout.prune_report(
            spark, table, [("o_custkey", "in", [10**9, -5])]
        )
        assert none["kept_files"] == 0

    def test_disjoint_predicate_reads_zero_files(self, spark, table):
        rep = layout.prune_report(
            spark, table, [("o_custkey", ">", 10**9)]
        )
        assert rep["kept_files"] == 0
        out = layout.scan_pruned(spark, table, [("o_custkey", ">", 10**9)])
        assert out.count() == 0
        assert out.columns == txn.read_txn(spark, table).columns

    def test_zorder_beats_linear_sort_on_second_dimension(
        self, spark, orders, tmp_path
    ):
        """Head-to-head that justifies the interleave: cluster the same
        data linearly on o_custkey only — a o_totalprice predicate then
        keeps (almost) every file, while the z-ordered layout skips a
        meaningful fraction."""
        lin = str(tmp_path / "linear")
        layout.commit_clustered(
            orders,
            lin,
            ["o_custkey"],
            n_files=8,
            stats_cols=["o_custkey", "o_totalprice"],
        )
        zed = str(tmp_path / "zed")
        layout.commit_clustered(
            orders,
            zed,
            ["o_custkey", "o_totalprice"],
            n_files=8,
            stats_cols=["o_custkey", "o_totalprice"],
        )
        pred = [("o_totalprice", "between", (1000.0, 20000.0))]
        lin_rep = layout.prune_report(spark, lin, pred)
        zed_rep = layout.prune_report(spark, zed, pred)
        assert zed_rep["kept_files"] < lin_rep["kept_files"]
        # and the leading column still prunes in both layouts
        lead = [("o_custkey", "between", (1, 30))]
        assert (
            layout.prune_report(spark, lin, lead)["kept_files"]
            < lin_rep["total_files"]
        )


class TestNullsAndTypes:
    def test_null_heavy_column_prunes_and_stays_correct(self, spark, tmp_path):
        rows = [(i, float(i) if i % 3 else None) for i in range(300)]
        df = spark.createDataFrame(rows, "id long, v double")
        t = str(tmp_path / "nulls")
        layout.commit_clustered(df, t, ["id"], n_files=4, stats_cols=["id", "v"])
        filters = [("v", ">=", 200.0)]
        got = _sorted_rows(layout.scan_pruned(spark, t, filters))
        exp = _sorted_rows(df.filter(F.col("v") >= 200.0))
        assert got == exp

    def test_all_null_file_is_provably_disjoint(self, spark, tmp_path):
        """A file whose stats column is entirely null can never satisfy a
        comparison predicate — it must be skipped, not kept."""
        df = spark.createDataFrame(
            [(i, None if i < 100 else float(i)) for i in range(200)],
            "id long, v double",
        )
        t = str(tmp_path / "allnull")
        # clustering on id puts the all-null-v rows in their own files
        layout.commit_clustered(df, t, ["id"], n_files=4, stats_cols=["id", "v"])
        man = txn.latest_manifest(df.sparkSession, t)
        null_files = [
            e["file"] for e in man["files"] if e["stats"]["v"][0] is None
        ]
        assert null_files  # layout really produced all-null-v files
        rep = layout.prune_report(spark, t, [("v", ">=", 0.0)])
        assert set(null_files) & set(rep["kept"]) == set()
        got = _sorted_rows(layout.scan_pruned(spark, t, [("v", ">=", 0.0)]))
        assert got == _sorted_rows(df.filter(F.col("v") >= 0.0))

    def test_date_stats_roundtrip_through_manifest_json(self, spark, tmp_path):
        import datetime

        df = spark.createDataFrame(
            [(i, datetime.date(2020, 1, 1) + datetime.timedelta(days=i))
             for i in range(120)],
            "id long, d date",
        )
        t = str(tmp_path / "dates")
        layout.commit_clustered(df, t, ["d"], n_files=4)
        filters = [("d", ">=", datetime.date(2020, 4, 1))]
        rep = layout.prune_report(spark, t, filters)
        assert 0 < rep["kept_files"] < rep["total_files"]
        got = _sorted_rows(layout.scan_pruned(spark, t, filters))
        assert got == _sorted_rows(
            df.filter(F.col("d") >= "2020-04-01")
        )


class TestStringZorder:
    def test_string_prefix_key_is_monotonic(self, spark):
        """The base-256 6-byte-prefix mapping must order exactly like
        Spark's own string comparison (UTF-8 bytewise), including
        non-ASCII and prefix ties."""
        vals = ["", "a", "aa", "ab", "b", "ba", "z", "za", "~", "é", "中文"]
        df = spark.createDataFrame([(v,) for v in vals], "s string")
        mapped = [
            r.m
            for r in df.orderBy("s")  # Spark's own string order
            .select(layout._as_double("s", "string").alias("m"))
            .collect()
        ]
        assert mapped == sorted(mapped)
        assert len(set(mapped)) == len(vals)  # distinct under 6 bytes

    def test_string_column_clusters_and_prunes(self, spark, tmp_path):
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        t = str(tmp_path / "docs_z")
        layout.commit_clustered(
            docs,
            t,
            ["source", "n_chars"],
            n_files=8,
            stats_cols=["source", "n_chars", "lang"],
        )
        filters = [("source", "between", ("src0", "src12"))]
        rep = layout.prune_report(spark, t, filters)
        assert 0 < rep["kept_files"] < rep["total_files"]
        got = _sorted_rows(layout.scan_pruned(spark, t, filters))
        exp = _sorted_rows(docs.filter(layout._residual(filters)))
        assert got == exp and len(exp) > 0
        # equality on a string column prunes too
        eq = [("source", "=", "src7")]
        assert (
            layout.prune_report(spark, t, eq)["kept_files"]
            < rep["total_files"]
        )
        assert _sorted_rows(
            layout.scan_pruned(spark, t, eq)
        ) == _sorted_rows(docs.filter(F.col("source") == "src7"))


class TestFileBloomFilters:
    @pytest.fixture(scope="class")
    def table(self, spark, orders, tmp_path_factory):
        t = str(tmp_path_factory.mktemp("bl") / "orders_b")
        layout.commit_clustered(
            orders,
            t,
            ["o_custkey", "o_totalprice"],
            n_files=8,
            bloom_cols=["o_orderkey"],
        )
        return t

    def test_equality_on_unclustered_id_prunes_via_bloom(
        self, spark, table, orders
    ):
        """Zone maps can't serve an unclustered id — its min/max spans
        ~every file; the per-file bloom pins the one file that holds it."""
        some_key = orders.select("o_orderkey").collect()[37][0]
        rep = layout.prune_report(
            spark, table, [("o_orderkey", "=", some_key)]
        )
        assert rep["kept_files"] <= 2  # bloom fp allowance
        got = _sorted_rows(
            layout.scan_pruned(spark, table, [("o_orderkey", "=", some_key)])
        )
        exp = _sorted_rows(orders.filter(F.col("o_orderkey") == some_key))
        assert got == exp and len(exp) == 1

    def test_absent_key_reads_nothing(self, spark, table):
        rep = layout.prune_report(
            spark, table, [("o_orderkey", "=", 10**15)]
        )
        assert rep["kept_files"] == 0

    def test_unstable_value_types_bypass_bloom_never_false_skip(
        self, spark, table, orders
    ):
        """A float-valued equality must NOT consult the bloom (JVM vs
        Python string forms differ) — files stay kept and the residual
        filter does the work."""
        some_key = float(orders.select("o_orderkey").collect()[3][0])
        rep = layout.prune_report(
            spark, table, [("o_orderkey", "=", some_key)]
        )
        assert rep["kept_files"] == rep["total_files"]

    def test_bloom_on_float_column_rejected(self, spark, orders, tmp_path):
        with pytest.raises(ValueError, match="string/integral"):
            layout.commit_clustered(
                orders,
                str(tmp_path / "t"),
                ["o_custkey"],
                n_files=2,
                bloom_cols=["o_totalprice"],
            )

    def test_blooms_live_in_a_sidecar_not_the_manifest(
        self, spark, table, orders
    ):
        """The sf1 soak lesson: inline bloom bytes inflated a 256-file
        manifest to ~44 MB of JSON parsed on EVERY plan, making the
        pruned scan slower than the plain one. The manifest must stay
        small (bitmaps in an immutable sidecar under data/), and a
        range-only plan must never load the sidecar at all."""
        import json
        import os

        from taar_gcp_etl_spark import txn

        man = txn.latest_manifest(spark, table)
        assert "blooms" not in man and "blooms_ref" in man
        # manifest JSON stays metadata-sized even with blooms enabled
        assert len(json.dumps(man)) < 64 * 1024
        side = os.path.join(table, man["blooms_ref"]["path"])
        assert os.path.isfile(side) and side.endswith(".bloom")
        # range-only plan: sidecar not consulted (cache stays cold)
        layout._BLOOM_CACHE.clear()
        layout.prune_report(
            spark, table, [("o_custkey", "between", (1, 50))]
        )
        assert layout._BLOOM_CACHE == {}
        # equality plan loads it once; a second probe reuses the cache
        layout.prune_report(spark, table, [("o_orderkey", "=", 1)])
        assert len(layout._BLOOM_CACHE) == 1

    def test_bloom_sidecar_follows_vacuum_lifecycle(
        self, spark, orders, tmp_path
    ):
        """Superseded versions' sidecars are deleted with their
        snapshots; the kept version's sidecar survives."""
        import os

        from taar_gcp_etl_spark import txn

        t = str(tmp_path / "vacb")
        for _ in range(2):
            layout.commit_clustered(
                orders, t, ["o_custkey"], n_files=2,
                bloom_cols=["o_orderkey"],
            )
        side = {
            v: txn.read_manifest(spark, t, v)["blooms_ref"]["path"]
            for v in (1, 2)
        }
        txn.vacuum_txn(spark, t, keep_last=1)
        assert not os.path.exists(os.path.join(t, side[1]))
        assert os.path.exists(os.path.join(t, side[2]))
        # and the surviving version still bloom-prunes
        rep = layout.prune_report(spark, t, [("o_orderkey", "=", 10**15)])
        assert rep["kept_files"] == 0

    def test_legacy_inline_bloom_manifests_still_prune(
        self, spark, orders, tmp_path
    ):
        """Tables committed before the sidecar change carry bitmaps
        inline (base64) in the manifest — they must keep pruning, not
        silently degrade to zone maps (review fix)."""
        import base64
        import json
        import os
        import zlib

        from taar_gcp_etl_spark import txn

        t = str(tmp_path / "leg")
        layout.commit_clustered(
            orders, t, ["o_custkey"], n_files=4, bloom_cols=["o_orderkey"]
        )
        man = txn.latest_manifest(spark, t)
        bref = man.pop("blooms_ref")
        blob = open(os.path.join(t, bref["path"]), "rb").read()
        files = {}
        for fname, cols in bref["index"].items():
            for c, (off, ln) in cols.items():
                files.setdefault(fname, {})[c] = base64.b64encode(
                    zlib.decompress(blob[off : off + ln])
                ).decode()
        man["blooms"] = {
            "m_bits": bref["m_bits"], "k": bref["k"], "files": files
        }
        with open(os.path.join(t, "_log", "0000000001.json"), "w") as f:
            json.dump(man, f)
        rep = layout.prune_report(spark, t, [("o_orderkey", "=", 10**15)])
        assert rep["kept_files"] == 0  # absent key: bloom still prunes

    def test_bloom_composes_with_zone_maps(self, spark, table, orders):
        """Conjunction of a zone-map range and a bloom equality prunes
        at least as hard as either alone."""
        some_key = orders.select("o_orderkey").collect()[11][0]
        only_bloom = layout.prune_report(
            spark, table, [("o_orderkey", "=", some_key)]
        )
        both = layout.prune_report(
            spark,
            table,
            [
                ("o_orderkey", "=", some_key),
                ("o_custkey", "between", (1, 50)),
            ],
        )
        assert both["kept_files"] <= only_bloom["kept_files"]


class TestOptimizeZorder:
    """commit_clustered's replay guard."""

    def test_epoch_replay_skipped(self, spark, orders, tmp_path):
        t = str(tmp_path / "epoch")
        assert (
            layout.commit_clustered(
                orders, t, ["o_custkey"], n_files=2, epoch_id=5
            )
            == 1
        )
        assert (
            layout.commit_clustered(
                orders, t, ["o_custkey"], n_files=2, epoch_id=5
            )
            is None
        )


class TestManifestPathShapes:
    """VERDICT r8 #6: _path_tail/_rel_name are the seam that keeps
    manifest file names portable across filesystems — pin every
    reader-reported URI shape (file:/, file:///, s3a://bucket/) against
    every table-dir shape the caller might pass, so a refactor cannot
    silently re-introduce local-path assumptions. Pure functions, no
    Spark needed."""

    TABLE_DIR_FORMS = [
        "/data/tbl",
        "file:/data/tbl",
        "file:///data/tbl",
        "s3a://bucket/data/tbl",
    ]
    URI_PREFIXES = ["", "file:/", "file://", "file:///", "s3a://bucket/"]

    def test_rel_name_stable_across_scheme_combinations(self):
        """Whatever scheme the caller used for the table dir and
        whatever scheme the reader reports back, the manifest-recorded
        name must be the same snapshot-relative path."""
        for table_dir in self.TABLE_DIR_FORMS:
            marker = layout._path_tail(table_dir.rstrip("/")) + "/"
            for pre in self.URI_PREFIXES:
                uri = f"{pre}data/tbl/data/v01-tok/_bucket=3/part-0.parquet"
                # an s3a table dir only ever sees s3a-reported URIs and
                # vice versa — skip host-mismatched pairings where the
                # bucket segment wouldn't be present
                if ("bucket" in table_dir) != ("bucket" in pre):
                    continue
                assert layout._rel_name(uri, marker) == (
                    "data/v01-tok/_bucket=3/part-0.parquet"
                ), (table_dir, pre)

    def test_plain_layout_reduces_to_basename(self):
        marker = layout._path_tail("/data/tbl") + "/"
        assert layout._rel_name(
            "file:///data/tbl/data/v01-tok/part-7.parquet", marker
        ) == "data/v01-tok/part-7.parquet"

    def test_unmatched_marker_falls_back_to_basename(self):
        """A URI outside the table dir must not leak an absolute local
        path into the manifest."""
        marker = layout._path_tail("/other/place") + "/"
        assert layout._rel_name(
            "file:///data/tbl/part-9.parquet", marker
        ) == "part-9.parquet"

    def test_path_tail_shapes(self):
        assert layout._path_tail("file:/a/b") == "a/b"
        assert layout._path_tail("file:///a/b") == "a/b"
        assert layout._path_tail("s3a://bucket/a/b") == "bucket/a/b"
        assert layout._path_tail("/a/b") == "a/b"
        assert layout._path_tail("hdfs://nn:8020/a/b") == "nn:8020/a/b"


class TestSliceCountClamp:
    """ADVICE r8: an EXPLICIT slice_rows (stale sticky cluster_rows, or
    an ad-hoc caller) must not emit more than _RG_SLICE_MAX_PER_FILE
    slice entries for any file — the clamp derives from the same
    zero-column count pass that auto-sizing uses."""

    def test_explicit_tiny_slice_rows_clamped(self, spark, tmp_path):
        d = str(tmp_path / "giant")
        spark.range(60_000).selectExpr(
            "id", "id % 97 as k"
        ).coalesce(1).write.parquet(d)
        entries = layout.collect_file_stats(
            spark, d, ["k"], row_groups=True, slice_rows=10
        )
        assert entries, "fixture wrote at least one file"
        for e in entries:
            assert len(e["row_groups"]) <= layout._RG_SLICE_MAX_PER_FILE
        # and the slices still cover every row
        assert sum(
            s["rows"] for e in entries for s in e["row_groups"]
        ) == 60_000

    def test_reasonable_explicit_slice_rows_respected(
        self, spark, tmp_path
    ):
        """The clamp must not disturb a sane explicit value: 4 slices
        of 2500 rows for a 10k-row file."""
        d = str(tmp_path / "sane")
        spark.range(10_000).selectExpr(
            "id", "id % 7 as k"
        ).coalesce(1).write.parquet(d)
        entries = layout.collect_file_stats(
            spark, d, ["k"], row_groups=True, slice_rows=2500
        )
        assert len(entries) == 1
        assert len(entries[0]["row_groups"]) == 4
