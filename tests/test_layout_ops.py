"""Physical-layout operator tests: compaction, sorted writes, Z-order."""

from __future__ import annotations

import glob

from pyspark.sql import Row
from pyspark.sql import functions as F

from taar_gcp_etl_spark.io import read_table
from taar_gcp_etl_spark.operators.layout import (
    compact_parquet_dir,
    sorted_range_write,
    zorder_key,
)
from tests.conftest import SF_SMOKE


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(f"{path}/*.parquet"))


class TestCompaction:
    def test_compact_shrinks_file_count_preserves_rows(self, spark, tmp_path):
        events = read_table(spark, SF_SMOKE, "events")
        src = str(tmp_path / "fragmented")
        events.repartition(40).write.parquet(src)
        assert len(_parquet_files(src)) == 40

        dest = str(tmp_path / "compacted")
        # huge target => everything fits one file
        n = compact_parquet_dir(spark, src, dest, target_file_bytes=1 << 30)
        assert n == 1
        assert len(_parquet_files(dest)) == 1
        got = spark.read.parquet(dest)
        assert got.count() == events.count()
        assert set(got.columns) == set(events.columns)

    def test_compact_respects_target_size(self, spark, tmp_path):
        events = read_table(spark, SF_SMOKE, "events")
        src = str(tmp_path / "frag2")
        events.repartition(40).write.parquet(src)
        dest = str(tmp_path / "comp2")
        # tiny target => several output files, none wildly oversized
        n = compact_parquet_dir(spark, src, dest, target_file_bytes=16 * 1024)
        assert n > 1
        assert len(_parquet_files(dest)) == n


class TestSortedRangeWrite:
    def test_per_file_ranges_are_disjoint_and_sorted(self, spark, tmp_path):
        events = read_table(spark, SF_SMOKE, "events")
        dest = str(tmp_path / "sorted")
        sorted_range_write(events, dest, ["user_id"], n_files=4)

        per_file = (
            spark.read.parquet(dest)
            .select("user_id", F.input_file_name().alias("f"))
            .groupBy("f")
            .agg(F.min("user_id").alias("lo"), F.max("user_id").alias("hi"))
            .collect()
        )
        assert len(per_file) == 4
        spans = sorted([(r.lo, r.hi) for r in per_file])
        for (_, prev_hi), (next_lo, _) in zip(spans, spans[1:]):
            assert prev_hi <= next_lo  # disjoint global order

    def test_rows_survive(self, spark, tmp_path):
        events = read_table(spark, SF_SMOKE, "events")
        dest = str(tmp_path / "sorted2")
        sorted_range_write(events, dest, ["user_id", "ts"], n_files=3)
        assert spark.read.parquet(dest).count() == events.count()


class TestZOrder:
    def test_interleave_matches_python_reference(self, spark):
        def morton2(x: int, y: int, bits: int) -> int:
            out = 0
            for b in range(bits):
                out |= ((x >> b) & 1) << (2 * b)
                out |= ((y >> b) & 1) << (2 * b + 1)
            return out

        rows = [Row(x=x, y=y) for x in [0, 1, 5, 255] for y in [0, 3, 128, 255]]
        df = spark.createDataFrame(rows)
        got = df.select(
            "x", "y", zorder_key(["x", "y"], bits=8).alias("z")
        ).collect()
        for r in got:
            assert r.z == morton2(r.x, r.y, 8), (r.x, r.y)

    def test_zorder_write_clusters_both_dimensions(self, spark, tmp_path):
        """Sorting by the interleaved key must give BOTH dimensions tighter
        per-file min/max spans than an unclustered layout (that span is
        exactly what footer pruning uses)."""
        import random

        rng = random.Random(7)
        rows = [
            Row(x=rng.randrange(1 << 16), y=rng.randrange(1 << 16))
            for _ in range(4000)
        ]
        df = spark.createDataFrame(rows)
        z = df.withColumn("z", zorder_key(["x", "y"], bits=16))
        dest = str(tmp_path / "zsorted")
        sorted_range_write(z, dest, ["z"], n_files=8)

        spans = (
            spark.read.parquet(dest)
            .select("x", "y", F.input_file_name().alias("f"))
            .groupBy("f")
            .agg(
                (F.max("x") - F.min("x")).alias("xs"),
                (F.max("y") - F.min("y")).alias("ys"),
            )
            .agg(F.avg("xs").alias("xs"), F.avg("ys").alias("ys"))
            .collect()[0]
        )
        full = 1 << 16
        # 8 files of a good 2-D clustering: each dimension's average span
        # should be well under the full domain (random layout ≈ full span).
        assert spans.xs < 0.8 * full
        assert spans.ys < 0.8 * full
