"""Transaction-log table layout (taar_gcp_etl_spark/txn.py): atomic
manifest-swap commits, snapshot isolation, time travel, epoch replay
guards, CDC tombstones, and the two crash windows the plain-parquet
paths document as their limitations (VERDICT r3 next-2):

* delete-op CDC replay — a stale upsert after a newer delete must NOT
  resurrect the row (tombstone retention), and
* kill between the snapshot write and the manifest publish — the table
  must be unchanged, and the replay must apply exactly once.
"""

from __future__ import annotations

import json
from collections import Counter

import pytest
from pyspark.sql import functions as F

from taar_gcp_etl_spark import layout, txn
from tests.conftest import files_written, spark_jobs

CDC_SCHEMA = "id long, val string, seq long, op string"


def _rows(df):
    return {r.id: (r.val, r.seq) for r in df.collect()}


def _apply(spark, t, rows, n_buckets=4, **kw):
    """One CDC batch (CDC_SCHEMA rows) into a small bucketed table."""
    return txn.apply_cdc_batch_bucketed(
        spark.createDataFrame(rows, CDC_SCHEMA), t, n_buckets=n_buckets,
        **kw,
    )


def _commit_snapshot(df, t, **kw):
    """Commit ``df`` as the next version of a plain snapshot table."""
    return layout.commit_clustered(df, t, ["id"], n_files=1, **kw)


def _snapshot_diff(spark, t, lo, hi=None, mode="compact"):
    """Reference change feed: txn._keyed_diff over the live rows of the
    two versions (version 0 is the empty table before the first
    commit)."""
    man = txn.latest_manifest(spark, t)
    new = txn.read_cdc_table(
        spark, t, version=man["version"] if hi is None else hi
    )
    old = (
        new.filter(F.lit(False))
        if lo == 0
        else txn.read_cdc_table(spark, t, version=lo)
    )
    return txn._keyed_diff(
        old, new, man["key_col"], man["seq_col"], mode=mode
    )


def _buckets(spark, keys, n_buckets):
    """{key: bucket} for integer keys of an ``n_buckets`` table."""
    df = spark.createDataFrame([(int(k),) for k in keys], "id long")
    return {
        r.id: r.b
        for r in df.select(
            "id", txn._bucket_of("id", n_buckets).alias("b")
        ).collect()
    }


def _bucket_subdirs(t, d):
    """The buckets with a ``_bucket=b`` subdir under ``t/d``."""
    from pathlib import Path

    root = Path(t) / d
    return {
        int(p.name.split("=", 1)[1])
        for p in (root.iterdir() if root.exists() else ())
        if p.name.startswith(f"{txn.BUCKET_COL}=")
    }


def _assert_dirs_hold_mapped_subdirs(t, *mans):
    """Each bucket or overlay dir the manifests reference holds exactly
    the ``_bucket=b`` subdirs of the buckets they map to it (for tables
    whose every mapped bucket holds rows)."""
    mapped: dict[str, set[int]] = {}
    for man in mans:
        for b, d in man["buckets"].items():
            mapped.setdefault(d, set()).add(int(b))
        for b, paths in man["overlays"].items():
            for d in paths:
                mapped.setdefault(d, set()).add(int(b))
    for d, bs in mapped.items():
        assert _bucket_subdirs(t, d) == bs, d


def _feed_rows(df):
    """A change feed's rows as a multiset, columns in name order."""
    return Counter(tuple(r) for r in df.select(sorted(df.columns)).collect())


class TestCommitRead:
    def test_roundtrip_and_versions(self, spark, tmp_path):
        t = str(tmp_path / "t")
        v1 = _commit_snapshot(
            spark.createDataFrame([(1, "a")], "id long, val string"), t
        )
        v2 = _commit_snapshot(
            spark.createDataFrame([(1, "b"), (2, "c")], "id long, val string"),
            t,
        )
        assert (v1, v2) == (1, 2)
        assert _rows(
            txn.read_txn(spark, t).withColumn("seq", F.lit(0))
        ) == {1: ("b", 0), 2: ("c", 0)}
        # time travel: version 1 still readable after version 2 commits
        old = txn.read_txn(spark, t, version=1)
        assert [r.val for r in old.collect()] == ["a"]

    def test_empty_table_reads_none(self, spark, tmp_path):
        assert txn.read_txn(spark, str(tmp_path / "missing")) is None

    def test_commit_may_read_own_table(self, spark, tmp_path):
        """The committed plan can lazily scan the current snapshot — the
        new snapshot is a fresh directory, so no lineage cut is needed
        (the plain-parquet overwrite path must localCheckpoint)."""
        t = str(tmp_path / "t")
        _commit_snapshot(
            spark.createDataFrame([(1, 10)], "id long, v long"), t
        )
        cur = txn.read_txn(spark, t)
        _commit_snapshot(cur.withColumn("v", F.col("v") + 1), t)
        assert txn.read_txn(spark, t).collect()[0].v == 11

    def test_epoch_replay_skipped(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = spark.createDataFrame([(1, "a")], "id long, val string")
        assert _commit_snapshot(df, t, epoch_id=0) == 1
        assert _commit_snapshot(df, t, epoch_id=1) == 2
        # same and older epochs are skipped before any write
        assert _commit_snapshot(df, t, epoch_id=1) is None
        assert _commit_snapshot(df, t, epoch_id=0) is None
        assert len(txn._list_manifest_versions(spark, t)) == 2

    def test_version_conflict_retries_to_next_slot(self, spark, tmp_path):
        """Optimistic concurrency: if another writer took the target
        manifest slot between log-read and publish, the commit re-reads
        and lands on the next version instead of clobbering."""
        t = str(tmp_path / "t")
        _commit_snapshot(
            spark.createDataFrame([(1, "a")], "id long, val string"), t
        )
        # squat on version 2 as a concurrent writer would
        squat = {
            "version": 2,
            "snapshot": "data/v0000000002-squat",
            "epoch_id": None,
            "parent": 1,
        }
        spark.createDataFrame(
            [(2, "x")], "id long, val string"
        ).write.parquet(f"{t}/data/v0000000002-squat")
        txn._write_bytes(
            spark,
            f"{t}/_log/{txn._manifest_name(2)}",
            json.dumps(squat).encode(),
        )
        v = _commit_snapshot(
            spark.createDataFrame([(3, "c")], "id long, val string"), t
        )
        assert v == 3
        assert txn.latest_manifest(spark, t)["version"] == 3
        assert [r.val for r in txn.read_txn(spark, t).collect()] == ["c"]


class TestCrashWindow:
    def test_kill_between_snapshot_write_and_manifest_publish(
        self, spark, tmp_path, monkeypatch
    ):
        """THE crash test: the bucket dir lands but the process dies
        before the manifest rename. The table must still read as the
        previous version (orphan dir invisible), and re-running the
        batch must apply it exactly once."""
        t = str(tmp_path / "dim")
        b1 = [(1, "a0", 1, "I"), (2, "b0", 2, "I")]
        b2 = [(1, "a1", 3, "U")]
        assert _apply(spark, t, b1, epoch_id=0) == 1

        real_write = txn._write_bytes
        boom = RuntimeError("killed before manifest publish")

        def dying_write(spark_, path, data):
            if "/_log/" in path:
                raise boom
            return real_write(spark_, path, data)

        monkeypatch.setattr(txn, "_write_bytes", dying_write)
        with pytest.raises(RuntimeError, match="killed before"):
            _apply(spark, t, b2, epoch_id=1)
        monkeypatch.undo()

        # crash left the table at epoch-0 state — no partial apply
        assert txn.latest_manifest(spark, t)["version"] == 1
        assert _rows(txn.read_cdc_table(spark, t)) == {
            1: ("a0", 1), 2: ("b0", 2)
        }

        # replayed batch applies EXACTLY once; a second replay is skipped
        assert _apply(spark, t, b2, epoch_id=1) == 2
        assert _apply(spark, t, b2, epoch_id=1) is None
        assert txn.latest_manifest(spark, t)["version"] == 2
        assert _rows(txn.read_cdc_table(spark, t)) == {
            1: ("a1", 3), 2: ("b0", 2)
        }

        # the orphan bucket dir from the crash is garbage-collected
        report = txn.vacuum_txn(spark, t, keep_last=2)
        assert report["removed_snapshots"] >= 1
        assert txn.read_txn(spark, t) is not None


class TestCdcTombstones:
    def test_stale_upsert_cannot_resurrect_deleted_key(
        self, spark, tmp_path
    ):
        """THE delete-replay test: I(seq1) → D(seq4) → replayed stale
        U(seq3). The plain-parquet path documents this as its
        resurrection gap; the tombstone's seq must win here."""
        t = str(tmp_path / "dim")
        _apply(spark, t, [(1, "a0", 1, "I"), (2, "b0", 2, "I")])
        _apply(spark, t, [(1, None, 4, "D")])
        # stale update from before the delete, replayed after it
        _apply(spark, t, [(1, "a1", 3, "U")])
        live = _rows(txn.read_cdc_table(spark, t))
        assert live == {2: ("b0", 2)}  # key 1 stays dead
        raw = txn.read_cdc_table(spark, t, include_tombstones=True)
        tomb = {r.id: (r.seq, r._deleted) for r in raw.collect()}
        assert tomb[1] == (4, True)  # tombstone retained with delete seq

    def test_delete_of_unseen_key_guards_future_stale_inserts(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "dim")
        _apply(spark, t, [(7, None, 10, "D")])
        _apply(spark, t, [(7, "zombie", 9, "I")])
        assert txn.read_cdc_table(spark, t).count() == 0
        # a genuinely NEWER insert does revive the key
        _apply(spark, t, [(7, "fresh", 11, "I")])
        assert _rows(txn.read_cdc_table(spark, t)) == {7: ("fresh", 11)}

    def test_seq_guard_and_in_batch_ordering_parity(self, spark, tmp_path):
        """Same guarantees as the plain-parquet CDC tests, on the txn
        layout: in-batch latest-seq wins; replayed stale ops no-op."""
        t = str(tmp_path / "dim")
        _apply(
            spark, t,
            [(1, "x1", 1, "I"), (1, "x3", 3, "U"), (1, "x2", 2, "U")],
        )
        assert _rows(txn.read_cdc_table(spark, t)) == {1: ("x3", 3)}
        _apply(spark, t, [(1, "x1", 1, "I")])
        assert _rows(txn.read_cdc_table(spark, t)) == {1: ("x3", 3)}

    def test_epoch_stamped_replay_skips_before_merge(self, spark, tmp_path):
        t = str(tmp_path / "dim")
        b = [(1, "a", 1, "I")]
        assert _apply(spark, t, b, epoch_id=5) == 1
        assert _apply(spark, t, b, epoch_id=5) is None

    def test_tombstone_compaction_respects_horizon(self, spark, tmp_path):
        t = str(tmp_path / "dim")
        _apply(
            spark, t,
            [(1, None, 3, "D"), (2, None, 8, "D"), (3, "live", 9, "I")],
        )
        txn.compact_cdc_tombstones(spark, t, min_live_seq=5)
        raw = txn.read_cdc_table(spark, t, include_tombstones=True)
        state = {r.id: r._deleted for r in raw.collect()}
        # seq-3 tombstone retired, seq-8 tombstone (>= horizon) kept,
        # live row untouched
        assert state == {2: True, 3: False}


class TestVacuum:
    def test_vacuum_keeps_readable_recent_versions(self, spark, tmp_path):
        t = str(tmp_path / "t")
        for i in range(5):
            _commit_snapshot(
                spark.createDataFrame([(i, "v")], "id long, val string"), t
            )
        report = txn.vacuum_txn(spark, t, keep_last=2)
        assert report["removed_snapshots"] == 3
        assert report["kept_versions"] == [4, 5]
        assert txn.read_txn(spark, t).collect()[0].id == 4
        assert txn.read_txn(spark, t, version=4).collect()[0].id == 3
        with pytest.raises(Exception):
            txn.read_txn(spark, t, version=2)


class TestBucketedCdc:
    """Partition-pruned CDC (apply_cdc_batch_bucketed): per-batch cost
    bounded by touched buckets, atomicity and tombstone semantics
    independent of the bucket count."""

    def _apply(self, spark, t, rows, **kw):
        return txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(rows, CDC_SCHEMA), t, n_buckets=8, **kw
        )

    def test_semantics_parity_with_flat_path(self, spark, tmp_path):
        """The same op stream into a flat (single-bucket) table and an
        8-bucket one must yield identical live rows — bucketing is a
        layout choice, not a semantics choice."""
        ops1 = [(i, f"v{i}", i, "I") for i in range(1, 21)]
        ops2 = [(5, "v5b", 30, "U"), (6, None, 31, "D"), (21, "new", 32, "I")]
        ops3 = [(6, "zombie", 29, "U"), (5, "stale", 7, "U")]  # all stale
        flat, buck = str(tmp_path / "flat"), str(tmp_path / "buck")
        for ops in (ops1, ops2, ops3):
            df = spark.createDataFrame(ops, CDC_SCHEMA)
            txn.apply_cdc_batch_bucketed(df, flat, n_buckets=1)
            txn.apply_cdc_batch_bucketed(df, buck, n_buckets=8)
        a = _rows(txn.read_cdc_table(spark, flat))
        b = _rows(txn.read_cdc_table(spark, buck))
        assert a == b and (5, ("v5b", 30)) in a.items() and 6 not in a

    def test_untouched_buckets_not_rewritten(self, spark, tmp_path):
        """THE incremental guarantee: a batch touching one key repoints
        only that key's bucket; every other bucket's mapping entry (and
        its files on disk) stays byte-identical to the previous
        version."""
        t = str(tmp_path / "buck")
        self._apply(spark, t, [(i, f"v{i}", i, "I") for i in range(1, 41)])
        m1 = txn.latest_manifest(spark, t)
        self._apply(spark, t, [(1, "v1b", 100, "U")])
        m2 = txn.latest_manifest(spark, t)
        from pyspark.sql import functions as F2

        b1 = spark.createDataFrame([(1,)], "id long").select(
            txn._bucket_of("id", 8).alias("b")
        ).collect()[0].b
        assert m2["buckets"][str(b1)] != m1["buckets"][str(b1)]
        unchanged = {
            b: d for b, d in m2["buckets"].items() if b != str(b1)
        }
        assert unchanged == {
            b: d for b, d in m1["buckets"].items() if b != str(b1)
        }
        assert len(set(m2["buckets"].values())) == 2  # old dir + new dir

    def test_bucket_read_prunes_partitions(self, spark, tmp_path):
        """A bucket selection reads only that bucket's ``_bucket=b``
        leaf dirs: every input file lies under a selected bucket's dir,
        and there are fewer of them than a full read has."""
        t = str(tmp_path / "buck")
        self._apply(spark, t, [(i, f"v{i}", i, "I") for i in range(1, 41)])
        df = txn.read_txn(spark, t, buckets=[0])
        full = txn.read_txn(spark, t)
        files = df.inputFiles()
        assert files and all(f"/{txn.BUCKET_COL}=0/" in f for f in files)
        assert len(files) < len(full.inputFiles())
        assert df.count() == full.filter(F.col("_bucket") == 0).count()
        assert 0 < df.count() < full.count()

    def test_tombstone_guard_and_epoch_replay(self, spark, tmp_path):
        t = str(tmp_path / "buck")
        assert self._apply(
            spark, t, [(1, "a", 1, "I"), (2, "b", 2, "I")], epoch_id=0
        ) == 1
        assert self._apply(spark, t, [(1, None, 5, "D")], epoch_id=1) == 2
        # stale upsert after delete: blocked by the bucketed tombstone
        assert self._apply(spark, t, [(1, "back", 3, "U")], epoch_id=2) == 3
        assert _rows(txn.read_cdc_table(spark, t)) == {2: ("b", 2)}
        # epoch replay skipped before any read or write
        assert self._apply(spark, t, [(9, "x", 9, "I")], epoch_id=2) is None

    def test_crash_before_publish_leaves_state_and_replay_applies_once(
        self, spark, tmp_path, monkeypatch
    ):
        t = str(tmp_path / "buck")
        self._apply(spark, t, [(1, "a", 1, "I")], epoch_id=0)

        real = txn._publish_manifest

        def dying(spark_, td, manifest, token):
            raise RuntimeError("killed before publish")

        monkeypatch.setattr(txn, "_publish_manifest", dying)
        with pytest.raises(RuntimeError, match="killed"):
            self._apply(spark, t, [(1, "a2", 2, "U")], epoch_id=1)
        monkeypatch.undo()
        assert _rows(txn.read_cdc_table(spark, t)) == {1: ("a", 1)}
        assert self._apply(spark, t, [(1, "a2", 2, "U")], epoch_id=1) == 2
        assert self._apply(spark, t, [(1, "a2", 2, "U")], epoch_id=1) is None
        assert _rows(txn.read_cdc_table(spark, t)) == {1: ("a2", 2)}

    def test_vacuum_keeps_old_dirs_still_owning_buckets(
        self, spark, tmp_path
    ):
        """An old snapshot dir must survive vacuum for as long as any
        kept manifest's mapping still points a bucket at it."""
        t = str(tmp_path / "buck")
        self._apply(spark, t, [(i, f"v{i}", i, "I") for i in range(1, 41)])
        self._apply(spark, t, [(1, "v1b", 100, "U")])
        self._apply(spark, t, [(2, "v2b", 101, "U")])
        report = txn.vacuum_txn(spark, t, keep_last=1)
        # latest mapping references up to 3 dirs (v1 remainder + v2 + v3):
        # none of them may be deleted even though only 1 manifest is kept
        assert _rows(txn.read_cdc_table(spark, t))[1] == ("v1b", 100)
        assert _rows(txn.read_cdc_table(spark, t))[2] == ("v2b", 101)
        assert _rows(txn.read_cdc_table(spark, t))[40] == ("v40", 40)
        assert report["removed_manifests"] == 2
        assert report["removed_snapshots"] == 0  # all dirs still owned
        # v2's change feed lost its manifest and was reclaimed; the
        # kept version's feed survives
        assert report["removed_change_feeds"] == 1

    def test_compaction_repoints_dirty_buckets_and_keeps_layout(
        self, spark, tmp_path
    ):
        """Compaction rewrites only the bucket holding the tombstone (an
        overlay here); the updated bucket keeps its v3 dir and every
        other bucket the seed dir. Vacuum then reclaims the overlay,
        the change feed and the two seed-dir subdirs no kept version
        maps, leaving each kept dir exactly its mapped subdirs."""
        t = str(tmp_path / "buck")
        self._apply(spark, t, [(i, f"v{i}", i, "I") for i in range(1, 41)])
        bk = _buckets(spark, range(1, 41), 8)
        k = next(i for i in range(2, 41) if bk[i] != bk[1])
        self._apply(spark, t, [(1, None, 100, "D")])
        self._apply(spark, t, [(k, "new", 101, "U")])
        m3 = txn.latest_manifest(spark, t)
        v = txn.compact_cdc_tombstones(spark, t, min_live_seq=200)
        man = txn.latest_manifest(spark, t)
        (new_dir,) = set(man["buckets"].values()) - set(
            m3["buckets"].values()
        )
        assert man["buckets"] == {
            **m3["buckets"], str(bk[1]): new_dir
        }
        assert new_dir.startswith(f"data/v{v:010d}-")
        assert _bucket_subdirs(t, new_dir) == {bk[1]}
        assert man["overlays"] == {} and man["tombstone_buckets"] == []
        live = _rows(txn.read_cdc_table(spark, t))
        assert 1 not in live and live[k] == ("new", 101) and len(live) == 39
        raw = txn.read_cdc_table(spark, t, include_tombstones=True)
        assert raw.filter("_deleted").count() == 0  # horizon passed
        report = txn.vacuum_txn(spark, t, keep_last=1)
        assert report["removed_snapshots"] == 1  # the overlay dir
        assert report["removed_change_feeds"] == 1
        assert report["removed_bucket_dirs"] == 2  # bk[1], bk[k] of v1
        _assert_dirs_hold_mapped_subdirs(t, man)
        assert _rows(txn.read_cdc_table(spark, t)) == live

    def test_layout_and_n_buckets_guards(self, spark, tmp_path):
        snap = str(tmp_path / "snap")
        _commit_snapshot(
            spark.createDataFrame([(1, "a", 1)], "id long, val string, seq long"),
            snap,
        )
        with pytest.raises(ValueError, match="plain snapshot table"):
            self._apply(spark, snap, [(2, "b", 2, "I")])
        buck = str(tmp_path / "buck")
        self._apply(spark, buck, [(1, "a", 1, "I")])
        with pytest.raises(ValueError, match="n_buckets mismatch"):
            txn.apply_cdc_batch_bucketed(
                spark.createDataFrame([(2, "b", 2, "I")], CDC_SCHEMA),
                buck,
                n_buckets=16,
            )


class TestDeleteOverlays:
    """Merge-on-read delete overlays: a delete-only batch appends O(batch)
    tombstones and touches no bucket file; reads resolve latest-per-key
    across base + overlays; the next rewrite folds overlays in."""

    def _apply(self, spark, t, rows, **kw):
        return txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(rows, CDC_SCHEMA), t, n_buckets=8, **kw
        )

    def _seed(self, spark, t, n=40):
        self._apply(spark, t, [(i, f"v{i}", i, "I") for i in range(1, n + 1)])

    def test_delete_only_batch_is_pure_append(self, spark, tmp_path):
        t = str(tmp_path / "mor")
        self._seed(spark, t)
        m1 = txn.latest_manifest(spark, t)
        self._apply(spark, t, [(1, None, 100, "D"), (2, None, 101, "D")])
        m2 = txn.latest_manifest(spark, t)
        # no bucket repointed — mapping byte-identical; overlay recorded
        assert m2["buckets"] == m1["buckets"]
        assert sum(len(v) for v in m2["overlays"].values()) >= 1
        live = _rows(txn.read_cdc_table(spark, t))
        assert 1 not in live and 2 not in live and live[3] == ("v3", 3)

    def test_stale_overlay_delete_loses_by_seq(self, spark, tmp_path):
        t = str(tmp_path / "mor")
        self._seed(spark, t)
        # key 5 stored at seq 5; a STALE delete at seq 3 must not kill it
        self._apply(spark, t, [(5, None, 3, "D")])
        assert _rows(txn.read_cdc_table(spark, t))[5] == ("v5", 5)

    def test_overlay_guards_and_rewrite_folds_in(self, spark, tmp_path):
        t = str(tmp_path / "mor")
        self._seed(spark, t)
        self._apply(spark, t, [(1, None, 100, "D")])
        # stale upsert after the overlay delete: loses to the tombstone
        self._apply(spark, t, [(1, "zombie", 50, "U")])
        assert 1 not in _rows(txn.read_cdc_table(spark, t))
        # that upsert batch REWROTE key 1's bucket → overlay folded in
        m = txn.latest_manifest(spark, t)
        b1 = spark.createDataFrame([(1,)], "id long").select(
            txn._bucket_of("id", 8).alias("b")
        ).collect()[0].b
        assert str(b1) not in m["overlays"]
        # newer upsert revives
        self._apply(spark, t, [(1, "fresh", 200, "U")])
        assert _rows(txn.read_cdc_table(spark, t))[1] == ("fresh", 200)

    def test_epoch_replay_skips_overlay_commit(self, spark, tmp_path):
        t = str(tmp_path / "mor")
        self._seed(spark, t)
        assert self._apply(spark, t, [(1, None, 100, "D")], epoch_id=7)
        assert (
            self._apply(spark, t, [(1, None, 100, "D")], epoch_id=7) is None
        )
        m = txn.latest_manifest(spark, t)
        assert sum(len(v) for v in m["overlays"].values()) == 1

    def test_compaction_clears_overlays_and_vacuum_reclaims(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "mor")
        self._seed(spark, t)
        self._apply(spark, t, [(1, None, 100, "D")])
        self._apply(spark, t, [(2, None, 101, "D")])
        txn.compact_cdc_tombstones(spark, t, min_live_seq=1000)
        m = txn.latest_manifest(spark, t)
        assert m["overlays"] == {}
        live = _rows(txn.read_cdc_table(spark, t))
        assert 1 not in live and 2 not in live and len(live) == 38
        report = txn.vacuum_txn(spark, t, keep_last=1)
        assert report["removed_snapshots"] >= 2  # old base + overlay dirs
        assert _rows(txn.read_cdc_table(spark, t)) == live

    def test_vacuum_keeps_overlay_dirs_of_kept_manifests(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "mor")
        self._seed(spark, t)
        self._apply(spark, t, [(1, None, 100, "D")])
        report = txn.vacuum_txn(spark, t, keep_last=1)
        assert report["removed_snapshots"] == 0  # base + overlay all live
        assert 1 not in _rows(txn.read_cdc_table(spark, t))


class TestBucketedCasRetry:
    def test_stale_log_read_retries_against_fresh_state(
        self, spark, tmp_path, monkeypatch
    ):
        """Concurrent-writer contract on the bucketed path: writer A reads
        the log, writer B publishes meanwhile, A's publish loses the
        version slot — A must RE-READ and re-merge against B's state,
        not commit a merge computed from the stale snapshot. Simulated
        by feeding A one stale manifest read; the retry loop re-invokes
        latest_manifest, so B's committed update must survive in A's
        final state."""
        t = str(tmp_path / "cas")
        df0 = spark.createDataFrame(
            [(1, "a", 1, "I"), (2, "b", 2, "I")], CDC_SCHEMA
        )
        txn.apply_cdc_batch_bucketed(df0, t, n_buckets=8)
        stale = txn.latest_manifest(spark, t)
        # writer B lands an update
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame([(2, "b2", 10, "U")], CDC_SCHEMA),
            t,
            n_buckets=8,
        )
        real = txn.latest_manifest
        calls = {"n": 0}

        def stale_once(spark_, table_dir):
            calls["n"] += 1
            return stale if calls["n"] == 1 else real(spark_, table_dir)

        monkeypatch.setattr(txn, "latest_manifest", stale_once)
        # writer A updates key 1; its first attempt targets B's taken slot
        v = txn.apply_cdc_batch_bucketed(
            spark.createDataFrame([(1, "a2", 11, "U")], CDC_SCHEMA),
            t,
            n_buckets=8,
        )
        monkeypatch.undo()
        assert v == 3 and calls["n"] >= 2
        live = _rows(txn.read_cdc_table(spark, t))
        # BOTH writers' effects present — the stale merge never published
        assert live == {1: ("a2", 11), 2: ("b2", 10)}


class TestOverlayAutoCompaction:
    def test_pressure_gauge_and_threshold_trigger(self, spark, tmp_path):
        t = str(tmp_path / "mor")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, f"v{i}", i, "I") for i in range(1, 9)], CDC_SCHEMA
            ),
            t,
            n_buckets=2,  # force overlay stacking on few buckets
        )
        assert txn.overlay_pressure(spark, t) == 0
        for j, key in enumerate((1, 2, 3, 4)):
            txn.apply_cdc_batch_bucketed(
                spark.createDataFrame(
                    [(key, None, 100 + j, "D")], CDC_SCHEMA
                ),
                t,
                n_buckets=2,
            )
        pressure = txn.overlay_pressure(spark, t)
        assert pressure >= 2
        # below threshold: no-op
        assert (
            txn.maybe_compact_overlays(
                spark, t, max_overlays_per_bucket=pressure
            )
            is None
        )
        # above threshold: folds everything, pressure back to zero
        assert txn.maybe_compact_overlays(
            spark, t, max_overlays_per_bucket=pressure - 1
        )
        assert txn.overlay_pressure(spark, t) == 0
        live = _rows(txn.read_cdc_table(spark, t))
        assert set(live) == {5, 6, 7, 8}


class TestSchemaEvolution:
    """Additive-only schema evolution: commits may ADD nullable columns
    (older data reads them as null), never drop or retype — the table-
    format default that keeps downstream readers from silently
    corrupting. CDC upserts must carry the full stored payload (rows
    replace whole); delete-only batches are exempt."""

    def test_flat_add_column_then_drop_and_retype_rejected(
        self, spark, tmp_path
    ):
        """A plain snapshot table (one flat dir per version)."""
        t = str(tmp_path / "evo")
        _commit_snapshot(
            spark.createDataFrame([(1, "a")], "id long, val string"), t
        )
        _commit_snapshot(
            spark.createDataFrame(
                [(1, "a", 7.5)], "id long, val string, score double"
            ),
            t,
        )
        got = txn.read_txn(spark, t).collect()[0]
        assert (got.val, got.score) == ("a", 7.5)
        # time travel shows the pre-evolution schema
        assert "score" not in txn.read_txn(spark, t, version=1).columns
        with pytest.raises(ValueError, match="drops column"):
            _commit_snapshot(
                spark.createDataFrame([(1,)], "id long"), t
            )
        with pytest.raises(ValueError, match="changes column type"):
            _commit_snapshot(
                spark.createDataFrame(
                    [(1, 2, 0.0)], "id long, val int, score double"
                ),
                t,
            )

    def test_bucketed_cdc_additive_evolution_aligns_old_buckets(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "evo-b")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, f"v{i}", i, "I") for i in range(1, 9)], CDC_SCHEMA
            ),
            t,
            n_buckets=4,
        )
        # evolved batch touches ONE key: other buckets stay in the old dir
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, "v1b", 100, "U", "extra!")],
                "id long, val string, seq long, op string, note string",
            ),
            t,
            n_buckets=4,
        )
        live = {r.id: (r.val, r.note) for r in txn.read_cdc_table(spark, t).collect()}
        assert live[1] == ("v1b", "extra!")
        # rows served from PRE-evolution dirs present the new column as null
        assert all(live[i] == (f"v{i}", None) for i in range(2, 9))
        man = txn.latest_manifest(spark, t)
        assert ["note", "string"] in man["schema"]

    def test_cdc_upsert_missing_payload_rejected_deletes_exempt(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "evo-guard")
        _apply(spark, t, [(1, "a", 1, "I")])
        with pytest.raises(ValueError, match="missing stored payload"):
            txn.apply_cdc_batch_bucketed(
                spark.createDataFrame(
                    [(1, 2, "U")], "id long, seq long, op string"
                ),
                t, n_buckets=4,
            )
        # a delete-only batch without payload columns is fine
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, 9, "D")], "id long, seq long, op string"
            ),
            t, n_buckets=4,
        )
        assert txn.read_cdc_table(spark, t).count() == 0

    def test_cdc_retype_rejected(self, spark, tmp_path):
        t = str(tmp_path / "evo-retype")
        _apply(spark, t, [(1, "a", 1, "I")])
        with pytest.raises(ValueError, match="retypes"):
            txn.apply_cdc_batch_bucketed(
                spark.createDataFrame(
                    [(1, 5, 2, "U")], "id long, val int, seq long, op string"
                ),
                t, n_buckets=4,
            )

    def test_clustered_commit_enforces_evolution(self, spark, tmp_path):
        from taar_gcp_etl_spark import layout

        t = str(tmp_path / "evo-z")
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "id long, v double"
        )
        layout.commit_clustered(df, t, ["id"], n_files=2)
        with pytest.raises(ValueError, match="drops column"):
            layout.commit_clustered(
                df.select("id"), t, ["id"], n_files=2
            )
        assert (
            layout.commit_clustered(
                df.withColumn("w", F.col("v") * 2), t, ["id"], n_files=2
            )
            == 2
        )


class TestManifestPublisherSeam:
    """The storage-specific CAS seam (NEXT.md r5 #1): commit atomicity
    rests entirely on put_if_absent being an atomic claim of one
    versioned manifest slot. These tests pin (a) WHY naive S3-style
    rename semantics are insufficient — the lost-update failure mode —
    and (b) that the conditional-put publisher gives exactly-one-winner
    under the same interleaving."""

    @staticmethod
    def _b_manifest(spark, t, version=2):
        """A concurrent writer's fully-committed version: snapshot dir +
        manifest, written directly (as writer B's process would)."""
        rel = f"data/v{version:010d}-writerb"
        spark.createDataFrame(
            [(99, "from-b")], "id long, val string"
        ).write.parquet(f"{t}/{rel}")
        txn._write_bytes(
            spark,
            f"{t}/_log/{txn._manifest_name(version)}",
            json.dumps(
                {
                    "version": version,
                    "snapshot": rel,
                    "epoch_id": None,
                    "parent": version - 1,
                }
            ).encode(),
        )

    def test_s3_style_rename_silently_loses_concurrent_commit(
        self, spark, tmp_path
    ):
        """S3 "rename" is copy+delete with NO destination guard: a
        check-then-copy publisher lets writer B land between A's
        exists-check and A's copy, and A clobbers B's committed
        manifest — both writers report success, B's commit is gone.
        This is the failure mode the seam exists to prevent; the test
        is the executable justification for ConditionalPutManifestPublisher
        on object stores."""
        t = str(tmp_path / "racy")
        _commit_snapshot(
            spark.createDataFrame([(1, "a")], "id long, val string"), t
        )
        test = self

        class RacyS3RenamePublisher:
            fired = False

            def put_if_absent(self, spark_, final, data, token):
                _, fs, p = txn._fs(spark_, final)
                if fs.exists(p):
                    return False
                if not self.fired:  # writer B commits in the gap
                    RacyS3RenamePublisher.fired = True
                    test._b_manifest(spark_, t)
                txn._write_bytes(spark_, final, data)  # unguarded copy
                return True

        prev = txn.set_manifest_publisher(RacyS3RenamePublisher())
        try:
            v = _commit_snapshot(
                spark.createDataFrame(
                    [(2, "from-a")], "id long, val string"
                ),
                t,
            )
        finally:
            txn.set_manifest_publisher(prev)
        # A believes it committed version 2 — and so did B
        assert v == 2
        # ...but B's committed state was silently destroyed
        vals = [r.val for r in txn.read_txn(spark, t).collect()]
        assert vals == ["from-a"] and "from-b" not in vals

    def test_conditional_put_gives_exactly_one_winner(
        self, spark, tmp_path
    ):
        """Same interleaving through the conditional-put publisher:
        writer B claims the slot first, A's put_if_absent FAILS, A
        retries against the fresh log and lands on the next version —
        both commits survive."""
        t = str(tmp_path / "cas-put")
        _commit_snapshot(
            spark.createDataFrame([(1, "a")], "id long, val string"), t
        )
        test = self

        class ContendedConditionalPut(txn.ConditionalPutManifestPublisher):
            fired = False

            def put_if_absent(self, spark_, final, data, token):
                if not ContendedConditionalPut.fired and final.endswith(
                    txn._manifest_name(2)
                ):
                    ContendedConditionalPut.fired = True
                    test._b_manifest(spark_, t)  # B wins the slot first
                return super().put_if_absent(spark_, final, data, token)

        prev = txn.set_manifest_publisher(ContendedConditionalPut())
        try:
            v = _commit_snapshot(
                spark.createDataFrame(
                    [(2, "from-a")], "id long, val string"
                ),
                t,
            )
        finally:
            txn.set_manifest_publisher(prev)
        assert v == 3  # A lost version 2, retried, won version 3
        assert [r.val for r in txn.read_txn(spark, t).collect()] == [
            "from-a"
        ]
        # B's commit is intact in the history (time travel to v2)
        assert [
            r.val for r in txn.read_txn(spark, t, version=2).collect()
        ] == ["from-b"]

    def test_put_if_absent_is_first_writer_wins(self, spark, tmp_path):
        pub = txn.ConditionalPutManifestPublisher()
        final = f"{tmp_path}/slot.json"
        assert pub.put_if_absent(spark, final, b"first", "t1")
        assert not pub.put_if_absent(spark, final, b"second", "t2")
        assert txn._read_bytes(spark, final) == b"first"

    def test_put_if_absent_surfaces_non_cas_failures(
        self, spark, tmp_path, monkeypatch
    ):
        """ADVICE r5: only destination-exists is a lost race. A
        persistent IO/permission failure must raise, not return False —
        else a commit burns max_attempts full snapshot rewrites and
        then reports a misleading 'version conflicts' error."""
        import pytest as _pytest

        pub = txn.ConditionalPutManifestPublisher()

        class DeniedFs:
            def create(self, p, overwrite):
                raise RuntimeError(
                    "java.io.IOException: Permission denied: slot.json"
                )

        monkeypatch.setattr(
            txn, "_fs", lambda spark, path: (None, DeniedFs(), None)
        )
        with _pytest.raises(RuntimeError, match="Permission denied"):
            pub.put_if_absent(spark, f"{tmp_path}/slot.json", b"x", "t1")

        class TakenFs:
            def create(self, p, overwrite):
                raise RuntimeError(
                    "org.apache.hadoop.fs.FileAlreadyExistsException: "
                    "slot.json already exists"
                )

        monkeypatch.setattr(
            txn, "_fs", lambda spark, path: (None, TakenFs(), None)
        )
        assert not pub.put_if_absent(
            spark, f"{tmp_path}/slot.json", b"x", "t2"
        )
        monkeypatch.undo()
        # real-FS CAS-lost condition still classified as a race: the
        # parent-is-file probe (Hadoop mkdirs raises
        # FileAlreadyExistsException there) and the taken slot
        blocker = f"{tmp_path}/blocker"
        txn._write_bytes(spark, blocker, b"i am a file")
        assert not pub.put_if_absent(
            spark, f"{blocker}/slot.json", b"x", "t3"
        )
        taken = f"{tmp_path}/taken.json"
        assert pub.put_if_absent(spark, taken, b"first", "t4")
        assert not pub.put_if_absent(spark, taken, b"second", "t5")

    def test_already_exists_ignores_nested_cause_messages(self):
        """ADVICE r6: the Java cause chain is matched on CLASS NAMES
        only — an unrelated IO failure whose nested cause merely says
        'already exists' must NOT be classified as a lost CAS race
        (it would be silently swallowed into the retry loop). Message
        matching applies solely to the top-level exception."""
        pub = txn.ConditionalPutManifestPublisher()

        class _JE:
            def __init__(self, cls, msg, cause=None):
                self._cls, self._msg, self._cause = cls, msg, cause

            def getClass(self):
                outer = self

                class _C:
                    def getName(self):
                        return outer._cls

                return _C()

            def getMessage(self):
                return self._msg

            def getCause(self):
                return self._cause

        class _Py4JErr(Exception):
            def __init__(self, je):
                super().__init__("An error occurred while calling o1.create")
                self.java_exception = je

        # nested cause mentions 'already exists' but every class is
        # unrelated → NOT a race; must surface
        nested = _JE(
            "java.io.IOException",
            "rename failed",
            _JE("java.io.IOException",
                "work dir /tmp/x already exists and is not writable"),
        )
        assert not pub._is_already_exists(_Py4JErr(nested))
        # top-level message match still classifies
        assert pub._is_already_exists(
            _Py4JErr(_JE("java.io.IOException", "slot.json already exists"))
        )
        # AlreadyExists CLASS anywhere in the chain still classifies
        assert pub._is_already_exists(
            _Py4JErr(_JE(
                "java.io.IOException", "create failed",
                _JE("org.apache.hadoop.fs.FileAlreadyExistsException", None),
            ))
        )
        # conditional-PUT 412 class family
        assert pub._is_already_exists(
            _Py4JErr(_JE("com.example.PreconditionFailedException", None))
        )
        # plain Python exception: direct message only (no chain rides
        # along), both polarities
        assert pub._is_already_exists(
            RuntimeError("org.apache.hadoop.fs.FileAlreadyExistsException: x")
        )
        assert not pub._is_already_exists(
            RuntimeError("java.io.IOException: Permission denied")
        )
        # ADVICE r7 extension point: a connector whose lost race
        # surfaces as a custom wrapper class (detail only in a nested
        # cause MESSAGE) is a hard failure by default, and a lost race
        # once its class-name marker is registered
        wrapped = _Py4JErr(_JE(
            "com.example.StorageResponseException",
            "409 conflict",
            _JE("com.example.StorageResponseException",
                "the object you tried to create already exists"),
        ))
        assert not pub._is_already_exists(wrapped)
        markers = txn.ConditionalPutManifestPublisher
        markers.ALREADY_EXISTS_CAUSE_MARKERS.add("StorageResponseException")
        try:
            assert pub._is_already_exists(wrapped)
        finally:
            markers.ALREADY_EXISTS_CAUSE_MARKERS.discard(
                "StorageResponseException"
            )

    def test_rename_publisher_still_default_and_race_safe(
        self, spark, tmp_path
    ):
        """The default publisher keeps the exists-check + rename
        semantics: claiming a taken slot fails and leaves no temp
        litter in _log/."""
        t = str(tmp_path / "ren")
        _commit_snapshot(
            spark.createDataFrame([(1, "a")], "id long, val string"), t
        )
        assert isinstance(
            txn._manifest_publisher, txn.RenameManifestPublisher
        )
        final = f"{t}/_log/{txn._manifest_name(1)}"
        assert not txn._manifest_publisher.put_if_absent(
            spark, final, b"clobber", "tx"
        )
        _, fs, log_p = txn._fs(spark, f"{t}/_log")
        names = [s.getPath().getName() for s in fs.listStatus(log_p)]
        assert names == [txn._manifest_name(1)]


class TestChangeDataFeed:
    def test_flat_diff_tags_insert_update_delete(self, spark, tmp_path):
        """A flat (single-bucket) table: every change lands in the one
        bucket."""
        t = str(tmp_path / "cdf")
        _apply(spark, t, [(1, "a", 1, "I"), (2, "b", 2, "I")], n_buckets=1)
        _apply(
            spark, t,
            [(1, "a2", 10, "U"), (2, None, 11, "D"), (3, "c", 12, "I")],
            n_buckets=1,
        )
        got = {
            r.id: (r.val, r._change_type)
            for r in txn.read_changes(spark, t, 1, 2).collect()
        }
        assert got == {
            1: ("a2", "update"),
            2: (None, "delete"),
            3: ("c", "insert"),
        }
        # same-version diff is empty; unchanged keys never appear
        assert txn.read_changes(spark, t, 2, 2).count() == 0

    def test_flat_from_version_zero_is_all_inserts(self, spark, tmp_path):
        """ADVICE r5: from_version=0 means 'since table creation' — on a
        flat (single-bucket) table it must return the live rows tagged
        insert, not raise trying to read the nonexistent version-0
        manifest."""
        t = str(tmp_path / "cdf0")
        _apply(
            spark, t,
            [(1, "a", 1, "I"), (2, "b", 2, "I"), (2, None, 3, "D")],
            n_buckets=1,
        )
        got = {
            r.id: (r.val, r._change_type)
            for r in txn.read_changes(spark, t, 0).collect()
        }
        assert got == {1: ("a", "insert")}  # tombstone absent

    def test_bucketed_diff_sees_overlay_deletes(self, spark, tmp_path):
        t = str(tmp_path / "cdf-b")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, f"v{i}", i, "I") for i in range(1, 6)], CDC_SCHEMA
            ),
            t,
            n_buckets=4,
        )
        # delete-only batch lands as a merge-on-read overlay
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame([(3, None, 50, "D")], CDC_SCHEMA),
            t,
            n_buckets=4,
        )
        got = {
            r.id: r._change_type
            for r in txn.read_changes(spark, t, 1, 2).collect()
        }
        assert got == {3: "delete"}


class TestBucketGranularCdf:
    """read_changes (round-6 backlog #7): the feed must read only the
    change files or the buckets whose manifest entries changed between
    the two versions, and must equal the full-snapshot diff
    (_snapshot_diff) exactly."""

    def _build(self, spark, t):
        """v1: 8 inserts; v2: update/delete/insert touching a few keys;
        v3: delete-only overlay batch."""
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, f"v{i}", i, "I") for i in range(1, 9)], CDC_SCHEMA
            ),
            t,
            n_buckets=16,
        )
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(2, "v2x", 20, "U"), (5, None, 21, "D"), (9, "v9", 22, "I")],
                CDC_SCHEMA,
            ),
            t,
            n_buckets=16,
        )
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame([(7, None, 30, "D")], CDC_SCHEMA),
            t,
            n_buckets=16,
        )

    @pytest.fixture(scope="class")
    def built(self, spark, tmp_path_factory):
        t = str(tmp_path_factory.mktemp("bcdf") / "t")
        self._build(spark, t)
        return t

    @pytest.mark.parametrize("lo", [0, 1, 2, 3])
    @pytest.mark.parametrize("mode", ["compact", "cdf"])
    def test_equals_full_diff_across_all_version_pairs(
        self, spark, built, mode, lo
    ):
        for hi in (1, 2, 3):
            full = _snapshot_diff(spark, built, lo, hi, mode=mode)
            fast = txn.read_changes(spark, built, lo, hi, mode=mode)
            assert _feed_rows(fast) == _feed_rows(full), (lo, hi)
            assert sorted(fast.columns) == sorted(full.columns)

    def test_changed_bucket_set_is_exactly_the_touched_buckets(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "bcdf2")
        self._build(spark, t)
        m1 = txn.read_manifest(spark, t, 1)
        m2 = txn.read_manifest(spark, t, 2)
        m3 = txn.read_manifest(spark, t, 3)
        def bucket(k):
            return (
                spark.createDataFrame([(k,)], "id long")
                .select(txn._bucket_of("id", 16))
                .first()[0]
            )
        assert txn.changed_buckets(m1, m2) == sorted(
            {bucket(2), bucket(5), bucket(9)}
        )
        # v3 is a pure overlay append: only the deleted key's bucket
        assert txn.changed_buckets(m2, m3) == [bucket(7)]
        assert txn.changed_buckets(m2, m2) == []

    def test_diff_plan_prunes_to_changed_bucket_partitions(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "bcdf3")
        self._build(spark, t)
        (b,) = txn.changed_buckets(
            txn.read_manifest(spark, t, 2), txn.read_manifest(spark, t, 3)
        )
        # both sides of the diff read only the changed bucket's leaf
        # dirs — the read is O(changed buckets), never a table scan
        files = txn.read_changes(spark, t, 2, 3).inputFiles()
        assert files and all(f"/{txn.BUCKET_COL}={b}/" in f for f in files)
        assert len(files) < len(txn.read_txn(spark, t).inputFiles())

    def test_cdf_mode_emits_preimages_and_delete_payloads(
        self, spark, tmp_path
    ):
        """Delta-CDF-compatible shape: deletes carry the OLD payload,
        updates emit preimage + postimage rows."""
        t = str(tmp_path / "cdfm")
        self._build(spark, t)
        rows = {
            (r.id, r._change_type): r.val
            for r in txn.read_changes(spark, t, 1, 2, mode="cdf").collect()
        }
        assert rows == {
            (2, "update_preimage"): "v2",
            (2, "update_postimage"): "v2x",
            (5, "delete"): "v5",  # preimage payload, not null
            (9, "insert"): "v9",
        }
        # full-diff twin agrees
        full = {
            (r.id, r._change_type): r.val
            for r in _snapshot_diff(spark, t, 1, 2, mode="cdf").collect()
        }
        assert full == rows

    def test_netting_composes_transitions_across_versions(
        self, spark, tmp_path
    ):
        """Multi-version windows net through the per-commit change
        files: insert→delete cancels, delete→re-insert becomes an
        update whose preimage is the deleted row, update chains
        collapse to first-preimage/last-postimage."""
        t = str(tmp_path / "net")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, "a1", 1, "I"), (2, "b1", 2, "I")], CDC_SCHEMA
            ),
            t, n_buckets=4,
        )
        # v2: insert 3; update 1
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(3, "c1", 10, "I"), (1, "a2", 11, "U")], CDC_SCHEMA
            ),
            t, n_buckets=4,
        )
        # v3: delete 3 (net: 3 never existed); update 1 again; delete 2
        # then v4: re-insert 2
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(3, None, 20, "D"), (1, "a3", 21, "U"), (2, None, 22, "D")],
                CDC_SCHEMA,
            ),
            t, n_buckets=4,
        )
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame([(2, "b2", 30, "I")], CDC_SCHEMA),
            t, n_buckets=4,
        )
        # every commit in (1, 4] materialized change files -> netting
        for v in (2, 3, 4):
            assert "change_files" in txn.read_manifest(spark, t, v)
        got = {
            (r.id, r._change_type): r.val
            for r in txn.read_changes(spark, t, 1, 4, mode="cdf").collect()
        }
        assert got == {
            (1, "update_preimage"): "a1",
            (1, "update_postimage"): "a3",
            (2, "update_preimage"): "b1",  # delete+reinsert nets to update
            (2, "update_postimage"): "b2",
            # key 3: insert then delete -> no row at all
        }
        # and the netted result equals the snapshot-diff baseline
        base = {
            (r.id, r._change_type): r.val
            for r in _snapshot_diff(spark, t, 1, 4, mode="cdf").collect()
        }
        assert got == base

    def test_diff_spans_additive_schema_evolution(self, spark, tmp_path):
        """A column added inside the diff window reads as typed null on
        the old side (review fix: the old snapshot was asked for the
        NEW schema's columns and crashed)."""
        t = str(tmp_path / "evo")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame([(1, "a", 1, "I")], CDC_SCHEMA),
            t, n_buckets=4,
        )
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, "a2", "x@y", 10, "U"), (2, "b", "p@q", 11, "I")],
                "id long, val string, email string, seq long, op string",
            ),
            t, n_buckets=4,
        )
        for mode in ("compact", "cdf"):
            got = {
                (r.id, r._change_type): r.email
                for r in txn.read_changes(spark, t, 1, 2, mode=mode)
                .collect()
            }
            assert got[(2, "insert")] == "p@q"
        # preimage rows show the pre-evolution row with email = null
        pre = [
            r
            for r in txn.read_changes(spark, t, 1, 2, mode="cdf").collect()
            if r._change_type == "update_preimage"
        ]
        assert len(pre) == 1 and pre[0].email is None and pre[0].val == "a"
        # invalid mode rejected eagerly
        with pytest.raises(ValueError, match="compact"):
            txn.read_changes(spark, t, 1, 2, mode="CDF")
        with pytest.raises(ValueError, match="compact"):
            txn.read_changes(spark, t, 1, 2, mode="nope")

    def test_netting_spans_tombstone_compaction(self, spark, tmp_path):
        """compact_cdc_tombstones repoints every bucket; without its
        empty change file any window over it would fall back to a
        FULL-table snapshot diff (review fix)."""
        t = str(tmp_path / "cmp")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, f"v{i}", i, "I") for i in range(1, 9)], CDC_SCHEMA
            ),
            t, n_buckets=4,
        )
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, "x", 10, "U"), (2, None, 11, "D")], CDC_SCHEMA
            ),
            t, n_buckets=4,
        )
        txn.compact_cdc_tombstones(spark, t, min_live_seq=100)   # v3
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame([(3, "y", 20, "U")], CDC_SCHEMA),
            t, n_buckets=4,                                      # v4
        )
        diff = txn.read_changes(spark, t, 1, 4, mode="cdf")
        files = diff.inputFiles()
        assert files and all("/data/c" in f for f in files), files
        got = {(r.id, r._change_type) for r in diff.collect()}
        assert got == {
            (1, "update_preimage"), (1, "update_postimage"),
            (2, "delete"),
            (3, "update_preimage"), (3, "update_postimage"),
        }

    def test_netting_plan_reads_only_change_files(self, spark, tmp_path):
        """The fast path must not touch any snapshot dir: every input
        file of the diff plan comes from a per-commit change dir."""
        t = str(tmp_path / "netp")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, f"v{i}", i, "I") for i in range(1, 9)], CDC_SCHEMA
            ),
            t, n_buckets=4,
        )
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame([(1, "x", 10, "U")], CDC_SCHEMA),
            t, n_buckets=4,
        )
        files = txn.read_changes(spark, t, 1, 2).inputFiles()
        assert files, "expected a materialized change-file plan"
        assert all("/data/c" in f for f in files), files

    def test_vacuumed_from_version_raises_not_all_inserts(
        self, spark, tmp_path
    ):
        """A diff base that vacuum removed must raise — silently
        returning 'everything is an insert' would double-count in any
        downstream sync."""
        t = str(tmp_path / "netv")
        for i in range(4):
            txn.apply_cdc_batch_bucketed(
                spark.createDataFrame(
                    [(1, f"v{i}", i + 1, "U" if i else "I")], CDC_SCHEMA
                ),
                t, n_buckets=4,
            )
        txn.vacuum_txn(spark, t, keep_last=2)
        with pytest.raises(Exception):
            txn.read_changes(spark, t, 1, 4).collect()
        # the kept window still diffs fine
        assert {
            r._change_type
            for r in txn.read_changes(spark, t, 3, 4).collect()
        } == {"update"}


class TestRescaleBuckets:
    """rescale_buckets: re-hash a bucketed CDC table to a new bucket
    count transactionally — content (live rows AND retention
    tombstones) preserved, pruning intact on the new modulus, CDF
    netting available across the maintenance version."""

    def _seed(self, spark, t):
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, f"v{i}", i, "I") for i in range(1, 41)], CDC_SCHEMA
            ),
            t, n_buckets=4,
        )
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame([(5, None, 100, "D")], CDC_SCHEMA),
            t, n_buckets=4,
        )

    def test_content_and_tombstones_survive_rescale(self, spark, tmp_path):
        t = str(tmp_path / "rs")
        self._seed(spark, t)
        before = _rows(txn.read_cdc_table(spark, t))
        v = txn.rescale_buckets(spark, t, 16)
        assert v == 3
        man = txn.latest_manifest(spark, t)
        assert man["n_buckets"] == 16 and len(man["buckets"]) == 16
        assert man["overlays"] == {}
        assert _rows(txn.read_cdc_table(spark, t)) == before
        # the tombstone's retention state survived the re-hash: a stale
        # upsert for the deleted key still cannot resurrect it
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame([(5, "zombie", 50, "U")], CDC_SCHEMA),
            t, n_buckets=None,  # inherit the rescaled count
        )
        assert 5 not in _rows(txn.read_cdc_table(spark, t))
        # no-op when already at the target
        assert txn.rescale_buckets(spark, t, 16) is None
        # the old count is now rejected; inheritance works
        with pytest.raises(ValueError, match="n_buckets mismatch"):
            txn.apply_cdc_batch_bucketed(
                spark.createDataFrame([(50, "x", 200, "I")], CDC_SCHEMA),
                t, n_buckets=4,
            )
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame([(50, "x", 200, "I")], CDC_SCHEMA),
            t, n_buckets=None,
        )
        assert _rows(txn.read_cdc_table(spark, t))[50] == ("x", 200)

    def test_cdf_netting_spans_the_rescale_version(self, spark, tmp_path):
        """A diff window containing the rescale must stay on the
        O(changes) netting path (rescale records an EMPTY change file)
        and net to exactly the real changes either side of it."""
        t = str(tmp_path / "rsc")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, f"v{i}", i, "I") for i in range(1, 9)], CDC_SCHEMA
            ),
            t, n_buckets=4,
        )
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame([(1, "x", 10, "U")], CDC_SCHEMA),
            t, n_buckets=4,
        )
        txn.rescale_buckets(spark, t, 8)                      # v3
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame([(2, "y", 11, "U")], CDC_SCHEMA),
            t, n_buckets=None,                                 # v4
        )
        diff = txn.read_changes(spark, t, 1, 4)
        files = diff.inputFiles()
        assert files and all("/data/c" in f for f in files), files
        got = {(r.id, r._change_type): r.val for r in diff.collect()}
        assert got == {(1, "update"): "x", (2, "update"): "y"}
        # equality with the snapshot-diff baseline
        base = {
            (r.id, r._change_type): r.val
            for r in _snapshot_diff(spark, t, 1, 4).collect()
        }
        assert got == base

    def test_inherit_requires_existing_table(self, spark, tmp_path):
        with pytest.raises(ValueError, match="inherit"):
            txn.apply_cdc_batch_bucketed(
                spark.createDataFrame([(1, "a", 1, "I")], CDC_SCHEMA),
                str(tmp_path / "nope"), n_buckets=None,
            )


class TestCdcZoneMaps:
    """Zone-map pruning over the bucketed CDC layout: time-correlated
    ingest leaves each commit's dir covering a narrow seq/date range,
    so range predicates skip old dirs wholesale — and the pruned scan
    must always equal the unpruned read + filter (soundness under
    multi-versioning, overlays, and superseded buckets)."""

    CDC_D = "id long, val string, day long, seq long, op string"

    def _batch(self, spark, rows):
        return spark.createDataFrame(rows, self.CDC_D)

    def _apply(self, spark, t, rows):
        return txn.apply_cdc_batch_bucketed(
            self._batch(spark, rows),
            t,
            n_buckets=4,
            stats_cols=["day"],
        )

    def _fixture(self, spark, t):
        # three day-correlated batches over overlapping buckets
        self._apply(
            spark, t, [(i, f"a{i}", 1, 100 + i, "I") for i in range(8)]
        )
        self._apply(
            spark, t, [(i, f"b{i}", 2, 200 + i, "I") for i in range(8, 16)]
        )
        self._apply(
            spark, t, [(i, f"c{i}", 3, 300 + i, "I") for i in range(16, 24)]
        )

    def _expect(self, spark, t, filters):
        from taar_gcp_etl_spark.layout import _residual

        return sorted(
            tuple(r)
            for r in txn.read_cdc_table(spark, t)
            .filter(_residual(filters))
            .collect()
        )

    def _got(self, spark, t, filters):
        df = txn.read_cdc_table(spark, t, filters=filters)
        return sorted(tuple(r) for r in df.collect())

    def test_day_predicate_prunes_old_dirs_and_matches(self, spark, tmp_path):
        t = str(tmp_path / "zm")
        self._fixture(spark, t)
        filters = [("day", ">=", 3)]
        rep = txn.cdc_prune_report(spark, t, filters)
        assert 0 < rep["kept_files"] < rep["total_files"]
        assert self._got(spark, t, filters) == self._expect(
            spark, t, filters
        )

    def test_update_moves_key_to_new_dir_stats(self, spark, tmp_path):
        """An updated key's base row moves to the newer dir — the
        pruned scan must pick the NEW version even when the predicate
        also matches the old dir's range."""
        t = str(tmp_path / "zm-up")
        self._fixture(spark, t)
        # update a day-1 key to day 9 (rewrites its bucket)
        self._apply(spark, t, [(2, "a2-new", 9, 900, "U")])
        got = self._got(spark, t, [("day", ">=", 9)])
        assert got == self._expect(spark, t, [("day", ">=", 9)])
        assert [r[1] for r in got] == ["a2-new"]
        # the OLD version must not resurface under a day-1 predicate
        old = self._got(spark, t, [("day", "=", 1)])
        assert all(r[0] != 2 for r in old)
        assert old == self._expect(spark, t, [("day", "=", 1)])

    def test_overlay_deletes_respected_by_pruned_scan(self, spark, tmp_path):
        t = str(tmp_path / "zm-del")
        self._fixture(spark, t)
        # delete-only batch -> MoR overlay (no base rewrite)
        txn.apply_cdc_batch_bucketed(
            self._batch(spark, [(17, None, None, 999, "D")]),
            t,
            n_buckets=4,
        )
        assert txn.overlay_pressure(spark, t) >= 1
        filters = [("day", "=", 3)]
        got = self._got(spark, t, filters)
        assert all(r[0] != 17 for r in got)
        assert got == self._expect(spark, t, filters)

    def test_empty_prune_returns_empty_with_schema(self, spark, tmp_path):
        t = str(tmp_path / "zm-empty")
        self._fixture(spark, t)
        df = txn.read_cdc_table(spark, t, filters=[("day", ">", 100)])
        assert df.count() == 0
        assert "val" in df.columns and "day" in df.columns

    def test_stats_survive_compaction(self, spark, tmp_path):
        t = str(tmp_path / "zm-compact")
        self._fixture(spark, t)
        txn.compact_cdc_tombstones(spark, t, min_live_seq=0)
        filters = [("day", "<=", 1)]
        rep = txn.cdc_prune_report(spark, t, filters)
        assert rep["total_files"] > 0
        assert self._got(spark, t, filters) == self._expect(
            spark, t, filters
        )

    def test_midlife_stats_adoption_keeps_pre_adoption_rows(
        self, spark, tmp_path
    ):
        """r7 review repro: a table that adopts stats_cols mid-life has
        file_stats only for post-adoption dirs. The pruned scan must
        read pre-adoption dirs WHOLESALE (their owned buckets), not
        silently drop their rows; the report exposes them until a full
        rewrite restates every dir."""
        from taar_gcp_etl_spark.layout import _residual

        t = str(tmp_path / "zm-adopt")
        # two batches WITHOUT stats, then adoption
        txn.apply_cdc_batch_bucketed(
            self._batch(
                spark, [(i, f"a{i}", 1, 100 + i, "I") for i in range(8)]
            ),
            t, n_buckets=4,
        )
        self._apply(spark, t, [(100, "new", 9, 300, "U")])
        man = txn.latest_manifest(spark, t)
        assert set(man["buckets"].values()) - set(man["file_stats"])
        for filters in ([("day", ">=", 1)], [("day", "=", 1)]):
            got = sorted(
                tuple(r)
                for r in txn.read_cdc_table(
                    spark, t, filters=filters
                ).collect()
            )
            expect = sorted(
                tuple(r)
                for r in txn.read_cdc_table(spark, t)
                .filter(_residual(filters))
                .collect()
            )
            assert got == expect and len(got) > 0, filters
        rep = txn.cdc_prune_report(spark, t, [("day", "=", 1)])
        assert rep["unstated_dirs"]
        # once every dir is post-adoption (full rewrite), none is unstated
        txn.compact_cdc_tombstones(spark, t, min_live_seq=0)
        rep = txn.cdc_prune_report(spark, t, [("day", "=", 9)])
        assert not rep["unstated_dirs"]

    def test_stats_cols_sticky_across_batches(self, spark, tmp_path):
        t = str(tmp_path / "zm-sticky")
        self._apply(spark, t, [(1, "a", 1, 1, "I")])
        # later batch WITHOUT stats_cols still collects (manifest-sticky)
        txn.apply_cdc_batch_bucketed(
            self._batch(spark, [(2, "b", 5, 2, "I")]), t, n_buckets=4
        )
        man = txn.latest_manifest(spark, t)
        assert man["stats_cols"] == ["day"]
        assert len(man["file_stats"]) == 2  # both dirs carry zone maps


class TestClusteredRewritePruning:
    """r7: bucket-local sort + file rolling on CDC rewrite keeps
    per-file zone maps narrow under churn (the r6 soak's measured
    failure mode: hash-mixed rewrites converge every file's stats to
    the full range, kept_fraction 0.44, prune gate permanently
    declining)."""

    CDC_D = "id long, val string, day long, seq long, op string"

    def _apply(self, spark, t, rows, **kw):
        return txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(rows, self.CDC_D),
            t,
            n_buckets=4,
            stats_cols=["day"],
            **kw,
        )

    def _seed_and_churn(self, spark, t, **kw):
        # 4 day-batches, keys hash into every bucket; then 4 MIXED
        # churn batches (update + insert per rotating day), each of
        # which re-merges every bucket — the layout-destroying pattern
        for day in range(4):
            self._apply(
                spark, t,
                [(day * 128 + i, f"d{day}-{i}", day, day + 1, "I")
                 for i in range(128)],
                **kw,
            )
        for b in range(4):
            day = b % 4
            self._apply(
                spark, t,
                [(day * 128 + i, f"upd{b}-{i}", day, 10 + b, "U")
                 for i in range(8)]
                + [(10000 + b * 128 + i, f"new{b}-{i}", day, 10 + b, "I")
                   for i in range(8)],
                **kw,
            )

    def test_one_day_filter_prunes_after_churn(self, spark, tmp_path):
        t = str(tmp_path / "clus")
        self._seed_and_churn(spark, t, target_file_rows=16)
        rep = txn.cdc_prune_report(spark, t, [("day", "=", 2)])
        # 1 of 4 days: kept-rows floor is the 0.25 selectivity plus one
        # 16-row boundary file per bucket (day runs straddle file
        # boundaries) — the unclustered layout kept ~100% here (every
        # file re-merged with all days after 8 batches)
        assert rep["kept_files"] / rep["total_files"] <= 0.4, rep
        assert rep["kept_rows"] / rep["total_rows"] <= 0.4, rep
        # and the prune stays SOUND: pruned scan == residual over live
        from taar_gcp_etl_spark.layout import _residual

        got = sorted(
            tuple(r)
            for r in txn.read_cdc_table(
                spark, t, filters=[("day", "=", 2)]
            ).collect()
        )
        expect = sorted(
            tuple(r)
            for r in txn.read_cdc_table(spark, t)
            .filter(_residual([("day", "=", 2)]))
            .collect()
        )
        assert got == expect and len(got) > 0

    def test_cluster_rows_sticky_and_maintenance_preserves(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "clus-sticky")
        # day runs (64 rows, ~16 per bucket) exceed the file roll (16),
        # so each rolled file covers ~one day
        self._apply(
            spark, t,
            [(i, f"a{i}", i // 64, 1, "I") for i in range(256)],
            target_file_rows=16,
        )
        # later batch WITHOUT the knob inherits it from the manifest
        self._apply(
            spark, t, [(1000 + i, f"b{i}", i % 4, 2, "I") for i in range(8)]
        )
        man = txn.latest_manifest(spark, t)
        assert man["cluster_rows"] == 16
        # the full-rewrite maintenance path re-clusters and re-rolls:
        # after compaction a one-day filter still keeps a minority of
        # rows (an unsorted rewrite would leave exactly one wide file
        # per bucket)
        txn.compact_cdc_tombstones(spark, t, min_live_seq=0)
        man = txn.latest_manifest(spark, t)
        assert man["cluster_rows"] == 16
        rep = txn.cdc_prune_report(spark, t, [("day", "=", 1)])
        assert rep["kept_rows"] / rep["total_rows"] <= 0.5, rep

    def test_cluster_rows_sticky_without_stats_cols(self, spark, tmp_path):
        """ADVICE r7: target_file_rows must persist even when the table
        tracks no stats_cols — file rolling is useful on its own, and the
        docstring promises 'sticky like stats_cols'."""
        t = str(tmp_path / "roll-nostats")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, f"a{i}", i // 64, 1, "I") for i in range(256)],
                self.CDC_D,
            ),
            t, n_buckets=4, target_file_rows=16,
        )
        man = txn.latest_manifest(spark, t)
        assert "stats_cols" not in man
        assert man["cluster_rows"] == 16
        # a later batch WITHOUT the knob inherits it
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1000 + i, f"b{i}", i % 4, 2, "I") for i in range(8)],
                self.CDC_D,
            ),
            t, n_buckets=4,
        )
        man = txn.latest_manifest(spark, t)
        assert man["cluster_rows"] == 16
        # and the maintenance full-rewrite path carries it too
        txn.compact_cdc_tombstones(spark, t, min_live_seq=0)
        man = txn.latest_manifest(spark, t)
        assert man["cluster_rows"] == 16
        assert self._got_all(spark, t) == 264

    def _got_all(self, spark, t):
        return txn.read_cdc_table(spark, t).count()

    def test_prune_plan_row_group_granularity(self):
        """_cdc_prune_plan metadata logic: row-group stats refine the
        rows estimate, and a file whose ENVELOPE overlaps but whose
        row groups are all disjoint is dropped outright."""
        man = {
            "buckets": {"0": "data/v1"},
            "stats_types": {"day": "bigint"},
            "file_stats": {
                "data/v1": [
                    {
                        "file": "_bucket=0/f1.parquet",
                        "rows": 100,
                        "stats": {"day": [0, 9]},
                        "row_groups": [
                            {"rows": 60, "stats": {"day": [0, 4]}},
                            {"rows": 40, "stats": {"day": [5, 9]}},
                        ],
                    },
                    {
                        "file": "_bucket=0/f2.parquet",
                        "rows": 50,
                        "stats": {"day": [0, 9]},
                        # gap: no row group covers day 7
                        "row_groups": [
                            {"rows": 25, "stats": {"day": [0, 4]}},
                            {"rows": 25, "stats": {"day": [8, 9]}},
                        ],
                    },
                    {  # legacy entry without row-group stats
                        "file": "_bucket=0/f3.parquet",
                        "rows": 30,
                        "stats": {"day": [6, 8]},
                    },
                ]
            },
        }
        plan = txn._cdc_prune_plan(man, "/t", [("day", "=", 7)])
        # f1: envelope hits, rg [5,9] hits → 40 rows; f2: envelope
        # hits, NO rg hits → dropped; f3: no rg info → all 30 rows
        assert plan["kept_files"] == 2 and plan["total_files"] == 3
        assert plan["kept_rows"] == 70 and plan["total_rows"] == 180
        assert sorted(plan["kept_paths"]) == [
            "/t/data/v1/_bucket=0/f1.parquet",
            "/t/data/v1/_bucket=0/f3.parquet",
        ]
        # a row group MISSING stats for the filtered column is kept
        man["file_stats"]["data/v1"][1]["row_groups"][0]["stats"] = {}
        plan = txn._cdc_prune_plan(man, "/t", [("day", "=", 7)])
        assert plan["kept_files"] == 3 and plan["kept_rows"] == 95

    def test_rowgroup_slice_stats_single_pass(self, spark, tmp_path):
        """r8: row-group stats come from the SAME rollup pass as the
        file-level stats (write-time data accounting, no parquet footer
        re-open): exact per-slice envelopes for every stats column —
        including strings, which the old footer path had to exclude —
        sliced by _metadata.row_index."""
        from taar_gcp_etl_spark.layout import collect_file_stats

        p = str(tmp_path / "rg")
        spark.createDataFrame(
            [(i // 10, f"s{i:02d}") for i in range(40)],
            "day long, name string",
        ).coalesce(1).sortWithinPartitions("day", "name").write.parquet(p)
        entries = collect_file_stats(
            spark, p, ["day", "name"], row_groups=True, slice_rows=10
        )
        assert len(entries) == 1
        e = entries[0]
        assert e["rows"] == 40 and e["stats"]["day"] == [0, 3]
        rgs = e["row_groups"]
        assert [g["rows"] for g in rgs] == [10, 10, 10, 10]
        assert [g["stats"]["day"] for g in rgs] == [
            [0, 0], [1, 1], [2, 2], [3, 3],
        ]
        # strings participate now: exact data-computed envelopes
        assert rgs[0]["stats"]["name"] == ["s00", "s09"]
        assert rgs[3]["stats"]["name"] == ["s30", "s39"]

    def test_rowgroup_slice_auto_sizing(self, spark, tmp_path):
        """slice_rows=None sizes slices at ~1/8 of the median file's
        rows (floor 1024) from a cheap count pass — unrolled layouts
        get sub-file granularity without a knob."""
        from taar_gcp_etl_spark.layout import collect_file_stats

        p = str(tmp_path / "rga")
        spark.createDataFrame(
            [(i // 2500, i) for i in range(20_000)], "day long, v long"
        ).coalesce(1).sortWithinPartitions("day").write.parquet(p)
        entries = collect_file_stats(spark, p, ["day"], row_groups=True)
        assert len(entries) == 1
        rgs = entries[0]["row_groups"]
        # 20000 // 8 = 2500 rows/slice -> 8 slices, one per day
        assert len(rgs) == 8
        assert [g["stats"]["day"] for g in rgs] == [
            [d, d] for d in range(8)
        ]
        # tiny files: floor keeps one slice, never an explosion
        p2 = str(tmp_path / "rgb")
        spark.createDataFrame(
            [(i, i) for i in range(64)], "day long, v long"
        ).coalesce(1).write.parquet(p2)
        entries = collect_file_stats(spark, p2, ["day"], row_groups=True)
        assert len(entries[0]["row_groups"]) == 1

    def test_rowgroup_slice_cap_under_skewed_file_sizes(
        self, spark, tmp_path, monkeypatch
    ):
        """Review fix: median-based auto-sizing alone would give a
        skewed giant file (one compaction output among small files)
        tens of thousands of manifest slice entries — the per-file cap
        bounds it."""
        from taar_gcp_etl_spark import layout
        from taar_gcp_etl_spark.layout import collect_file_stats

        monkeypatch.setattr(layout, "_RG_SLICE_MAX_PER_FILE", 4)
        p = str(tmp_path / "rgskew")
        for rows in (100, 100):
            spark.createDataFrame(
                [(i, i) for i in range(rows)], "day long, v long"
            ).coalesce(1).write.mode("append").parquet(p)
        spark.createDataFrame(
            [(i, i) for i in range(20_000)], "day long, v long"
        ).coalesce(1).write.mode("append").parquet(p)
        entries = collect_file_stats(spark, p, ["day"], row_groups=True)
        assert len(entries) == 3
        assert max(len(e["row_groups"]) for e in entries) <= 4
        assert sum(e["rows"] for e in entries) == 20_200

    def test_rowgroup_stats_survive_nonlocal_path_form(self, spark, tmp_path):
        """r8 (VERDICT r7 'What's missing' #2): the old implementation
        re-opened each file via a LOCAL-path pyarrow footer read and
        silently degraded to file-level stats on any non-posix path
        form. The single-pass implementation plans through Spark's own
        reader, so a scheme-prefixed (object-storage-style) path yields
        identical row-group stats — and layout.py no longer touches
        pyarrow at all."""
        from taar_gcp_etl_spark import layout
        from taar_gcp_etl_spark.layout import collect_file_stats

        p = str(tmp_path / "rg2")
        spark.createDataFrame(
            [(i // 8, i) for i in range(32)], "day long, v long"
        ).coalesce(1).sortWithinPartitions("day").write.parquet(p)
        posix = collect_file_stats(
            spark, p, ["day"], row_groups=True, slice_rows=8
        )
        uri = collect_file_stats(
            spark, f"file:{p}", ["day"], row_groups=True, slice_rows=8
        )
        assert posix and posix == uri
        assert all("row_groups" in e for e in uri)
        import inspect

        assert "import pyarrow" not in inspect.getsource(layout)
        # hive-partition subdirs survive a scheme-prefixed table path
        # (the old substring marker never matched 'file:' vs
        # 'file:///', silently degrading bucketed file names to
        # basenames — wrong pruned paths)
        p3 = str(tmp_path / "rg3")
        spark.createDataFrame(
            [(i % 2, i) for i in range(8)], "b int, v long"
        ).write.partitionBy("b").parquet(p3)
        names = sorted(
            e["file"]
            for e in collect_file_stats(
                spark, f"file:{p3}", ["v"], row_groups=True
            )
        )
        assert len(names) > 1 and all(n.startswith("b=") for n in names)

    def test_timestamp_stats_col_prunes_without_tz_clash(
        self, spark, tmp_path
    ):
        """Review fix: pyarrow returns TIMESTAMP_MICROS row-group stats
        tz-AWARE while Spark's file-level stats are naive (UTC
        session); unnormalized they made every pruner comparison raise
        TypeError. End-to-end: a timestamp stats_col prunes cleanly."""
        import datetime as dt

        t = str(tmp_path / "clus-ts")
        rows = [
            (i, dt.datetime(2024, 1, 1 + i // 32), 1, "I")
            for i in range(128)
        ]
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                rows, "id long, ts timestamp, seq long, op string"
            ),
            t, n_buckets=4, stats_cols=["ts"], target_file_rows=16,
        )
        man = txn.latest_manifest(spark, t)
        entries = next(iter(man["file_stats"].values()))
        assert any("row_groups" in e for e in entries)
        rep = txn.cdc_prune_report(
            spark, t, [("ts", ">=", dt.datetime(2024, 1, 4))]
        )
        assert 0 < rep["kept_rows"] < rep["total_rows"], rep
        got = txn.read_cdc_table(
            spark, t, filters=[("ts", ">=", dt.datetime(2024, 1, 4))]
        ).count()
        assert got == 32  # exactly the last day's rows

    def test_pruned_scan_pushes_residual_to_parquet(self, spark, tmp_path):
        """The residual lands on the BASE scan as PushedFilters, so
        parquet's native row-group stats skip inside kept files —
        manifest skipping and reader skipping stack."""
        from taar_gcp_etl_spark.plans import has_pushed_filter

        t = str(tmp_path / "clus-push")
        self._seed_and_churn(spark, t, target_file_rows=16)
        df = txn.read_cdc_table(spark, t, filters=[("day", "=", 2)])
        assert has_pushed_filter(df, "day")


class TestFlatCasRetryFreshRead:
    """ADVICE r4: a full-rewrite maintenance op on a flat (single-bucket)
    table must re-read and re-derive its rewrite inside the CAS retry
    loop — losing a version race and re-committing the stale rewrite
    would silently drop the concurrent writer's changes."""

    def test_compaction_retry_refilters_fresh_state(
        self, spark, tmp_path, monkeypatch
    ):
        t = str(tmp_path / "cas-compact")
        _apply(spark, t, [(1, "a", 1, "I"), (2, None, 2, "D")], n_buckets=1)
        real = txn._publish_manifest
        raced = []

        def racing(spark_, table_dir, manifest, token):
            if not raced:
                raced.append(True)
                # writer B lands version 2 before the compaction's first
                # publish (its own publish re-enters here and goes
                # straight through)
                _apply(spark, t, [(3, "c", 5, "I")], n_buckets=1)
            return real(spark_, table_dir, manifest, token)

        monkeypatch.setattr(txn, "_publish_manifest", racing)
        v = txn.compact_cdc_tombstones(spark, t, min_live_seq=3)
        monkeypatch.undo()
        assert raced and v == 3
        live = _rows(txn.read_cdc_table(spark, t))
        assert live == {1: ("a", 1), 3: ("c", 5)}  # B's insert survived
        raw = txn.read_txn(spark, t)
        assert raw.filter(F.col(txn.DELETED_COL)).count() == 0


class TestMoRSeqTieDeterminism:
    def test_equal_seq_overlay_tombstone_loses_to_base_row(
        self, spark, tmp_path
    ):
        """ADVICE r4: write path applies a staged row iff seq is STRICTLY
        newer; the merge-on-read resolution must match — an overlay
        tombstone with seq EQUAL to the stored row's loses
        deterministically (not per-read at random)."""
        t = str(tmp_path / "mor-tie")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, "a", 5, "I"), (2, "b", 3, "I")], CDC_SCHEMA
            ),
            t,
            n_buckets=4,
        )
        # delete-only batch → overlay; key 1 ties the stored seq, key 2 wins
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, None, 5, "D"), (2, None, 9, "D")], CDC_SCHEMA
            ),
            t,
            n_buckets=4,
        )
        assert txn.overlay_pressure(spark, t) >= 1  # really merge-on-read
        for _ in range(5):  # deterministic across repeated reads
            assert _rows(txn.read_cdc_table(spark, t)) == {1: ("a", 5)}


class TestVacuumGrace:
    def test_young_unreferenced_dirs_survive_grace_window(
        self, spark, tmp_path
    ):
        """ADVICE r4: an in-flight commit's snapshot dir (written, not
        yet published) must not be vacuumed out from under the publish —
        dirs younger than grace_seconds are skipped."""
        t = str(tmp_path / "vg")
        _commit_snapshot(
            spark.createDataFrame([(1, "a")], "id long, val string"), t
        )
        # simulate a concurrent writer mid-commit: snapshot written,
        # manifest rename not yet executed
        spark.createDataFrame(
            [(9, "inflight")], "id long, val string"
        ).write.parquet(f"{t}/data/v0000000002-inflight")

        report = txn.vacuum_txn(spark, t, keep_last=2, grace_seconds=3600)
        assert report["skipped_young"] == 1
        assert report["removed_snapshots"] == 0
        # the in-flight writer can still publish against its intact dir
        txn._write_bytes(
            spark,
            f"{t}/_log/{txn._manifest_name(2)}",
            json.dumps(
                {
                    "version": 2,
                    "snapshot": "data/v0000000002-inflight",
                    "epoch_id": None,
                    "parent": 1,
                }
            ).encode(),
        )
        assert [r.val for r in txn.read_txn(spark, t).collect()] == [
            "inflight"
        ]

    def test_zero_grace_reclaims_immediately(self, spark, tmp_path):
        t = str(tmp_path / "vg0")
        _commit_snapshot(
            spark.createDataFrame([(1, "a")], "id long, val string"), t
        )
        spark.createDataFrame(
            [(9, "orphan")], "id long, val string"
        ).write.parquet(f"{t}/data/v0000000009-orphan")
        report = txn.vacuum_txn(spark, t, keep_last=2, grace_seconds=0)
        assert report["removed_snapshots"] == 1
        assert report["skipped_young"] == 0


class TestMaintainCdcTable:
    """maintain_cdc_table: the one cadence entry point — each primitive
    fires only when due, in dependency order, and an hourly no-op run
    is safe."""

    SRC = "id long, val string, seq long, op string"

    def _apply(self, spark, t, rows, nb=4):
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(rows, self.SRC), t,
            key_col="id", n_buckets=nb,
        )

    @pytest.mark.parametrize("via", ["compact", "maintain"])
    def test_tombstone_retirement_uses_the_tables_seq_col(
        self, spark, tmp_path, via
    ):
        """A table applied with ``seq_col="ts"`` retires its tombstones
        by that column, from compact_cdc_tombstones and from a
        maintenance pass without a rescale."""
        t = str(tmp_path / "ts")
        schema = "id long, val string, ts long, op string"
        for rows in ([(1, "a", 1, "I"), (2, "b", 1, "I")],
                     [(1, None, 2, "D")]):
            txn.apply_cdc_batch_bucketed(
                spark.createDataFrame(rows, schema), t, seq_col="ts",
                n_buckets=4,
            )
        if via == "compact":
            assert txn.compact_cdc_tombstones(spark, t, 100) is not None
        else:
            rep = txn.maintain_cdc_table(
                spark, t, tombstone_min_live_seq=100, vacuum_keep_last=0
            )
            assert rep["tombstone_version"] is not None
        raw = txn.read_cdc_table(spark, t, include_tombstones=True)
        assert {(r.id, r._deleted) for r in raw.collect()} == {(2, False)}

    def test_full_pass_fires_each_due_step(self, spark, tmp_path):
        t = str(tmp_path / "mt")
        self._apply(spark, t, [(i, f"v{i}", 1, "I") for i in range(1, 9)])
        # stack overlays past the threshold with delete-only batches
        for s in range(2, 8):
            self._apply(spark, t, [(1, None, s, "D")])
        assert txn.overlay_pressure(spark, t) > 2
        rep = txn.maintain_cdc_table(
            spark, t,
            max_overlays_per_bucket=2,
            tombstone_min_live_seq=100,   # every tombstone retireable
            target_n_buckets=8,
            vacuum_keep_last=1,
            vacuum_grace_seconds=0.0,
        )
        assert rep["compacted_version"] is not None
        assert rep["tombstone_version"] is not None
        assert rep["rescaled_version"] is not None
        assert rep["vacuum"]["removed_snapshots"] > 0
        man = txn.latest_manifest(spark, t)
        assert man["n_buckets"] == 8 and man["overlays"] == {}
        # table state intact through all four steps
        rows = {r.id: r.val for r in txn.read_cdc_table(spark, t).collect()}
        assert rows == {i: f"v{i}" for i in range(2, 9)}
        # tombstone for key 1 retired: a stale late insert CAN now land
        # (that's what the min_live_seq promise means)
        assert 1 not in rows

    def test_idempotent_noop_when_nothing_due(self, spark, tmp_path):
        t = str(tmp_path / "mt2")
        self._apply(spark, t, [(1, "a", 1, "I")])
        v = txn.latest_manifest(spark, t)["version"]
        for _ in range(2):  # hourly-cron shape: repeated no-op passes
            rep = txn.maintain_cdc_table(
                spark, t, vacuum_keep_last=5, vacuum_grace_seconds=3600
            )
            assert rep["compacted_version"] is None
            assert rep["tombstone_version"] is None
            assert rep["rescaled_version"] is None
            assert rep["vacuum"]["removed_snapshots"] == 0
        assert txn.latest_manifest(spark, t)["version"] == v

    def test_due_steps_compose_into_one_rewrite(self, spark, tmp_path):
        """Overlay compaction, tombstone retirement and rescale all due:
        one rewrite commit carries all three, and the live rows are the
        ones before the pass."""
        t = str(tmp_path / "mt")
        self._apply(spark, t, [(i, f"v{i}", 1, "I") for i in range(1, 9)])
        for s in range(2, 8):
            self._apply(spark, t, [(1, None, s, "D")])
        before = txn.latest_manifest(spark, t)["version"]
        live = sorted(txn.read_cdc_table(spark, t).collect())
        rep = txn.maintain_cdc_table(
            spark, t,
            max_overlays_per_bucket=2,
            tombstone_min_live_seq=100,
            target_n_buckets=8,
            vacuum_keep_last=0,
        )
        man = txn.latest_manifest(spark, t)
        assert man["version"] == before + 1
        assert (
            rep["compacted_version"] == rep["tombstone_version"]
            == rep["rescaled_version"] == before + 1
        )
        assert man["n_buckets"] == 8 and man["overlays"] == {}
        assert sorted(txn.read_cdc_table(spark, t).collect()) == live
        raw = txn.read_cdc_table(spark, t, include_tombstones=True)
        assert raw.filter(F.col(txn.DELETED_COL)).count() == 0

    def test_group_member_can_skip_vacuum(self, spark, tmp_path):
        t = str(tmp_path / "mt3")
        self._apply(spark, t, [(1, "a", 1, "I")])
        rep = txn.maintain_cdc_table(spark, t, vacuum_keep_last=0)
        assert rep["vacuum"] is None


class TestDirtyBucketCompaction:
    """Tombstone compaction is O(dirty buckets): the manifest tracks the
    buckets that may hold a tombstone (``tombstone_buckets``), and a
    compaction rewrites only those and the overlay buckets, leaving
    every other bucket in its dir; vacuum reclaims per bucket."""

    NB = 16

    def _seed(self, spark, t, **kw):
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, f"v{i}", 1, "I") for i in range(160)], CDC_SCHEMA
            ),
            t, n_buckets=self.NB, **kw,
        )
        return _buckets(spark, range(160), self.NB)

    def _keys(self, bk, n, avoid=()):
        """n keys in distinct buckets, none in a bucket of ``avoid``."""
        out, used = [], {bk[a] for a in avoid}
        for k in range(160):
            if bk[k] not in used:
                out.append(k)
                used.add(bk[k])
            if len(out) == n:
                return out
        raise AssertionError("not enough buckets")

    def _raw(self, spark, t, version=None):
        return sorted(txn.read_cdc_table(
            spark, t, include_tombstones=True, version=version
        ).collect())

    def test_only_dirty_buckets_repointed(self, spark, tmp_path):
        t = str(tmp_path / "t")
        bk = self._seed(spark, t)
        old, new = self._keys(bk, 2)
        (up,) = self._keys(bk, 1, avoid=(old, new))
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(old, None, 50, "D"), (new, None, 150, "D"),
                 (up, "u", 60, "U")],
                CDC_SCHEMA,
            ),
            t, n_buckets=self.NB,
        )
        before = txn.latest_manifest(spark, t)
        assert before["tombstone_buckets"] == sorted({bk[old], bk[new]})
        live = sorted(txn.read_cdc_table(spark, t).collect())
        v = txn.compact_cdc_tombstones(spark, t, min_live_seq=100)
        man = txn.latest_manifest(spark, t)
        moved = {
            int(b) for b, d in man["buckets"].items()
            if d != before["buckets"][b]
        }
        assert moved == {bk[old], bk[new]}
        assert {man["buckets"][str(b)] for b in moved} == {
            next(d for d in man["buckets"].values()
                 if d.startswith(f"data/v{v:010d}-"))
        }
        assert sorted(txn.read_cdc_table(spark, t).collect()) == live
        raw = txn.read_cdc_table(spark, t, include_tombstones=True)
        assert {r.id for r in raw.filter("_deleted").collect()} == {new}
        # the kept tombstone's bucket stays dirty; the next compaction
        # past its horizon rewrites that bucket alone
        assert man["tombstone_buckets"] == [bk[new]]
        txn.compact_cdc_tombstones(spark, t, min_live_seq=2**62)
        man2 = txn.latest_manifest(spark, t)
        assert {
            int(b) for b, d in man2["buckets"].items()
            if d != man["buckets"][b]
        } == {bk[new]}
        assert man2["tombstone_buckets"] == []
        raw = txn.read_cdc_table(spark, t, include_tombstones=True)
        assert raw.filter("_deleted").count() == 0
        assert sorted(txn.read_cdc_table(spark, t).collect()) == live

    def test_overlay_buckets_folded(self, spark, tmp_path):
        t = str(tmp_path / "t")
        bk = self._seed(spark, t)
        dels = self._keys(bk, 3)
        for j, k in enumerate(dels):  # delete-only: one overlay each
            _apply(spark, t, [(k, None, 10 + j, "D")], n_buckets=self.NB)
        before = txn.latest_manifest(spark, t)
        assert {int(b) for b in before["overlays"]} == {bk[k] for k in dels}
        live = sorted(txn.read_cdc_table(spark, t).collect())
        assert txn.maybe_compact_overlays(
            spark, t, max_overlays_per_bucket=0
        )
        man = txn.latest_manifest(spark, t)
        assert man["overlays"] == {}
        assert {
            int(b) for b, d in man["buckets"].items()
            if d != before["buckets"][b]
        } == {bk[k] for k in dels}
        # min_live_seq 0 retires nothing: the tombstones now sit in base
        assert man["tombstone_buckets"] == sorted(bk[k] for k in dels)
        assert sorted(txn.read_cdc_table(spark, t).collect()) == live

    def test_overlay_fold_leaves_tombstone_buckets(self, spark, tmp_path):
        """Folding an overlay retires nothing, so it rewrites the
        overlay's bucket alone; the buckets holding a base tombstone
        stay tracked and the next compaction past the horizon retires
        them."""
        t = str(tmp_path / "t")
        bk = self._seed(spark, t)
        k2, k10, k11, k13 = (
            next(k for k in range(160) if bk[k] == b) for b in (2, 10, 11, 13)
        )
        up = next(k for k in range(160) if bk[k] not in (2, 10, 11, 13))
        _apply(spark, t, [(k2, None, 5, "D"), (k11, None, 5, "D"),
                          (k13, None, 5, "D"), (up, "u", 5, "U")],
               n_buckets=self.NB)
        _apply(spark, t, [(k10, None, 6, "D")], n_buckets=self.NB)
        before = txn.latest_manifest(spark, t)
        assert before["tombstone_buckets"] == [2, 10, 11, 13]
        assert set(before["overlays"]) == {"10"}
        live = sorted(txn.read_cdc_table(spark, t).collect())
        rep = txn.maintain_cdc_table(
            spark, t, max_overlays_per_bucket=0, vacuum_keep_last=0
        )
        man = txn.latest_manifest(spark, t)
        assert rep["compacted_version"] == man["version"]
        assert {
            int(b) for b, d in man["buckets"].items()
            if d != before["buckets"][b]
        } == {10}
        assert man["overlays"] == {}
        assert man["tombstone_buckets"] == [2, 10, 11, 13]
        assert sorted(txn.read_cdc_table(spark, t).collect()) == live
        txn.compact_cdc_tombstones(spark, t, 2**62)
        man2 = txn.latest_manifest(spark, t)
        assert {
            int(b) for b, d in man2["buckets"].items()
            if d != man["buckets"][b]
        } == {2, 10, 11, 13}
        assert man2["tombstone_buckets"] == []
        raw = txn.read_cdc_table(spark, t, include_tombstones=True)
        assert raw.filter("_deleted").count() == 0
        assert sorted(txn.read_cdc_table(spark, t).collect()) == live

    def test_untracked_manifest_compacts_every_bucket(self, spark, tmp_path):
        """A manifest without ``tombstone_buckets`` (a table written
        before it was tracked) may hold a tombstone anywhere: the next
        compaction rewrites every bucket, and tracks from then on."""
        t = str(tmp_path / "t")
        bk = self._seed(spark, t)
        (k,) = self._keys(bk, 1)
        _apply(spark, t, [(k, None, 5, "D"), (1000, "n", 5, "I")],
               n_buckets=self.NB)
        man = txn.latest_manifest(spark, t)
        del man["tombstone_buckets"]
        txn._write_bytes(
            spark, f"{t}/_log/{txn._manifest_name(man['version'])}",
            json.dumps(man, sort_keys=True).encode(),
        )
        # an apply onto an untracked table does not start a partial set
        _apply(spark, t, [(k + 1, "x", 6, "U")], n_buckets=self.NB)
        assert "tombstone_buckets" not in txn.latest_manifest(spark, t)
        live = sorted(txn.read_cdc_table(spark, t).collect())
        v = txn.compact_cdc_tombstones(spark, t, min_live_seq=2**62)
        man = txn.latest_manifest(spark, t)
        assert set(man["buckets"].values()) == {
            next(iter(man["buckets"].values()))
        }
        assert man["buckets"]["0"].startswith(f"data/v{v:010d}-")
        assert man["tombstone_buckets"] == []
        assert sorted(txn.read_cdc_table(spark, t).collect()) == live
        _apply(spark, t, [(k, None, 9, "D")], n_buckets=self.NB)
        assert txn.latest_manifest(spark, t)["tombstone_buckets"] == [bk[k]]

    def test_stats_table_filtered_read_after_compaction_and_vacuum(
        self, spark, tmp_path
    ):
        from taar_gcp_etl_spark.layout import _residual

        schema = "id long, val string, day long, seq long, op string"
        t = str(tmp_path / "t")
        rows = [(i, f"v{i}", i % 5, 1, "I") for i in range(160)]
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(rows, schema), t, n_buckets=self.NB,
            stats_cols=["day"], target_file_rows=4,
        )
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(3, None, None, 2, "D"), (8, None, None, 2, "D"),
                 (12, "x", 4, 2, "U"), (500, "n", 1, 2, "I")],
                schema,
            ),
            t, n_buckets=self.NB,
        )
        txn.compact_cdc_tombstones(spark, t, min_live_seq=2**62)
        txn.vacuum_txn(spark, t, keep_last=1)
        man = txn.latest_manifest(spark, t)
        assert set(man["file_stats"]) == set(man["buckets"].values())
        for filters in ([("day", "<=", 1)], [("day", "=", 4)],
                        [("day", "between", (2, 3))]):
            got = sorted(
                tuple(r) for r in txn.read_cdc_table(
                    spark, t, filters=filters
                ).collect()
            )
            want = sorted(
                tuple(r) for r in txn.read_cdc_table(spark, t)
                .filter(_residual(filters)).collect()
            )
            assert got == want and got, filters
        assert 3 not in {r.id for r in txn.read_cdc_table(spark, t).collect()}

    def test_rescale_tracks_the_new_bucket_count(self, spark, tmp_path):
        t = str(tmp_path / "t")
        bk = self._seed(spark, t)
        dels = self._keys(bk, 3)
        _apply(spark, t, [(k, None, 5, "D") for k in dels]
               + [(999, "n", 5, "I")], n_buckets=self.NB)
        txn.rescale_buckets(spark, t, 32)
        man = txn.latest_manifest(spark, t)
        bk32 = _buckets(spark, dels, 32)
        assert man["tombstone_buckets"] == sorted({bk32[k] for k in dels})
        txn.compact_cdc_tombstones(spark, t, min_live_seq=2**62)
        man = txn.latest_manifest(spark, t)
        assert man["tombstone_buckets"] == [] and man["n_buckets"] == 32
        raw = txn.read_cdc_table(spark, t, include_tombstones=True)
        assert raw.filter("_deleted").count() == 0

    def test_vacuum_reclaims_per_bucket_and_keeps_time_travel(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "t")
        bk = self._seed(spark, t)
        bk.update(_buckets(spark, [999], self.NB))
        dels = self._keys(bk, 2, avoid=(999,))
        _apply(spark, t, [(k, None, 5, "D") for k in dels]
               + [(999, "n", 5, "I")], n_buckets=self.NB)
        prev = txn.latest_manifest(spark, t)
        pre = self._raw(spark, t)
        txn.compact_cdc_tombstones(spark, t, min_live_seq=2**62)
        man = txn.latest_manifest(spark, t)
        post = self._raw(spark, t)
        assert post == [r for r in pre if not r._deleted]

        # the seed dir's three subdirs the v2 apply repointed go; the
        # v2 dir is still the previous version's
        rep = txn.vacuum_txn(spark, t, keep_last=2)
        assert rep["removed_bucket_dirs"] == 3
        _assert_dirs_hold_mapped_subdirs(t, prev, man)
        assert self._raw(spark, t, version=prev["version"]) == pre

        # then the v2 dir's two subdirs the compaction repointed
        rep = txn.vacuum_txn(spark, t, keep_last=1)
        assert rep["removed_bucket_dirs"] == 2
        _assert_dirs_hold_mapped_subdirs(t, man)
        assert self._raw(spark, t) == post


class TestJoinBucketed:
    """Bucket-aligned join face (VERDICT r8 #4): two tables bucketed by
    the same hash/modulus join with ZERO shuffle exchange of either
    side — per-bucket pruned reads coalesced to one partition satisfy
    the join's clustered distribution, so EnsureRequirements inserts no
    Exchange and the sort-merge runs task-local."""

    def _mk(self, spark, t, rows, schema=CDC_SCHEMA, **kw):
        kw.setdefault("n_buckets", 8)
        return txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(rows, schema), t, **kw
        )

    def _plain_equal(self, spark, left, right, how):
        """Reference result: read_cdc_table + standard join with the
        same rsuffix discipline."""
        l = txn.read_cdc_table(spark, left)
        r = txn.read_cdc_table(spark, right)
        ren = {c: c + "_r" for c in r.columns if c in l.columns and c != "id"}
        return l.join(r.withColumnsRenamed(ren), "id", how)

    def test_inner_and_outer_equal_plain_join(self, spark, tmp_path):
        left, right = str(tmp_path / "l"), str(tmp_path / "r")
        self._mk(spark, left, [(i, f"l{i}", i, "I") for i in range(1, 31)])
        self._mk(
            spark, right, [(i, f"r{i}", i, "I") for i in range(15, 46)]
        )

        def norm(df):
            return sorted(
                tuple(r) for r in df.select(sorted(df.columns)).collect()
            )

        for how in ("inner", "left", "full"):
            got = txn.join_bucketed(spark, left, right, how=how)
            want = self._plain_equal(spark, left, right, how)
            assert sorted(got.columns) == sorted(want.columns), how
            assert norm(got) == norm(want), how

    def test_zero_shuffle_exchange_on_both_sides(self, spark, tmp_path):
        """THE plan contract: no Exchange hashpartitioning / range-
        partitioning anywhere in the bucket-aligned plan, while the
        plain join of the same tables DOES shuffle (contrast keeps the
        assertion honest)."""
        left, right = str(tmp_path / "l"), str(tmp_path / "r")
        self._mk(spark, left, [(i, f"l{i}", i, "I") for i in range(1, 41)])
        self._mk(spark, right, [(i, f"r{i}", i, "I") for i in range(1, 41)])
        got = txn.join_bucketed(spark, left, right)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert "Exchange rangepartitioning" not in plan
        # a delete overlay on the left: its bucket resolves with a window
        # over the one coalesced partition, still no exchange
        self._mk(spark, left, [(7, None, 100, "D")])
        assert txn.latest_manifest(spark, left)["overlays"]
        got = txn.join_bucketed(spark, left, right)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        ids = {r.id for r in got.collect()}
        assert 7 not in ids and len(ids) == 39
        plain = self._plain_equal(spark, left, right, "inner")
        # disable broadcast so the contrast join actually shuffles
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            pplan = (
                plain._jdf.queryExecution().executedPlan().toString()
            )
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        assert "Exchange hashpartitioning" in pplan

    def test_bucket_count_mismatch_raises(self, spark, tmp_path):
        left, right = str(tmp_path / "l"), str(tmp_path / "r")
        self._mk(spark, left, [(1, "a", 1, "I")], n_buckets=8)
        self._mk(spark, right, [(1, "b", 1, "I")], n_buckets=16)
        with pytest.raises(ValueError, match="bucket-count mismatch"):
            txn.join_bucketed(spark, left, right)

    def test_key_type_mismatch_raises(self, spark, tmp_path):
        left, right = str(tmp_path / "l"), str(tmp_path / "r")
        self._mk(spark, left, [(1, "a", 1, "I")])
        self._mk(
            spark, right, [("1", "b", 1, "I")],
            schema="id string, val string, seq long, op string",
        )
        with pytest.raises(ValueError, match="key type mismatch"):
            txn.join_bucketed(spark, left, right)

    def test_overlay_deletes_resolved_inside_bucket(self, spark, tmp_path):
        """A delete-only batch leaves a merge-on-read overlay; the
        bucket-aligned join must not resurrect the deleted key."""
        left, right = str(tmp_path / "l"), str(tmp_path / "r")
        self._mk(spark, left, [(i, f"l{i}", i, "I") for i in range(1, 21)])
        self._mk(spark, right, [(i, f"r{i}", i, "I") for i in range(1, 21)])
        self._mk(spark, left, [(7, None, 100, "D")])  # overlay tombstone
        man = txn.latest_manifest(spark, left)
        assert man["overlays"], "fixture must exercise the overlay path"
        got = txn.join_bucketed(spark, left, right)
        ids = {r.id for r in got.collect()}
        assert 7 not in ids and len(ids) == 19

    def test_disjoint_mappings_inner_is_empty_with_schema(
        self, spark, tmp_path
    ):
        """Two single-key tables whose keys hash to different buckets:
        the inner result is an EMPTY frame with the joined schema (not
        None — both tables have committed versions)."""
        b_of = lambda k: spark.createDataFrame(  # noqa: E731
            [(k,)], "id long"
        ).select(txn._bucket_of("id", 8).alias("b")).collect()[0].b
        k1 = 1
        k2 = next(k for k in range(2, 100) if b_of(k) != b_of(k1))
        left, right = str(tmp_path / "l"), str(tmp_path / "r")
        self._mk(spark, left, [(k1, "a", 1, "I")])
        self._mk(spark, right, [(k2, "b", 1, "I")])
        got = txn.join_bucketed(spark, left, right)
        assert got.count() == 0
        assert "val" in got.columns and "val_r" in got.columns

    def test_version_pinned_against_concurrent_commit(self, spark, tmp_path):
        """The plan reads both sides at the manifest version seen up
        front: a commit AFTER join_bucketed returns must not change the
        already-built DataFrame's rows."""
        left, right = str(tmp_path / "l"), str(tmp_path / "r")
        self._mk(spark, left, [(i, f"l{i}", i, "I") for i in range(1, 11)])
        self._mk(spark, right, [(i, f"r{i}", i, "I") for i in range(1, 11)])
        got = txn.join_bucketed(spark, left, right)
        self._mk(spark, left, [(99, "late", 200, "I")])
        assert got.count() == 10


class TestSnapshotTableRejected:
    """Every CDC entry point takes the bucketed layout only: a plain
    snapshot table (layout.commit_clustered) raises the one layout
    ValueError and stays at its version — no flat apply, no rewrite."""

    ENTRY_POINTS = {
        "apply_cdc_batch_bucketed": lambda spark, snap, buck, store: (
            txn.apply_cdc_batch_bucketed(
                spark.createDataFrame([(2, "b", 2, "I")], CDC_SCHEMA),
                snap, n_buckets=4,
            )
        ),
        "merge_into": lambda spark, snap, buck, store: txn.merge_into(
            spark, snap,
            spark.createDataFrame([(2, "b")], "id long, val string"),
        ),
        "compact_cdc_tombstones": lambda spark, snap, buck, store: (
            txn.compact_cdc_tombstones(spark, snap, min_live_seq=10)
        ),
        "rescale_buckets": lambda spark, snap, buck, store: (
            txn.rescale_buckets(spark, snap, 8)
        ),
        "read_changes": lambda spark, snap, buck, store: (
            txn.read_changes(spark, snap, 1)
        ),
        "join_bucketed": lambda spark, snap, buck, store: (
            txn.join_bucketed(spark, buck, snap)
        ),
        "sync_join_from_cdc": lambda spark, snap, buck, store: (
            txn.sync_join_from_cdc(spark, buck, snap, store)
        ),
    }

    @pytest.fixture(scope="class")
    def tables(self, spark, tmp_path_factory):
        root = tmp_path_factory.mktemp("snap")
        snap, buck = str(root / "snap"), str(root / "buck")
        _commit_snapshot(
            spark.createDataFrame([(1, "a", 1)], "id long, val string, seq long"),
            snap,
        )
        _apply(spark, buck, [(1, "b", 1, "I")])
        return snap, buck

    @pytest.mark.parametrize("entry", sorted(ENTRY_POINTS))
    def test_cdc_entry_point_raises(self, spark, tables, tmp_path, entry):
        snap, buck = tables
        with pytest.raises(
            ValueError, match="plain snapshot table, not a bucketed CDC table"
        ):
            self.ENTRY_POINTS[entry](
                spark, snap, buck, str(tmp_path / "store")
            )
        assert txn.latest_manifest(spark, snap)["version"] == 1
        assert _rows(txn.read_txn(spark, snap)) == {1: ("a", 1)}


class TestPruneGateBlend:
    """ADVICE r8: kept_rows (logical-slice model) is an OPTIMISTIC IO
    bound — a rolled file is often ONE physical parquet row group, so
    the residual may skip nothing inside kept files. The plan also
    reports kept_file_rows (pessimistic bound), so a cost gate can
    price between the two."""

    def _man(self):
        return {
            "buckets": {"0": "data/v1"},
            "stats_types": {"day": "bigint"},
            "file_stats": {
                "data/v1": [
                    {
                        # wide-envelope giant: slices say only 100 of
                        # 1000 rows match, but if the file is one
                        # physical row group the scan reads all 1000
                        "file": "_bucket=0/big.parquet",
                        "rows": 1000,
                        "stats": {"day": [0, 9]},
                        "row_groups": [
                            {"rows": 100, "stats": {"day": [7, 7]}},
                            {"rows": 900, "stats": {"day": [0, 6]}},
                        ],
                    },
                    {
                        "file": "_bucket=0/skip.parquet",
                        "rows": 1000,
                        "stats": {"day": [0, 5]},
                    },
                ]
            },
        }

    def test_plan_reports_both_bounds(self):
        plan = txn._cdc_prune_plan(self._man(), "/t", [("day", "=", 7)])
        assert plan["kept_rows"] == 100  # optimistic: matching slices
        assert plan["kept_file_rows"] == 1000  # pessimistic: whole file
        assert plan["total_rows"] == 2000

    def test_bounds_equal_without_slice_stats(self):
        """Legacy entries (no row_groups) must keep the old semantics:
        both bounds are the file's rows, so the blend degrades to the
        r7 row-fraction gate exactly."""
        man = self._man()
        del man["file_stats"]["data/v1"][0]["row_groups"]
        plan = txn._cdc_prune_plan(man, "/t", [("day", "=", 7)])
        assert plan["kept_rows"] == plan["kept_file_rows"] == 1000


class TestJoinBucketedRenameCollision:
    """Review fix: the rsuffix rename must not itself collide — a right
    table carrying both 'val' and 'val_r' (with 'val' colliding against
    the left) previously produced two 'val_r' output columns."""

    def test_suffixed_name_collision_avoided(self, spark, tmp_path):
        left, right = str(tmp_path / "l"), str(tmp_path / "r")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, "a", 1, "I")], CDC_SCHEMA
            ),
            left, n_buckets=8,
        )
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, "b", "pre-existing", 1, "I")],
                "id long, val string, val_r string, seq long, op string",
            ),
            right, n_buckets=8,
        )
        out = txn.join_bucketed(spark, left, right)
        cols = out.columns
        assert len(cols) == len(set(cols)), cols  # no duplicates
        row = out.collect()[0]
        # left val kept, right val renamed PAST the taken val_r
        assert row.val == "a" and row.val_r == "pre-existing"
        assert row.val_r_r == "b"


class TestSyncJoinFromCdc:
    """Incremental materialized JOIN view (sync_join_from_cdc): store ==
    live(L) JOIN live(R) on the key columns, maintained from the change
    feeds with O(touched keys) probes. Every test's final assertion is
    equality with a from-scratch join of the live sides (the
    full-recompute truth)."""

    L = "id long, lval string, seq long, op string"
    R = "id long, rval string, seq long, op string"

    def _apply(self, spark, t, rows, schema, **kw):
        kw.setdefault("n_buckets", 8)
        return txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(rows, schema), t, **kw
        )

    def _truth(self, spark, left, right, how):
        l = txn.read_cdc_table(spark, left)
        r = txn.read_cdc_table(spark, right)
        ren = {c: c + "_r" for c in r.columns if c in l.columns and c != "id"}
        return l.join(r.withColumnsRenamed(ren), "id", how)

    def _norm(self, df):
        return sorted(
            (tuple(r) for r in df.select(sorted(df.columns)).collect()),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    def _check(self, spark, left, right, store, how):
        got = txn.read_join_store(spark, store)
        want = self._truth(spark, left, right, how)
        assert sorted(got.columns) == sorted(want.columns)
        assert self._norm(got) == self._norm(want)

    def test_cold_start_then_incremental_all_change_kinds(
        self, spark, tmp_path
    ):
        left, right = str(tmp_path / "l"), str(tmp_path / "r")
        store = str(tmp_path / "mv")
        self._apply(
            spark, left,
            [(i, f"l{i}", 1, "I") for i in range(1, 21)], self.L,
        )
        self._apply(
            spark, right,
            [(i, f"r{i}", 1, "I") for i in range(5, 26)], self.R,
        )
        v1 = txn.sync_join_from_cdc(spark, left, right, store)
        assert v1 == 1
        self._check(spark, left, right, store, "inner")
        # delta: left update (7), left delete (8), left insert (30);
        # right delete (9), right insert (2 — completes a pair)
        self._apply(
            spark, left,
            [(7, "l7b", 2, "U"), (8, None, 2, "D"), (30, "l30", 2, "I")],
            self.L,
        )
        self._apply(
            spark, right,
            [(9, None, 2, "D"), (2, "r2", 2, "I")], self.R,
        )
        v2 = txn.sync_join_from_cdc(spark, left, right, store)
        assert v2 == 2
        self._check(spark, left, right, store, "inner")
        got = {r.id: r.lval for r in txn.read_join_store(spark, store).collect()}
        assert got[7] == "l7b" and 8 not in got and 9 not in got
        assert got[2] == "l2"  # right insert completed the pair

    def test_replay_skip_and_one_sided_advance(self, spark, tmp_path):
        left, right = str(tmp_path / "l"), str(tmp_path / "r")
        store = str(tmp_path / "mv")
        self._apply(spark, left, [(1, "a", 1, "I")], self.L)
        self._apply(spark, right, [(1, "b", 1, "I")], self.R)
        assert txn.sync_join_from_cdc(spark, left, right, store) == 1
        # neither source advanced: exactly-once replay skip
        assert txn.sync_join_from_cdc(spark, left, right, store) is None
        # only the RIGHT advances
        self._apply(spark, right, [(1, "b2", 2, "U")], self.R)
        assert txn.sync_join_from_cdc(spark, left, right, store) == 2
        self._check(spark, left, right, store, "inner")

    def test_left_join_null_fill_and_completion(self, spark, tmp_path):
        left, right = str(tmp_path / "l"), str(tmp_path / "r")
        store = str(tmp_path / "mv")
        self._apply(
            spark, left,
            [(i, f"l{i}", 1, "I") for i in (1, 2, 3)], self.L,
        )
        self._apply(spark, right, [(1, "r1", 1, "I")], self.R)
        txn.sync_join_from_cdc(spark, left, right, store, how="left")
        self._check(spark, left, right, store, "left")
        rows = {r.id: r.rval for r in txn.read_join_store(spark, store).collect()}
        assert rows == {1: "r1", 2: None, 3: None}
        # a later right insert fills the null row incrementally
        self._apply(spark, right, [(2, "r2", 2, "I")], self.R)
        txn.sync_join_from_cdc(spark, left, right, store, how="left")
        self._check(spark, left, right, store, "left")
        rows = {r.id: r.rval for r in txn.read_join_store(spark, store).collect()}
        assert rows[2] == "r2"
        # deleting the LEFT row evicts the key entirely under 'left'
        self._apply(spark, left, [(3, None, 2, "D")], self.L)
        txn.sync_join_from_cdc(spark, left, right, store, how="left")
        rows = {r.id for r in txn.read_join_store(spark, store).collect()}
        assert rows == {1, 2}

    def test_probe_is_bucket_pruned(self, spark, tmp_path, monkeypatch):
        """The incremental probe must pass a bucket restriction to
        read_txn — O(touched buckets), never a table scan."""
        left, right = str(tmp_path / "l"), str(tmp_path / "r")
        store = str(tmp_path / "mv")
        self._apply(
            spark, left,
            [(i, f"l{i}", 1, "I") for i in range(1, 41)], self.L,
        )
        self._apply(
            spark, right,
            [(i, f"r{i}", 1, "I") for i in range(1, 41)], self.R,
        )
        txn.sync_join_from_cdc(spark, left, right, store)
        self._apply(spark, left, [(5, "l5b", 2, "U")], self.L)
        seen = []
        real = txn.read_txn

        def spy(spark_, table_dir, *a, **kw):
            if table_dir in (left, right):
                seen.append((table_dir, kw.get("buckets")))
            return real(spark_, table_dir, *a, **kw)

        monkeypatch.setattr(txn, "read_txn", spy)
        txn.sync_join_from_cdc(spark, left, right, store)
        probes = [b for _, b in seen if b is not None]
        assert probes, "probes must restrict buckets"
        b5 = spark.createDataFrame([(5,)], "id long").select(
            txn._bucket_of("id", 8).alias("b")
        ).collect()[0].b
        for b in probes:
            assert b == [b5]
        self._check(spark, left, right, store, "inner")

    def test_full_outer_differing_key_names(self, spark, tmp_path):
        """'full' with different key columns: the store key (left name)
        carries the coalesce, so right-only keys stay addressable by
        later syncs — including when the cold start took the
        bucket-aligned path."""
        left, right = str(tmp_path / "l"), str(tmp_path / "r")
        store = str(tmp_path / "mv")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, "a", 1, "I"), (2, "b", 1, "I")],
                "lid long, lval string, seq long, op string",
            ),
            left, key_col="lid", n_buckets=8,
        )
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(2, "x", 1, "I"), (3, "y", 1, "I")],
                "rid long, rval string, seq long, op string",
            ),
            right, key_col="rid", n_buckets=8,
        )
        txn.sync_join_from_cdc(spark, left, right, store, how="full")
        got = {r.lid: (r.lval, r.rval)
               for r in txn.read_join_store(spark, store).collect()}
        assert got == {1: ("a", None), 2: ("b", "x"), 3: (None, "y")}
        # update the right-only key: the store row must be replaced,
        # not duplicated (the coalesced key addresses it)
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(3, "y2", 2, "U")],
                "rid long, rval string, seq long, op string",
            ),
            right, key_col="rid", n_buckets=8,
        )
        txn.sync_join_from_cdc(spark, left, right, store, how="full")
        rows = txn.read_join_store(spark, store).collect()
        assert len(rows) == 3
        got = {r.lid: (r.lval, r.rval) for r in rows}
        assert got[3] == (None, "y2")

    def test_cursor_pack_roundtrip(self):
        for vl, vr in ((0, 0), (1, 2), (12345, 67890), (1, (1 << 31) - 1)):
            assert txn._unpack_join_cursor(
                txn._pack_join_cursor(vl, vr)
            ) == (vl, vr)
        with pytest.raises(ValueError, match="packed-cursor"):
            txn._pack_join_cursor(1, 1 << 31)
        # monotone in each argument
        assert txn._pack_join_cursor(2, 0) > txn._pack_join_cursor(1, 5)
        assert txn._pack_join_cursor(1, 6) > txn._pack_join_cursor(1, 5)

    def test_incremental_equals_rebuild_under_churn(self, spark, tmp_path):
        """Property-style: 4 random-ish churn batches on both sides;
        after each sync the store equals a from-scratch join."""
        left, right = str(tmp_path / "l"), str(tmp_path / "r")
        store = str(tmp_path / "mv")
        self._apply(
            spark, left,
            [(i, f"l{i}", 0, "I") for i in range(1, 31)], self.L,
        )
        self._apply(
            spark, right,
            [(i, f"r{i}", 0, "I") for i in range(10, 41)], self.R,
        )
        txn.sync_join_from_cdc(spark, left, right, store)
        for step in range(1, 5):
            seq = step * 10
            self._apply(
                spark, left,
                [(3 * step, f"lu{step}", seq, "U"),
                 (5 * step, None, seq, "D"),
                 (100 + step, f"ln{step}", seq, "I")],
                self.L,
            )
            self._apply(
                spark, right,
                [(4 * step, f"ru{step}", seq, "U"),
                 (7 * step, None, seq, "D"),
                 (100 + step, f"rn{step}", seq, "I")],
                self.R,
            )
            txn.sync_join_from_cdc(spark, left, right, store)
            self._check(spark, left, right, store, "inner")

    def test_store_lifecycle_compact_vacuum_rescale(self, spark, tmp_path):
        """VERDICT r9 #4: store maintenance under churn — tombstone
        compaction (every churned key writes one into the store),
        vacuum, and a bucket rescale all apply cleanly to a
        sync_join_from_cdc store: the packed two-version cursor
        survives each op (replayed syncs still no-op, fresh churn still
        syncs) and the store stays equal to the from-scratch join."""
        left, right = str(tmp_path / "l"), str(tmp_path / "r")
        store = str(tmp_path / "mv")
        self._apply(
            spark, left,
            [(i, f"l{i}", 1, "I") for i in range(40)], self.L,
        )
        self._apply(
            spark, right,
            [(i, f"r{i}", 1, "I") for i in range(40)], self.R,
        )
        txn.sync_join_from_cdc(spark, left, right, store)
        # churn rounds: deletes stack tombstones into the store
        for rnd in range(2, 5):
            dels = [(i, None, rnd, "D") for i in range(rnd * 5, rnd * 5 + 3)]
            ups = [(i + 20, f"l{i}v{rnd}", rnd, "U") for i in range(3)]
            self._apply(spark, left, dels + ups, self.L, n_buckets=None)
            txn.sync_join_from_cdc(spark, left, right, store)
        self._check(spark, left, right, store, "inner")
        man = txn.latest_manifest(spark, store)
        cursor = man["epoch_id"]
        raw = txn.read_cdc_table(spark, store, include_tombstones=True)
        n_tomb = raw.filter(F.col("_deleted")).count()
        assert n_tomb >= 9  # the churn really stacked tombstones

        # compact at the current cursor horizon (single writer: no
        # older sync can replay) — tombstones retire, cursor survives
        assert txn.compact_cdc_tombstones(
            spark, store, min_live_seq=cursor + 1
        ) is not None
        man2 = txn.latest_manifest(spark, store)
        assert man2["epoch_id"] == cursor
        raw2 = txn.read_cdc_table(spark, store, include_tombstones=True)
        assert raw2.filter(F.col("_deleted")).count() == 0
        # a replayed sync still no-ops on the preserved cursor
        assert txn.sync_join_from_cdc(spark, left, right, store) is None

        # vacuum the superseded snapshots — cursor and content intact
        txn.vacuum_txn(spark, store, keep_last=1)
        assert txn.latest_manifest(spark, store)["epoch_id"] == cursor
        self._check(spark, left, right, store, "inner")

        # fresh churn after maintenance still syncs incrementally
        self._apply(
            spark, left, [(0, "l0z", 9, "U"), (1, None, 9, "D")],
            self.L, n_buckets=None,
        )
        assert txn.sync_join_from_cdc(spark, left, right, store) is not None
        self._check(spark, left, right, store, "inner")

        # bucket rescale of the store: layout changes, cursor + rows
        # survive, and the next sync keeps maintaining it
        txn.rescale_buckets(spark, store, 16)
        assert txn.latest_manifest(spark, store)["n_buckets"] == 16
        self._check(spark, left, right, store, "inner")
        self._apply(
            spark, left, [(2, "l2z", 10, "U")], self.L, n_buckets=None,
        )
        assert txn.sync_join_from_cdc(spark, left, right, store) is not None
        self._check(spark, left, right, store, "inner")


class TestMergeInto:
    """Declarative MERGE INTO (txn.merge_into): Delta-ordered clause
    semantics compiled onto the bucketed CDC apply. Truth for each test
    is the hand-computed post-merge live state."""

    T = "id long, val string, flag boolean"

    def _seed(self, spark, t, rows):
        return txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, v, f, 1, "I") for i, v, f in rows],
                self.T + ", seq long, op string",
            ),
            t, n_buckets=8,
        )

    def _src(self, spark, rows):
        return spark.createDataFrame(rows, self.T)

    def _live(self, spark, t):
        return {
            r.id: (r.val, r.flag)
            for r in txn.read_cdc_table(spark, t).collect()
        }

    def test_upsert_default_clauses(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False), (2, "b", False)])
        v = txn.merge_into(
            spark, t,
            self._src(spark, [(2, "b2", True), (3, "c", False)]),
        )
        assert v == 2
        assert self._live(spark, t) == {
            1: ("a", False), 2: ("b2", True), 3: ("c", False),
        }

    def test_cold_start_creates_table(self, spark, tmp_path):
        t = str(tmp_path / "t")
        v = txn.merge_into(
            spark, t, self._src(spark, [(1, "a", False)]),
            n_buckets=4,
        )
        assert v == 1
        assert self._live(spark, t) == {1: ("a", False)}
        man = txn.latest_manifest(spark, t)
        assert man["n_buckets"] == 4 and man["key_col"] == "id"
        # the created table takes further merges (warm path)
        txn.merge_into(spark, t, self._src(spark, [(1, "a2", True)]))
        assert self._live(spark, t) == {1: ("a2", True)}

    def test_cold_start_requires_key(self, spark, tmp_path):
        src = spark.createDataFrame([(1, "x")], "k long, val string")
        with pytest.raises(ValueError, match="key_col"):
            txn.merge_into(spark, str(tmp_path / "t"), src)
        t = str(tmp_path / "t2")
        txn.merge_into(spark, t, src, key_col="k")
        assert txn.latest_manifest(spark, t)["key_col"] == "k"

    def test_clause_order_delete_flag_wins(self, spark, tmp_path):
        """The CDC-extract shape: matched_delete_condition (Delta's
        first WHEN MATCHED clause) beats the update clause; unmatched
        deletes fall through to insert unless filtered out."""
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False), (2, "b", False)])
        txn.merge_into(
            spark, t,
            self._src(
                spark,
                [(1, "a2", True),   # matched + flag → DELETE
                 (2, "b2", False),  # matched, no flag → UPDATE
                 (3, "c", True)],   # unmatched + flag → not inserted
            ),
            matched_delete_condition="flag",
            not_matched_condition="NOT flag",
        )
        assert self._live(spark, t) == {2: ("b2", False)}

    def test_conditions_see_target_columns(self, spark, tmp_path):
        """matched_condition over t_<col>: only update rows whose
        incoming val differs from the stored one (idempotent-extract
        guard) — the unchanged row must NOT advance."""
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False), (2, "b", False)])
        v = txn.merge_into(
            spark, t,
            self._src(spark, [(1, "a", False), (2, "b2", False)]),
            matched_condition="val <> t_val",
            when_not_matched=None,
        )
        assert v == 2
        assert self._live(spark, t) == {1: ("a", False), 2: ("b2", False)}
        # nothing qualifies → no commit at all
        assert txn.merge_into(
            spark, t,
            self._src(spark, [(2, "b2", False)]),
            matched_condition="val <> t_val",
            when_not_matched=None,
        ) is None
        assert txn.latest_manifest(spark, t)["version"] == 2

    def test_when_matched_delete(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False), (2, "b", False)])
        txn.merge_into(
            spark, t, self._src(spark, [(1, "x", False)]),
            when_matched="delete", when_not_matched=None,
        )
        assert self._live(spark, t) == {2: ("b", False)}

    def test_duplicate_source_keys_raise(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False)])
        with pytest.raises(ValueError, match="one row per key"):
            txn.merge_into(
                spark, t,
                self._src(spark, [(1, "x", False), (1, "y", False)]),
            )

    def test_null_source_key_raises(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False)])
        with pytest.raises(ValueError, match="NULL id"):
            txn.merge_into(
                spark, t,
                self._src(spark, [(None, "x", False), (2, "y", False)]),
            )

    def test_outranks_user_supplied_seqs(self, spark, tmp_path):
        """Review r9 (verified repro): a table whose stored seqs are
        user-supplied (binlog LSN / timestamp scale) must still accept
        merge updates — the stamp is per-key current-seq + 1, not the
        version count."""
        t = str(tmp_path / "t")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, "a", False, 1000, "I"), (2, "b", False, 2000, "I")],
                self.T + ", seq long, op string",
            ),
            t, n_buckets=4,
        )
        v = txn.merge_into(
            spark, t, self._src(spark, [(1, "a2", True), (3, "c", False)])
        )
        assert v == 2
        assert self._live(spark, t) == {
            1: ("a2", True), 2: ("b", False), 3: ("c", False),
        }
        # and a delete against the high-seq row must also win
        txn.merge_into(
            spark, t, self._src(spark, [(2, None, True)]),
            when_matched="delete", when_not_matched=None,
        )
        assert 2 not in self._live(spark, t)
        # insert over a HIGH-SEQ TOMBSTONE must resurrect (the stamp
        # reads the tombstone's seq even though the key is unmatched)
        txn.merge_into(spark, t, self._src(spark, [(2, "back", False)]))
        assert self._live(spark, t)[2] == ("back", False)

    def test_source_key_type_coerced_to_table_type(self, spark, tmp_path):
        """Review r9 (verified repro): xxhash64 buckets int 5 and
        long 5 differently — the source key is cast to the table's key
        type before the bucket probe, so an int-keyed extract against
        a long-keyed table still classifies matches correctly."""
        t = str(tmp_path / "t")
        self._seed(spark, t, [(i, f"v{i}", False) for i in range(1, 9)])
        src = spark.createDataFrame(
            [(5, "v5b", True)], "id int, val string, flag boolean"
        )
        v = txn.merge_into(spark, t, src)
        assert v == 2
        live = self._live(spark, t)
        assert live[5] == ("v5b", True)
        assert len(live) == 8  # matched as update, NOT inserted anew

    def test_delete_only_merge_accepts_key_only_source(
        self, spark, tmp_path
    ):
        """Review r9: D rows never read payload — a delete-keys
        extract (just the key) suffices for delete-only merges."""
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False), (2, "b", False)])
        txn.merge_into(
            spark, t,
            spark.createDataFrame([(1,)], "id long"),
            when_matched="delete", when_not_matched=None,
        )
        assert self._live(spark, t) == {2: ("b", False)}

    def test_t_prefix_collision_raises(self, spark, tmp_path):
        """A source column named t_<target col> would shadow the
        t_-prefixed target column conditions refer to — refuse rather
        than silently binding the condition to the source copy."""
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False)])
        src = spark.createDataFrame(
            [(1, "x", False, "shadow")],
            self.T + ", t_val string",
        )
        with pytest.raises(ValueError, match="collide"):
            txn.merge_into(spark, t, src)

    def test_extra_source_columns_feed_conditions(self, spark, tmp_path):
        """CDC-extract shape: the source carries a metadata column the
        table doesn't have; conditions read it, the batch drops it."""
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False), (2, "b", False)])
        src = spark.createDataFrame(
            [(1, "a2", False, True), (2, "b2", False, False),
             (3, "c", False, False)],
            self.T + ", is_delete boolean",
        )
        txn.merge_into(spark, t, src, matched_delete_condition="is_delete")
        assert self._live(spark, t) == {
            2: ("b2", False), 3: ("c", False),
        }
        live_df = txn.read_cdc_table(spark, t)
        assert "is_delete" not in live_df.columns

    def test_merge_probe_is_bucket_pruned(self, spark, tmp_path, monkeypatch):
        t = str(tmp_path / "t")
        self._seed(
            spark, t, [(i, f"v{i}", False) for i in range(1, 41)]
        )
        seen = []
        real = txn.read_txn

        def spy(spark_, table_dir, *a, **kw):
            if table_dir == t:
                seen.append(kw.get("buckets"))
            return real(spark_, table_dir, *a, **kw)

        monkeypatch.setattr(txn, "read_txn", spy)
        txn.merge_into(spark, t, self._src(spark, [(5, "v5b", True)]))
        probes = [b for b in seen if b is not None]
        assert probes, "classification probe must restrict buckets"
        b5 = spark.createDataFrame([(5,)], "id long").select(
            txn._bucket_of("id", 8).alias("b")
        ).collect()[0].b
        assert probes[0] == [b5]
        assert self._live(spark, t)[5] == ("v5b", True)

    def test_epoch_replay_skips(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False)])
        src = self._src(spark, [(1, "a2", False)])
        assert txn.merge_into(spark, t, src, epoch_id=7) == 2
        assert txn.merge_into(spark, t, src, epoch_id=7) is None
        assert txn.latest_manifest(spark, t)["version"] == 2

    def test_matched_update_set_expressions(self, spark, tmp_path):
        """Delta SET-list semantics: named columns take the expression
        (reading source AND current-target values), UNNAMED columns
        keep the target value; a key-plus-inputs source suffices when
        no insert clause is active."""
        t = str(tmp_path / "t")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, 100, "keep1", 1, "I"), (2, 200, "keep2", 1, "I")],
                "id long, bal long, note string, seq long, op string",
            ),
            t, n_buckets=4,
        )
        # source carries only the key + the expression's input
        src = spark.createDataFrame(
            [(1, 5), (3, 7)], "id long, delta long"
        )
        v = txn.merge_into(
            spark, t, src,
            matched_update_set={"bal": "t_bal + delta"},
            when_not_matched=None,
        )
        assert v == 2
        rows = {
            r.id: (r.bal, r.note)
            for r in txn.read_cdc_table(spark, t).collect()
        }
        # 1 accumulated, note KEPT; 3 unmatched and dropped (no insert)
        assert rows == {1: (105, "keep1"), 2: (200, "keep2")}
        # second merge accumulates again (reads the NEW target value)
        txn.merge_into(
            spark, t, spark.createDataFrame([(1, 10)], "id long, delta long"),
            matched_update_set={"bal": "t_bal + delta"},
            when_not_matched=None,
        )
        got = {r.id: r.bal for r in txn.read_cdc_table(spark, t).collect()}
        assert got[1] == 115

    def test_matched_update_set_validation(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False)])
        src = self._src(spark, [(1, "x", False)])
        with pytest.raises(ValueError, match="when_matched='update'"):
            txn.merge_into(
                spark, t, src, when_matched="delete",
                matched_update_set={"val": "'x'"},
            )
        with pytest.raises(ValueError, match="not settable"):
            txn.merge_into(
                spark, t, src, matched_update_set={"id": "id + 1"},
            )
        # key-only source is NOT enough when the insert clause is live
        with pytest.raises(ValueError, match="missing table columns"):
            txn.merge_into(
                spark, t,
                spark.createDataFrame([(1,)], "id long"),
                matched_update_set={"val": "'x'"},
            )

    def test_evolve_schema_adds_source_columns(self, spark, tmp_path):
        """Delta-style automatic schema evolution: with
        evolve_schema=True an extra source column becomes a table
        column (additive); untouched rows read it as null. Default
        remains metadata-drop."""
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False), (2, "b", False)])
        src = spark.createDataFrame(
            [(2, "b2", True, "fr")],
            self.T + ", lang string",
        )
        txn.merge_into(spark, t, src, evolve_schema=True)
        live = txn.read_cdc_table(spark, t)
        assert "lang" in live.columns
        got = {r.id: (r.val, r.lang) for r in live.collect()}
        assert got == {1: ("a", None), 2: ("b2", "fr")}
        # a later non-evolving merge must still supply lang (it is a
        # table column now)
        with pytest.raises(ValueError, match="missing table columns"):
            txn.merge_into(spark, t, self._src(spark, [(3, "c", False)]))

    def test_full_width_source_warns(self, spark, tmp_path):
        """A source touching every bucket degrades to a full rewrite —
        said at plan time (RuntimeWarning), not silently."""
        import warnings as _w

        t = str(tmp_path / "t")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, f"v{i}", False, 1, "I") for i in range(16)],
                self.T + ", seq long, op string",
            ),
            t, n_buckets=2,
        )
        wide = self._src(
            spark, [(i, f"w{i}", False) for i in range(16)]
        )
        with pytest.warns(RuntimeWarning, match="touch all 2 buckets"):
            txn.merge_into(spark, t, wide)
        # a narrow source stays silent
        with _w.catch_warnings():
            _w.simplefilter("error", RuntimeWarning)
            txn.merge_into(
                spark, t, self._src(spark, [(1, "z", False)])
            )
        assert self._live(spark, t)[1] == ("z", False)

    # --- r10: N-ordered clause lists (when=[...]) ----------------------

    def test_clause_list_first_match_wins(self, spark, tmp_path):
        """Two overlapping matched-update clauses: the FIRST listed
        clause claims the row (Delta ordering) — VERDICT r9 #2's 'done'
        shape. Key 1 satisfies both conditions and must take clause
        0's SET; key 2 only the second; key 3 falls to the catch-all
        delete."""
        t = str(tmp_path / "t")
        self._seed(
            spark, t,
            [(1, "a", False), (2, "b", False), (3, "c", False)],
        )
        src = spark.createDataFrame(
            [(1, "hot", False), (2, "warm", False), (3, "cold", True)],
            self.T,
        )
        txn.merge_into(
            spark, t, src,
            when=[
                {"matched": "update", "condition": "val = 'hot'",
                 "set": {"val": "concat(val, '-first')"}},
                {"matched": "update",
                 "condition": "val in ('hot', 'warm')",
                 "set": {"val": "concat(val, '-second')"}},
                {"matched": "delete"},
            ],
        )
        assert self._live(spark, t) == {
            1: ("hot-first", False),   # both matched → first wins
            2: ("warm-second", False),
        }

    def test_clause_list_per_clause_sets_keep_semantics(self, spark, tmp_path):
        """Each update clause carries its OWN set; unnamed columns KEEP
        the current target value per clause independently."""
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False), (2, "b", True)])
        src = spark.createDataFrame(
            [(1, "x", True), (2, "y", False)], self.T
        )
        txn.merge_into(
            spark, t, src,
            when=[
                # clause 0: sets val only → flag KEEPS target (False)
                {"matched": "update", "condition": "t_val = 'a'",
                 "set": {"val": "upper(val)"}},
                # clause 1: sets flag only → val KEEPS target ('b')
                {"matched": "update", "set": {"flag": "flag"}},
            ],
            key_col="id",
        )
        assert self._live(spark, t) == {
            1: ("X", False), 2: ("b", False),
        }

    def test_clause_list_multiple_inserts_first_match(self, spark, tmp_path):
        """Several not-matched insert clauses OR together (every insert
        takes the source row); rows claimed by none are dropped."""
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False)])
        src = self._src(
            spark,
            [(2, "keep-flag", True), (3, "keep-k", False),
             (4, "drop", False)],
        )
        txn.merge_into(
            spark, t, src,
            when=[
                {"not_matched": "insert", "condition": "flag"},
                {"not_matched": "insert",
                 "condition": "val like 'keep%'"},
            ],
        )
        assert self._live(spark, t) == {
            1: ("a", False), 2: ("keep-flag", True), 3: ("keep-k", False),
        }

    def test_clause_list_validation(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False)])
        src = self._src(spark, [(1, "a2", False)])
        with pytest.raises(ValueError, match="replaces the clause kwargs"):
            txn.merge_into(
                spark, t, src,
                when=[{"matched": "update"}],
                matched_condition="flag",
            )
        with pytest.raises(ValueError, match="except the last"):
            txn.merge_into(
                spark, t, src,
                when=[{"matched": "update"}, {"matched": "delete"}],
            )
        with pytest.raises(ValueError, match="exactly one of"):
            txn.merge_into(spark, t, src, when=[{"condition": "flag"}])
        with pytest.raises(ValueError, match="delete clause"):
            txn.merge_into(
                spark, t, src,
                when=[{"matched": "delete", "set": {"val": "'x'"}}],
            )
        with pytest.raises(ValueError, match="non-empty list"):
            txn.merge_into(spark, t, src, when=[])

    def test_clause_list_cold_start_insert_or(self, spark, tmp_path):
        """Cold start with a clause list: the insert clauses' OR decides
        which source rows seed the table."""
        t = str(tmp_path / "t")
        txn.merge_into(
            spark, t,
            self._src(spark, [(1, "a", True), (2, "b", False)]),
            when=[{"not_matched": "insert", "condition": "flag"}],
            n_buckets=4,
        )
        assert self._live(spark, t) == {1: ("a", True)}

    # --- r10: cold-start payload trim (payload_cols=) ------------------

    def test_cold_start_payload_cols_trims_metadata(self, spark, tmp_path):
        """VERDICT r9 #8: a cold-start merge from a CDC extract carrying
        a delete-flag column stores only the named payload."""
        t = str(tmp_path / "t")
        src = spark.createDataFrame(
            [(1, "a", False), (2, "b", True)],
            "id long, val string, is_del boolean",
        )
        txn.merge_into(
            spark, t, src,
            matched_delete_condition="is_del",
            not_matched_condition="NOT is_del",
            payload_cols=["val"],
            n_buckets=4,
        )
        live = txn.read_cdc_table(spark, t)
        assert set(live.columns) == {"id", "val", "seq"}
        assert {r.id: r.val for r in live.collect()} == {1: "a"}
        # warm merges reject the parameter — the schema now decides
        with pytest.raises(ValueError, match="cold-start parameter"):
            txn.merge_into(spark, t, src, payload_cols=["val"])
        # and the warm path drops the metadata column automatically
        txn.merge_into(
            spark, t,
            spark.createDataFrame(
                [(1, "a2", False), (2, "b2", False)],
                "id long, val string, is_del boolean",
            ),
            matched_delete_condition="is_del",
            not_matched_condition="NOT is_del",
        )
        assert {r.id: r.val
                for r in txn.read_cdc_table(spark, t).collect()} == {
            1: "a2", 2: "b2",
        }

    def test_cold_start_payload_cols_validation(self, spark, tmp_path):
        src = spark.createDataFrame([(1, "a")], "id long, val string")
        with pytest.raises(ValueError, match="not in source"):
            txn.merge_into(
                spark, str(tmp_path / "t"), src, payload_cols=["nope"]
            )
        with pytest.raises(ValueError, match="repeat the key"):
            txn.merge_into(
                spark, str(tmp_path / "t2"), src, payload_cols=["id"]
            )

    # --- r10: source key type safety (ADVICE r9) -----------------------

    def test_key_type_mismatch_raises_not_wraps(self, spark, tmp_path):
        """An int-keyed table merged from a long-keyed source whose keys
        overflow int must RAISE a type error — the old blind non-ANSI
        cast silently wrapped the key and merged under a wrong one."""
        t = str(tmp_path / "t")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, "a", 1, "I")],
                "id int, val string, seq long, op string",
            ),
            t, n_buckets=4,
        )
        overflow = spark.createDataFrame(
            [(2**40, "boom")], "id long, val string"
        )
        with pytest.raises(ValueError, match="does not fit"):
            txn.merge_into(spark, t, overflow)
        # a string key that fails the cast raises the same way, not the
        # misleading NULL-key error
        bad_str = spark.createDataFrame(
            [("not-a-number", "x")], "id string, val string"
        )
        with pytest.raises(ValueError, match="does not fit"):
            txn.merge_into(spark, t, bad_str)
        # in-range values of a differing type still merge fine
        ok = spark.createDataFrame([(1, "a2")], "id long, val string")
        txn.merge_into(spark, t, ok)
        assert {r.id: r.val
                for r in txn.read_cdc_table(spark, t).collect()} == {1: "a2"}

    # --- r10: tables with non-default keys (ADVICE r9) -----------------

    def test_flat_table_non_default_key_merges(self, spark, tmp_path):
        """The apply stamps key_col/seq_col into the manifest, so a flat
        (single-bucket) table keyed on a non-default column is
        mergeable — the r9 manifest omission made it unmergeable."""
        t = str(tmp_path / "t")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [("g1", 1.0, 1, "I"), ("g2", 2.0, 1, "I")],
                "guid string, score double, seq long, op string",
            ),
            t, key_col="guid", n_buckets=1,
        )
        man = txn.latest_manifest(spark, t)
        assert man["key_col"] == "guid" and man["seq_col"] == "seq"
        src = spark.createDataFrame(
            [("g2", 2.5), ("g3", 3.0)], "guid string, score double"
        )
        txn.merge_into(spark, t, src)  # key_col read off the manifest
        assert {r.guid: r.score
                for r in txn.read_cdc_table(spark, t).collect()} == {
            "g1": 1.0, "g2": 2.5, "g3": 3.0,
        }
        # explicit matching key_col is accepted, a wrong one raises
        txn.merge_into(
            spark, t,
            spark.createDataFrame([("g1", 1.5)],
                                  "guid string, score double"),
            key_col="guid",
        )
        with pytest.raises(ValueError, match="does not match"):
            txn.merge_into(spark, t, src, key_col="score")

    def test_maintenance_rewrite_keeps_key_stamp(self, spark, tmp_path):
        """The maintenance rewrite carries key_col/seq_col forward from
        the prior manifest — the stamp survives a rewrite that doesn't
        know about it."""
        t = str(tmp_path / "t")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [("g1", 1.0, 1, "I"), ("g2", 2.0, 2, "D")],
                "guid string, score double, seq long, op string",
            ),
            t, key_col="guid", n_buckets=1,
        )
        txn.compact_cdc_tombstones(spark, t, min_live_seq=10)
        man = txn.latest_manifest(spark, t)
        assert man["key_col"] == "guid" and man["seq_col"] == "seq"

    # --- r10: broadcast size gate (VERDICT r9 #3) -----------------------

    def test_broadcast_gate_switches_plan_same_result(
        self, spark, tmp_path, monkeypatch
    ):
        """Past MERGE_BROADCAST_KEY_GATE source rows the classification
        probe drops the broadcast hint (AQE plans the semi-join); the
        merge result is identical either way."""
        t1, t2 = str(tmp_path / "t1"), str(tmp_path / "t2")
        rows = [(i, f"v{i}", False) for i in range(40)]
        for t in (t1, t2):
            self._seed(spark, t, rows)
        src_rows = [(i, f"m{i}", i % 3 == 0) for i in range(0, 60, 2)]
        import warnings as _w

        with _w.catch_warnings():
            _w.simplefilter("ignore", RuntimeWarning)
            txn.merge_into(
                spark, t1, self._src(spark, src_rows),
                matched_delete_condition="flag",
            )
            monkeypatch.setattr(txn, "MERGE_BROADCAST_KEY_GATE", 5)
            txn.merge_into(
                spark, t2, self._src(spark, src_rows),
                matched_delete_condition="flag",
            )
        assert self._live(spark, t1) == self._live(spark, t2)

    def test_fractional_key_truncation_raises(self, spark, tmp_path):
        """Review r10: ANSI cast truncates double->long (5.7 -> 5,
        non-null), sneaking past a null-only probe and merging under a
        NEIGHBOR key — the round-trip check must raise instead."""
        t = str(tmp_path / "t")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(5, "a", 1, "I")], "id long, val string, seq long, op string",
            ),
            t, n_buckets=4,
        )
        frac = spark.createDataFrame(
            [(5.7, "boom")], "id double, val string"
        )
        with pytest.raises(ValueError, match="does not fit"):
            txn.merge_into(spark, t, frac)
        # whole-valued doubles (the JSON-decoded-int shape) still merge
        ok = spark.createDataFrame([(5.0, "a2")], "id double, val string")
        txn.merge_into(spark, t, ok)
        assert {r.id: r.val
                for r in txn.read_cdc_table(spark, t).collect()} == {5: "a2"}

    def test_cast_path_releases_persisted_source(self, spark, tmp_path):
        """Review r10: the key-cast path rebound `source` before the
        finally-unpersist, leaking one cache entry per merge — the
        cache manager must be empty after a cast-path merge."""
        t = str(tmp_path / "t")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, "a", 1, "I")], "id long, val string, seq long, op string",
            ),
            t, n_buckets=4,
        )
        spark.catalog.clearCache()
        txn.merge_into(
            spark, t,
            spark.createDataFrame([(1, "a2")], "id int, val string"),
        )
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

class TestPrunedUserReads:
    """VERDICT r9 #5: zone-map pushdown on the USER-FACING read faces —
    read_cdc_table(filters=) and join_bucketed(filters_left/right=) —
    must equal the plain read + filter while scanning fewer files."""

    CDC_D = "id long, val string, day long, seq long, op string"

    def _apply(self, spark, t, rows, **kw):
        return txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(rows, self.CDC_D),
            t, n_buckets=4, stats_cols=["day"], **kw
        )

    def _fixture(self, spark, t):
        # three day-correlated batches (time-correlated ingest: each
        # commit's files cover a narrow day range)
        self._apply(
            spark, t, [(i, f"a{i}", 1, 100 + i, "I") for i in range(8)]
        )
        self._apply(
            spark, t,
            [(i, f"b{i}", 2, 200 + i, "I") for i in range(8, 16)],
        )
        self._apply(
            spark, t,
            [(i, f"c{i}", 3, 300 + i, "I") for i in range(16, 24)],
        )

    def test_read_cdc_table_filters_equal_and_prune(self, spark, tmp_path):
        from taar_gcp_etl_spark.layout import _residual

        t = str(tmp_path / "t")
        self._fixture(spark, t)
        filters = [("day", ">=", 3)]
        plain = txn.read_cdc_table(spark, t)
        pruned = txn.read_cdc_table(spark, t, filters=filters)
        assert sorted(
            tuple(r) for r in pruned.collect()
        ) == sorted(
            tuple(r) for r in plain.filter(_residual(filters)).collect()
        )
        # strictly fewer files scanned than the full read
        assert 0 < len(pruned.inputFiles()) < len(plain.inputFiles())
        # the residual reaches the parquet reader
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "day" in plan

    def test_read_cdc_table_filters_flat_table(self, spark, tmp_path):
        """No zone maps (a flat, single-bucket table applied without
        stats_cols): the filter applies as a plain pushed predicate —
        same rows, no error."""
        t = str(tmp_path / "t")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, f"v{i}", i % 3, i, "I") for i in range(12)],
                self.CDC_D,
            ),
            t, n_buckets=1,
        )
        got = txn.read_cdc_table(spark, t, filters=[("day", "=", 1)])
        assert sorted(r.id for r in got.collect()) == [
            i for i in range(12) if i % 3 == 1
        ]
        with pytest.raises(ValueError, match="include_tombstones"):
            txn.read_cdc_table(
                spark, t, filters=[("day", "=", 1)],
                include_tombstones=True,
            )

    def test_read_filters_hide_deletes_and_overlays(self, spark, tmp_path):
        """Soundness under tombstones: deleted keys stay hidden from the
        pruned read; a filter that matches a tombstone's old base row
        must not resurrect it."""
        t = str(tmp_path / "t")
        self._fixture(spark, t)
        # delete two day-3 keys (overlay or rewrite, whichever the
        # layer picks)
        self._apply(
            spark, t,
            [(16, None, 3, 400, "D"), (17, None, 3, 401, "D")],
        )
        got = txn.read_cdc_table(spark, t, filters=[("day", "=", 3)])
        assert sorted(r.id for r in got.collect()) == list(range(18, 24))

    def test_join_bucketed_filters_equal_and_prune(self, spark, tmp_path):
        from taar_gcp_etl_spark.layout import _residual

        lt, rt = str(tmp_path / "l"), str(tmp_path / "r")
        self._fixture(spark, lt)
        self._fixture(spark, rt)
        filters = [("day", ">=", 3)]
        plain = txn.join_bucketed(spark, lt, rt, how="inner")
        pruned = txn.join_bucketed(
            spark, lt, rt, how="inner",
            filters_left=filters, filters_right=filters,
        )
        assert sorted(
            tuple(r) for r in pruned.collect()
        ) == sorted(
            tuple(r)
            for r in plain.filter(_residual(filters))
            .filter(_residual([("day_r", ">=", 3)]))
            .collect()
        )
        assert 0 < len(pruned.inputFiles()) < len(plain.inputFiles())
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan

    def test_join_bucketed_filter_collapses_branches(self, spark, tmp_path):
        """A filter matching NOTHING prunes every base file — the inner
        join collapses to the empty relation without scanning a byte of
        either side's data files."""
        lt, rt = str(tmp_path / "l"), str(tmp_path / "r")
        self._fixture(spark, lt)
        self._fixture(spark, rt)
        out = txn.join_bucketed(
            spark, lt, rt, how="inner",
            filters_left=[("day", ">=", 99)],
        )
        assert out.count() == 0
        assert out.inputFiles() == []

    def test_join_bucketed_outer_keeps_unfiltered_side(self, spark, tmp_path):
        """filters_left on a LEFT join restricts the preserved side;
        the right side still enriches whatever survives."""
        lt, rt = str(tmp_path / "l"), str(tmp_path / "r")
        self._fixture(spark, lt)
        self._fixture(spark, rt)
        out = txn.join_bucketed(
            spark, lt, rt, how="left",
            filters_left=[("day", "=", 2)],
        )
        rows = {r.id: (r.day, r.day_r) for r in out.collect()}
        assert set(rows) == set(range(8, 16))
        assert all(v == (2, 2) for v in rows.values())


class TestMergeNotMatchedBySource:
    """Delta's WHEN NOT MATCHED BY SOURCE (r10): target rows absent
    from the source — the full-snapshot-sync shape."""

    T = "id long, val string, flag boolean"

    def _seed(self, spark, t, rows):
        return txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, v, f, 1, "I") for i, v, f in rows],
                self.T + ", seq long, op string",
            ),
            t, n_buckets=8,
        )

    def _live(self, spark, t):
        return {
            r.id: (r.val, r.flag)
            for r in txn.read_cdc_table(spark, t).collect()
        }

    def test_snapshot_sync_delete_absent(self, spark, tmp_path):
        """The canonical shape: source = today's full extract; rows the
        extract no longer carries are deleted, carried rows upsert."""
        t = str(tmp_path / "t")
        self._seed(
            spark, t,
            [(1, "a", False), (2, "b", False), (3, "c", False)],
        )
        src = spark.createDataFrame(
            [(2, "b2", False), (4, "d", False)], self.T
        )
        import warnings as _w

        with _w.catch_warnings():
            _w.simplefilter("ignore", RuntimeWarning)
            txn.merge_into(
                spark, t, src,
                when=[
                    {"matched": "update"},
                    {"not_matched": "insert"},
                    {"not_matched_by_source": "delete"},
                ],
            )
        assert self._live(spark, t) == {
            2: ("b2", False), 4: ("d", False),
        }

    def test_conditional_stale_stamp_first_match(self, spark, tmp_path):
        """Two NBS clauses, first-match-wins: flagged absentees delete,
        the rest get a stale marker via SET over t_ columns only."""
        t = str(tmp_path / "t")
        self._seed(
            spark, t,
            [(1, "a", True), (2, "b", False), (3, "c", False)],
        )
        src = spark.createDataFrame([(3, "c3", False)], self.T)
        txn.merge_into(
            spark, t, src,
            when=[
                {"matched": "update"},
                {"not_matched_by_source": "delete",
                 "condition": "t_flag"},
                {"not_matched_by_source": "update",
                 "set": {"val": "concat(t_val, '-stale')"}},
            ],
        )
        assert self._live(spark, t) == {
            2: ("b-stale", False), 3: ("c3", False),
        }

    def test_validation(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False)])
        src = spark.createDataFrame([(1, "a2", False)], self.T)
        with pytest.raises(ValueError, match="'set' is required"):
            txn.merge_into(
                spark, t, src,
                when=[{"not_matched_by_source": "update"}],
            )
        with pytest.raises(ValueError, match="must be 'update' or"):
            txn.merge_into(
                spark, t, src,
                when=[{"not_matched_by_source": "insert"}],
            )
        with pytest.raises(ValueError, match="except the last"):
            txn.merge_into(
                spark, t, src,
                when=[{"not_matched_by_source": "delete"},
                      {"not_matched_by_source": "update",
                       "set": {"val": "t_val"}}],
            )

    def test_evolve_schema_with_nbs_clause(self, spark, tmp_path):
        """ADVICE r10: evolve_schema=True + a new source column + an
        NBS clause crashed at plan time (F.lit(None).cast(None) for the
        evolved column, which the prior manifest's types don't know).
        The absent row must survive with the evolved column null."""
        t = str(tmp_path / "t")
        self._seed(
            spark, t,
            [(1, "a", False), (2, "b", False)],
        )
        src = spark.createDataFrame(
            [(2, "b2", False, "fr")], self.T + ", lang string"
        )
        txn.merge_into(
            spark, t, src,
            when=[
                {"matched": "update"},
                {"not_matched": "insert"},
                {"not_matched_by_source": "update",
                 "set": {"val": "concat(t_val, '-stale')"}},
            ],
            evolve_schema=True,
        )
        live = txn.read_cdc_table(spark, t)
        got = {r.id: (r.val, r.lang) for r in live.collect()}
        assert got == {1: ("a-stale", None), 2: ("b2", "fr")}

    def test_tombstones_not_resurrected(self, spark, tmp_path):
        """A tombstoned key is not a live target row — an NBS update
        must not resurrect it, and an NBS delete must not re-stamp it
        into the batch."""
        t = str(tmp_path / "t")
        self._seed(spark, t, [(1, "a", False), (2, "b", False)])
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(2, None, None, 5, "D")],
                self.T + ", seq long, op string",
            ),
            t, n_buckets=None,
        )
        src = spark.createDataFrame([(9, "z", False)], self.T)
        txn.merge_into(
            spark, t, src,
            when=[
                {"not_matched": "insert"},
                {"not_matched_by_source": "update",
                 "set": {"val": "concat(t_val, '!')"}},
            ],
        )
        assert self._live(spark, t) == {
            1: ("a!", False), 9: ("z", False),
        }

    def test_seq_outranks_user_scale(self, spark, tmp_path):
        """NBS rows stamp max(version+1, current seq+1) like the main
        path — a high user-supplied seq on the target row is outranked."""
        t = str(tmp_path / "t")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, "a", False, 1000, "I")],
                self.T + ", seq long, op string",
            ),
            t, n_buckets=8,
        )
        src = spark.createDataFrame([(2, "b", False)], self.T)
        txn.merge_into(
            spark, t, src,
            when=[
                {"not_matched": "insert"},
                {"not_matched_by_source": "delete"},
            ],
        )
        assert self._live(spark, t) == {2: ("b", False)}


class TestNbsZoneMapPrune:
    """Round 11 (VERDICT r10 #4): structured NBS clause conditions
    enable zone-map pruning of the absent-row scan — and restore the
    matched side's bucket probe. Soundness: a row claimed by clause i
    satisfies i's whole conjunction, so its file overlaps every
    predicate of i and survives in the union of per-clause kept sets;
    pruned files contain only rows no clause could touch."""

    T = "id long, d long, val string"

    def _seed(self, spark, t, n=400, n_buckets=2, target_file_rows=50):
        """n rows, d = id // 10 (a date-like monotone column);
        stats_cols clustering rolls each bucket into date-narrow
        files, the shape the prune exploits."""
        rows = [(i, i // 10, f"v{i}", 1, "I") for i in range(n)]
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(rows, self.T + ", seq long, op string"),
            t, key_col="id", n_buckets=n_buckets,
            stats_cols=["d"], target_file_rows=target_file_rows,
        )

    def _live(self, spark, t):
        return {
            r.id: (r.d, r.val)
            for r in txn.read_cdc_table(spark, t).collect()
        }

    def _merge(self, spark, t, cond, src_rows=None):
        src = spark.createDataFrame(
            src_rows
            or [(i, i // 10, f"n{i}") for i in range(100, 400)],
            self.T,
        )
        txn.merge_into(
            spark, t, src,
            when=[
                {"matched": "update"},
                {"not_matched": "insert"},
                {"not_matched_by_source": "delete", "condition": cond},
            ],
        )

    def test_pruned_equals_unpruned(self, spark, tmp_path):
        """The done criterion: the structured-condition (pruned) merge
        and the string-condition (O(table)) merge land the same state.
        Source carries keys 100..399; absentees 0..99 (d 0..9) are
        deleted when d < 5 -> keys 0..49 go, 50..99 stay."""
        ta, tb = str(tmp_path / "a"), str(tmp_path / "b")
        for t in (ta, tb):
            self._seed(spark, t)
        self._merge(spark, ta, [("d", "<", 5)])
        # parenthesized so _parse_nbs_condition rejects it (r12): the
        # control side must stay the honest O(table) string path
        self._merge(spark, tb, "(t_d < 5)")
        a, b = self._live(spark, ta), self._live(spark, tb)
        assert a == b
        assert set(a) == set(range(50, 400))
        assert a[50] == (5, "v50") and a[150] == (15, "n150")

    def test_prune_engages_and_falls_back(self, spark, tmp_path, monkeypatch):
        """The pruned scan is actually taken for structured conditions
        on a stats-bearing table (kept fraction ~2/16) AND for simple
        SQL strings (r12: _parse_nbs_condition normalizes them to the
        structured form), and NOT taken for non-parseable strings or
        stats-less tables."""
        calls = []
        orig = txn._scan_buckets

        def spy(*a, **kw):
            if kw.get("prune") is not None:
                calls.append(kw["prune"]["kept_paths"])
            return orig(*a, **kw)

        monkeypatch.setattr(txn, "_scan_buckets", spy)
        t = str(tmp_path / "t")
        self._seed(spark, t)
        man = txn.latest_manifest(spark, t)
        total = sum(len(v) for v in man["file_stats"].values())
        assert total >= 8  # clustered rolling produced narrow files
        self._merge(spark, t, [("d", "<", 5)])
        assert len(calls) == 1
        # the kept set is a real prune, not the whole table
        assert 0 < len(calls[0]) < total / 2
        # simple SQL string (VERDICT r11 #5): parsed to the structured
        # form at normalize time — the prune engages for string callers
        t2 = str(tmp_path / "t2")
        self._seed(spark, t2)
        self._merge(spark, t2, "t_d < 5")
        assert len(calls) == 2 and len(calls[1]) == len(calls[0])
        # non-parseable string (disjunction): honest O(table) read
        t2b = str(tmp_path / "t2b")
        self._seed(spark, t2b)
        self._merge(spark, t2b, "t_d < 5 OR t_d < 3")
        assert len(calls) == 2
        # stats-less table: falls back silently
        t3 = str(tmp_path / "t3")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, i // 10, f"v{i}", 1, "I") for i in range(100)],
                self.T + ", seq long, op string",
            ),
            t3, key_col="id", n_buckets=2,
        )
        self._merge(
            spark, t3, [("d", "<", 5)],
            src_rows=[(i, i // 10, f"n{i}") for i in range(50, 100)],
        )
        assert len(calls) == 2
        assert set(self._live(spark, t3)) == set(range(5 * 10, 100))

    def test_matched_side_bucket_probe_restored(self, spark, tmp_path):
        """With a prunable NBS clause the matched side goes back to the
        bucket-pruned probe: a narrow source must NOT trip the
        full-width RuntimeWarning that the O(table) path suppressed by
        never probing."""
        import warnings as _w

        t = str(tmp_path / "t")
        self._seed(spark, t, n_buckets=8)
        # one key -> one bucket; NBS clause structured -> probe runs
        src = spark.createDataFrame([(7, 0, "x")], self.T)
        with _w.catch_warnings():
            _w.simplefilter("error", RuntimeWarning)
            txn.merge_into(
                spark, t, src,
                when=[
                    {"matched": "update"},
                    {"not_matched_by_source": "delete",
                     "condition": [("d", "<", 0)]},  # claims nothing
                ],
            )
        live = self._live(spark, t)
        assert live[7] == (0, "x") and len(live) == 400

    def test_overlay_tombstone_respected_through_prune(self, spark, tmp_path):
        """A key whose base row sits in a KEPT file but was tombstoned
        by a later overlay must not be claimed by an NBS clause — the
        raw pruned scan resolves overlays before the ~deleted filter."""
        t = str(tmp_path / "t")
        self._seed(spark, t)
        # tombstone key 3 (d=0, inside the claimed range)
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(3, None, None, 9, "D")],
                self.T + ", seq long, op string",
            ),
            t, key_col="id", n_buckets=None,
        )
        self._merge(spark, t, [("d", "<", 5)])
        live = self._live(spark, t)
        assert 3 not in live and 2 not in live  # 2 deleted by clause
        assert set(live) == set(range(50, 400))

    def test_multi_clause_union_and_first_match(self, spark, tmp_path):
        """Two structured NBS clauses: kept set is the UNION of the
        per-clause prunes, and first-match-wins still decides rows
        matching both."""
        t = str(tmp_path / "t")
        self._seed(spark, t)
        src = spark.createDataFrame(
            [(i, i // 10, f"n{i}") for i in range(100, 400)], self.T
        )
        txn.merge_into(
            spark, t, src,
            when=[
                {"matched": "update"},
                {"not_matched_by_source": "delete",
                 "condition": [("d", "<", 2)]},
                {"not_matched_by_source": "update",
                 "condition": [("d", "between", (1, 6))],
                 "set": {"val": "concat(t_val, '-stale')"}},
            ],
        )
        live = self._live(spark, t)
        # d<2 (keys 0..19) deleted; d in [2,6] (20..69) stale-stamped
        # (d=1 rows matched BOTH: first clause won -> deleted)
        assert 0 not in live and 19 not in live
        assert live[20] == (2, "v20-stale") and live[69] == (6, "v69-stale")
        assert live[70] == (7, "v70")  # claimed by neither
        assert live[150] == (15, "n150")

    def test_structured_condition_rejected_off_nbs(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._seed(spark, t, n=20)
        src = spark.createDataFrame([(1, 0, "x")], self.T)
        with pytest.raises(ValueError, match="structured"):
            txn.merge_into(
                spark, t, src,
                when=[{"matched": "update",
                       "condition": [("d", "<", 5)]}],
            )
        with pytest.raises(ValueError, match="not in"):
            txn.merge_into(
                spark, t, src,
                when=[
                    {"matched": "update"},
                    {"not_matched_by_source": "delete",
                     "condition": [("d", "!=", 5)]},
                ],
            )

    def test_null_condition_column_never_claimed(self, spark, tmp_path):
        """Null semantics parity between prune and predicate: a row
        with NULL in the condition column is claimed by no comparison
        clause, pruned or not."""
        t = str(tmp_path / "t")
        rows = [(1, None, "a", 1, "I"), (2, 0, "b", 1, "I")]
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(rows, self.T + ", seq long, op string"),
            t, key_col="id", n_buckets=2,
            stats_cols=["d"], target_file_rows=1,
        )
        src = spark.createDataFrame([(9, 9, "z")], self.T)
        txn.merge_into(
            spark, t, src,
            when=[
                {"not_matched": "insert"},
                {"not_matched_by_source": "delete",
                 "condition": [("d", "<", 5)]},
            ],
        )
        live = self._live(spark, t)
        assert 1 in live and 2 not in live and 9 in live

    def test_prune_planning_type_mismatch_falls_back(self, spark, tmp_path):
        """ADVICE r11 (medium): a condition literal whose Python type
        can't compare against the stats-deserialized values (datetime
        cutoff vs date-typed stats → TypeError in _overlaps) must NOT
        crash the merge — prune planning falls back to the unpruned
        absent-row scan with a warning, and the executed predicate
        (Spark coerces) still lands the right state."""
        import datetime
        import warnings as _w

        schema = "id long, d date, val string"
        rows = [
            (i, datetime.date(1970, 1, 1 + i // 10), f"v{i}", 1, "I")
            for i in range(100)
        ]
        t = str(tmp_path / "t")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(rows, schema + ", seq long, op string"),
            t, key_col="id", n_buckets=2,
            stats_cols=["d"], target_file_rows=20,
        )
        src = spark.createDataFrame(
            [
                (i, datetime.date(1970, 1, 1 + i // 10), f"n{i}")
                for i in range(50, 100)
            ],
            schema,
        )
        cutoff = datetime.datetime(1970, 1, 6)  # datetime, stats are date
        with _w.catch_warnings(record=True) as caught:
            _w.simplefilter("always")
            txn.merge_into(
                spark, t, src,
                when=[
                    {"matched": "update"},
                    {"not_matched_by_source": "delete",
                     "condition": [("d", "<", cutoff)]},
                ],
            )
        assert any("prune planning failed" in str(w.message) for w in caught)
        live = {r.id for r in txn.read_cdc_table(spark, t).collect()}
        # absentees 0..49 have d <= Jan 5 < Jan 6 cutoff -> deleted
        assert live == set(range(50, 100))

    def test_tuple_cond_value_shape_validated(self, spark, tmp_path):
        """ADVICE r11 (low): bad between/in value shapes must fail at
        the documented validation point, not as an opaque TypeError
        deep in _tuple_pred or prune planning."""
        t = str(tmp_path / "t")
        self._seed(spark, t, n=20)
        src = spark.createDataFrame([(1, 0, "x")], self.T)

        def merge(cond):
            txn.merge_into(
                spark, t, src,
                when=[
                    {"matched": "update"},
                    {"not_matched_by_source": "delete", "condition": cond},
                ],
            )

        with pytest.raises(ValueError, match="between.*2-element"):
            merge([("d", "between", 5)])
        with pytest.raises(ValueError, match="between.*2-element"):
            merge([("d", "between", (1, 2, 3))])
        with pytest.raises(ValueError, match="'in' condition"):
            merge([("d", "in", 3)])
        merge([("d", "between", (98, 99)), ("d", "in", [98, 99])])

    def test_parse_nbs_condition_grammar(self):
        """r12 (VERDICT r11 #5): the SQL-string → structured translator
        accepts exactly the simple conjunctive grammar and rejects
        everything else (parse, don't trust)."""
        p = txn._parse_nbs_condition
        assert p("t_d < 5") == [("d", "<", 5)]
        assert p("  t_d  <=  5  AND  t_val = 'x'  ") == [
            ("d", "<=", 5), ("val", "=", "x")
        ]
        assert p("t_score >= -1.5") == [("score", ">=", -1.5)]
        assert p("t_a == 3 and t_b > 0") == [("a", "=", 3), ("b", ">", 0)]
        # a quoted literal containing ' AND ' must not split
        assert p("t_val = 'x AND y' AND t_d = 1") == [
            ("val", "=", "x AND y"), ("d", "=", 1)
        ]
        # rejections: outside the grammar → None (runs as string)
        for s in (
            "(t_d < 5)",
            "t_d < 5 OR t_d > 9",
            "NOT t_d < 5",
            "t_d BETWEEN 1 AND 5",
            "t_d IN (1, 2)",
            "t_d IS NULL",
            "t_d + 1 < 5",
            "t_d < t_other",
            "d < 5",              # not t_-prefixed
            "t_d < 'unclosed",
            "t_d != 5",
        ):
            assert p(s) is None, s

    def test_string_condition_equals_structured(self, spark, tmp_path):
        """End-to-end equality: the parsed string path and the explicit
        structured path land byte-identical states (both pruned), and
        both match the unparsed-string O(table) control."""
        ta, tb, tc = (str(tmp_path / x) for x in "abc")
        for t in (ta, tb, tc):
            self._seed(spark, t)
        self._merge(spark, ta, [("d", "<", 3)])
        self._merge(spark, tb, "t_d < 3")
        self._merge(spark, tc, "(t_d < 3)")  # unparsed control
        a, b, c = (self._live(spark, t) for t in (ta, tb, tc))
        assert a == b == c
        assert set(a) == set(range(30, 400))

    def test_legacy_kwargs_reject_structured_condition(self, spark, tmp_path):
        """ADVICE r11 (low): the legacy kwargs path must reject
        structured conditions with the same ValueError the when=[...]
        path raises, instead of silently evaluating them over
        t_-prefixed columns."""
        t = str(tmp_path / "t")
        self._seed(spark, t, n=20)
        src = spark.createDataFrame([(1, 0, "x")], self.T)
        for kw in (
            {"matched_condition": [("d", "<", 5)]},
            {"matched_delete_condition": [("d", "<", 5)]},
            {"when_not_matched": "insert",
             "not_matched_condition": [("d", "<", 5)]},
        ):
            with pytest.raises(ValueError, match="structured"):
                txn.merge_into(spark, t, src, **kw)


class TestMergeSourcePersist:
    """VERDICT r10 #5: merge_into traverses the source more than once
    (the probe aggregate, then the classification join) — the
    call-scoped persist must make a derived source's plan execute
    ONCE, not once per traversal. Counted with an accumulator-ticking
    UDF in the source plan: under the persist the tick runs only
    during cache materialization."""

    def test_source_plan_executes_once_across_probes(self, spark, tmp_path):
        from pyspark.sql.functions import udf

        acc = spark.sparkContext.accumulator(0)

        @udf("long")
        def tick(v):
            acc.add(1)
            return v

        t = str(tmp_path / "t")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, f"v{i}", 1, "I") for i in range(40)],
                "id long, val string, seq long, op string",
            ),
            t, key_col="id", n_buckets=4,
        )
        n_src = 50
        src = spark.createDataFrame(
            [(i, f"n{i}") for i in range(n_src)], "id long, val string"
        ).select(tick(F.col("id")).alias("id"), "val")
        txn.merge_into(spark, t, src)
        live = {r.id: r.val for r in txn.read_cdc_table(spark, t).collect()}
        assert live == {i: f"n{i}" for i in range(n_src)}
        # one materialization (the persist) — not one per traversal.
        # Exactly n_src under the cache; 4-5x that if the persist broke.
        assert acc.value == n_src, acc.value


class TestManifestRead:
    """read_txn plans a bucketed read from the manifest alone: the
    schema is the manifest's, and a bucket selection lists only the
    `_bucket=b` subdirs that exist."""

    def _two_rows(self, spark, t):
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, "a", 1, "I"), (2, "b", 1, "I")], CDC_SCHEMA
            ),
            t, n_buckets=8,
        )

    def test_fully_retired_table_reads_empty_and_merges(
        self, spark, tmp_path
    ):
        """Compaction that retires every row leaves a rewrite dir with
        no parquet file: the table reads as empty and still merges
        (inferring the schema from the files raised)."""
        t = str(tmp_path / "t")
        self._two_rows(spark, t)
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, None, 2, "D"), (2, None, 2, "D")], CDC_SCHEMA
            ),
            t, n_buckets=8,
        )
        txn.compact_cdc_tombstones(spark, t, 2**62)
        assert txn.read_cdc_table(spark, t).count() == 0
        txn.merge_into(
            spark, t, spark.createDataFrame([(3, "c")], "id long, val string")
        )
        live = {r.id: r.val for r in txn.read_cdc_table(spark, t).collect()}
        assert live == {3: "c"}

    def test_fully_retired_stats_table_compacts_and_reads_empty(
        self, spark, tmp_path
    ):
        """The same retirement on a table with zone maps: the stats pass
        over the empty rewrite dir must not infer a schema from files,
        so the compaction commits, a pruned read (every file pruned)
        returns no row and a later merge inserts."""
        schema = "id long, val string, d long, seq long, op string"
        t = str(tmp_path / "t")
        for rows in ([(1, "a", 1, 1, "I"), (2, "b", 1, 1, "I")],
                     [(1, None, 1, 2, "D"), (2, None, 1, 2, "D")]):
            txn.apply_cdc_batch_bucketed(
                spark.createDataFrame(rows, schema), t,
                n_buckets=8, stats_cols=["d"],
            )
        before = txn.latest_manifest(spark, t)["version"]
        v = txn.compact_cdc_tombstones(spark, t, 2**62)
        assert v == txn.latest_manifest(spark, t)["version"] == before + 1
        day1 = [("d", "=", 1)]
        assert txn.read_cdc_table(spark, t, filters=day1).count() == 0
        src = spark.createDataFrame(
            [(3, "c", 1)], "id long, val string, d long"
        )
        txn.merge_into(spark, t, src)
        got = txn.read_cdc_table(spark, t, filters=day1).collect()
        assert {r.id: r.val for r in got} == {3: "c"}

    def test_pruned_read_skips_absent_bucket_dirs(self, spark, tmp_path):
        """Retiring a bucket's only row maps that bucket to a rewrite dir
        with no subdir for it: selecting every bucket returns exactly
        the other row, and a merge into the empty bucket lands."""
        t = str(tmp_path / "t")
        self._two_rows(spark, t)
        bk = _buckets(spark, range(1, 200), 8)
        assert bk[1] != bk[2]
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame([(1, None, 2, "D")], CDC_SCHEMA),
            t, n_buckets=8,
        )
        txn.compact_cdc_tombstones(spark, t, 2**62)
        man = txn.latest_manifest(spark, t)
        d = man["buckets"][str(bk[1])]
        assert set(man["buckets"]) == {str(bk[1]), str(bk[2])}
        assert d != man["buckets"][str(bk[2])]
        assert bk[1] not in _bucket_subdirs(t, d)
        got = txn.read_txn(spark, t, buckets=range(8)).collect()
        assert {r.id: r.val for r in got} == {2: "b"}

        k = next(i for i in range(3, 200) if bk[i] == bk[1])
        txn.merge_into(
            spark, t, spark.createDataFrame([(k, "k")], "id long, val string")
        )
        live = {r.id: r.val for r in txn.read_cdc_table(spark, t).collect()}
        assert live == {2: "b", k: "k"}


class TestBucketScan:
    """Every read of a bucketed table is one parquet relation over the
    selected buckets' leaf dirs (_scan_buckets), whatever the number of
    dirs that own them, planned from the manifest without a Spark
    job."""

    NB = 16

    def test_many_dir_full_read_is_one_scan(self, spark, tmp_path):
        t = str(tmp_path / "t")
        _apply(spark, t, [(i, f"v{i}", 1, "I") for i in range(160)],
               n_buckets=self.NB)
        bk = _buckets(spark, range(160), self.NB)
        for b in range(8):  # each apply repoints one bucket to a new dir
            k = next(k for k in range(160) if bk[k] == b)
            _apply(spark, t, [(k, f"u{k}", 2, "U")], n_buckets=self.NB)
        man = txn.latest_manifest(spark, t)
        owned: dict[str, list[int]] = {}
        for b, d in man["buckets"].items():
            owned.setdefault(d, []).append(int(b))
        assert len(owned) >= 8

        def plan():
            df = txn.read_txn(spark, t)
            return df, df._jdf.queryExecution().executedPlan().toString()

        (df, p), n = spark_jobs(spark, plan)
        assert n == 0, n
        assert p.count("FileScan parquet") == 1, p
        per_dir = [
            spark.read.option("basePath", f"{t}/{d}")
            .parquet(f"{t}/{d}")
            .filter(F.col(txn.BUCKET_COL).isin(bs))
            .select(*df.columns)
            for d, bs in owned.items()
        ]
        union = per_dir[0]
        for part in per_dir[1:]:
            union = union.unionByName(part)
        assert sorted(df.collect()) == sorted(union.collect())
        assert df.count() == 160

    def test_filtered_zone_map_read_plans_without_job(self, spark, tmp_path):
        schema = "id long, val string, day long, seq long, op string"
        t = str(tmp_path / "t")
        for day in range(3):
            txn.apply_cdc_batch_bucketed(
                spark.createDataFrame(
                    [(day * 50 + i, f"v{i}", day, day + 1, "I")
                     for i in range(50)],
                    schema,
                ),
                t, n_buckets=self.NB, stats_cols=["day"],
            )
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame([(51, None, None, 9, "D")], schema),
            t, n_buckets=self.NB,
        )
        filters = [("day", ">=", 1)]
        df, n = spark_jobs(
            spark, lambda: txn.read_cdc_table(spark, t, filters=filters)
        )
        assert n == 0, n
        want = sorted(
            tuple(r) for r in txn.read_cdc_table(spark, t).collect()
            if r.day >= 1
        )
        assert sorted(tuple(r) for r in df.collect()) == want
        assert len(want) == 99


class TestMergeJobBudget:
    """Spark jobs per call on a tiny table. At these sizes a call's cost
    is its fixed per-job overhead, so the job count is the deterministic
    measure of it: a bucket read plans without a job, and a warm merge
    probes the source once, reads the table once and stages once.

    On a 64-bucket table (more than the 32 leaf dirs above which Spark
    would list in a parallel job) metadata costs no job either: a full
    read and the change feed plan on the driver, and maintenance runs
    only its rewrite's write job."""

    MERGE_JOBS = 10
    MAINTAIN_JOBS = 1
    MAINTAIN_FILES = 6

    def _table(self, spark, t):
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, f"v{i}", 1, "I") for i in range(200)], CDC_SCHEMA
            ),
            t, n_buckets=16,
        )

    def test_bucket_read_runs_no_job(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._table(spark, t)
        df, n = spark_jobs(
            spark, lambda: txn.read_txn(spark, t, buckets=[0, 3, 5])
        )
        assert n == 0, n
        want = txn.read_txn(spark, t).filter(
            F.col(txn.BUCKET_COL).isin(0, 3, 5)
        )
        assert sorted(df.collect()) == sorted(want.collect())

    def test_warm_small_merge_job_budget(self, spark, tmp_path):
        """Update, delete and insert in one 11-row merge. The change file
        it records (from the classification's preimages) must equal the
        snapshot diff (_snapshot_diff)."""
        t = str(tmp_path / "t")
        self._table(spark, t)
        src = spark.createDataFrame(
            [(i, f"n{i}", i % 4 == 0) for i in range(10)]
            + [(500, "new", False)],
            "id long, val string, is_del boolean",
        )
        v, n = spark_jobs(spark, lambda: txn.merge_into(
            spark, t, src, matched_delete_condition="is_del",
            not_matched_condition="NOT is_del",
        ))
        assert n <= self.MERGE_JOBS, n
        live = {r.id: r.val for r in txn.read_cdc_table(spark, t).collect()}
        assert live == {
            **{i: f"v{i}" for i in range(10, 200)},
            **{i: f"n{i}" for i in range(10) if i % 4},
            500: "new",
        }
        netted = txn.read_changes(spark, t, v - 1, mode="cdf")
        diffed = _snapshot_diff(spark, t, v - 1, mode="cdf")
        cols = sorted(diffed.columns)
        assert sorted(netted.select(cols).collect()) == sorted(
            diffed.select(cols).collect()
        )
        assert netted.count() == 3 + 7 * 2 + 1

    def _table64(self, spark, t):
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(i, f"v{i}", 1, "I") for i in range(400)], CDC_SCHEMA
            ),
            t, n_buckets=64,
        )
        (d,) = set(txn.latest_manifest(spark, t)["buckets"].values())
        assert len(txn._subdirs(spark, f"{t}/{d}")) > 32

    def _merge(self, spark, t, rows):
        return txn.merge_into(
            spark, t, spark.createDataFrame(rows, "id long, val string")
        )

    def test_full_read_runs_no_job(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._table64(spark, t)
        df, n = spark_jobs(spark, lambda: txn.read_txn(spark, t))
        assert n == 0, n
        assert df.count() == 400

    def test_change_feed_plans_without_job(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._table64(spark, t)
        v = self._merge(spark, t, [(1, "n1"), (2, "n2"), (900, "new")])
        df, n = spark_jobs(spark, lambda: txn.read_changes(spark, t, v - 1))
        assert n == 0, n
        assert _feed_rows(df) == _feed_rows(_snapshot_diff(spark, t, v - 1))

    def test_maintenance_job_budget(self, spark, tmp_path):
        """With no tombstone and no overlay, maintenance commits its
        manifest alone: no Spark job, no data file. After a merge that
        deletes a key it rewrites just that key's bucket in one job: one
        parquet file, the write's _SUCCESS marker and the manifest, each
        with its checksum file."""
        t = str(tmp_path / "t")
        self._table64(spark, t)
        self._merge(spark, t, [(1, "n1")])
        before = txn.latest_manifest(spark, t)
        (rep, (files, _)), n = spark_jobs(spark, lambda: files_written(
            t, lambda: txn.maintain_cdc_table(
                spark, t, tombstone_min_live_seq=2**62,
            )))
        assert n == 0, n
        man = txn.latest_manifest(spark, t)
        assert rep["tombstone_version"] == man["version"]
        assert man["buckets"] == before["buckets"]
        assert man["change_files"] == {"path": None, "preimage": True}
        assert files == 2, files  # the manifest and its checksum

        txn.merge_into(
            spark, t,
            spark.createDataFrame(
                [(2, "x", True), (3, "n3", False)],
                "id long, val string, is_del boolean",
            ),
            matched_delete_condition="is_del",
        )
        before = txn.latest_manifest(spark, t)
        (rep, (files, _)), n = spark_jobs(spark, lambda: files_written(
            t, lambda: txn.maintain_cdc_table(
                spark, t, tombstone_min_live_seq=2**62,
            )))
        assert n == self.MAINTAIN_JOBS, n
        assert files == self.MAINTAIN_FILES, files
        man = txn.latest_manifest(spark, t)
        assert rep["tombstone_version"] == man["version"]
        b2 = str(_buckets(spark, [2], 64)[2])
        assert man["buckets"] != before["buckets"]
        assert {**man["buckets"], b2: before["buckets"][b2]} == (
            before["buckets"]
        )
        assert 2 not in {r.id for r in txn.read_txn(spark, t).collect()}

    def test_feed_spans_maintenance_commits_of_either_shape(
        self, spark, tmp_path
    ):
        """A maintenance commit records its empty feed in the manifest; one
        written before that recorded an empty change-file dir. A window
        spanning either nets to the same rows, and a window of only the
        maintenance commit is empty with the feed's columns."""
        t = str(tmp_path / "t")
        self._table64(spark, t)
        self._merge(spark, t, [(1, "n1"), (2, "n2"), (900, "new")])
        m = txn.maintain_cdc_table(
            spark, t, tombstone_min_live_seq=2**62, vacuum_keep_last=0
        )["tombstone_version"]
        self._merge(spark, t, [(1, "m1"), (901, "new2")])
        empty = txn.read_changes(spark, t, m - 1, m)
        assert empty.columns == ["id", "val", "seq", "_change_type"]
        assert empty.count() == 0
        feeds = {
            mode: _feed_rows(txn.read_changes(spark, t, 1, mode=mode))
            for mode in ("compact", "cdf")
        }
        assert feeds["compact"] == _feed_rows(_snapshot_diff(spark, t, 1))

        # the earlier shape: an empty parquet dir named by the manifest
        rel = f"data/c{m:010d}-earlier"
        txn.read_cdc_table(spark, t, version=m).limit(0).withColumn(
            "_change_type", F.lit("")
        ).write.parquet(f"{t}/{rel}")
        man = txn.read_manifest(spark, t, m)
        man["change_files"]["path"] = rel
        txn._write_bytes(
            spark, f"{t}/_log/{txn._manifest_name(m)}",
            json.dumps(man, sort_keys=True).encode(),
        )
        for mode, want in feeds.items():
            got = txn.read_changes(spark, t, 1, mode=mode)
            assert _feed_rows(got) == want, mode


class TestMergeCasRetry:
    def test_lost_race_rereads_and_guards(
        self, spark, tmp_path, monkeypatch
    ):
        """A merge's batch is seq-stamped against the version it
        classified. If another writer commits first, the apply's retry
        must re-read, seq-guard and derive the change file by joining
        the fresh state, not trust the batch's carried preimages."""
        t = str(tmp_path / "t")
        txn.apply_cdc_batch_bucketed(
            spark.createDataFrame(
                [(1, "a", 1, "I"), (2, "b", 1, "I")], CDC_SCHEMA
            ),
            t, n_buckets=8,
        )
        real = txn._publish_manifest
        raced = []

        def racing(spark_, table_dir, manifest, token):
            if not raced:
                raced.append(True)
                # writer B lands version 2 first (its own publish
                # re-enters here and goes straight through)
                txn.apply_cdc_batch_bucketed(
                    spark.createDataFrame([(2, "bB", 100, "U")], CDC_SCHEMA),
                    t, n_buckets=8,
                )
            return real(spark_, table_dir, manifest, token)

        monkeypatch.setattr(txn, "_publish_manifest", racing)
        v = txn.merge_into(
            spark, t,
            spark.createDataFrame(
                [(1, "a2"), (2, "b2"), (3, "c")], "id long, val string"
            ),
        )
        monkeypatch.undo()
        assert raced and v == 3
        live = {r.id: r.val for r in txn.read_cdc_table(spark, t).collect()}
        # B's newer seq on key 2 wins the guard; A's other rows apply
        assert live == {1: "a2", 2: "bB", 3: "c"}
        netted = txn.read_changes(spark, t, 2, mode="cdf")
        diffed = _snapshot_diff(spark, t, 2, mode="cdf")
        cols = sorted(diffed.columns)
        got = sorted(netted.select(cols).collect())
        assert got == sorted(diffed.select(cols).collect())
        assert {(r.id, r._change_type) for r in got} == {
            (1, "update_preimage"), (1, "update_postimage"), (3, "insert"),
        }
