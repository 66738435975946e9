"""The benchmark workloads.

A workload generates its inputs, builds its initial state through the
program (`setup`), and describes one pass as an ordered list of steps.
Each step is one call into a module's public function and carries the
span name it is traced under and the directories it writes. `reset`
returns outputs and table state to the start of a pass; `check` compares
the pass's outputs with the DuckDB expectations. Only job and `txn`
functions are called, never the query registry, so no memo can carry
over between passes.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from jobbench import check, gen

Step = tuple[str, Callable[[], None], list[str]]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Workload:
    name = ""
    sizes: dict = {}

    def __init__(self, root: str, seed: int):
        self.inputs = f"{root}/inputs"
        self.out = f"{root}/out"
        self.counts = gen.GENERATORS[self.name](self.inputs, seed,
                                                **self.sizes)
        self.input_rows = sum(v for v in self.counts.values()
                              if isinstance(v, int))
        self.input_bytes = gen.input_bytes(self.inputs)
        self.spark = None

    def setup(self, spark, tracer) -> None:
        """Initial state built through the program (timed as set-up)."""
        self.spark = spark

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)
        self.spark.catalog.clearCache()

    def steps(self) -> list[Step]:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def stored_bytes(self) -> int:
        return dir_bytes(self.out)

    def read(self, name: str):
        return self.spark.read.parquet(f"{self.inputs}/{name}.parquet")


class TaarNightly(Workload):
    """The nightly DAG in one pass: whitelist artifacts, install ranking,
    locale top-10, serving-table write, opt-out rewrite, then the
    training-set build (clean → tokenize → pack → range-sharded write +
    manifest) over a corpus with injected drop classes."""

    name = "taar_nightly"
    sizes = {"clients_per_day": 5_000, "n_docs": 2_000}
    SEQ_LEN = 2048

    def __init__(self, root, seed):
        super().__init__(root, seed)
        self.expected = check.expected_taar(self.inputs)

    def steps(self) -> list[Step]:
        from taar_gcp_etl_spark.jobs import (
            amowhitelist,
            build_training_set,
            guid_ranking,
            locale_top,
            profile_serving,
            update_whitelist,
        )

        o, day, date = self.out, gen.SERVING_DATE, gen.ARTIFACT_DATE
        art = f"{o}/artifacts"

        def train():
            self.manifest = build_training_set.run(
                self.spark, self.inputs, f"{o}/train", f"{o}/manifest.json",
                seq_len=self.SEQ_LEN)

        self.manifest = {}
        return [
            ("jobs.amowhitelist.run", lambda: amowhitelist.run(
                self.read("amo_catalog"), art, date=date), [art]),
            ("jobs.update_whitelist.run", lambda: update_whitelist.run(
                self.read("editorial"), art, date=date,
                catalog=self.read("amo_catalog")), [art]),
            ("jobs.guid_ranking.run", lambda: guid_ranking.run(
                self.read("addon_installs"), day, f"{o}/ranking",
                artifact_date=date, k=200), [f"{o}/ranking"]),
            ("jobs.locale_top.run", lambda: locale_top.run(
                self.read("addon_installs"), f"{o}/locale", k=10,
                date=date), [f"{o}/locale"]),
            ("jobs.profile_serving.write_serving",
             lambda: profile_serving.write_serving(
                 profile_serving.build_profiles(
                     self.read("clients_last_seen"), day),
                 f"{o}/serving"), [f"{o}/serving"]),
            ("jobs.profile_serving.delete_opt_out",
             lambda: profile_serving.delete_opt_out(
                 self.spark, f"{o}/serving", self.read("deletion_request"),
                 day, gen.LOOKBACK_DAYS, out_path=f"{o}/serving_clean"),
             [f"{o}/serving_clean"]),
            ("jobs.build_training_set.run", train, [f"{o}/train"]),
        ]

    def check(self) -> list[str]:
        bad = check.check_taar(self.expected, self.out)
        with open(f"{self.out}/manifest.json") as fh:
            on_disk = json.load(fh)
        if on_disk != self.manifest:
            bad.append("manifest.json differs from the returned manifest")
        return bad + check.check_corpus(
            self.inputs, self.counts["injected"], on_disk,
            f"{self.out}/train", self.SEQ_LEN)


class CdcMerge(Workload):
    """A hot-key MERGE batch over a bucketed table, a filtered read, the
    change feed since the pass began and one maintenance pass."""

    name = "cdc_merge"
    sizes = {"base_rows": 20_000}
    N_BUCKETS = 64
    FILTER = ("segment", "<", 4)

    def __init__(self, root, seed):
        super().__init__(root, seed)
        self.table = f"{self.out}/table"
        self.pristine = f"{root}/pristine_table"
        self.replay = check.CdcReplay(self.inputs)
        self.replay.apply()
        self.expected_count = self.replay.count_where(*self.FILTER)
        self.expected_changes = self.replay.n_changes()

    def setup(self, spark, tracer) -> None:
        from taar_gcp_etl_spark import txn

        super().setup(spark, tracer)
        with tracer.span("txn.apply_cdc_batch_bucketed", [self.table]):
            txn.apply_cdc_batch_bucketed(self.read("base"), self.table,
                                         n_buckets=self.N_BUCKETS)
        shutil.copytree(self.table, self.pristine)

    def reset(self) -> None:
        from taar_gcp_etl_spark import txn

        super().reset()
        shutil.copytree(self.pristine, self.table)
        self.start_version = txn.latest_manifest(
            self.spark, self.table)["version"]
        self.count_seen = self.changes_seen = None

    def steps(self) -> list[Step]:
        from taar_gcp_etl_spark import txn

        s, t = self.spark, self.table

        def read():
            self.count_seen = txn.read_cdc_table(
                s, t, filters=[self.FILTER]).count()

        def changes():
            self.changes_seen = txn.read_changes(
                s, t, self.start_version).count()

        return [
            ("txn.merge_into", lambda: txn.merge_into(
                s, t, self.read("batch"), matched_delete_condition="is_del",
                not_matched_condition="NOT is_del"), [t]),
            ("txn.read_cdc_table", read, []),
            ("txn.read_changes", changes, []),
            # retire every tombstone (single writer, no stream to protect):
            # the one full rewrite of the pass, then vacuum
            ("txn.maintain_cdc_table", lambda: txn.maintain_cdc_table(
                s, t, tombstone_min_live_seq=2**62, vacuum_keep_last=1,
                vacuum_grace_seconds=0.0), [t]),
        ]

    def check(self) -> list[str]:
        from taar_gcp_etl_spark import txn

        bad = []
        if self.count_seen != self.expected_count:
            bad.append(f"filtered count {self.count_seen} != replay "
                       f"{self.expected_count}")
        if self.changes_seen != self.expected_changes:
            bad.append(f"read_changes {self.changes_seen} rows != "
                       f"{self.expected_changes} changed keys")
        live = txn.read_cdc_table(self.spark, self.table).select(
            *check.CdcReplay.COLS.split(", ")).toArrow()
        return bad + self.replay.diff(live)


WORKLOADS = {w.name: w for w in (TaarNightly, CdcMerge)}
