"""Tests of the benchmark itself: seeded inputs, the independent checker and
the metric names. No Spark is started.

    python3 -m pytest jobbench/tests -q
"""

from __future__ import annotations

import bz2
import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from jobbench import check, gen, run, trace  # noqa: E402

SMALL = {
    "taar_nightly": {"clients_per_day": 400, "n_docs": 400, "n_addons": 300,
                     "n_catalog": 400},
    "cdc_merge": {"base_rows": 500},
}


def _gen(workload: str, path, seed: int) -> dict:
    return gen.GENERATORS[workload](str(path), seed, **SMALL[workload])


@pytest.mark.parametrize("workload", sorted(SMALL))
def test_seed_fixes_the_inputs(workload, tmp_path):
    _gen(workload, tmp_path / "a", 7)
    _gen(workload, tmp_path / "b", 7)
    _gen(workload, tmp_path / "c", 8)
    a, b, c = (gen.fingerprint(str(tmp_path / d)) for d in "abc")
    assert a == b
    assert a != c


# -- taar_nightly -----------------------------------------------------------

def _bz2_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(bz2.compress(json.dumps(obj).encode()))


def _serving(path: str, keys: list[str]) -> None:
    for prefix in sorted({k[:2] for k in keys}):
        part = [k for k in keys if k[:2] == prefix]
        d = f"{path}/key_prefix={prefix}"
        os.makedirs(d)
        pq.write_table(pa.table({"key": part, "payload": ["{}"] * len(part)}),
                       f"{d}/part-0.parquet")


def _taar_outputs(exp: dict, out: str, drop_clean: int = 0) -> None:
    """Outputs shaped like the program's, holding exactly `exp`."""
    stamp = f"snapshot={gen.ARTIFACT_DATE.strftime('%Y%m%d')}"
    for name in (check.WHITELIST, check.FEATURED, check.FEATURED_WHITELIST):
        for sub in ("latest", stamp):
            _bz2_json(f"{out}/artifacts/{sub}/{name}.json.bz2",
                      {g: {"guid": g} for g in exp[name]})
    d = f"{out}/artifacts/latest/only_guids_top_200"
    os.makedirs(d)
    with bz2.open(f"{d}/part-00000.json.bz2", "wt") as fh:
        fh.writelines(json.dumps({"guid": g}) + "\n" for g in exp["editorial"])
    _bz2_json(f"{out}/ranking/latest/guid_install_ranking.json.bz2",
              {g: {"addon_guid": g, "install_count": n}
               for g, n in exp["ranking"].items()})
    _bz2_json(f"{out}/locale/latest/top10_dict.json.bz2", exp["locale_top"])
    _serving(f"{out}/serving", sorted(exp["serving_keys"]))
    _serving(f"{out}/serving_clean", sorted(exp["clean_keys"])[drop_clean:])


@pytest.fixture(scope="module")
def taar(tmp_path_factory):
    inputs = tmp_path_factory.mktemp("taar")
    _gen("taar_nightly", inputs, 3)
    return check.expected_taar(str(inputs))


def test_taar_expectations_are_not_trivial(taar):
    assert taar[check.FEATURED_WHITELIST]
    assert taar[check.WHITELIST] - taar[check.FEATURED_WHITELIST]
    assert len(taar["clean_keys"]) < len(taar["serving_keys"])
    assert "" not in taar["editorial"] and "null" not in taar["editorial"]


def test_taar_checker_accepts_matching_outputs(taar, tmp_path):
    _taar_outputs(taar, str(tmp_path))
    assert check.check_taar(taar, str(tmp_path)) == []


def test_taar_checker_rejects_a_dropped_serving_row(taar, tmp_path):
    _taar_outputs(taar, str(tmp_path), drop_clean=1)
    bad = check.check_taar(taar, str(tmp_path))
    assert len(bad) == 1 and bad[0].startswith("serving_clean")


def test_taar_checker_rejects_a_changed_ranking(taar, tmp_path):
    _taar_outputs(taar, str(tmp_path))
    path = f"{tmp_path}/ranking/latest/guid_install_ranking.json.bz2"
    ranking = json.loads(bz2.decompress(open(path, "rb").read()))
    first = next(iter(ranking))
    ranking[first]["install_count"] += 1
    _bz2_json(path, ranking)
    assert check.check_taar(taar, str(tmp_path)) == [
        "guid_install_ranking differs from the top-200 count"]


# -- cdc_merge --------------------------------------------------------------

@pytest.fixture()
def replay(tmp_path):
    _gen("cdc_merge", tmp_path, 5)
    r = check.CdcReplay(str(tmp_path))
    r.apply()
    return r


def test_cdc_replay_accepts_its_own_state(replay):
    live = replay.con.execute(f"SELECT {replay.COLS} FROM t").arrow()
    assert replay.diff(live) == []
    assert replay.n_changes() > 0


def test_cdc_replay_rejects_an_altered_row(replay):
    live = replay.con.execute(f"SELECT {replay.COLS} FROM t").arrow()
    score = live.column("score").to_pylist()
    score[0] += 1.0
    altered = live.set_column(live.schema.get_field_index("score"), "score",
                              pa.array(score))
    assert replay.diff(altered)
    assert replay.diff(live.slice(1))


# -- taar_nightly: the training set -----------------------------------------

def _corpus_outputs(inputs: str, injected: dict, out: str) -> dict:
    """A packed output keeping every doc but the injected exact copies."""
    docs = pq.read_table(f"{inputs}/documents.parquet").to_pylist()
    seen, kept = set(), []
    for d in docs:
        if d["text"] not in seen:
            seen.add(d["text"])
            kept.append(d)
    assert len(docs) - len(kept) == injected["exact_dup"]
    ntok = [len(d["text"].strip().lower().split()) for d in kept]
    os.makedirs(f"{out}/packed")
    pq.write_table(pa.table({
        "doc_id": [d["doc_id"] for d in kept],
        "token_ids": [[0] * n for n in ntok],
    }), f"{out}/packed/part-0.parquet")
    return {"n_docs": len(kept), "n_tokens": sum(ntok),
            "n_sequences": -(-sum(ntok) // 2048),
            "attrition": {"kept": len(kept),
                          "exact_dup": injected["exact_dup"]}}


def test_corpus_checker(tmp_path):
    inputs, out = str(tmp_path / "in"), str(tmp_path / "out")
    injected = gen.gen_corpus(inputs, 9, n_docs=400)["injected"]
    manifest = _corpus_outputs(inputs, injected, out)
    assert check.check_corpus(inputs, injected, manifest, out, 2048) == []
    wrong = dict(manifest, n_tokens=manifest["n_tokens"] - 1)
    assert check.check_corpus(inputs, injected, wrong, out, 2048)
    wrong = dict(manifest, attrition={"kept": manifest["n_docs"] + 1,
                                      "exact_dup": injected["exact_dup"] - 1})
    assert len(check.check_corpus(inputs, injected, wrong, out, 2048)) == 2


# -- metrics ----------------------------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_metric_names_match_benchmark_json():
    with open(f"{ROOT}/BENCHMARK.json") as fh:
        spec = json.load(fh)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared_e2e == run.END_TO_END
    assert declared_layer == run.PER_LAYER
    for name in list(declared_e2e) + list(declared_layer):
        assert NAME.match(name), name
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values())


def test_step_stats_take_per_step_medians():
    passes = [[1.0, 5.0, 2.0], [3.0, 9.0, 2.0], [2.0, 6.0, 2.0]]
    assert run.step_stats(passes) == (2.0, 6.0)


def test_covered_merges_overlapping_stages():
    assert trace._covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert trace._covered([(-5, 1), (9, 20)], 0, 10) == 2


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark it exits non-zero without
    printing a result."""
    shutil.copytree(f"{ROOT}/jobbench", tmp_path / "jobbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(f"{ROOT}/BENCHMARK.json", tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "jobbench/run.py", "--workload", "taar_nightly",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
    assert not (tmp_path / ".jobbench_work").exists()
