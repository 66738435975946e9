"""Independent correctness checks, computed with DuckDB straight from the
generated inputs and compared with what the program wrote.

Each check returns a list of mismatch descriptions; an empty list means
the outputs are correct. Nothing here imports the program under test.
"""

from __future__ import annotations

import bz2
import glob
import json
import math
import os

import duckdb

from jobbench.gen import (
    ARTIFACT_DATE,
    LOOKBACK_DAYS,
    PIONEER_GUID,
    SERVING_DATE,
)

WHITELIST = "whitelist_addons_database"
FEATURED = "featured_addons_database"
FEATURED_WHITELIST = "featured_whitelist_addons"


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _col(con, sql: str, *params) -> list:
    return [r[0] for r in con.execute(sql, list(params)).fetchall()]


def _load_map_artifact(path: str) -> dict:
    with open(path, "rb") as fh:
        return json.loads(bz2.decompress(fh.read()))


# -- taar_nightly -----------------------------------------------------------

def expected_taar(inputs: str) -> dict:
    """Every taar_nightly expectation, from the inputs alone."""
    con = _con()
    cat = f"read_parquet('{inputs}/amo_catalog.parquet')"
    wl = f"""
        guid <> '{PIONEER_GUID}'
        AND len(current_version.files) > 0
        AND coalesce(current_version.files[1].is_webextension, false)
        AND coalesce(ratings.average, 0.0) >= 3.0
        AND strptime(first_create_date, '%Y-%m-%dT%H:%M:%SZ')
            <= current_date - INTERVAL 60 DAY"""
    ft = "promoted.category = 'recommended'"
    exp: dict = {
        WHITELIST: set(_col(con, f"SELECT guid FROM {cat} WHERE {wl}")),
        FEATURED: set(_col(con, f"SELECT guid FROM {cat} WHERE {ft}")),
        FEATURED_WHITELIST: set(
            _col(con, f"SELECT guid FROM {cat} WHERE {wl} AND {ft}")),
    }
    exp["editorial"] = _col(con, f"""
        SELECT DISTINCT addon.guid AS g
        FROM read_parquet('{inputs}/editorial.parquet')
        WHERE addon.guid IS NOT NULL AND addon.guid NOT IN ('null', '')
        ORDER BY g""")
    inst = f"read_parquet('{inputs}/addon_installs.parquet')"
    exp["ranking"] = {
        g: n for g, n in con.execute(f"""
            SELECT addon_id, count(client_id) AS n FROM {inst}
            WHERE submission_date = DATE '{SERVING_DATE}'
            GROUP BY addon_id ORDER BY n DESC, addon_id LIMIT 200
        """).fetchall()
    }
    exp["locale_top"] = {
        loc: list(guids) for loc, guids in con.execute(f"""
            WITH c AS (
              SELECT locale, addon_id, count(*) AS n FROM (
                SELECT DISTINCT locale, addon_id, client_id FROM {inst})
              GROUP BY locale, addon_id),
            r AS (
              SELECT *, row_number() OVER (
                PARTITION BY locale ORDER BY n DESC, addon_id) AS rnk
              FROM c)
            SELECT locale, list(addon_id ORDER BY rnk) FROM r
            WHERE rnk <= 10 GROUP BY locale""").fetchall()
    }
    profiles = f"""
        SELECT client_id FROM read_parquet('{inputs}/clients_last_seen.parquet')
        WHERE submission_date = DATE '{SERVING_DATE}'
          AND len(active_addons) > 0"""
    exp["serving_keys"] = set(_col(con, f"SELECT sha256(client_id) FROM ({profiles})"))
    exp["clean_keys"] = set(_col(con, f"""
        SELECT sha256(client_id) FROM ({profiles}) p
        WHERE client_id NOT IN (
          SELECT client_id
          FROM read_parquet('{inputs}/deletion_request.parquet')
          WHERE deletion_date BETWEEN DATE '{SERVING_DATE}'
                - INTERVAL {LOOKBACK_DAYS} DAY AND DATE '{SERVING_DATE}')"""))
    return exp


def _serving_keys(path: str) -> list[str]:
    if not glob.glob(f"{path}/**/*.parquet", recursive=True):
        return []
    return _col(_con(), f"""
        SELECT key FROM read_parquet('{path}/**/*.parquet',
                                     hive_partitioning = true)""")


def check_taar(exp: dict, out: str) -> list[str]:
    """Compare the taar_nightly outputs under `out` with `exp`."""
    bad: list[str] = []
    stamp = f"snapshot={ARTIFACT_DATE.strftime('%Y%m%d')}"
    for name in (WHITELIST, FEATURED, FEATURED_WHITELIST):
        for sub in ("latest", stamp):
            path = f"{out}/artifacts/{sub}/{name}.json.bz2"
            if not os.path.exists(path):
                bad.append(f"{name}: missing {sub} artifact")
                continue
            got = set(_load_map_artifact(path))
            if got != exp[name]:
                bad.append(f"{name} ({sub}): {len(got)} guids, "
                           f"expected {len(exp[name])}")
    parts = sorted(glob.glob(
        f"{out}/artifacts/latest/only_guids_top_200/part-*.json.bz2"))
    got_ed = [json.loads(line)["guid"] for p in parts
              for line in bz2.open(p, "rt") if line.strip()]
    if got_ed != exp["editorial"]:
        bad.append(f"only_guids_top_200: {len(got_ed)} guids, expected "
                   f"{len(exp['editorial'])} sorted")
    path = f"{out}/ranking/latest/guid_install_ranking.json.bz2"
    got_rank = ({g: r["install_count"] for g, r in
                 _load_map_artifact(path).items()}
                if os.path.exists(path) else None)
    if got_rank != exp["ranking"]:
        bad.append("guid_install_ranking differs from the top-200 count")
    path = f"{out}/locale/latest/top10_dict.json.bz2"
    got_loc = _load_map_artifact(path) if os.path.exists(path) else None
    if got_loc != exp["locale_top"]:
        bad.append("top10_dict differs from the per-locale top-10")
    for key, sub in (("serving_keys", "serving"),
                     ("clean_keys", "serving_clean")):
        keys = _serving_keys(f"{out}/{sub}")
        if len(keys) != len(exp[key]) or set(keys) != exp[key]:
            bad.append(f"{sub}: {len(keys)} rows, expected {len(exp[key])}")
    return bad


# -- taar_nightly: the training set -----------------------------------------

def check_corpus(inputs: str, injected: dict, manifest: dict, out: str,
                 seq_len: int) -> list[str]:
    """Manifest against a recount of the packed output and the inputs."""
    bad: list[str] = []
    con = _con()
    att = manifest.get("attrition", {})
    if att.get("exact_dup", 0) != injected["exact_dup"]:
        bad.append(f"exact_dup {att.get('exact_dup')} != injected "
                   f"{injected['exact_dup']}")
    n_in = con.execute(f"SELECT count(*) FROM "
                       f"read_parquet('{inputs}/documents.parquet')").fetchone()[0]
    if sum(att.values()) != n_in:
        bad.append(f"attrition sums to {sum(att.values())}, input has {n_in}")
    n_docs, n_ids, n_recount = con.execute(f"""
        SELECT count(*), sum(len(p.token_ids)),
               sum(len(string_split_regex(trim(lower(d.text)), '\\s+')))
        FROM read_parquet('{out}/packed/*.parquet') p
        JOIN read_parquet('{inputs}/documents.parquet') d USING (doc_id)
    """).fetchone()
    if manifest.get("n_docs") != n_docs or att.get("kept") != n_docs:
        bad.append(f"manifest n_docs {manifest.get('n_docs')} / kept "
                   f"{att.get('kept')} != packed rows {n_docs}")
    if not (manifest.get("n_tokens") == n_ids == n_recount):
        bad.append(f"manifest n_tokens {manifest.get('n_tokens')} != token "
                   f"ids {n_ids} / recount {n_recount}")
    if manifest.get("n_sequences") != math.ceil((n_recount or 0) / seq_len):
        bad.append("n_sequences != ceil(n_tokens / seq_len)")
    return bad


# -- cdc_merge --------------------------------------------------------------

class CdcReplay:
    """DuckDB replay of the MERGE batch: matched + is_del deletes, other
    matched rows take the source row, unmatched non-deletes insert."""

    COLS = "id, segment, score, rev, country, note"

    def __init__(self, inputs: str):
        self.inputs = inputs
        self.con = _con()
        self.con.execute(f"CREATE TABLE t AS SELECT {self.COLS} FROM "
                         f"read_parquet('{inputs}/base.parquet')")
        self.con.execute("CREATE TABLE start AS SELECT * FROM t")

    def apply(self) -> None:
        src = f"read_parquet('{self.inputs}/batch.parquet')"
        self.con.execute(f"DELETE FROM t WHERE id IN (SELECT id FROM {src})")
        self.con.execute(f"INSERT INTO t SELECT {self.COLS} FROM {src} "
                         "WHERE NOT is_del")

    def count_where(self, col: str, op: str, val) -> int:
        return self.con.execute(
            f"SELECT count(*) FROM t WHERE {col} {op} ?", [val]).fetchone()[0]

    def n_changes(self) -> int:
        """Keys whose live row differs between the start and now."""
        return self.con.execute(f"""
            SELECT count(*) FROM start s FULL OUTER JOIN t USING (id)
            WHERE s.id IS NULL OR t.id IS NULL
               OR (s.segment, s.score, s.rev, s.country, s.note)
                  IS DISTINCT FROM
                  (t.segment, t.score, t.rev, t.country, t.note)
        """).fetchone()[0]

    def diff(self, live) -> list[str]:
        """Compare an Arrow table of live rows with the replayed state."""
        self.con.register("live_rows", live)
        try:
            extra, missing, n = self.con.execute(f"""
                SELECT
                  (SELECT count(*) FROM (SELECT {self.COLS} FROM live_rows
                                         EXCEPT ALL SELECT {self.COLS} FROM t)),
                  (SELECT count(*) FROM (SELECT {self.COLS} FROM t
                                         EXCEPT ALL SELECT {self.COLS} FROM live_rows)),
                  (SELECT count(*) FROM live_rows)""").fetchone()
        finally:
            self.con.unregister("live_rows")
        if extra or missing:
            return [f"live table: {n} rows, {extra} not in the replay, "
                    f"{missing} replayed rows missing"]
        return []
