"""Seeded input generators for the benchmark workloads.

Every generator is pure numpy + pyarrow: the program under test receives
only the parquet files written here, never a Spark object built by the
benchmark. The same (workload, seed) always yields byte-identical files;
`fingerprint` hashes them so tests can prove it.

Date handling: the AMO whitelist predicate compares `first_create_date`
with `current_date() - 60 days`, so catalog dates are either long past
(2012-2020) or far future (2090-2095). Expected outputs therefore never
change with the calendar. Every artifact date the jobs receive is passed
explicitly (`ARTIFACT_DATE`).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- taar_nightly -----------------------------------------------------------

DAYS = ("2024-01-29", "2024-01-30", "2024-01-31")
SERVING_DATE = DAYS[-1]
ARTIFACT_DATE = dt.date(2024, 2, 1)
LOOKBACK_DAYS = 28
PIONEER_GUID = "pioneer-opt-in@mozilla.org"
LOCALES = (
    "en-US", "de", "fr", "es-ES", "ru", "pl", "pt-BR", "it", "ja", "zh-CN",
    "en-GB", "nl", "sv-SE", "cs", "tr", "hu", "fi", "ko", "uk", "id",
)
OSES = ("Windows_NT", "Darwin", "Linux")
CITIES = tuple(f"city{i:02d}" for i in range(40))

ACTIVE_ADDON_FIELDS = (
    ("addon_id", pa.string()),
    ("blocklisted", pa.bool_()),
    ("name", pa.string()),
    ("user_disabled", pa.bool_()),
    ("app_disabled", pa.bool_()),
    ("version", pa.string()),
    ("scope", pa.int32()),
    ("type", pa.string()),
    ("foreign_install", pa.bool_()),
    ("has_binary_components", pa.bool_()),
    ("install_day", pa.int32()),
    ("update_day", pa.int32()),
    ("signed_state", pa.int32()),
    ("is_system", pa.bool_()),
    ("is_web_extension", pa.bool_()),
    ("multiprocess_compatible", pa.bool_()),
)

AMO_FILE = pa.struct(
    [("id", pa.int64()), ("platform", pa.string()), ("status", pa.string()),
     ("is_webextension", pa.bool_())]
)
AMO_SCHEMA = pa.schema(
    [
        ("guid", pa.string()),
        ("default_locale", pa.string()),
        ("name", pa.map_(pa.string(), pa.string())),
        ("description", pa.map_(pa.string(), pa.string())),
        ("summary", pa.map_(pa.string(), pa.string())),
        ("categories", pa.map_(pa.string(), pa.list_(pa.string()))),
        ("tags", pa.list_(pa.string())),
        ("weekly_downloads", pa.int64()),
        ("ratings", pa.struct([("average", pa.float64()),
                               ("count", pa.int64())])),
        ("current_version", pa.struct([("files", pa.list_(AMO_FILE))])),
        ("promoted", pa.struct([("category", pa.string())])),
        ("first_create_date", pa.string()),
    ]
)
EDITORIAL_SCHEMA = pa.schema(
    [("addon", pa.struct([("guid", pa.string())]))]
)


def _rng(seed: int, salt: str) -> np.random.Generator:
    return np.random.default_rng(
        [seed, int.from_bytes(salt.encode()[:8].ljust(8, b"\0"), "little")]
    )


def _write(table: pa.Table, path: str, row_group_size: int = 64_000) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size)


def addon_guid(i: int) -> str:
    return f"addon-{i:05d}@bench.example"


def gen_taar(out: str, seed: int, clients_per_day: int,
             n_addons: int = 2000, n_catalog: int = 3000) -> dict:
    """clients_last_seen (3 days), addon installs, AMO catalog, editorial
    feed and deletion requests. Returns {name: row count}."""
    rng = _rng(seed, "taar")
    counts: dict[str, int] = {}

    # Zipf-skewed addon popularity: low ids are the hot addons.
    weights = 1.0 / np.arange(1, n_addons + 1) ** 1.1
    weights /= weights.sum()
    locale_w = 1.0 / np.arange(1, len(LOCALES) + 1)
    locale_w /= locale_w.sum()
    n_clients = clients_per_day
    client_locale = rng.choice(len(LOCALES), n_clients, p=locale_w)
    client_os = rng.integers(0, len(OSES), n_clients)
    client_city = rng.integers(0, len(CITIES), n_clients)

    clients_cols: dict[str, list] = {k: [] for k in (
        "client_id", "submission_date", "city", "subsession_hours_sum",
        "locale", "os", "places_bookmarks_count_mean",
        "scalar_parent_browser_engagement_tab_open_event_count_sum",
        "scalar_parent_browser_engagement_total_uri_count_sum",
        "scalar_parent_browser_engagement_unique_domains_count_mean",
    )}
    addon_arrays = []
    installs = {"submission_date": [], "client_id": [], "addon_id": [],
                "locale": []}
    ids = np.array([f"client-{i:08d}" for i in range(n_clients)],
                   dtype=object)
    loc_names = np.array(LOCALES, dtype=object)
    for day in DAYS:
        d = dt.date.fromisoformat(day)
        # ~8% of clients report no addons (dropped by size(active_addons)>0)
        n_per = rng.poisson(3.0, n_clients)
        n_per[rng.random(n_clients) < 0.08] = 0
        total = int(n_per.sum())
        offsets = np.concatenate([[0], np.cumsum(n_per)]).astype(np.int32)
        flat_addon = rng.choice(n_addons, total, p=weights)
        guids = np.array([addon_guid(i) for i in range(n_addons)],
                         dtype=object)[flat_addon]
        fields = []
        for name, typ in ACTIVE_ADDON_FIELDS:
            if name == "addon_id":
                arr = pa.array(guids, pa.string())
            elif name == "name":
                arr = pa.array(np.char.add("Addon ", flat_addon.astype(str)),
                               pa.string())
            elif name == "version":
                arr = pa.array(np.char.add("1.", (flat_addon % 17).astype(str)),
                               pa.string())
            elif name == "type":
                arr = pa.array(np.full(total, "extension", dtype=object),
                               pa.string())
            elif typ == pa.bool_():
                arr = pa.array(rng.random(total) < 0.1)
            else:
                arr = pa.array(rng.integers(0, 20000, total).astype(np.int32))
            fields.append(arr)
        structs = pa.StructArray.from_arrays(
            fields, names=[n for n, _ in ACTIVE_ADDON_FIELDS])
        addon_arrays.append(pa.ListArray.from_arrays(pa.array(offsets),
                                                     structs))
        clients_cols["client_id"].append(ids)
        clients_cols["submission_date"].append(np.full(n_clients, d))
        clients_cols["city"].append(np.array(CITIES, dtype=object)[client_city])
        clients_cols["subsession_hours_sum"].append(
            np.round(rng.gamma(2.0, 3.0, n_clients), 3))
        clients_cols["locale"].append(loc_names[client_locale])
        clients_cols["os"].append(np.array(OSES, dtype=object)[client_os])
        for k in list(clients_cols)[6:]:
            clients_cols[k].append(np.round(rng.gamma(1.5, 20.0, n_clients), 2))
        owner = np.repeat(np.arange(n_clients), n_per)
        installs["submission_date"].append(np.full(total, d))
        installs["client_id"].append(ids[owner])
        installs["addon_id"].append(guids)
        installs["locale"].append(loc_names[client_locale][owner])

    clients = pa.table(
        {k: pa.array(np.concatenate(v)) for k, v in clients_cols.items()}
        | {"active_addons": pa.chunked_array(addon_arrays)}
    )
    _write(clients, f"{out}/clients_last_seen.parquet")
    counts["clients_last_seen"] = clients.num_rows
    inst = pa.table({k: pa.array(np.concatenate(v))
                     for k, v in installs.items()})
    _write(inst, f"{out}/addon_installs.parquet", row_group_size=200_000)
    counts["addon_installs"] = inst.num_rows

    # Deletion requests: ~1% of clients inside the 28-day window, ~0.5%
    # just outside it (must not delete), plus ids that never report.
    end = dt.date.fromisoformat(SERVING_DATE)
    inside = rng.choice(n_clients, n_clients // 100, replace=False)
    outside = rng.choice(n_clients, n_clients // 200, replace=False)
    del_ids = list(ids[inside]) + list(ids[outside]) + [
        f"ghost-{i:06d}" for i in range(n_clients // 500)]
    del_dates = (
        [end - dt.timedelta(days=int(x))
         for x in rng.integers(0, LOOKBACK_DAYS + 1, len(inside))]
        + [end - dt.timedelta(days=int(x))
           for x in rng.integers(LOOKBACK_DAYS + 2, 90, len(outside))]
        + [end] * (n_clients // 500)
    )
    # a client may file twice: duplicate a few in-window requests
    dup = rng.choice(len(inside), max(1, len(inside) // 20), replace=False)
    del_ids += [del_ids[i] for i in dup]
    del_dates += [del_dates[i] for i in dup]
    deletions = pa.table({"client_id": del_ids, "deletion_date": del_dates})
    _write(deletions, f"{out}/deletion_request.parquet")
    counts["deletion_request"] = deletions.num_rows

    catalog = _gen_catalog(rng, n_catalog)
    _write(catalog, f"{out}/amo_catalog.parquet")
    counts["amo_catalog"] = catalog.num_rows
    editorial = _gen_editorial(rng, n_catalog)
    _write(editorial, f"{out}/editorial.parquet")
    counts["editorial"] = editorial.num_rows
    return counts


def _gen_catalog(rng: np.random.Generator, n: int) -> pa.Table:
    rows = []
    for i in range(n):
        guid = PIONEER_GUID if i == 7 else addon_guid(i)
        n_files = int(rng.integers(0, 4)) if rng.random() < 0.1 else 1
        files = [
            {"id": int(i * 10 + j), "platform": "all", "status": "public",
             "is_webextension": bool(rng.random() < 0.85)}
            for j in range(n_files)
        ]
        old = rng.random() < 0.75
        year = int(rng.integers(2012, 2021)) if old else int(
            rng.integers(2090, 2096))
        created = dt.datetime(year, int(rng.integers(1, 13)),
                              int(rng.integers(1, 29)),
                              int(rng.integers(0, 24)),
                              int(rng.integers(0, 60)))
        avg = None if rng.random() < 0.05 else round(float(
            rng.uniform(1.0, 5.0)), 2)
        promo = rng.random()
        rows.append({
            "guid": guid,
            "default_locale": "en-US",
            "name": [("en-US", f"Addon {i}")],
            "description": [("en-US", f"Description of addon {i} " * 4)],
            "summary": [("en-US", f"Summary {i}")],
            "categories": [("firefox", [f"cat{i % 12}"])],
            "tags": [f"tag{i % 9}", f"tag{i % 5}"],
            "weekly_downloads": int(rng.integers(0, 100_000)),
            "ratings": {"average": avg, "count": int(rng.integers(0, 5000))},
            "current_version": {"files": files},
            "promoted": (None if promo < 0.6 else {
                "category": "recommended" if promo < 0.9 else "line"}),
            "first_create_date": created.strftime("%Y-%m-%dT%H:%M:%SZ"),
        })
    return pa.Table.from_pylist(rows, schema=AMO_SCHEMA)


def _gen_editorial(rng: np.random.Generator, n_catalog: int) -> pa.Table:
    picks = rng.choice(n_catalog, 300, replace=False)
    picks = picks[picks != 7]  # the pioneer guid is not editorial
    guids = [addon_guid(int(i)) for i in picks]
    guids += [guids[int(i)] for i in rng.choice(len(guids), 40)]  # repeats
    rows = [{"addon": {"guid": g}} for g in guids]
    rows += [{"addon": {"guid": None}}] * 3 + [{"addon": None}] * 2
    rows += [{"addon": {"guid": "null"}}] * 3 + [{"addon": {"guid": ""}}] * 3
    order = rng.permutation(len(rows))
    return pa.Table.from_pylist([rows[i] for i in order],
                                schema=EDITORIAL_SCHEMA)


# -- taar_nightly: the training corpus --------------------------------------

# Per-stage drop shares of the sf0.1 `documents` fixture (5000 docs:
# language 446, quality 315, exact_dup 7, near_dup 195, kept 4037). The
# generator injects each class at that share so the scaled corpus keeps
# the fixture's stage mix instead of skewing it (suffixing tokens, the
# soak approach, multiplied language drops instead).
SF01_SHARES = {"language": 446 / 5000, "quality": 315 / 5000,
               "exact_dup": 7 / 5000, "near_dup": 195 / 5000}
EN_STOP = ("the", "a", "of", "and", "to")
DE_WORDS = ("der", "die", "das", "und", "ist", "ein", "zu", "mit")
CONTENT = tuple(
    a + b for a in ("spa", "que", "lin", "sor", "has", "joi", "agg", "vec",
                    "str", "win", "tab", "col", "par", "bat", "mer", "fil",
                    "key", "row", "dat", "val")
    for b in ("rk", "ry", "ex", "ting", "hed", "ned", "ate", "tor", "eam",
              "dow", "les", "umn", "tion", "ch", "ge", "ter", "ed", "ue",
              "um", "ol")
)


def _en_doc(rng: np.random.Generator, n_tok: int) -> list[str]:
    words = list(np.array(CONTENT, dtype=object)[
        rng.integers(0, len(CONTENT), n_tok)])
    for pos in rng.choice(n_tok, max(2, n_tok // 8), replace=False):
        words[pos] = EN_STOP[int(rng.integers(0, len(EN_STOP)))]
    return words


def gen_corpus(out: str, seed: int, n_docs: int) -> dict:
    """`documents` (doc_id, text, lang, source, n_chars) with injected
    language / quality / exact-dup / near-dup classes at the sf0.1
    shares. Returns row count plus the injected class counts the
    checker needs."""
    rng = _rng(seed, "corpus")
    n_lang = round(n_docs * SF01_SHARES["language"])
    n_quality = round(n_docs * SF01_SHARES["quality"])
    n_exact = max(1, round(n_docs * SF01_SHARES["exact_dup"]))
    n_near = round(n_docs * SF01_SHARES["near_dup"])
    n_base = n_docs - n_lang - n_quality - n_exact - n_near
    texts: list[tuple[str, str]] = []
    seen: set[str] = set()
    while len(texts) < n_base:
        t = " ".join(_en_doc(rng, int(rng.integers(25, 90))))
        if t not in seen:
            seen.add(t)
            texts.append((t, "en"))
    base = [t for t, _ in texts]
    # exact copies and near-dup variants come from disjoint originals
    origin = rng.choice(n_base, n_exact + n_near, replace=False)
    for i in origin[:n_exact]:
        texts.append((base[int(i)], "en"))
    for i in origin[n_exact:]:
        words = base[int(i)].split(" ")
        pos = int(rng.integers(0, len(words)))
        words[pos] = CONTENT[(CONTENT.index(words[pos]) + 1) % len(CONTENT)] \
            if words[pos] in CONTENT else "variant"
        t = " ".join(words)
        if t in seen:  # pragma: no cover - guarded for exactness
            t = t + " variant"
        seen.add(t)
        texts.append((t, "en"))
    for k in range(n_lang):
        # German-stopword or stopword-free text: lang-id says de / und
        n_tok = int(rng.integers(25, 90))
        words = list(np.array(CONTENT, dtype=object)[
            rng.integers(0, len(CONTENT), n_tok)])
        if k % 2 == 0:
            for pos in rng.choice(n_tok, n_tok // 6, replace=False):
                words[pos] = DE_WORDS[int(rng.integers(0, len(DE_WORDS)))]
        texts.append((" ".join(words), "de" if k % 2 == 0 else "zh"))
    for _ in range(n_quality):
        # English but too short (< 20 tokens)
        texts.append((" ".join(_en_doc(rng, int(rng.integers(8, 19)))), "en"))
    order = rng.permutation(len(texts))
    docs = [texts[i] for i in order]
    table = pa.table({
        "doc_id": pa.array(np.arange(len(docs), dtype=np.int64)),
        "text": [t for t, _ in docs],
        "lang": [lang for _, lang in docs],
        "source": [f"src{i % 7}" for i in range(len(docs))],
        "n_chars": pa.array([len(t) for t, _ in docs], pa.int64()),
    })
    _write(table, f"{out}/documents.parquet")
    return {"documents": len(docs), "injected": {
        "language": n_lang, "quality": n_quality, "exact_dup": n_exact,
        "near_dup": n_near}}


def gen_nightly(out: str, seed: int, clients_per_day: int, n_docs: int,
                **taar_sizes) -> dict:
    """Every taar_nightly input: the TAAR tables and the corpus."""
    return (gen_taar(out, seed, clients_per_day, **taar_sizes)
            | gen_corpus(out, seed, n_docs))


# -- cdc_merge --------------------------------------------------------------

HOT_KEYS = 12  # keys a MERGE batch updates or deletes


def gen_cdc(out: str, seed: int, base_rows: int) -> dict:
    """Base CDC extract (inserts) plus one MERGE source batch. The batch
    is a hot-key batch: a dozen of the lowest keys, so only their buckets
    are read and rewritten, each updated or deleted (is_del), plus a few
    brand-new inserts; one row per key."""
    rng = _rng(seed, "cdc")
    keys = np.arange(1, base_rows + 1, dtype=np.int64)
    base = _cdc_rows(rng, keys, rev=0)
    base = base.append_column("seq", pa.array(np.ones(base_rows, np.int64)))
    base = base.append_column("op", pa.array(["I"] * base_rows))
    _write(base, f"{out}/base.parquet")
    chosen = rng.choice(keys[:HOT_KEYS * 4], HOT_KEYS, replace=False)
    is_del = rng.random(HOT_KEYS) < 0.2
    n_new = HOT_KEYS // 5
    new_keys = np.arange(base_rows + 1, base_rows + 1 + n_new,
                         dtype=np.int64)
    batch = _cdc_rows(rng, np.concatenate([chosen, new_keys]), rev=1)
    batch = batch.append_column(
        "is_del", pa.array(np.concatenate([is_del, np.zeros(n_new, bool)])))
    _write(batch, f"{out}/batch.parquet")
    return {"base": base_rows, "batch_rows": batch.num_rows}


def _cdc_rows(rng: np.random.Generator, keys: np.ndarray, rev: int
              ) -> pa.Table:
    n = len(keys)
    return pa.table({
        "id": pa.array(keys, pa.int64()),
        "segment": pa.array(rng.integers(0, 16, n).astype(np.int32)),
        "score": pa.array(np.round(rng.random(n) * 1000, 3)),
        "rev": pa.array(np.full(n, rev, np.int32)),
        "country": pa.array(np.array(LOCALES, dtype=object)[
            rng.integers(0, len(LOCALES), n)]),
        "note": pa.array(np.char.add("note-", rng.integers(
            0, 10**6, n).astype(str)).astype(object)),
    })


# -- shared -----------------------------------------------------------------

GENERATORS = {"taar_nightly": gen_nightly, "cdc_merge": gen_cdc}


def fingerprint(root: str) -> str:
    """sha256 over every generated file's relative path and bytes."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in sorted(os.walk(root)):
        dirnames.sort()
        for name in sorted(filenames):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def input_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(root) for f in fs
    )
