"""Reference-semantics tests over TAAR-shaped nested fixtures (FIXTURES.md §B)
— the behaviors the star-schema oracle queries can't reach: array-of-struct
predicates, first-element vs any-element filters, marshal coercion, the
profile transpose, sha256 parity, quality gates, artifact shapes.
"""

from __future__ import annotations

import bz2
import datetime as dt
import hashlib
import json

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from taar_gcp_etl_spark.jobs import amodump, amowhitelist, update_whitelist
from taar_gcp_etl_spark.operators.filters import (
    featured_predicate,
    marshal,
    webextension_any_predicate,
    whitelist_predicate,
)
from taar_gcp_etl_spark.operators.quality import (
    EmptyWhitelistError,
    ShortWhitelistError,
    require_min_rows,
    require_non_empty,
)
from taar_gcp_etl_spark.schemas import AMO_ADDON
from tests.conftest import spark_jobs

# the run date the fixture's addon ages are measured from
AS_OF = dt.date(2026, 8, 13)


def _addon(
    guid,
    files=(True,),
    rating=4.0,
    age_days=120,
    promoted=None,
    first_create_date="set",
):
    """One AMO catalog record as a JSON string for the marshal path."""
    created = (
        (dt.datetime(2026, 8, 13) - dt.timedelta(days=age_days)).isoformat()
        if first_create_date == "set"
        else first_create_date
    )
    return json.dumps(
        {
            "guid": guid,
            "default_locale": "en-US",
            "name": {"en-US": f"name-{guid}"},
            "weekly_downloads": 1000,
            "ratings": {"average": rating, "count": 10},
            "current_version": {
                "files": [
                    {
                        "id": i,
                        "platform": "all",
                        "status": "public",
                        "is_webextension": w,
                    }
                    for i, w in enumerate(files)
                ]
            },
            "promoted": promoted,
            "first_create_date": created,
            "unknown_field": "must-be-dropped",
        }
    )


@pytest.fixture(scope="module")
def catalog(spark):
    raw = [
        _addon("good@a"),  # passes P5
        _addon("pioneer-opt-in@mozilla.org"),  # P5 pioneer exclusion
        _addon("nofiles@a", files=()),  # P5 empty files
        # P5 vs P11 divergence: files[0] not webext, files[1] is
        _addon("second-file@a", files=(False, True)),
        _addon("lowrating@a", rating=2.5),  # P5 rating gate
        _addon("tooyoung@a", age_days=10),  # P5 age gate
        _addon("nodate@a", first_create_date=None),  # P9
        _addon("featured@a", promoted={"category": "recommended"}),  # P6
        _addon("sponsored@a", promoted={"category": "sponsored"}),
    ]
    df = spark.createDataFrame([(r,) for r in raw], ["raw"])
    return marshal(df, AMO_ADDON).cache()


def guids(df):
    return sorted(r.guid for r in df.select("guid").collect())


class TestWhitelistPredicates:
    def test_p5_whitelist(self, catalog):
        """P5 (taar_etl/taar_amowhitelist.py:70-97): only fully-conforming
        addons survive; second-file@a fails because files[0] is not a
        webextension even though a later file is."""
        assert guids(catalog.filter(whitelist_predicate(AS_OF))) == [
            "featured@a",
            "good@a",
            "sponsored@a",
        ]

    def test_p5_age_gate_follows_as_of(self, catalog):
        """The 60-day age gate is measured from the as-of date passed in:
        tooyoung@a (created 10 days before AS_OF) fails one day short of
        its 60-day mark and passes on it."""
        short = AS_OF + dt.timedelta(days=49)
        on_mark = AS_OF + dt.timedelta(days=50)
        assert "tooyoung@a" not in guids(
            catalog.filter(whitelist_predicate(short))
        )
        assert guids(catalog.filter(whitelist_predicate(on_mark))) == [
            "featured@a",
            "good@a",
            "sponsored@a",
            "tooyoung@a",
        ]

    def test_p11_any_file_differs_from_p5(self, catalog):
        """P11 (taar_etl/taar_utils.py:89-93) is the ANY-file variant:
        second-file@a passes it but fails P5 — both semantics preserved
        distinctly (SURVEY.md §7 hard part 3)."""
        any_ok = catalog.filter(webextension_any_predicate())
        assert "second-file@a" in guids(any_ok)
        assert "second-file@a" not in guids(
            catalog.filter(whitelist_predicate(AS_OF))
        )

    def test_p6_featured(self, catalog):
        """P6 (taar_etl/taar_amowhitelist.py:50-55): promoted.category ==
        'recommended'; null promoted null-propagates to false."""
        assert guids(catalog.filter(featured_predicate())) == ["featured@a"]

    def test_p7_conjunction_equals_semi_join(self, catalog):
        """SET1 (taar_etl/taar_amowhitelist.py:100-113): predicate
        conjunction ≡ semi-join intersection of the two views."""
        conj = catalog.filter(
            whitelist_predicate(AS_OF) & featured_predicate()
        )
        semi = catalog.filter(whitelist_predicate(AS_OF)).join(
            catalog.filter(featured_predicate()).select("guid"),
            "guid",
            "left_semi",
        )
        assert guids(conj) == guids(semi) == ["featured@a"]


class TestMarshal:
    def test_unknown_fields_dropped(self, catalog):
        """P12 (taar_etl/taar_amodump.py:266-273): undeclared keys dropped."""
        assert "unknown_field" not in catalog.columns

    def test_missing_fields_null(self, spark):
        """Missing declared keys → null (Undefined sentinel,
        taar_etl/taar_amodump.py:246-252)."""
        df = marshal(
            spark.createDataFrame([('{"guid": "x@y"}',)], ["raw"]), AMO_ADDON
        )
        row = df.collect()[0]
        assert row.guid == "x@y"
        assert row.ratings is None and row.current_version is None

    def test_scalar_coercion(self, spark):
        """Scalar coercion (taar_etl/taar_amodump.py:290-291): numeric
        strings coerce, garbage nulls out (SAFE_CAST posture)."""
        df = marshal(
            spark.createDataFrame(
                [('{"guid": "x@y", "weekly_downloads": "123"}',)], ["raw"]
            ),
            AMO_ADDON,
        )
        assert df.collect()[0].weekly_downloads == 123


class TestProfileTranspose:
    def test_sha256_parity(self, spark):
        """F1 (taar_etl/taar_utils.py:110-116): F.sha2 must be bit-identical
        to hashlib.sha256(utf8).hexdigest()."""
        vals = ["client-1", "ümläut-client", ""]
        df = spark.createDataFrame([(v,) for v in vals], ["cid"])
        got = {
            r.cid: r.key
            for r in df.select(
                "cid", F.sha2(F.col("cid"), 256).alias("key")
            ).collect()
        }
        for v in vals:
            assert got[v] == hashlib.sha256(v.encode("utf-8")).hexdigest()


class TestGatesAndArtifacts:
    def test_a4_short_whitelist_gate(self):
        rows = list(range(5))
        with pytest.raises(ShortWhitelistError):
            require_min_rows(rows, 100)
        require_min_rows(rows, 100, allow_short=True)  # escape hatch
        require_min_rows(list(range(100)), 100)

    def test_a5_empty_gate(self):
        with pytest.raises(EmptyWhitelistError):
            require_non_empty([])

    def test_amowhitelist_job_triple_output(self, catalog, tmp_path):
        """§3.3 — one collect, three map-shaped dual-written artifacts."""
        views = amowhitelist.run(
            catalog, str(tmp_path), date=dt.date(2026, 8, 13)
        )
        assert guids(views[amowhitelist.FEATURED_WHITELIST]) == ["featured@a"]
        for sub in ("latest", "snapshot=20260813"):
            p = tmp_path / sub / "whitelist_addons_database.json.bz2"
            obj = json.loads(bz2.decompress(p.read_bytes()))
            assert sorted(obj) == ["featured@a", "good@a", "sponsored@a"]
            assert obj["good@a"]["guid"] == "good@a"  # map shape: guid → record

    def test_update_whitelist_job(self, spark, catalog, tmp_path):
        editorial = spark.createDataFrame(
            [Row(addon=Row(guid=f"g{i}@x")) for i in range(120)]
            + [
                Row(addon=Row(guid=None)),
                Row(addon=Row(guid="null")),
                Row(addon=Row(guid="")),
                Row(addon=Row(guid="g5@x")),  # duplicate
            ]
        )
        out = update_whitelist.run(
            editorial, str(tmp_path), date=dt.date(2026, 8, 13)
        )
        got = [r.guid for r in out.collect()]
        assert len(got) == 120 and got == sorted(got)

    @staticmethod
    def _editorial(spark, guids):
        return spark.createDataFrame([Row(addon=Row(guid=g)) for g in guids])

    def test_update_whitelist_rejects_unknown_guids(self, spark, tmp_path):
        """S4: the catalog join names the first 20 unknown guids in guid
        order, and no artifact is written."""
        known = [f"g{i:03d}@x" for i in range(120)]
        unknown = [f"u{i:02d}@x" for i in range(25)]
        catalog = spark.createDataFrame([(g,) for g in known], ["guid"])
        editorial = self._editorial(spark, known + unknown[::-1])
        with pytest.raises(RuntimeError) as exc:
            update_whitelist.run(
                editorial, str(tmp_path), AS_OF, catalog=catalog
            )
        assert str(exc.value) == f"guids not in AMO catalog: {unknown[:20]}"
        assert not (tmp_path / "latest").exists()

    def test_short_gate_fires_before_the_catalog_check(
        self, spark, catalog, tmp_path
    ):
        editorial = self._editorial(spark, ["good@a", "nowhere@x"])
        with pytest.raises(ShortWhitelistError):
            update_whitelist.run(
                editorial, str(tmp_path), AS_OF, catalog=catalog
            )
        with pytest.raises(RuntimeError, match="nowhere@x"):
            update_whitelist.run(
                editorial, str(tmp_path), AS_OF, allow_shortlist=True,
                catalog=catalog,
            )

    def test_amowhitelist_runs_one_spark_job(self, spark, catalog, tmp_path):
        """The three views are collected in one action: no cache build,
        no separate gate scan, no collect per artifact."""
        catalog.count()  # the module fixture's cache is built outside
        _, n = spark_jobs(
            spark, lambda: amowhitelist.run(catalog, str(tmp_path), AS_OF)
        )
        assert n == 1

    def test_amowhitelist_scans_the_catalog_once(
        self, spark, catalog, tmp_path, monkeypatch
    ):
        """The reference's one pass: the collect over a parquet catalog
        plans one scan of it, whose flags split the three views."""
        path = str(tmp_path / "catalog.parquet")
        catalog.write.parquet(path)
        cat = spark.read.parquet(path)
        plans = []
        orig = type(cat).collect

        def spy(df):
            plans.append(df._jdf.queryExecution().executedPlan().toString())
            return orig(df)

        monkeypatch.setattr(type(cat), "collect", spy)
        amowhitelist.run(cat, str(tmp_path / "out"), AS_OF)
        monkeypatch.undo()
        assert len(plans) == 1
        assert plans[0].count("FileScan parquet") == 1, plans[0]
        obj = json.loads(bz2.decompress(
            (tmp_path / "out" / "latest"
             / f"{amowhitelist.FEATURED_WHITELIST}.json.bz2").read_bytes()
        ))
        assert sorted(obj) == ["featured@a"]

    def test_update_whitelist_job_budget(self, spark, tmp_path):
        """One collect serves the short-list gate, the catalog check and
        the artifact."""
        guids = [f"g{i:03d}@x" for i in range(120)]
        catalog = spark.createDataFrame([(g,) for g in guids], ["guid"])
        editorial = self._editorial(spark, guids + ["g005@x", ""])
        _, n = spark_jobs(
            spark,
            lambda: update_whitelist.run(
                editorial, str(tmp_path), AS_OF, catalog=catalog
            ),
        )
        assert n == 4
        part = tmp_path / "latest" / update_whitelist.ARTIFACT
        lines = bz2.decompress(
            (part / "part-00000.json.bz2").read_bytes()
        ).decode().splitlines()
        assert [json.loads(x) for x in lines] == [{"guid": g} for g in guids]

    def test_corrupt_json_tolerance(self, spark):
        """P10 bad-record tolerance: corrupt JSON rows null out (PERMISSIVE
        marshal), they never kill the pipeline
        (taar_etl/taar_amodump.py:206-208 skip-and-log)."""
        raw = spark.createDataFrame(
            [
                ('{"guid": "ok@x"}',),
                ("{not json at all",),
                ('{"guid": 42}',),  # wrong type → coerced to string
                ("",),
            ],
            ["raw"],
        )
        out = marshal(raw, AMO_ADDON).collect()
        assert len(out) == 4  # every row survives
        got = [r.guid for r in out]
        assert "ok@x" in got and "42" in got
        assert got.count(None) == 2  # the two corrupt rows

    def test_donor_curves_deterministic(self, spark):
        from taar_gcp_etl_spark.io import read_table
        from taar_gcp_etl_spark.operators.similarity import (
            donor_clusters,
            likelihood_curves,
        )

        emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
        clustered = donor_clusters(emb, k=4)
        a = sorted(
            (r.bin, r.same_cluster, r.n)
            for r in likelihood_curves(clustered, emb).collect()
        )
        b = sorted(
            (r.bin, r.same_cluster, r.n)
            for r in likelihood_curves(clustered, emb).collect()
        )
        assert a == b and len(a) > 0
        assert any(s for _, s, _ in a) and any(not s for _, s, _ in a)

    def test_locale_top_job(self, spark, tmp_path):
        """§2.10 top10_dict.json: {locale: [ordered top-k guids]}."""
        from taar_gcp_etl_spark.jobs import locale_top

        rows = []
        for loc, addons in (
            ("en-US", ["a1"] * 5 + ["a2"] * 3 + ["a3"] * 1),
            ("de", ["a2"] * 4 + ["a9"] * 2),
        ):
            for i, a in enumerate(addons):
                rows.append((loc, a, f"c{loc}{a}{i}"))
        clients = spark.createDataFrame(
            rows, ["locale", "addon_id", "client_id"]
        )
        out = locale_top.run(
            clients, str(tmp_path), k=2, date=dt.date(2026, 8, 13)
        )
        got = {r.locale: r.top_addons for r in out.collect()}
        assert got == {"en-US": ["a1", "a2"], "de": ["a2", "a9"]}
        p = tmp_path / "latest" / "top10_dict.json.bz2"
        obj = json.loads(bz2.decompress(p.read_bytes()))
        assert obj == {"en-US": ["a1", "a2"], "de": ["a2", "a9"]}

    def test_amodump_end_to_end_from_recorded_fetches(self, spark, tmp_path):
        """S2 end-to-end: recorded versions-endpoint pages → first_dates →
        artifact, with the reference's exact extraction semantics
        (taar_etl/taar_amodump.py:228-243): page_count probe, last-page
        selection, results[-1].files[0].created, percent-decoded guid."""

        def page(created_list, page_count=1):
            return json.dumps(
                {
                    "page_count": page_count,
                    "results": [
                        {"files": [{"created": c}, {"created": "IGNORED"}]}
                        for c in created_list
                    ],
                }
            )

        base = "https://addons.mozilla.org/api/v4/addons/addon"
        fetched = spark.createDataFrame(
            [
                # single page: created comes from the LAST result's files[0]
                (f"{base}/a@x/versions/", 200,
                 page(["2019-01-01T00:00:00", "2018-06-01T00:00:00"]), None),
                # 3 pages: page-1 probe says page_count=3 → page-3 row wins
                (f"{base}/b@x/versions/", 200,
                 page(["2024-01-01T00:00:00"], page_count=3), None),
                (f"{base}/b@x/versions/?page=3", 200,
                 page(["2015-03-03T00:00:00"], page_count=3), None),
                # percent-encoded guid in the URL decodes (reference :199-201)
                (f"{base}/c%40x/versions/", 200,
                 page(["2017-07-07T00:00:00"]), None),
                # failed fetch → no first_create_date (P9 drops the addon)
                (f"{base}/d@x/versions/", 500, None, "server error"),
            ],
            "url string, status int, body string, error string",
        )
        fd = {
            r.guid: r.first_create_date
            for r in amodump.first_dates_from_fetches(fetched).collect()
        }
        assert fd == {
            "a@x": "2018-06-01T00:00:00",  # last result, first file
            "b@x": "2015-03-03T00:00:00",  # from page 3, not the probe page
            "c@x": "2017-07-07T00:00:00",  # decoded guid
        }

        raw = spark.createDataFrame(
            [(_addon(g, first_create_date=None),) for g in
             ("a@x", "b@x", "c@x", "d@x")],
            ["raw"],
        )
        out = amodump.run_end_to_end(
            raw, fetched, str(tmp_path), date=dt.date(2026, 8, 13)
        )
        assert guids(out) == ["a@x", "b@x", "c@x"]  # d@x dropped (P9)

    def test_amodump_two_phase_fetch_with_injected_fetcher(self, spark):
        """Online S2 path fully offline: the fake fetcher serves page-1
        probes AND the derived ?page=N last-page URL — proving the two-phase
        fan-out constructs the right second-phase URLs. Guids are
        percent-ENCODED into both phases' URLs (the parse side decodes), so
        reserved characters — '@', and critically '+' which url_decode maps
        to a space — roundtrip byte-identical; the 'plus+x' guid fails
        without symmetric encoding."""
        base = "https://addons.mozilla.org/api/v4/addons/addon"
        pages = {
            f"{base}/one%40x/versions/": json.dumps(
                {"page_count": 1,
                 "results": [{"files": [{"created": "2020-05-05T00:00:00"}]}]}
            ),
            f"{base}/multi%40x/versions/": json.dumps(
                {"page_count": 2,
                 "results": [{"files": [{"created": "2024-09-09T00:00:00"}]}]}
            ),
            f"{base}/multi%40x/versions/?page=2": json.dumps(
                {"page_count": 2,
                 "results": [{"files": [{"created": "2012-12-12T00:00:00"}]}]}
            ),
            f"{base}/plus%2Bx/versions/": json.dumps(
                {"page_count": 1,
                 "results": [{"files": [{"created": "2019-01-01T00:00:00"}]}]}
            ),
        }

        def fake_fetcher(url):
            if url not in pages:
                raise OSError(f"unexpected url {url}")
            return 200, pages[url]

        catalog = spark.createDataFrame(
            [("one@x",), ("multi@x",), ("plus+x",)], ["guid"]
        )
        fd = {
            r.guid: r.first_create_date
            for r in amodump.fetch_first_dates(
                catalog, fetcher=fake_fetcher, workers=2
            ).collect()
        }
        assert fd == {
            "one@x": "2020-05-05T00:00:00",
            "multi@x": "2012-12-12T00:00:00",
            "plus+x": "2019-01-01T00:00:00",
        }

    def test_amodump_job(self, spark, tmp_path):
        raw = spark.createDataFrame(
            [
                (_addon("a@x", first_create_date=None),),
                (_addon("b@x", first_create_date=None),),
            ],
            ["raw"],
        )
        first_dates = spark.createDataFrame(
            [("a@x", "2020-01-01T00:00:00")],
            ["guid", "first_create_date"],
        )
        out = amodump.run(
            raw, first_dates, str(tmp_path), date=dt.date(2026, 8, 13)
        )
        # P9: b@x (no fetched date) is dropped
        assert guids(out) == ["a@x"]
