"""REST source tests: `sources.rest.fetch_urls` per-URL status/error
capture and `fetch_with_retry`'s retry pass, offline via an injected
fetcher."""

from __future__ import annotations

from taar_gcp_etl_spark.sources.rest import fetch_urls, fetch_with_retry


class TestRestSource:
    def test_fetch_urls_offline(self, spark):
        def fake(url):
            if url.endswith("bad"):
                raise OSError("boom")
            return 200, f"body-of-{url}"

        urls = spark.createDataFrame(
            [("u/1",), ("u/2",), ("u/bad",)], ["url"]
        )
        got = {r.url: r for r in fetch_urls(urls, workers=2, fetcher=fake).collect()}
        assert got["u/1"].body == "body-of-u/1" and got["u/1"].status == 200
        assert got["u/bad"].status is None and "boom" in got["u/bad"].error

    def test_retry_union_dedups(self, spark, tmp_path):
        """SET2 — first pass fails flaky urls, retry pass succeeds; union
        must contain each url exactly once."""
        marker = str(tmp_path / "seen-flaky")

        def flaky(url):
            # closures are re-pickled per task, so in-memory state won't
            # survive — a filesystem marker does (local mode, one machine)
            import os

            if url.endswith("flaky") and not os.path.exists(marker):
                open(marker, "w").close()
                raise OSError("transient")
            return 200, f"ok-{url}"

        urls = spark.createDataFrame(
            [("u/a",), ("u/flaky",), ("u/b",)], ["url"]
        )
        out = fetch_with_retry(urls, workers=2, fetcher=flaky).collect()
        assert sorted(r.url for r in out) == ["u/a", "u/b", "u/flaky"]
        assert all(r.status == 200 for r in out)
