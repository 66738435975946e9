"""CLI dispatcher — job-name parity with the reference's
`python -m taar_etl.<job>` entry points (Dockerfile:27, bin/run:4-6):

    python -m taar_gcp_etl_spark guid_ranking --input events.parquet \\
        --date 2024-01-15 --out /tmp/artifacts
    python -m taar_gcp_etl_spark amowhitelist --catalog catalog.json \\
        --out /tmp/artifacts
    python -m taar_gcp_etl_spark profile_serving --clients clients.parquet \\
        --date 2024-01-01 --serving /tmp/serving

Inputs are parquet/JSON paths instead of BigQuery/GCS handles — the job
semantics (SURVEY.md §3) are identical.
"""

from __future__ import annotations

import argparse
import datetime as dt
import sys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="taar_gcp_etl_spark")
    sub = parser.add_subparsers(dest="job", required=True)

    p = sub.add_parser("guid_ranking")
    p.add_argument("--input", required=True)
    p.add_argument("--date", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--top-k", type=int, default=None)

    p = sub.add_parser("amowhitelist")
    p.add_argument("--catalog", required=True, help="catalog parquet/json path")
    p.add_argument("--out", required=True)

    p = sub.add_parser("update_whitelist")
    p.add_argument("--editorial", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--allow-shortlist", action="store_true")

    p = sub.add_parser("profile_serving")
    p.add_argument("--clients", required=True)
    p.add_argument("--date", required=True)
    p.add_argument("--serving", required=True)
    p.add_argument("--sample-rate", type=float, default=1.0)

    p = sub.add_parser("locale_top")
    p.add_argument("--clients", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--top-k", type=int, default=10)

    p = sub.add_parser(
        "amodump",
        help="catalog ingestion: raw addon JSON + recorded versions-endpoint"
        " fetches (url,status,body) -> extended_addons_database artifact",
    )
    p.add_argument("--raw", required=True, help="raw addon records, one JSON per line")
    p.add_argument(
        "--versions",
        required=True,
        help="recorded versions fetches: parquet/json with url,status,body",
    )
    p.add_argument("--out", required=True)

    p = sub.add_parser(
        "clean_corpus",
        help="training-corpus cleaning: language -> quality -> exact dedup"
        " -> LSH near-dup, writes cleaned parquet + attrition report JSON",
    )
    p.add_argument("--sf-dir", required=True, help="dir with documents.parquet")
    p.add_argument("--out", required=True, help="cleaned corpus parquet dir")
    p.add_argument("--report", required=True, help="attrition report JSON path")
    p.add_argument("--lang", default="en")
    p.add_argument("--jaccard", type=float, default=0.5)
    p.add_argument(
        "--near-dup-mode",
        choices=["greedy", "components"],
        default="greedy",
        help="greedy: drop doc_b of each pair; components: connected-"
        "component closure, keep one canonical doc per cluster",
    )

    p = sub.add_parser(
        "build_training_set",
        help="end-to-end training set: clean -> tokenize (corpus vocab) ->"
        " pack into fixed-length sequences -> range-sharded parquet +"
        " manifest JSON",
    )
    p.add_argument("--sf-dir", required=True, help="dir with documents.parquet")
    p.add_argument("--out", required=True, help="output dir (packed/ + vocab/)")
    p.add_argument("--manifest", required=True, help="manifest JSON path")
    p.add_argument("--seq-len", type=int, default=2048)
    p.add_argument("--vocab-size", type=int, default=1000)
    p.add_argument("--shards", type=int, default=8)
    p.add_argument("--lang", default="en")
    p.add_argument(
        "--near-dup-mode", choices=["greedy", "components"], default="greedy"
    )
    p.add_argument(
        "--shuffle-docs",
        action="store_true",
        help="pack in deterministic pseudo-random (hash) order instead of"
        " doc_id order — de-correlates domain-ordered crawls",
    )

    p = sub.add_parser(
        "build_index",
        help="incremental-ingest index build: digest + MinHash-band index"
        " over an already-deduped corpus (prefix-partitioned parquet)",
    )
    p.add_argument("--corpus", required=True, help="deduped corpus parquet")
    p.add_argument("--index", required=True, help="index output dir")

    p = sub.add_parser(
        "ingest_batch",
        help="incremental ingest: dedupe a new document batch against the"
        " index (exact + near-dup), append survivors + index rows",
    )
    p.add_argument("--batch", required=True, help="new batch parquet")
    p.add_argument("--index", required=True, help="index dir")
    p.add_argument("--out", required=True, help="accepted docs parquet dir")
    p.add_argument("--report", required=True, help="attrition JSON path")
    p.add_argument(
        "--no-index-update",
        action="store_true",
        help="probe only: do not append accepted docs to the index",
    )

    p = sub.add_parser(
        "compact_index",
        help="incremental-ingest index maintenance: rewrite any pfx"
        " partition fragmented past the file bound (in-place,"
        " crash-safe rename swap)",
    )
    p.add_argument("--index", required=True, help="index dir")
    p.add_argument(
        "--max-files",
        type=int,
        default=8,
        help="files-per-partition bound above which a partition compacts",
    )

    args = parser.parse_args(argv)

    from taar_gcp_etl_spark.session import get_spark

    # only stop a session this process created: under getOrCreate an
    # embedding host (tests, a notebook) may own the active session, and
    # stopping it out from under the host breaks every later query
    from pyspark.sql import SparkSession

    pre_existing = SparkSession.getActiveSession() is not None
    # the one clock read: every job takes its run date as a value, so tests
    # and backfills can pass any other day
    today = dt.date.today()
    spark = get_spark(app_name=f"taar-{args.job}")
    try:
        if args.job == "guid_ranking":
            from taar_gcp_etl_spark.jobs import guid_ranking

            guid_ranking.run(
                spark.read.parquet(args.input),
                args.date,
                args.out,
                artifact_date=today,
                k=args.top_k,
            )
        elif args.job == "amowhitelist":
            from taar_gcp_etl_spark.jobs import amowhitelist

            reader = (
                spark.read.parquet
                if args.catalog.endswith(".parquet")
                else spark.read.json
            )
            amowhitelist.run(reader(args.catalog), args.out, date=today)
        elif args.job == "update_whitelist":
            from taar_gcp_etl_spark.jobs import update_whitelist

            update_whitelist.run(
                spark.read.json(args.editorial),
                args.out,
                date=today,
                allow_shortlist=args.allow_shortlist,
            )
        elif args.job == "profile_serving":
            from taar_gcp_etl_spark.jobs.profile_serving import (
                build_profiles,
                write_serving,
            )

            profiles = build_profiles(
                spark.read.parquet(args.clients), args.date, args.sample_rate
            )
            write_serving(profiles, args.serving)
        elif args.job == "locale_top":
            from taar_gcp_etl_spark.jobs import locale_top

            locale_top.run(
                spark.read.parquet(args.clients),
                args.out,
                k=args.top_k,
                date=today,
            )
        elif args.job == "clean_corpus":
            import json as _json

            from taar_gcp_etl_spark.jobs import clean_corpus

            cleaned, report = clean_corpus.run(
                spark,
                args.sf_dir,
                target_lang=args.lang,
                jaccard_threshold=args.jaccard,
                near_dup_mode=args.near_dup_mode,
            )
            cleaned.write.mode("overwrite").parquet(args.out)
            stages = {r.stage: r["count"] for r in report.collect()}
            with open(args.report, "w") as fh:
                _json.dump(stages, fh, sort_keys=True)
        elif args.job == "build_training_set":
            from taar_gcp_etl_spark.jobs import build_training_set

            build_training_set.run(
                spark,
                args.sf_dir,
                args.out,
                args.manifest,
                seq_len=args.seq_len,
                vocab_size=args.vocab_size,
                n_shards=args.shards,
                target_lang=args.lang,
                near_dup_mode=args.near_dup_mode,
                shuffle_docs=args.shuffle_docs,
            )
        elif args.job == "build_index":
            from taar_gcp_etl_spark.jobs import incremental_ingest

            incremental_ingest.build_corpus_index(
                spark.read.parquet(args.corpus), args.index
            )
        elif args.job == "ingest_batch":
            import json as _json

            from taar_gcp_etl_spark.jobs import incremental_ingest

            accepted, report = incremental_ingest.ingest_batch(
                spark,
                spark.read.parquet(args.batch),
                args.index,
                update_index=not args.no_index_update,
            )
            accepted.write.mode("overwrite").parquet(args.out)
            with open(args.report, "w") as fh:
                _json.dump(report, fh, sort_keys=True)
        elif args.job == "compact_index":
            from taar_gcp_etl_spark.jobs import incremental_ingest

            result = incremental_ingest.compact_index(
                spark, args.index, max_files_per_partition=args.max_files
            )
            print(
                {
                    sub_idx: len(parts)
                    for sub_idx, parts in result.items()
                }
            )
        elif args.job == "amodump":
            from taar_gcp_etl_spark.jobs import amodump

            raw = spark.read.text(args.raw).withColumnRenamed("value", "raw")
            reader = (
                spark.read.parquet
                if args.versions.endswith(".parquet")
                else spark.read.json
            )
            amodump.run_end_to_end(
                raw, reader(args.versions), args.out, date=today
            )
    finally:
        if not pre_existing:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
