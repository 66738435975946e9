"""Data layout for scan efficiency: Z-order clustering, per-file zone
maps (min/max column stats in the transaction manifest), and
stats-pruned scans.

Why it matters at 100 TB: Catalyst already pushes predicates into the
parquet reader, but the reader must still OPEN every file to consult its
row-group stats — at 100 TB that is millions of footer reads per query.
A table format keeps per-FILE min/max in the commit manifest, so a
selective scan plans over metadata and never touches the disjoint
files; and the skipping is only as good as the layout — randomly
distributed values give every file the full value range (zone maps
prune nothing), while Z-ORDER clustering gives each file a compact
hyper-rectangle of the clustered columns, so single-column AND
multi-column range predicates both prune. This module is the engine's
version of Delta ``OPTIMIZE ZORDER BY`` / Iceberg metrics pruning,
composed with txn.py's manifest-swap commit:

* ``zorder_key``        — interleaved-bit key over N columns; each
  column is first mapped to a 2^bits-bucket QUANTILE rank (skew-robust,
  unlike linear min-max scaling) via approxQuantile boundaries — a
  driver-bounded (2^bits - 1 cut points per column) one-pass sample.
  The rank→interleave arithmetic is pure Column expressions (shift/or
  unrolled ``bits`` times per column), JVM-side, codegen-friendly.
* ``commit_clustered``  — range-repartition on the z-key (one shuffle,
  the clustering pass), write ``n_files`` compact files, collect zone
  maps DISTRIBUTEDLY (one read-back aggregation grouped by
  input_file_name — one result row per file, the same O(files)
  metadata any table format's manifest carries), publish atomically
  through the txn CAS (pluggable publisher seam included).
* ``scan_pruned``       — plan a scan over only the files whose zone
  maps intersect the predicate, then re-apply the predicate as a
  residual filter (zone maps are necessarily coarse); correctness is
  therefore independent of the stats, which only ever REMOVE provably
  disjoint files.
* ``prune_report``      — kept/total file counts for a predicate, the
  observability hook the pruning tests assert on.
* ``collect_file_blooms`` — per-file Bloom filters for EQUALITY pruning
  on high-cardinality columns zone maps can't serve (an unclustered
  id's min/max spans every file; its bloom hits only the files holding
  it). Hash is md5-over-string-form so membership is checkable
  driver-side in Python at plan time — pruning stays metadata-only —
  and restricted to string/integral columns whose string forms are
  JVM/Python-stable (a mismatch would false-skip; unstable-typed
  predicate values simply bypass the bloom).

Scale posture: the clustering pass is one range shuffle of the
committed data (AQE-compatible); stats collection is a second pass over
the just-written files with columns pruned to the stats set; manifests
grow O(files × stats_cols), the standard table-format trade. Nothing
here collects unbounded data to the driver: approxQuantile cut points
(≤ (2^bits-1) per column) and one stats row per file are the only
driver-side artifacts.

Reference parity: the reference's BigQuery tables get clustering +
block pruning from the warehouse (`cluster_by` on its CTAS jobs'
destination tables); this is the Spark-native equivalent over parquet.
"""

from __future__ import annotations

import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from taar_gcp_etl_spark import txn

_NUMERICISH = ("int", "bigint", "smallint", "tinyint", "float", "double",
               "decimal", "date", "timestamp")


def _as_double(c: str, dtype: str) -> Column:
    """Project a clusterable column onto the real line for quantile
    bucketing. Numeric casts directly; date/timestamp through their
    epoch representation; strings through a MONOTONIC 7-byte-prefix
    integer (base-256 digits of the first 7 bytes — preserves
    lexicographic order exactly at double precision, so string range
    predicates prune against string zone maps; ties beyond the prefix
    just share a bucket, which costs selectivity, never correctness)."""
    base = dtype.split("(")[0]
    if base == "date":
        return F.unix_date(F.col(c)).cast("double")
    if base.startswith("timestamp"):
        return F.unix_micros(F.col(c).cast("timestamp")).cast("double")
    if base in ("string", "varchar", "char"):
        # base-256 integer of the first 6 UTF-8 bytes: 48 bits, exactly
        # representable in a double, and MONOTONIC w.r.t. Spark's string
        # order (UTF8String compares bytewise; UTF-8 byte order equals
        # code-point order). Strings sharing a 6-byte prefix tie into
        # one bucket — costs selectivity, never correctness (zone maps
        # keep the true min/max STRINGS; the residual filter re-applies).
        b = F.encode(F.col(c), "UTF-8")
        acc = F.lit(0.0)
        for k in range(6):
            byte = F.coalesce(
                F.conv(F.hex(F.substring(b, k + 1, 1)), 16, 10).cast(
                    "double"
                ),
                F.lit(0.0),
            )
            acc = acc * 256.0 + byte
        return acc
    if any(base.startswith(n) for n in _NUMERICISH):
        return F.col(c).cast("double")
    raise ValueError(
        f"zorder column {c!r} has unsupported type {dtype!r}: cluster on "
        "numeric/date/timestamp/string columns"
    )


def zorder_key(
    df: DataFrame, cols: list[str], bits: int = 8
) -> tuple[DataFrame, str]:
    """Append an interleaved-bit Z-order key column over ``cols``.

    Each column is bucketed to its 2^bits quantile rank: boundaries come
    from one approxQuantile pass (driver receives ≤ 2^bits - 1 doubles
    per column — bounded), and the rank is ``size(filter(boundaries,
    b -> b <= x))`` — a higher-order function over a tiny literal array,
    evaluated JVM-side. Quantile ranks make the clustering skew-robust:
    a heavy-hitter value occupies many buckets' worth of rows but the
    rank mapping still spreads the REST of the domain evenly, where
    linear min-max scaling would crush it into one bucket.

    Bit interleave: z = Σ_b Σ_i ((rank_i >> b) & 1) << (b·N + i) —
    unrolled into bits × N shift/or Column ops (N = len(cols)), all
    inside whole-stage codegen. Returns (df_with_key, key_col_name).
    """
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    dtypes = dict(df.dtypes)
    n = len(cols)
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    key = f"_z_{uuid.uuid4().hex[:6]}"

    tmp_cols = {c: f"{key}_d{i}" for i, c in enumerate(cols)}
    proj = df
    for c in cols:
        proj = proj.withColumn(tmp_cols[c], _as_double(c, dtypes[c]))
    # one pass for every column's boundaries (approxQuantile batches)
    all_cuts = proj.stat.approxQuantile(
        [tmp_cols[c] for c in cols], probs, 0.005
    )
    ranks = []
    top = (1 << bits) - 1
    for c, cuts in zip(cols, all_cuts):
        # dedupe keeps the filter array minimal under low-cardinality
        # cols — then RESCALE the raw rank (0..len(uniq)) back onto the
        # full 0..2^bits-1 domain: without it a 20-value column's ranks
        # never touch the high bits and the interleave silently demotes
        # it below its continuous co-columns
        uniq = sorted(set(cuts))
        arr = F.array(*[F.lit(v) for v in uniq])
        x = F.col(tmp_cols[c])
        raw = F.size(F.filter(arr, lambda b: b <= x))
        scaled = F.round(raw * F.lit(top / max(len(uniq), 1))).cast("long")
        rank = F.when(
            x.isNull(), F.lit(top)  # nulls cluster together, last
        ).otherwise(F.least(scaled, F.lit(top)))
        ranks.append(rank.cast("long"))

    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, rank in enumerate(ranks):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(rank, b).bitwiseAND(F.lit(1)), b * n + i
                )
            )
    out = proj.withColumn(key, z).drop(*tmp_cols.values())
    return out, key


def write_clustered(
    df: DataFrame,
    path: str,
    zorder_by: list[str],
    n_files: int = 16,
    bits: int = 8,
) -> None:
    """Write ``df`` as ``n_files`` Z-clustered parquet files: one range
    shuffle on the z-key (contiguous z-ranges per output file → compact
    per-file hyper-rectangles in the clustered columns), sorted within
    each file so parquet row-group stats are tight too."""
    keyed, key = zorder_key(df, zorder_by, bits=bits)
    (
        keyed.repartitionByRange(n_files, F.col(key))
        .sortWithinPartitions(key)
        .drop(key)
        .write.mode("overwrite")
        .parquet(path)
    )


_RG_SLICE_MIN_ROWS = 1024  # auto-sizing floor: tiny files get one slice
_RG_SLICE_MAX_PER_FILE = 512  # manifest-size cap under skewed file sizes


def _path_tail(s: str) -> str:
    """Scheme- and leading-slash-insensitive form of a path/URI, so a
    marker match survives the reader reporting "file:///x" (or
    "s3a://bucket/x") for a table dir passed as "/x" / "file:/x" —
    the seam that keeps manifests portable across filesystems (pure
    function; pinned by tests over file:/, file:///, s3a:// shapes)."""
    import re

    return re.sub(r"^[A-Za-z][A-Za-z0-9+.-]*:/*", "", s).lstrip("/")


def _rel_name(uri: str, marker: str) -> str:
    """File name relative to the snapshot dir whose scheme-stripped
    path + "/" is ``marker`` (keeps hive-partition subdirs like
    _bucket=N/ for bucketed layouts; plain layouts reduce to the
    basename; unmatched markers fall back to the basename rather than
    leaking an absolute local path into the manifest)."""
    u = _path_tail(uri)
    return u.split(marker, 1)[1] if marker in u else uri.rsplit("/", 1)[1]


def collect_file_stats(
    spark: SparkSession,
    path: str,
    stats_cols: list[str],
    row_groups: bool = False,
    slice_rows: int | None = None,
) -> list[dict]:
    """Zone maps for every parquet file under ``path``: one DISTRIBUTED
    aggregation grouped by the file-source ``_metadata`` column — the
    collect is bounded at one row per file (+ one per row-group slice,
    below), the same O(files) metadata every table format's manifest
    carries. min/max ignore nulls (SQL agg semantics), which is exactly
    what makes comparison-predicate pruning sound: a predicate can only
    match non-null values, so non-null extrema are the right envelope
    and an all-null file (null stats) is provably disjoint from any
    comparison.

    ``row_groups=True`` additionally records per-slice min/max as
    ``row_groups: [{rows, stats}]`` on each entry, where a slice is
    ``slice_rows`` consecutive rows by the file's own row order
    (``_metadata.row_index``). ``slice_rows=None`` (default) sizes
    slices automatically at ~1/8 of the MEDIAN file's rows (floor
    1024, one zero-column count pass over the just-written dir); pass
    an explicit value when the caller already knows the rolled file
    size (the CDC path derives it from the sticky target_file_rows —
    that path pays NO extra scan). Either way no file's manifest entry
    exceeds ``_RG_SLICE_MAX_PER_FILE`` slices (ADVICE r8): the auto
    path folds the cap into the slice size, the explicit path merges
    ADJACENT over-cap slices after the rollup (exact envelope unions —
    _merge_adjacent_slices), so a stale sticky cluster_rows against a
    compacted giant can no longer bloat the manifest. The transient
    rollup collect on the explicit path is bounded by
    rows/slice_rows, pathological only under that same staleness and
    never persisted.
    This gives the prune cost gate sub-file
    selectivity for big bucket-locally-sorted files whose file-level
    envelope is wide but whose slices are narrow. Both granularities
    come from the SAME single rollup pass over the just-written data —
    no parquet footer is ever opened, so (r8, closing the r7 gap) the
    stats survive object storage exactly like the file-level ones: the
    old implementation re-opened each file via a LOCAL-path pyarrow
    footer read, which silently degraded to file-level stats on any
    non-local filesystem. Slices are exact data-computed envelopes, so
    string/timestamp columns participate too (the footer path had to
    exclude binary-backed columns against writer truncation) and there
    is no tz-normalization seam. Soundness does not depend on slices
    aligning with PHYSICAL parquet row groups: slices partition the
    file, so "every slice disjoint" still proves the file has no
    matching rows, and the residual pushed onto the base scan lets the
    parquet reader do its own native row-group skipping inside kept
    files.

    A dir holding no data file (a rewrite whose rows were all retired)
    has no file to describe: ``[]``."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        return []
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in stats_cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]

    def entry_of(r) -> dict:
        stats = {}
        for c in stats_cols:
            stats[c] = [_jsonable(r[f"_min_{c}"]), _jsonable(r[f"_max_{c}"])]
        return {"rows": r["_rows"], "stats": stats}

    marker = _path_tail(path.rstrip("/")) + "/"

    def rel_name(uri: str) -> str:
        return _rel_name(uri, marker)

    if not row_groups:
        rows = (
            df.withColumn("_file", F.col("_metadata.file_path"))
            .groupBy("_file")
            .agg(*aggs)
            .collect()
        )
        out = [
            {"file": rel_name(r["_file"]), **entry_of(r)} for r in rows
        ]
        return sorted(out, key=lambda d: d["file"])

    if slice_rows is None:
        counts = sorted(
            r[1]
            for r in df.groupBy(
                F.col("_metadata.file_path")
            ).count().collect()
        )
        med = counts[len(counts) // 2] if counts else 0
        # ~8 slices for the median file, floored so tiny files get one
        # slice, and bounded so a single skewed giant (one compaction
        # output among small files) cannot explode the manifest with
        # tens of thousands of slice entries (review fix)
        slice_rows = max(
            _RG_SLICE_MIN_ROWS,
            med // 8,
            -(-counts[-1] // _RG_SLICE_MAX_PER_FILE) if counts else 0,
        )
    else:
        # the EXPLICIT path (ADVICE r8 clamp) does NOT pay a second
        # scan for file counts (review fix: the CDC apply path passes
        # slice_rows on every commit and deliberately avoids that
        # pass): slices over the cap are merged ADJACENTLY after the
        # rollup instead — envelope unions of consecutive slices are
        # exact envelopes of the concatenated rows, so the manifest
        # stays bounded at _RG_SLICE_MAX_PER_FILE entries per file
        # either way
        slice_rows = max(int(slice_rows), 1)
    rows = (
        df.select(
            F.col("_metadata.file_path").alias("_file"),
            F.floor(F.col("_metadata.row_index") / slice_rows).alias(
                "_slice"
            ),
            *[F.col(c) for c in stats_cols],
        )
        .rollup("_file", "_slice")
        .agg(*aggs, F.grouping("_file").alias("_gf"),
             F.grouping("_slice").alias("_gs"))
        .filter(F.col("_gf") == 0)  # drop the grand-total row
        .collect()
    )
    files: dict[str, dict] = {}
    slices: dict[str, list] = {}
    for r in rows:
        name = rel_name(r["_file"])
        if r["_gs"] == 1:  # file-level rollup row
            files[name] = {"file": name, **entry_of(r)}
        else:
            slices.setdefault(name, []).append((r["_slice"], entry_of(r)))
    out = []
    for name in sorted(files):
        e = files[name]
        e["row_groups"] = _merge_adjacent_slices(
            [
                s
                for _, s in sorted(
                    slices.get(name, []), key=lambda t: t[0]
                )
            ],
            _RG_SLICE_MAX_PER_FILE,
        )
        out.append(e)
    return out


def _merge_adjacent_slices(entries: list[dict], max_n: int) -> list[dict]:
    """Cap a file's slice list at ``max_n`` by merging ADJACENT slices:
    rows add, per-column envelopes union (min/max over the jsonable
    forms — numbers compare numerically, date/timestamp isoformat
    strings compare chronologically, None is the all-null slice and is
    skipped like SQL aggregation does). Adjacency keeps the merged
    envelope narrow under the bucket-local stats sort: consecutive
    slices cover consecutive value ranges, so a union of neighbors is
    the tightest union available without re-scanning."""
    if len(entries) <= max_n:
        return entries
    group = -(-len(entries) // max_n)
    out = []
    for i in range(0, len(entries), group):
        chunk = entries[i : i + group]
        stats: dict = {}
        for col in chunk[0]["stats"]:
            los = [
                c["stats"][col][0]
                for c in chunk
                if c["stats"][col][0] is not None
            ]
            his = [
                c["stats"][col][1]
                for c in chunk
                if c["stats"][col][1] is not None
            ]
            stats[col] = [
                min(los) if los else None,
                max(his) if his else None,
            ]
        out.append(
            {"rows": sum(c["rows"] for c in chunk), "stats": stats}
        )
    return out


def _bloom_positions_col(c: str, m_bits: int, k: int):
    """k bit positions for a value, as a Column — md5 over the value's
    string form + a seed suffix, so the SAME positions are computable
    driver-side in Python at plan time (hashlib.md5) without a Spark
    job: bloom pruning stays a metadata-only decision like zone maps.
    String casts are stable for the supported types (string/integral)."""
    return F.array_distinct(
        F.array(
            *[
                F.pmod(
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col(c).cast("string"),
                                    F.lit(f"#{s}"),
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(m_bits),
                )
                for s in range(k)
            ]
        )
    )


def _bloom_positions_py(v, m_bits: int, k: int) -> list[int]:
    import hashlib

    return [
        int(hashlib.md5(f"{v}#{s}".encode()).hexdigest()[:15], 16) % m_bits
        for s in range(k)
    ]


def collect_file_blooms(
    spark: SparkSession,
    path: str,
    cols: list[str],
    m_bits: int = 1 << 16,
    k: int = 5,
) -> dict:
    """Per-file Bloom filters for equality pruning on HIGH-CARDINALITY
    columns — the case zone maps can't serve: an unclustered id's
    min/max spans every file, but its bloom hits only the files that
    actually contain it (the Parquet column-bloom / Iceberg puffin
    idea, lifted to table metadata so the check is driver-side and
    footer-free). One distributed pass per column: explode the k bit
    positions, collect the distinct set per file (bounded by m_bits),
    pack to a raw bitmap. m_bits sizes the false-positive rate:
    ~n*k/m_bits bit load per file — 64Kbit ≈ 8 KB/file/column is good
    to ~10k distinct values/file at k=5; size UP with rows/file (the
    sf1 soak measured the 64Kbit default saturating at 23k
    distinct/file, keeping 43% of files on pure false positives)."""
    df = spark.read.parquet(path).withColumn("_file", F.input_file_name())
    out: dict[str, dict[str, bytes]] = {}
    for c in cols:
        rows = (
            df.filter(F.col(c).isNotNull())
            .select(
                "_file",
                F.explode(_bloom_positions_col(c, m_bits, k)).alias("_p"),
            )
            .groupBy("_file")
            .agg(F.collect_set("_p").alias("_ps"))
            .collect()
        )
        for r in rows:
            bm = bytearray(m_bits // 8)
            for p in r["_ps"]:
                bm[p >> 3] |= 1 << (p & 7)
            name = r["_file"].rsplit("/", 1)[1]
            out.setdefault(name, {})[c] = bytes(bm)
    return out


def _write_bloom_sidecar(
    spark: SparkSession,
    table_dir: str,
    version: int,
    token: str,
    blooms: dict,
    m_bits: int,
    k: int,
) -> dict:
    """Write the bitmaps as ONE binary sidecar under data/ (zlib per
    bitmap, offset-indexed) and return the manifest's ``blooms_ref``.

    Why a sidecar and not inline manifest JSON: the sf1 soak measured a
    256-file x 1Mbit bloom set inflating the manifest to ~44 MB of
    base64 — parsed on EVERY plan, making the pruned scan 15x slower
    than the plain scan it was meant to beat. The manifest must stay
    O(files) small; bloom bytes load only when an eligible equality
    predicate actually consults them (and then once, cached — sidecars
    are immutable, uuid-named). Living under data/ beside the snapshot
    dirs, the sidecar shares vacuum's referenced-or-deleted lifecycle
    and grace window."""
    import zlib

    from taar_gcp_etl_spark import txn

    blob = bytearray()
    index: dict[str, dict[str, list[int]]] = {}
    for fname in sorted(blooms):
        for c, bm in sorted(blooms[fname].items()):
            comp = zlib.compress(bm, 6)
            index.setdefault(fname, {})[c] = [len(blob), len(comp)]
            blob += comp
    rel = f"data/v{version:010d}-{token}.bloom"
    txn._write_bytes(spark, f"{table_dir}/{rel}", bytes(blob))
    return {"path": rel, "m_bits": m_bits, "k": k, "index": index}


# sidecar blobs are immutable (uuid-token names): cache the last few so
# a repeated-probe planning loop pays the read once
_BLOOM_CACHE: dict[str, bytes] = {}
_BLOOM_CACHE_MAX = 4


def _read_bloom_sidecar(spark: SparkSession, abs_path: str) -> bytes:
    from taar_gcp_etl_spark import txn

    if abs_path not in _BLOOM_CACHE:
        if len(_BLOOM_CACHE) >= _BLOOM_CACHE_MAX:
            _BLOOM_CACHE.pop(next(iter(_BLOOM_CACHE)))
        _BLOOM_CACHE[abs_path] = txn._read_bytes(spark, abs_path)
    return _BLOOM_CACHE[abs_path]


def _bloom_maybe_contains(bm: bytes, v, m_bits: int, k: int) -> bool:
    return all(
        bm[p >> 3] & (1 << (p & 7))
        for p in _bloom_positions_py(v, m_bits, k)
    )


def _jsonable(v):
    import datetime

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def _from_jsonable(v, dtype: str):
    import datetime

    base = dtype.split("(")[0]
    if v is None:
        return None
    if base == "date":
        return datetime.date.fromisoformat(v)
    if base.startswith("timestamp"):
        return datetime.datetime.fromisoformat(v)
    return v


def commit_clustered(
    df: DataFrame,
    table_dir: str,
    zorder_by: list[str],
    n_files: int = 16,
    stats_cols: list[str] | None = None,
    bits: int = 8,
    epoch_id: int | None = None,
    max_attempts: int = 5,
    bloom_cols: list[str] | None = None,
    bloom_m_bits: int = 1 << 16,
    bloom_k: int = 5,
    slice_rows: int | None = None,
) -> int | None:
    """Commit ``df`` as the table's next version, Z-clustered on
    ``zorder_by`` with per-file zone maps for ``stats_cols`` (defaults
    to the zorder columns) recorded in the manifest — at file AND
    row-group-slice granularity (``slice_rows`` rows per slice; size it
    ~1/8 of the expected file rows so mid-selectivity probes can prune
    inside files whose envelope is wide). The snapshot is written
    clustered into a fresh dir and published through txn's manifest
    CAS: a replayed ``epoch_id`` is skipped before any write, a commit
    that loses its version slot re-reads the log and retries, and the
    additive-only schema evolution contract applies. The manifest
    carries the ``files`` list scan_pruned plans against."""
    spark = df.sparkSession
    table_dir = table_dir.rstrip("/")
    stats_cols = list(stats_cols or zorder_by)
    dtypes = dict(df.dtypes)
    for c in bloom_cols or []:
        base = dtypes[c].split("(")[0]
        if base not in ("string", "varchar", "char", "int", "bigint",
                        "smallint", "tinyint"):
            raise ValueError(
                f"bloom column {c!r} has type {dtypes[c]!r}: blooms "
                "support string/integral columns (float string forms "
                "differ between JVM and Python and would false-skip)"
            )
    token = uuid.uuid4().hex[:8]
    for _ in range(max_attempts):
        man = txn.latest_manifest(spark, table_dir)
        if epoch_id is not None and man is not None:
            last = man.get("epoch_id")
            if last is not None and epoch_id <= last:
                return None
        fields = txn._schema_fields(df)
        txn.check_schema_evolution(
            man.get("schema") if man else None, fields
        )
        version = (man["version"] if man else 0) + 1
        snap_rel = f"data/v{version:010d}-{token}"
        snap_abs = f"{table_dir}/{snap_rel}"
        write_clustered(df, snap_abs, zorder_by, n_files=n_files, bits=bits)
        manifest = {
            "version": version,
            "snapshot": snap_rel,
            "epoch_id": epoch_id,
            "parent": man["version"] if man else None,
            "schema": fields,
            "clustered_by": zorder_by,
            "stats_types": {c: dtypes[c] for c in stats_cols},
            "files": collect_file_stats(
                spark, snap_abs, stats_cols, row_groups=True,
                slice_rows=slice_rows,
            ),
        }
        if bloom_cols:
            manifest["blooms_ref"] = _write_bloom_sidecar(
                spark,
                table_dir,
                version,
                token,
                collect_file_blooms(
                    spark, snap_abs, bloom_cols, bloom_m_bits, bloom_k
                ),
                bloom_m_bits,
                bloom_k,
            )
        if txn._publish_manifest(spark, table_dir, manifest, token):
            return version
    raise RuntimeError(
        f"commit_clustered: gave up after {max_attempts} version conflicts "
        f"on {table_dir}"
    )


# ---------------------------------------------------------------------------
# Stats-pruned scans
# ---------------------------------------------------------------------------

_OPS = ("<", "<=", ">", ">=", "=", "between", "in")


def _overlaps(lo, hi, op, val) -> bool:
    """Could a file with [lo, hi] column extrema contain a row matching
    ``col op val``? Conservative: unknown stats keep the file. All-null
    stats (lo is hi is None with rows present) cannot match a comparison
    — SQL comparisons never match null — so the file is skipped."""
    if lo is None and hi is None:
        return False  # only nulls in this file: no comparison matches
    if op == "<":
        return lo < val
    if op == "<=":
        return lo <= val
    if op == ">":
        return hi > val
    if op == ">=":
        return hi >= val
    if op == "=":
        return lo <= val <= hi
    if op == "between":
        vlo, vhi = val
        return not (hi < vlo or lo > vhi)
    if op == "in":
        return any(lo <= v <= hi for v in val)
    raise ValueError(f"unsupported op {op!r} (supported: {_OPS})")


def _residual(filters: list[tuple]) -> Column:
    cond = F.lit(True)
    for c, op, val in filters:
        col = F.col(c)
        if op == "between":
            cond = cond & col.between(val[0], val[1])
        elif op == "in":
            cond = cond & col.isin(list(val))
        elif op == "=":
            cond = cond & (col == val)
        else:
            cond = cond & {
                "<": col < val,
                "<=": col <= val,
                ">": col > val,
                ">=": col >= val,
            }[op]
    return cond


def prune_report(
    spark: SparkSession,
    table_dir: str,
    filters: list[tuple],
    version: int | None = None,
) -> dict:
    """Metadata-only pruning decision for ``filters`` (list of
    ``(col, op, value)`` with op in <, <=, >, >=, =, between, in): which of
    the snapshot's files can be skipped by zone maps alone. No data is
    read — this is the planning step scan_pruned executes."""
    man = (
        txn.latest_manifest(spark, table_dir)
        if version is None
        else txn.read_manifest(spark, table_dir, version)
    )
    if man is None or "files" not in man:
        raise ValueError(
            f"{table_dir} has no zone-map manifest (commit with "
            "commit_clustered first)"
        )
    types = man.get("stats_types", {})
    bref = man.get("blooms_ref")
    legacy = man.get("blooms")  # inline pre-sidecar manifests

    def bloom_bits(fname: str, c: str) -> tuple[bytes, int, int] | None:
        """(raw bitmap, m_bits, k) for (file, col), or None if
        untracked. Sidecar blob loads lazily on FIRST consult —
        range-only plans never read it — and is sliced per entry (zlib
        per bitmap). Manifests written before the sidecar change carry
        the bitmaps inline (base64): still honored, so existing tables
        keep their bloom pruning."""
        import zlib

        if bref is not None:
            ent = bref["index"].get(fname, {}).get(c)
            if ent is None:
                return None
            blob = _read_bloom_sidecar(
                spark, f"{table_dir.rstrip('/')}/{bref['path']}"
            )
            off, ln = ent
            return (
                zlib.decompress(blob[off : off + ln]),
                bref["m_bits"],
                bref["k"],
            )
        if legacy is not None:
            import base64

            b64 = legacy.get("files", {}).get(fname, {}).get(c)
            if b64 is None:
                return None
            return (
                base64.b64decode(b64), legacy["m_bits"], legacy["k"]
            )
        return None

    def zone_overlaps(stats: dict) -> bool:
        for c, op, val in filters:
            if c not in stats:
                continue
            lo = _from_jsonable(stats[c][0], types.get(c, ""))
            hi = _from_jsonable(stats[c][1], types.get(c, ""))
            if not _overlaps(lo, hi, op, val):
                return False
        return True

    kept, skipped = [], []
    total_rows = kept_rows = 0
    for entry in man["files"]:
        total_rows += entry.get("rows", 0)
        keep = zone_overlaps(entry["stats"])
        if keep:
            for c, op, val in filters:
                # bloom check: equality on a bloom-tracked column, with
                # a value whose string form is JVM/Python-stable
                if (
                    op == "="
                    and isinstance(val, (str, int))
                    and not isinstance(val, bool)
                ):
                    hit = bloom_bits(entry["file"], c)
                    if hit is not None and not _bloom_maybe_contains(
                        hit[0], val, hit[1], hit[2]
                    ):
                        keep = False
                        break
        rg_rows = entry.get("rows", 0)
        if keep and entry.get("row_groups"):
            # row-group granularity (r7): a Z-sorted file's envelope
            # may overlap while no row group does — drop it outright;
            # otherwise count only overlapping groups (the honest IO
            # estimate: scan_pruned's residual pushdown makes the
            # reader skip the rest via the same footer stats)
            rg_rows = sum(
                g["rows"]
                for g in entry["row_groups"]
                if zone_overlaps(g["stats"])
            )
            if rg_rows == 0:
                keep = False
        if keep:
            kept_rows += rg_rows
        (kept if keep else skipped).append(entry["file"])
    return {
        "total_files": len(man["files"]),
        "kept_files": len(kept),
        "skipped_files": len(skipped),
        "total_rows": total_rows,
        "kept_rows": kept_rows,
        "kept": kept,
        "snapshot": man["snapshot"],
    }


def scan_pruned(
    spark: SparkSession,
    table_dir: str,
    filters: list[tuple],
    version: int | None = None,
) -> DataFrame:
    """Scan the table with file-level skipping: plan over the manifest's
    zone maps (prune_report), read only the intersecting files, and
    re-apply ``filters`` as a residual predicate (zone maps are coarse;
    the residual keeps correctness independent of stats quality — stats
    only ever remove files PROVABLY disjoint from the predicate). The
    residual also pushes into the parquet reader for row-group skipping
    within the kept files, so the two pruning layers compose."""
    rep = prune_report(spark, table_dir, filters, version=version)
    table_dir = table_dir.rstrip("/")
    snap_abs = f"{table_dir}/{rep['snapshot']}"
    if not rep["kept"]:
        return spark.read.parquet(snap_abs).filter(F.lit(False))
    paths = [f"{snap_abs}/{f}" for f in rep["kept"]]
    return spark.read.parquet(*paths).filter(_residual(filters))
