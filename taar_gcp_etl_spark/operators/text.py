"""Text-analysis operators (north-star surface, BASELINE.json).

All pure Column expressions over the `documents` table — whole-stage
codegen'd, no Python in the row path, embarrassingly parallel (no shuffle:
these are per-row maps, so they scale linearly with input splits).

The shared primitive is whitespace tokenization (functions.tokens). Hash
choices are md5-based so every operator has an exact DuckDB-oracle twin.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from taar_gcp_etl_spark.functions import token_ngrams, tokens

# Small closed-class stopword sets used by the quality/lang-id heuristics.
STOPWORDS_EN = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
STOPWORDS_DE = ("der", "die", "das", "und", "ist", "ein", "zu", "mit")


def _stop_ratio(toks: Column, stops: tuple[str, ...]) -> Column:
    hits = F.size(F.filter(toks, lambda t: t.isin(*stops)))
    return hits / F.size(toks)


def stopword_language(toks: Column) -> tuple[Column, Column, Column]:
    """(score_en, score_de, predicted_lang) of a token-array column: the
    stopword-set hit ratio per candidate language, and their argmax with a
    deterministic tie-break toward 'en' ('und' when no set fires)."""
    en = _stop_ratio(toks, STOPWORDS_EN)
    de = _stop_ratio(toks, STOPWORDS_DE)
    lang = (
        F.when((en == 0) & (de == 0), "und")
        .when(en >= de, "en")
        .otherwise("de")
    )
    return en, de, lang


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting + quality scoring: whitespace token count, a BPE-ish
    subword count (runs of letters/digits/punctuation as separate units),
    character count, average token length, stopword ratio, punctuation
    ratio. One pass, one projection."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    # BPE-ish unit count: split on letter/digit/space boundaries so
    # punctuation and digit runs count as their own units.
    bpe_units = F.size(
        F.filter(
            F.split(
                F.regexp_replace(
                    F.lower(F.col(text_col)), r"([^a-z0-9\s]+|[0-9]+)", r" $1 "
                ),
                r"\s+",
            ),
            lambda t: t != "",
        )
    )
    return df.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        bpe_units.alias("n_units"),
        F.length(text_col).alias("n_chars"),
        F.round(F.length(text_col) / n_tokens, 6).alias("avg_token_len"),
        F.round(_stop_ratio(toks, STOPWORDS_EN), 6).alias("stopword_ratio"),
        F.round(
            F.coalesce(
                F.length(F.regexp_replace(text_col, r"[^.,!?;:]", ""))
                / F.length(text_col),
                F.lit(0.0),
            ),
            6,
        ).alias("punct_ratio"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", n: int = 3
) -> DataFrame:
    """Gopher/C4-style repetition signal: fraction of n-gram occurrences
    that are repeats of an earlier n-gram in the same document
    (1 - distinct/total). Boilerplate, template spam, and looping
    generations score high; clean prose scores near 0. Pure Column map —
    zero shuffle, linear in tokens (same 100 TB posture as text_stats).
    Documents shorter than n tokens score 0 over 0 grams → 0.0."""
    toks = df.select("doc_id", tokens(text_col).alias("_toks"))
    based = toks.select("doc_id", token_ngrams(F.col("_toks"), n).alias("_g"))
    # Two-stage select so array_distinct evaluates once (referencing the
    # same Column object twice in one projection still plans it twice).
    counted = based.select(
        "doc_id",
        F.size(F.col("_g")).alias("n_grams"),
        F.size(F.array_distinct(F.col("_g"))).alias("n_distinct_grams"),
    )
    return counted.select(
        "doc_id",
        "n_grams",
        "n_distinct_grams",
        F.round(
            F.when(
                F.col("n_grams") > 0,
                1 - F.col("n_distinct_grams") / F.col("n_grams"),
            ).otherwise(0.0),
            6,
        ).alias("repeat_ratio"),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID heuristic: stopword-set hit ratios per candidate language,
    argmax with deterministic tie-break toward 'en', 'und' (undetermined)
    when no set fires. N-gram/stopword scoring is the classic cheap lang-id;
    per-row map, no shuffle."""
    en, de, lang = stopword_language(tokens(text_col))
    return df.select(
        "doc_id",
        F.round(en, 6).alias("score_en"),
        F.round(de, 6).alias("score_de"),
        lang.alias("predicted_lang"),
    )


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Single-pass per-document text profile: the text_stats columns AND
    the language_id columns in one projection (r3 registry fold). Real
    corpus pipelines compute every per-doc text metric in the same scan —
    two separate passes over 100 TB just to split columns is the wrong
    plan — so the folded operator is also the one a user should reach for.
    Column-level fold, not a join: both operators' expressions are
    re-derived against the same tokenization so the plan stays one scan.
    Equivalence with the standalone operators is pinned in
    tests/test_consolidations.py. Pure Column map, zero shuffle."""
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    bpe_units = F.size(
        F.filter(
            F.split(
                F.regexp_replace(
                    F.lower(F.col(text_col)), r"([^a-z0-9\s]+|[0-9]+)", r" $1 "
                ),
                r"\s+",
            ),
            lambda t: t != "",
        )
    )
    en, de, lang = stopword_language(toks)
    return df.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        bpe_units.alias("n_units"),
        F.length(text_col).alias("n_chars"),
        F.round(F.length(text_col) / n_tokens, 6).alias("avg_token_len"),
        F.round(en, 6).alias("stopword_ratio"),
        F.round(
            F.coalesce(
                F.length(F.regexp_replace(text_col, r"[^.,!?;:]", ""))
                / F.length(text_col),
                F.lit(0.0),
            ),
            6,
        ).alias("punct_ratio"),
        F.round(en, 6).alias("score_en"),
        F.round(de, 6).alias("score_de"),
        lang.alias("predicted_lang"),
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    k: int = 4,
    window: int = 5,
) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken): hash every k-token shingle,
    slide a window of `window` hashes, keep each window's minimum — the
    selected set is a position-robust document sketch guaranteed to share
    hashes with any document overlapping by ≥ window+k-1 tokens. Output is
    one row per (doc_id, selected hash) — the inverted-index shape: a
    groupBy on the hash finds cross-document matches as an equi-join, not a
    pairwise comparison. Pure Column expressions; per-row map then explode."""
    from pyspark.sql import Window

    toks = df.select("doc_id", tokens(text_col).alias("_toks"))
    hashes = F.transform(token_ngrams(F.col("_toks"), k), lambda g: F.md5(g))
    # Sliding-window minimum via posexplode + frame min — NOT per-position
    # array slices (measured 38 s vs ~4 s at sf0.1: slice-in-transform is
    # interpreted and copies `window` elements per position; the window
    # frame runs in Tungsten). One shuffle on doc_id.
    #
    # The last-valid-position bound comes from max(pos) over the partition,
    # NOT from size(hashes): referencing the hash-array expression in a
    # post-explode filter lets Catalyst inline it per exploded row — the
    # whole document re-hashes for every shingle (measured 40 s).
    ex = toks.select("doc_id", F.posexplode(hashes).alias("pos", "h"))
    by_doc = Window.partitionBy("doc_id")
    frame = (
        by_doc.orderBy("pos").rowsBetween(Window.currentRow, window - 1)
    )
    mins = (
        ex.withColumn("winnow_hash", F.min("h").over(frame))
        .withColumn("_last", F.max("pos").over(by_doc))
        .filter(
            (F.col("pos") <= F.col("_last") - (window - 1))
            | ((F.col("_last") < window - 1) & (F.col("pos") == 0))
        )
    )
    return mins.select("doc_id", "winnow_hash").distinct()


def fingerprint(df: DataFrame, text_col: str = "text", k: int = 4) -> DataFrame:
    """Document fingerprint: min-hash over rolling k-gram token windows
    (winnowing-style — the minimum md5 of all k-token shingles is a stable,
    order-insensitive content fingerprint). Documents shorter than k tokens
    fingerprint as NULL (the min of no shingles)."""
    toks = df.select("doc_id", tokens(text_col).alias("_toks"))
    shingle_hashes = F.transform(
        token_ngrams(F.col("_toks"), k), lambda g: F.md5(g)
    )
    return toks.select(
        "doc_id", F.array_min(shingle_hashes).alias("fingerprint")
    )


def vocab_top_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_n: int = 1000,
) -> DataFrame:
    """Corpus vocabulary builder: (token, n_occurrences, n_docs) for the
    top_n most frequent tokens — the seed statistic for BPE/unigram
    tokenizer training and TF-IDF weighting over a training corpus.

    Plan (100 TB posture): explode is a Generate over already-scanned rows
    (no shuffle); the occurrence count and document frequency come from a
    TWO-LEVEL aggregate — groupBy(token, doc) partial first, then
    groupBy(token) — instead of count(DISTINCT doc) in one pass, which
    Catalyst plans as an Expand that doubles every exploded row before the
    first shuffle. Both levels get map-side partial aggregation; the wide
    (token, doc) shuffle carries only narrow (string, long) rows. The
    top-n is a TakeOrdered (k·partitions driver merge), never a global
    sort. Ordering key (n_occurrences DESC, token) is total, so the
    selected set is deterministic and engine-portable."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    per_doc = toks.groupBy("token", id_col).agg(F.count("*").alias("tf"))
    agg = per_doc.groupBy("token").agg(
        F.sum("tf").alias("n_occurrences"),
        F.count("*").alias("n_docs"),
    )
    return agg.orderBy(
        F.desc("n_occurrences"), F.asc("token")
    ).limit(top_n)


def unigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
) -> DataFrame:
    """CCNet-style unigram language-model quality score: per-document mean
    negative log-probability under a unigram LM fit on the corpus itself.
    Wikipedia-like prose scores low (frequent tokens), gibberish and
    boilerplate-with-rare-symbols score high — the standard cheap
    perplexity proxy for pretraining-corpus filtering when no external LM
    is available.

    Model: the top `vocab_size` tokens by corpus frequency get
    logprob = ln(count / total) where total counts ALL token occurrences
    (so in-vocab probabilities deliberately sum to <1, reserving mass for
    the tail); every out-of-vocab token gets the floor ln(1 / total).
    Documents with no non-empty tokens produce no output row.

    Plan (100 TB posture): two passes over the exploded tokens, both
    shuffle-light. Pass 1 (vocab fit): groupBy(token) with map-side
    partial aggregation — the shuffle carries one narrow (string, long)
    row per distinct token per partition, not per occurrence; the top-V
    cut is a TakeOrdered, never a global sort; the corpus-total is a
    single-row aggregate. Pass 2 (scoring): the V-row vocabulary and the
    1-row total broadcast to every executor (LEFT broadcast-hash-join +
    broadcast-nested-loop on the scalar — nothing about the corpus moves);
    the per-doc mean then partial-aggregates map-side, collapsing each
    partition back to ~one row per document before the doc_id shuffle.
    The corpus is scanned twice but never shuffled at occurrence grain."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("total"))
    vocab = (
        counts.orderBy(F.desc("c"), F.asc("token"))
        .limit(vocab_size)
        .crossJoin(F.broadcast(total))
        .select("token", F.log(F.col("c") / F.col("total")).alias("logprob"))
    )
    scored = toks.join(F.broadcast(vocab), "token", "left").crossJoin(
        F.broadcast(total)
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.round(
            -F.avg(F.coalesce(F.col("logprob"), -F.log(F.col("total")))), 6
        ).alias("nll"),
    )


def source_mix(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    alpha: float = 0.5,
) -> DataFrame:
    """Data-mixing weights per corpus source: document/token counts, each
    source's share of total tokens, and a temperature-scaled sampling
    weight w_s = share_s^alpha / sum_s'(share_s'^alpha) — the standard
    upsample-the-tail mixing rule (alpha=1 is proportional, alpha=0 is
    uniform; 0.5 is the usual multilingual compromise). This is the table
    a pretraining dataloader consumes to draw batches across sources.

    Plan (100 TB posture): one corpus pass — per-row token count is a pure
    Column map, the per-source rollup partial-aggregates map-side so the
    shuffle carries one (source, long, long) row per partition per source.
    The two global normalizers (total tokens, sum of share^alpha) are
    single-row aggregates over the source-grain result (cardinality =
    number of sources, i.e. tiny) broadcast back via nested-loop — the
    corpus itself is scanned once and never re-shuffled."""
    n_tok = F.size(F.filter(tokens(text_col), lambda t: t != ""))
    per_source = (
        df.select(F.col(source_col).alias("source"), n_tok.alias("_nt"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("_nt").alias("n_tokens"))
    )
    tot = per_source.agg(F.sum("n_tokens").alias("_tot"))
    shared = per_source.crossJoin(F.broadcast(tot)).withColumn(
        "_share", F.col("n_tokens") / F.col("_tot")
    )
    wsum = shared.agg(
        F.sum(F.pow("_share", F.lit(alpha))).alias("_wsum")
    )
    return shared.crossJoin(F.broadcast(wsum)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("_share"), 6).alias("token_share"),
        F.round(
            F.pow("_share", F.lit(alpha)) / F.col("_wsum"), 6
        ).alias("mix_weight"),
    )


def vocab_with_ids(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 1000,
) -> DataFrame:
    """(token, id) vocabulary: ids are dense ranks 0..n-1 in
    (n_occurrences DESC, token) order — the id assignment every trained
    tokenizer ships. The top-n list is bounded by construction, so rank
    assignment happens on the DRIVER over the collected rows (≤ vocab_size
    entries) rather than through a single-partition global window; the
    result returns as a small DataFrame ready to broadcast. It is built
    from an Arrow table, which Spark keeps as a local relation (the rows
    live in the plan); a list of tuples would go through ``parallelize``
    into a Python-RDD scan."""
    import pyarrow as pa

    top = vocab_top_tokens(df, text_col, id_col, vocab_size).collect()
    return df.sparkSession.createDataFrame(
        pa.table({
            "token": pa.array([r["token"] for r in top], pa.string()),
            "id": pa.array(range(len(top)), pa.int32()),
        })
    )


def tokenize_to_ids(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode each document as its vocabulary-id sequence (OOV → −1) —
    the text→ints step every training-data pipeline ends with.

    Plan: posexplode the token array (Generate — no shuffle), broadcast-
    hash-join the vocabulary (bounded by vocab_size — never shuffle the
    corpus for a dictionary), then reassemble per document with
    collect_list(struct(pos, id)) + array_sort — ONE shuffle of narrow
    (doc_id, pos, id) rows. For bounded vocabularies (≲1k) a literal
    create_map would avoid even that shuffle, but a 50k-entry literal map
    blows up the codegen unit (docs/NEXT.md), so the join form is the
    default."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "token"),
    )
    joined = toks.join(F.broadcast(vocab), "token", "left").select(
        id_col,
        "pos",
        F.coalesce(F.col("id"), F.lit(-1)).alias("tid"),
    )
    assembled = joined.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "tid"))),
            lambda s: s.getField("tid"),
        ).alias("token_ids")
    )
    return assembled.select(
        id_col,
        "token_ids",
        F.size("token_ids").alias("n_tokens"),
        F.size(F.filter("token_ids", lambda t: t == -1)).alias("n_oov"),
    )


def tfidf_similarity(
    corpus: DataFrame,
    query_ids,
    min_sim: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_docs: int | None = None,
) -> DataFrame:
    """Sparse TF-IDF cosine similarity via an INVERTED-INDEX join — the
    lexical twin of the dense ANN family: weights live per (doc, token),
    pairs meet only on shared tokens, and the similarity is a sum of
    per-token weight products. Returns (query_id, neighbor_id, sim) for
    corpus docs with sim ≥ min_sim against each query doc.

    Plan (100 TB posture): term frequencies and document frequencies are
    two narrow aggregates; the df table is bounded by the vocabulary →
    broadcast. The pair join broadcasts the QUERY side's weights (bounded:
    queries × vocab), so the corpus-side index never shuffles for the
    probe; the only corpus-scale exchange is the (query, neighbor) partial
    sum, which map-side combines. For corpus×corpus all-pairs, cap
    per-token fan-out first (drop df > bound tokens — ubiquitous terms
    carry ~zero idf weight anyway)."""
    toks = corpus.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    if n_docs is not None:
        n_col = F.lit(float(n_docs))
        tf_n = tf
    else:
        # lazy one-row count crossJoined via broadcast (the source_mix
        # pattern): an eager corpus.count() here would be a SECOND full
        # scan executed at plan-build time
        total = corpus.agg(
            F.count(F.lit(1)).cast("double").alias("_n_docs")
        )
        n_col = F.col("_n_docs")
        tf_n = tf.crossJoin(F.broadcast(total))
    w = tf_n.join(F.broadcast(dfreq), "token").select(
        id_col,
        "token",
        (F.col("tf") * F.log(n_col / F.col("df"))).alias("w"),
    )
    from pyspark.sql import Window

    norm = Window.partitionBy(id_col)
    unit = w.withColumn(
        "u", F.col("w") / F.sqrt(F.sum(F.col("w") * F.col("w")).over(norm))
    ).select(id_col, "token", "u")
    q = (
        unit.filter(F.col(id_col).isin(*query_ids))
        .select(
            F.col(id_col).alias("query_id"), "token", F.col("u").alias("qu")
        )
    )
    return (
        unit.join(F.broadcast(q), "token")
        .filter(F.col("query_id") != F.col(id_col))
        .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
        .agg(F.round(F.sum(F.col("u") * F.col("qu")), 4).alias("sim"))
        .filter(F.col("sim") >= min_sim)
    )


def chunk_documents(
    df: DataFrame,
    size: int = 300,
    stride: int = 250,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping character chunking (RAG / context-window prep): each
    document yields ⌈(len−overlap)/stride⌉ chunks of ≤`size` chars with
    `size−stride` overlap (always ≥1 chunk, so empty docs survive as one
    empty chunk). Pure Generate over the scan — explode of a per-row index
    sequence + substring; zero shuffle, linear in input splits."""
    assert stride <= size, "stride must not exceed chunk size"
    overlap = size - stride
    n_chunks = F.greatest(
        F.ceil((F.length(text_col) - F.lit(overlap)) / F.lit(stride)),
        F.lit(1),
    )
    return (
        df.select(
            F.col(id_col),
            F.col(text_col),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            F.substring(
                F.col(text_col), F.col("chunk_id") * stride + 1, size
            ).alias("chunk_text"),
        )
        .withColumn("n_chars", F.length("chunk_text"))
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-distribution Shannon entropy — the cheap
    gibberish/boilerplate signal (near-random bytes score high; repeated
    padding scores near 0). Uses H = ln(N) − (Σ c·ln c)/N over character
    counts, computed as explode → two-level aggregate: linear in input
    (unlike a per-row alphabet×length Column scan) with map-side partials;
    the (doc, char) exchange carries one row per distinct char per doc.
    Documents with no characters produce no row (same on the DuckDB
    side, whose empty-string split differs from Spark's only for that
    case)."""
    chars = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).filter(F.col("ch") != "")
    per = chars.groupBy(id_col, "ch").agg(F.count(F.lit(1)).alias("c"))
    agg = per.groupBy(id_col).agg(
        F.sum("c").alias("n_chars"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("_clnc"),
    )
    return agg.select(
        id_col,
        "n_chars",
        "n_distinct_chars",
        F.round(
            F.log(F.col("n_chars")) - F.col("_clnc") / F.col("n_chars"), 6
        ).alias("entropy"),
    )
