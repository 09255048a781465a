"""Text analysis over the documents table: stats/quality, language ID,
fingerprinting. All Catalyst-native (no UDFs).

Scale: each operator is a single projection over the scan (no shuffle
except the final groupBys callers may add); at 100 TB these run at
parquet-scan speed with column pruning down to (id, text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airbnb_cdc_spark.session import (
    ensure_parallelism,
    local_rows_df,
    persist_tracked,
)
from airbnb_cdc_spark.functions.textfns import (
    LANG_PRIORITY,
    LANG_STOPWORDS,
    normalized_fingerprint,
    sentiment_hits,
    shingles,
    stopword_hits,
    tokens,
)


def text_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document stats + quality ratios (length / punctuation /
    stopword signals — the standard pretraining quality features),
    derived from exact integer counts so ratios are reproducible."""
    toks = tokens(F.col(text_col))
    n_toks = F.size(toks).cast("long")
    n_chars = F.length(text_col).cast("long")
    # total characters across tokens (excludes whitespace)
    tok_chars = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_stop = stopword_hits("__toks", "en")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")

    out = ensure_parallelism(df).select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_toks.alias("n_tokens"),
        toks.alias("__toks"),
        tok_chars.alias("__tok_chars"),
        n_distinct.alias("n_distinct_tokens"),
    ).select(
        id_col,
        "n_chars",
        "n_tokens",
        "n_distinct_tokens",
        F.when(F.col("n_tokens") > 0, F.col("__tok_chars").cast("double") / F.col("n_tokens").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("avg_token_len"),
        F.when(F.col("n_tokens") > 0, F.col("n_distinct_tokens").cast("double") / F.col("n_tokens").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("distinct_ratio"),
        F.when(F.col("n_tokens") > 0, n_stop.cast("double") / F.col("n_tokens").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("stopword_ratio"),
    )
    return out


def repetition_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Intra-document n-gram repetition signal (the Gopher-family
    repeated-n-gram quality filter): fraction of n-gram OCCURRENCES
    that are repeats of an earlier n-gram in the same document —
    ``1 - distinct_ngrams / total_ngrams``. Boilerplate, keyword
    stuffing, and decode-loop degeneration all push this toward 1,
    while natural prose stays near 0.

    Pure per-row projection (tokenize → shingle → two array sizes), no
    shuffle — at 100 TB this runs at parquet-scan speed with pruning
    down to (id, text). Documents with fewer than ``n`` tokens have no
    n-grams and score 0.0 (nothing repeats in an empty sequence)."""
    sh = shingles(tokens(F.col(text_col)), n)
    total = F.size(sh).cast("long")
    distinct = F.size(F.array_distinct(sh)).cast("long")
    ratio = F.when(
        total > 0,
        F.lit(1.0) - distinct.cast("double") / total.cast("double"),
    ).otherwise(F.lit(0.0))
    return ensure_parallelism(df).select(
        F.col(id_col),
        total.alias("n_ngrams"),
        distinct.alias("n_distinct_ngrams"),
        ratio.alias("repetition_ratio"),
        (ratio > F.lit(threshold)).cast("int").alias("is_repetitive"),
    )


def quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    min_stopword_ratio: float = 0.03,
    min_distinct_ratio: float = 0.35,
) -> DataFrame:
    """Pretraining-style quality gate: keep documents passing the
    length / stopword / repetition heuristics (Gopher-rules-shaped),
    returning them with their stats. Pure filter over ``text_stats`` —
    the ratio comparisons run on the same deterministic doubles, so the
    kept set is reproducible across engines."""
    stats = text_stats(df, id_col, text_col)
    return stats.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("stopword_ratio") >= min_stopword_ratio)
        & (F.col("distinct_ratio") >= min_distinct_ratio)
    )


def quality_predicate(
    text_col: str = "text",
    min_tokens: int = 20,
    min_stopword_ratio: float = 0.03,
    min_distinct_ratio: float = 0.35,
):
    """The quality gate as a single boolean Column — usable as a bare
    ``.filter()`` on BATCH OR STREAMING frames while preserving every
    input column (``quality_filter`` projects to the stats schema;
    this composes). All ratios from exact integer counts, inline."""
    toks = tokens(F.col(text_col))
    n = F.size(toks).cast("long")
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    # same definition as text_stats (stopword_hits accepts Columns), so
    # the two gates can never desynchronize their lexicon count
    n_stop = stopword_hits(toks, "en")
    # same division-form ratios as text_stats/quality_filter, so the
    # kept set is identical to quality_filter's
    return (
        (n >= min_tokens)
        & (n_stop.cast("double") / n.cast("double") >= F.lit(min_stopword_ratio))
        & (n_distinct.cast("double") / n.cast("double") >= F.lit(min_distinct_ratio))
    )


def language_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-count argmax language ID. Ties resolved by LANG_PRIORITY
    order; zero hits everywhere → 'und'."""
    base = ensure_parallelism(df).select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    hit_cols = {lang: stopword_hits("__toks", lang) for lang in LANG_PRIORITY}
    with_hits = base.select(
        id_col, *[c.alias(f"hits_{lang}") for lang, c in hit_cols.items()]
    )
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in LANG_PRIORITY])
    pred = F.when(best == 0, F.lit("und"))
    for lang in LANG_PRIORITY:
        pred = pred.when(F.col(f"hits_{lang}") == best, F.lit(lang))
    return with_hits.select(
        id_col,
        *[f"hits_{lang}" for lang in LANG_PRIORITY],
        pred.alias("predicted_lang"),
    )


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """md5-of-normalized-text document fingerprint."""
    return df.select(
        F.col(id_col), normalized_fingerprint(F.col(text_col)).alias("fingerprint")
    )


def benchmark_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Decontamination primitive: per corpus document, the fraction of
    its distinct n-gram shingles that also appear in the ``benchmark``
    corpus (eval-set leakage check — docs above a threshold get dropped
    from training data).

    Spark shape: the benchmark's distinct shingle hashes collapse to a
    ONE-ROW broadcast array (a benchmark is small by definition — eval
    suites are thousands of docs, not billions), and the overlap is an
    ``array_intersect`` inside each corpus doc's own row: zero shuffles
    over the corpus, scan-speed. Both sides hash shingles with the same
    60-bit md5 scheme as the dedup family."""
    from airbnb_cdc_spark.functions.textfns import h60

    hashed = F.array_distinct(F.transform(shingles(tokens(F.col(text_col)), n), h60))
    bench = benchmark.select(F.explode(hashed).alias("h"))
    return _overlap_vs_hashes(corpus, bench, id_col, text_col, n)


def _overlap_vs_hashes(
    corpus: DataFrame,
    bench_hashes: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
) -> DataFrame:
    """``benchmark_overlap`` against an already-hashed benchmark
    shingle table ``(h)`` — shared by the in-session form and the
    persisted-store streaming form. The hash table collapses to the
    one-row broadcast array regardless of which side produced it."""
    from airbnb_cdc_spark.functions.textfns import h60

    hashed = F.array_distinct(F.transform(shingles(tokens(F.col(text_col)), n), h60))
    bench_set = bench_hashes.agg(F.collect_set("h").alias("__bench"))
    sz = F.size("__hs")
    return (
        ensure_parallelism(corpus)
        .select(F.col(id_col), hashed.alias("__hs"))
        .join(F.broadcast(bench_set))
        .select(
            id_col,
            sz.cast("long").alias("n_shingles"),
            F.size(
                F.array_intersect(
                    "__hs", F.coalesce("__bench", F.array().cast("array<long>"))
                )
            )
            .cast("long")
            .alias("n_overlap"),
        )
        .withColumn(
            "overlap_ratio",
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_overlap").cast("double")
                / F.col("n_shingles").cast("double"),
            ).otherwise(F.lit(0.0)),
        )
    )


def write_benchmark_set(
    benchmark: DataFrame, path: str, text_col: str = "text", n: int = 3
) -> None:
    """Persist the benchmark's distinct shingle-hash set (``hashes/``,
    one BIGINT row per distinct hash) plus its shingle width
    (``meta/``, one row) — the decontamination sibling of
    ``write_dsir_scores``: the eval suite is hashed ONCE, then every
    arriving batch is screened against the store. The width is part of
    the artifact (the ``_stored_pq_geometry`` principle): screening
    5-gram text against a 3-gram store would silently report near-zero
    overlap, exactly the miss decontamination exists to prevent."""
    import posixpath

    from airbnb_cdc_spark.functions.textfns import h60

    spark = benchmark.sparkSession
    hashed = F.array_distinct(F.transform(shingles(tokens(F.col(text_col)), n), h60))
    hset = benchmark.select(F.explode(hashed).alias("h")).distinct()
    # an empty hash set would disable decontamination FOREVER and
    # silently (every doc screens clean against nothing) — refuse the
    # write, like the degenerate-build guard in write_pq_index. The
    # probe recomputes over the benchmark, which is small by
    # definition (an eval suite, not a corpus).
    if hset.limit(1).count() == 0:
        raise ValueError(
            f"benchmark produced no {n}-gram shingles (empty frame, wrong "
            f"{text_col!r} column, or texts shorter than n) — refusing to "
            "persist a store every document would screen clean against"
        )
    (
        hset
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(posixpath.join(path, "hashes"))
    )
    spark.createDataFrame([(n,)], "n int").coalesce(1).write.mode(
        "overwrite"
    ).parquet(posixpath.join(path, "meta"))


def read_benchmark_set(spark, path: str) -> tuple[DataFrame, int]:
    """(hash table, shingle width) of a ``write_benchmark_set`` store."""
    import posixpath

    n = spark.read.parquet(posixpath.join(path, "meta")).first().n
    return spark.read.parquet(posixpath.join(path, "hashes")), int(n)


def batch_benchmark_overlap(
    batch_df: DataFrame,
    store_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-doc benchmark overlap of one batch against the PERSISTED
    shingle store, shingled at the STORED width (never a caller
    guess). O(batch) per call + the store read; the benchmark corpus
    is never re-shingled."""
    spark = batch_df.sparkSession
    hashes, n = read_benchmark_set(spark, store_path)
    return _overlap_vs_hashes(batch_df, hashes, id_col, text_col, n)


def _screen_and_land(
    batch_df: DataFrame,
    hashes: DataFrame,
    n: int,
    epoch: int,
    out_dir: str,
    threshold: float,
    text_col: str,
    id_col: str,
) -> None:
    """Screen one batch against a benchmark hash table and land the
    per-doc verdict rows — (batch_id, id, n_shingles, n_overlap,
    overlap_ratio, contaminated) — idempotently under
    ``out_dir/batch_id=N``. ONE implementation for both the
    store-path batch form and the cached-store stream closure, so the
    replay-idempotence pytest covers exactly the code the stream runs.
    Verdicts, not just survivors, are landed: a contamination audit
    needs the flagged docs and their ratios, and the clean subset is a
    filter over the landed rows."""
    import posixpath

    if batch_df.isEmpty():
        return
    # batch_id comes from the batch_id=N directory alone (the
    # _dsir_select_batch contract): ALSO writing it as a data column
    # collides with partition discovery on read — Spark 4 emits
    # COLUMN_ALREADY_EXISTS and silently shadows the written long with
    # the inferred partition column (r14 ADVICE)
    verdicts = _overlap_vs_hashes(batch_df, hashes, id_col, text_col, n).select(
        F.col(id_col),
        "n_shingles",
        "n_overlap",
        "overlap_ratio",
        (F.col("overlap_ratio") >= F.lit(threshold)).alias("contaminated"),
    )
    verdicts.write.mode("overwrite").parquet(
        posixpath.join(out_dir, f"batch_id={epoch}")
    )


def _decontam_batch(
    batch_df: DataFrame,
    epoch: int,
    store_path: str,
    out_dir: str,
    threshold: float,
    text_col: str,
    id_col: str,
) -> None:
    """One ``streaming_decontam`` micro-batch against the store path
    (module-level so replay idempotence is directly testable; the
    stream itself caches the store once and calls ``_screen_and_land``
    with the cached table — the same code this delegates to). The
    store is READ-ONLY, so a crash-replay overwrites the partition
    with identical content (the ``_dsir_select_batch`` contract)."""
    hashes, n = read_benchmark_set(batch_df.sparkSession, store_path)
    _screen_and_land(
        batch_df, hashes, n, epoch, out_dir, threshold, text_col, id_col
    )


def streaming_decontam(
    stream_docs: DataFrame,
    store_path: str,
    out_dir: str,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_dir: str | None = None,
):
    """Streaming decontamination: screen each arriving micro-batch of
    documents against the PERSISTED benchmark shingle store
    (``write_benchmark_set`` output — hashed once, never re-shingled
    in-stream) and land per-doc contamination verdicts under
    ``out_dir/batch_id=N``. The ingest-side twin of the batch
    ``decontaminate_vs_benchmark`` query: eval-set leakage is caught
    at arrival, before a contaminated document ever reaches the
    training corpus.

    Returns the started StreamingQuery; await/stop is the caller's.

    The store is read and cached ONCE at stream start (it is read-only
    and a crash-restart rebuilds this closure, re-reading it), so each
    micro-batch pays only its own screening — not a store re-read and
    re-aggregation per trigger."""
    spark = stream_docs.sparkSession
    hashes, n = read_benchmark_set(spark, store_path)
    hashes = persist_tracked(hashes)

    def _batch(batch_df: DataFrame, epoch: int) -> None:
        _screen_and_land(
            batch_df, hashes, n, epoch, out_dir, threshold, text_col, id_col
        )

    writer = stream_docs.writeStream.foreachBatch(_batch).outputMode("update")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def bigram_counts(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 50,
) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies, top ``top_k`` by
    (count desc, pair asc) — the counting step of a BPE merge iteration
    (most frequent pair becomes the next merge rule).

    One explode + one map-side-combining groupBy; the top-k runs as a
    distributed TakeOrdered (orderBy + limit — per-partition heaps, no
    single-partition global window over the vocabulary), with ranks
    attached afterwards over the k-row result."""
    from pyspark.sql import Window

    toks = tokens(F.col(text_col))
    pairs = F.when(F.size("__toks") < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("__toks", i), F.element_at("__toks", i + 1)
            ),
        )
    )
    top = (
        ensure_parallelism(df)
        .select(toks.alias("__toks"))
        .select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(top_k)
    )
    # Windowless rank: the frame is already <=top_k rows; a constant
    # partition key does NOT avoid the single-partition WindowExec
    # (Catalyst folds the literal away), rank_bounded does.
    from airbnb_cdc_spark.operators.aggregate import rank_bounded

    return rank_bounded(top, (-F.col("n")).alias("__o1"), F.col("bigram"))


def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Top collocations by pointwise mutual information: adjacent token
    pairs ranked by how much more often they co-occur than their
    unigram frequencies predict — the classic collocation-extraction /
    tokenizer-vocabulary signal (Church & Hanks 1990).

    Exact-integer discipline: instead of log PMI (libm ``ln`` can
    differ in the last ulp across engines), the score is the PMI RATIO
    ``p(ab) / (p(a)·p(b))`` — monotonic in PMI, computed as ONE double
    division of two exact BIGINT products:
    ``(c_ab·N_uni²) / (N_bi·c_a·c_b)``. Overflow headroom: at 1e9
    unigram instances the numerator peaks ~1e9·(1e9)²; callers at that
    scale should pre-aggregate per shard — at corpus sizes where the
    products fit (≤ ~2e5 instances per factor pair) the ranking is
    bit-reproducible.

    Scale shape: one explode+groupBy for unigrams (map-side combined),
    one for bigram pairs, a ``min_count`` filter BEFORE the two
    unigram joins (the bigram long tail never joins), and a
    distributed TakeOrdered top-k. The unigram table shuffles on the
    word key like any vocabulary join; no broadcast assumption (corpus
    vocabularies outgrow broadcast)."""
    uni, bi_full = corpus_token_counts(df, text_col)
    return bigram_pmi_from_counts(uni, bi_full, min_count, top_k)


def corpus_token_counts(
    df: DataFrame,
    text_col: str = "text",
    with_doc_tf: bool = False,
    id_col: str = "doc_id",
):
    """The corpus token-statistics tables every tokenizer-construction
    step consumes: (unigram counts (w, c), FULL unfiltered bigram
    counts (w1, w2, c_ab)), plus — under ``with_doc_tf`` — the
    document-term matrix (doc_id, term, tf). One persisted token-array
    projection feeds every aggregation — the corpus tokenizes once.
    These are the tables a 100 TB pipeline materializes once per
    snapshot (the BPE / collocation / per-doc-tf statistics artifact)
    and every consumer reads."""
    toks = tokens(F.col(text_col))
    keep = [id_col] if with_doc_tf else []
    base = persist_tracked(
        ensure_parallelism(df).select(*keep, toks.alias("__toks"))
    )
    uni = base.select(F.explode("__toks").alias("w")).groupBy("w").agg(
        F.count(F.lit(1)).alias("c")
    )
    pair_structs = F.when(
        F.size("__toks") < 2, F.array().cast("array<struct<w1:string,w2:string>>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - 1),
            lambda i: F.struct(
                F.element_at("__toks", i).alias("w1"),
                F.element_at("__toks", i + 1).alias("w2"),
            ),
        )
    )
    bi_full = (
        base.select(F.explode(pair_structs).alias("p"))
        .groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    if with_doc_tf:
        tf = (
            base.select(id_col, F.explode("__toks").alias("term"))
            .groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        return uni, bi_full, tf
    return uni, bi_full


def bigram_pmi_from_counts(
    uni: DataFrame,
    bi_full: DataFrame,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """The scoring half of ``bigram_pmi``, taking already-derived
    count tables (e.g. read back from a persisted store). ``bi_full``
    MUST be unfiltered: p(ab)'s denominator is the full corpus bigram
    instance count (SUM c_ab), not the min_count head."""
    bi = bi_full.filter(F.col("c_ab") >= min_count)
    totals = uni.agg(F.sum("c").alias("n_uni"))
    # p(ab) uses the FULL bigram instance count (pre-min_count) so the
    # probability space is the whole corpus, not the filtered head.
    n_bi_full = bi_full.agg(F.sum("c_ab").alias("n_bi"))
    scored = (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b")), "w2")
        .join(F.broadcast(totals))
        .join(F.broadcast(n_bi_full))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("c_ab").cast("long").alias("c_ab"),
            F.col("c_a").cast("long").alias("c_a"),
            F.col("c_b").cast("long").alias("c_b"),
            (
                (F.col("c_ab") * F.col("n_uni") * F.col("n_uni")).cast("double")
                / (F.col("n_bi") * F.col("c_a") * F.col("c_b")).cast("double")
            ).alias("pmi_ratio"),
        )
    )
    top = scored.orderBy(
        F.col("pmi_ratio").desc(), F.col("bigram").asc()
    ).limit(top_k)
    from airbnb_cdc_spark.operators.aggregate import rank_bounded

    return rank_bounded(top, (-F.col("pmi_ratio")).alias("__o1"), F.col("bigram"))


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    standard pretraining prep step (context-window packing with overlap
    ``window - stride``). One row per chunk: (id, chunk_idx,
    chunk_tokens, chunk_hash).

    Chunk count is ``1 + ceil((n - window) / stride)`` for n > window,
    else 1; the final chunk is the (possibly short) tail. All integer
    math + md5, so the DuckDB oracle reproduces chunk boundaries and
    hashes bit-for-bit.

    Scale: a projection + explode per doc — no shuffle; the fan-out
    factor is n_tokens/stride (bounded by document length), and chunk
    rows carry only a hash unless the caller re-slices the text.
    Empty documents produce no chunks."""
    toks = tokens(F.col(text_col))
    n = F.size("__toks")
    n_chunks = F.lit(1) + F.when(
        n > window, F.floor((n - window + (stride - 1)) / stride).cast("int")
    ).otherwise(F.lit(0))
    base = ensure_parallelism(df).select(F.col(id_col), toks.alias("__toks"))
    chunk = F.slice("__toks", F.col("ci") * stride + 1, window)
    # empty docs surface as a single 0-token chunk; drop them at the END
    # (an early filter on the tokenized column would push the tokenize
    # below the widening repartition — see _hashed_base).
    return (
        base.select(
            id_col,
            "__toks",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("ci"),
        )
        .select(
            id_col,
            F.col("ci").cast("int").alias("chunk_idx"),
            F.size(chunk).cast("long").alias("chunk_tokens"),
            # Provenance stamp for precomputed-``chunks=`` consumers
            # (r17 ADVICE): chunk_dedup* assert a passed chunk table was
            # built with the parameters the call names. Field metadata,
            # so it survives projections, filters, caching and the
            # parquet round trip of a chunk store.
            F.md5(F.concat_ws(" ", chunk)).alias(
                "chunk_hash",
                metadata={"chunk_params": {"window": window, "stride": stride}},
            ),
        )
        .filter(F.col("chunk_tokens") > 0)
    )


def content_chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 16,
    rem: int = 3,
) -> DataFrame:
    """CONTENT-DEFINED chunking (the rsync/LBFS/FastCDC boundary rule
    at token granularity): cut after every token whose hash satisfies
    ``h60(token) % divisor == rem`` — expected chunk length is
    ``divisor`` tokens, and boundaries move WITH the content, so an
    insertion near the front of a document re-chunks only the chunk it
    lands in, where fixed-stride chunking (``chunk_documents``) shifts
    every later window and loses all of them to dedup. Same output
    schema as ``chunk_documents``: (id, chunk_idx, chunk_tokens,
    chunk_hash), so the chunk-dedup machinery composes with either
    chunker.

    Production FastCDC adds min/max chunk-size clamps; those make the
    boundary decision sequential (a cut depends on where the previous
    cut landed after clamping), so this keeps the pure Rabin rule —
    order-free per position, embarrassingly parallel, and exactly
    replayable in SQL. Extreme chunk lengths are possible but
    geometrically rare (P[len > L] = (1 - 1/divisor)^L).

    Scale: per-row array transforms only (hash, filter, slice) + one
    explode — zero shuffle, the ``chunk_documents`` shape. Empty
    documents produce no chunks."""
    from airbnb_cdc_spark.functions.textfns import h60

    toks = tokens(F.col(text_col))
    base = ensure_parallelism(df).select(F.col(id_col), toks.alias("__toks"))
    n = F.size("__toks")
    # ascending cut positions (1-based, end-inclusive), then append the
    # doc end; array_distinct keeps first occurrences so a final-token
    # boundary isn't doubled
    cuts = F.filter(
        F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        ),
        lambda p: h60(F.element_at("__toks", p)) % divisor == F.lit(rem),
    )
    ends = F.array_distinct(F.concat(cuts, F.array(n)))
    with_ends = base.filter(n >= 1).select(
        id_col,
        "__toks",
        ends.alias("__ends"),
        F.explode(F.sequence(F.lit(1), F.size(ends))).alias("__k"),
    )
    start = F.when(F.col("__k") == 1, F.lit(1)).otherwise(
        F.element_at("__ends", F.col("__k") - 1) + 1
    )
    end = F.element_at("__ends", F.col("__k"))
    chunk = F.slice("__toks", start, end - start + 1)
    return with_ends.select(
        id_col,
        (F.col("__k") - 1).cast("int").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
    )


def sentiment_score(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Lexicon-based sentiment (SURVEY §7 M7): positive/negative word
    occurrences from the in-codegen IN-list lexicon, polarity =
    (pos − neg) / tokens. Exact integer counts; the single double
    division is engine-deterministic. Pure projection — no shuffle, no
    UDF — so it runs at scan speed on any corpus size; NULL polarity
    for empty documents."""
    base = ensure_parallelism(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    n = F.size("__toks").cast("long")
    pos = sentiment_hits("__toks", "pos")
    neg = sentiment_hits("__toks", "neg")
    return base.select(
        id_col,
        pos.alias("pos_hits"),
        neg.alias("neg_hits"),
        n.alias("n_tokens"),
        (
            (pos - neg).cast("double")
            / F.nullif(n, F.lit(0)).cast("double")
        ).alias("polarity"),
    )


# PII class patterns — shared by the scrub and the report. Kept to
# constructs whose semantics are identical in Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded/greedy quantifiers, \b;
# no alternation, backreferences, or lookaround, so leftmost-first
# (Java) and leftmost-longest (RE2) agree on every match.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?[0-9]{3}[-. ]?[0-9]{3}[-. ]?[0-9]{4}", "<PHONE>"),
    ("id", r"\b[0-9]{6,}\b", "<ID>"),
)


def pii_scrub(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact email / phone / long-numeric-ID spans — the standard
    corpus-prep privacy gate before training-data release. Counts and
    replacements CASCADE in declaration order: each class is counted on
    the text with all earlier classes already redacted, so the counts
    are exactly the spans that class's replacement rewrites (an email's
    digits never double-count as phones/IDs, a phone never re-counts as
    an ID — ``sum(n_*)`` is the true number of redacted spans). NULL
    text normalizes to empty, like the whole token family.

    Pure Catalyst projection (regexp_extract_all + regexp_replace in
    whole-stage codegen, no UDF, no shuffle) — runs at scan speed on
    any corpus size; the regex subset is chosen so a DuckDB/RE2 oracle
    reproduces every span (see PII_PATTERNS)."""
    cascade = F.coalesce(F.col(text_col), F.lit(""))
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(cascade, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(f"n_{name}")
        )
        cascade = F.regexp_replace(cascade, pat, repl)
    scrubbed = cascade
    return ensure_parallelism(df).select(
        F.col(id_col), scrubbed.alias("scrubbed"), *counts
    )


def pii_report(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One-row corpus PII audit over ``pii_scrub``: total spans per
    class and how many documents carry any PII — the release-gate
    number ("X% of docs needed redaction"). Exact integer counts; one
    map-side-combined global aggregate."""
    per_doc = pii_scrub(df, id_col=id_col, text_col=text_col)
    any_pii = sum(
        (F.col(f"n_{name}") for name, _, _ in PII_PATTERNS), F.lit(0)
    ) > 0
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(any_pii, 1).otherwise(0)).cast("long").alias("n_docs_with_pii"),
        *[
            F.sum(f"n_{name}").cast("long").alias(f"total_{name}")
            for name, _, _ in PII_PATTERNS
        ],
    )


def rarity_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_max_df: int = 2,
) -> DataFrame:
    """Graded token-rarity quality signal: the fraction of a document's
    token OCCURRENCES whose corpus DOCUMENT frequency is at most
    ``rare_max_df`` — high ratios flag gibberish, OCR noise, and
    codes/IDs the way an LM-perplexity screen would, with zero model
    and exact integers (``oov_rate`` is the binary top-K version; this
    grades against the full document-frequency spectrum).

    Scale shape: document frequency is one hash groupBy over DISTINCT
    (doc, token) pairs; occurrences then join the df table on the
    token (shuffle join — the df table is vocabulary-sized, which at
    corpus scale exceeds broadcast but co-partitions cleanly), and one
    per-doc aggregate finishes. Empty docs keep ratio 0.0.
    """
    base = ensure_parallelism(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    occ = base.select(F.col(id_col), F.explode("__toks").alias("tok"))
    dfreq = (
        occ.distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("__df"))
    )
    rare = (
        occ.join(dfreq, "tok")
        .groupBy(id_col)
        .agg(
            F.sum((F.col("__df") <= rare_max_df).cast("long")).alias("__nr")
        )
    )
    n_tok = F.size("__toks").cast("long")
    n_rare = F.coalesce(F.col("__nr"), F.lit(0)).cast("long")
    return (
        base.join(rare, id_col, "left")
        .select(
            F.col(id_col),
            n_tok.alias("n_tokens"),
            n_rare.alias("n_rare"),
            F.when(
                n_tok > 0, n_rare.cast("double") / n_tok.cast("double")
            )
            .otherwise(F.lit(0.0))
            .alias("rare_ratio"),
        )
    )


def boilerplate_strip(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    min_df: int = 2,
) -> DataFrame:
    """CCNet-style boilerplate removal: delete every W-token segment
    whose segment hash occurs in at least ``min_df`` DISTINCT documents
    — navigation bars, license footers, templated headers. Unlike
    first-wins chunk dedup (``dedup.chunk_dedup``, which keeps one copy
    of each repeated span), frequency-based stripping removes ALL
    copies, because corpus-frequent segments are boilerplate rather
    than content; the two are complementary pipeline stages (CCNet runs
    paragraph-frequency dedup before quality filtering).

    Returns one row per input document: ``(id, n_segments, n_dropped,
    clean_fingerprint)`` where ``clean_fingerprint`` is the md5 of the
    surviving segments re-joined in order (md5('') when everything was
    stripped or the document was empty). Exact integers + md5, so the
    DuckDB oracle reproduces it bit-for-bit.

    Scale shape: segmenting is a projection + explode (no shuffle);
    segment document-frequency is one distinct + hash groupBy on the
    segment hash; the strip is a left_anti join on that hash (the
    boilerplate set is vocabulary-sized, far smaller than the corpus);
    re-assembly is one per-doc groupBy whose state is bounded by the
    document's own kept text. The segment frame is persisted because
    both the frequency side and the strip side consume it — without
    the barrier the tokenize+hash projection runs twice from the scan
    (the chunk-dedup precedent, memory: self-join-shaped ops).
    """
    toks = tokens(F.col(text_col))
    base = persist_tracked(
        ensure_parallelism(df).select(
            F.col(id_col),
            toks.alias("__toks"),
            F.ceil(F.size(toks) / F.lit(window)).cast("int").alias("__ns"),
        )
    )
    seg = F.slice("__toks", F.col("seg_idx") * window + 1, window)
    segs = persist_tracked(
        base.select(
            id_col,
            "__toks",
            # greatest() keeps the sequence ascending for empty docs
            # (sequence(0,-1) would count DOWN and fabricate segments);
            # their single empty segment is dropped by the size filter.
            F.explode(
                F.sequence(F.lit(0), F.greatest(F.col("__ns"), F.lit(1)) - 1)
            ).alias("seg_idx"),
        )
        .select(
            id_col,
            F.col("seg_idx").cast("int").alias("seg_idx"),
            F.concat_ws(" ", seg).alias("__seg"),
            F.size(seg).alias("__seg_n"),
        )
        .filter(F.col("__seg_n") > 0)
        .withColumn("__h", F.md5("__seg"))
    )
    boiler = (
        segs.select(id_col, "__h")
        .distinct()
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("__h")
    )
    kept = segs.join(boiler, "__h", "left_anti")
    perdoc = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("__nk"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "__seg"))),
                lambda x: x["__seg"],
            ),
        ).alias("__clean"),
    )
    return base.join(perdoc, id_col, "left").select(
        F.col(id_col),
        F.col("__ns").cast("long").alias("n_segments"),
        (
            F.col("__ns").cast("long")
            - F.coalesce(F.col("__nk"), F.lit(0))
        ).alias("n_dropped"),
        F.md5(F.coalesce(F.col("__clean"), F.lit(""))).alias(
            "clean_fingerprint"
        ),
    )


def quality_filter_chain(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    min_stopword_ratio: float = 0.03,
    min_distinct_ratio: float = 0.35,
    max_repetition: float = 0.2,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """FineWeb/CCNet-style composite quality gate with REASON CODES:
    every document gets a verdict ``(keep, reason)`` where ``reason``
    is the FIRST failing rule in the fixed audit order

        too_short -> low_stopword -> low_distinct -> repetitive ->
        non_english -> ok

    — the per-reason breakdown is what corpus curation actually
    consumes (how much did each rule remove?), which the boolean
    ``quality_filter`` / ``quality_predicate`` cannot answer. Rules
    share their exact definitions with text_stats / repetition_stats /
    language_id (same lexicon counts, same division-form ratios), so
    the chain can never desynchronize from the individual filters.

    Scale: one pure projection per row — tokenize once, derive every
    signal from the same token array, zero shuffle, zero UDFs; at
    100 TB this runs at parquet-scan speed with pruning to (id, text).
    CASE short-circuits, so the n=0 document never evaluates the
    ratio divisions (too_short catches it first). ``carry_cols`` pass
    grouping keys (source, lang, shard) through the projection so
    per-cohort rollups never need a corpus self-join to get them back.
    """
    toks_c = tokens(F.col(text_col))
    carry = list(carry_cols or [])
    base = ensure_parallelism(df).select(
        F.col(id_col), *carry, toks_c.alias("__toks")
    )
    t = F.col("__toks")
    n = F.size(t).cast("long")
    nd = F.size(F.array_distinct(t)).cast("long")
    hits = {lang: stopword_hits(t, lang) for lang in LANG_PRIORITY}
    best = F.greatest(*hits.values())
    sh = shingles(t, 3)
    ng = F.size(sh).cast("long")
    ngd = F.size(F.array_distinct(sh)).cast("long")
    dbl = lambda c: c.cast("double")  # noqa: E731
    reason = (
        F.when(n < min_tokens, F.lit("too_short"))
        .when(
            dbl(hits["en"]) / dbl(n) < min_stopword_ratio,
            F.lit("low_stopword"),
        )
        .when(dbl(nd) / dbl(n) < min_distinct_ratio, F.lit("low_distinct"))
        .when(
            (ng > 0) & (F.lit(1.0) - dbl(ngd) / dbl(ng) > max_repetition),
            F.lit("repetitive"),
        )
        .when(~((best > 0) & (hits["en"] == best)), F.lit("non_english"))
        .otherwise(F.lit("ok"))
    )
    return base.select(
        F.col(id_col),
        *carry,
        n.alias("n_tokens"),
        reason.alias("reason"),
        (reason == "ok").cast("int").alias("keep"),
    )


def _quality_chain_batch(
    batch_df: DataFrame,
    epoch: int,
    out_dir: str,
    id_col: str,
    text_col: str,
    window: int,
    min_df: int,
) -> None:
    """One ``streaming_quality_chain`` micro-batch (module-level so
    replay idempotence is directly testable, the _dsir_select_batch
    pattern): within-batch boilerplate stats + the per-row quality
    verdict, landed idempotently under ``out_dir/batch_id=N``. The
    stage is stateless across batches — nothing accumulates — so a
    crash-replay simply overwrites the epoch's partition with the
    identical deterministic result; no run-id protocol needed.
    ``cache_scope`` releases boilerplate_strip's internal segment
    persist at batch end, so a long-running stream never accumulates
    cached partitions."""
    import posixpath

    from airbnb_cdc_spark.session import cache_scope

    with cache_scope():
        strip = boilerplate_strip(
            batch_df, id_col, text_col, window=window, min_df=min_df
        )
        chain = quality_filter_chain(batch_df, id_col, text_col)
        result = chain.join(
            strip.select(id_col, "n_segments", "n_dropped"), id_col
        )
        result.write.mode("overwrite").parquet(
            posixpath.join(out_dir, f"batch_id={epoch}")
        )


def streaming_quality_chain(
    stream_docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    min_df: int = 2,
    checkpoint_dir: str | None = None,
):
    """Streaming quality gate: per arriving micro-batch, run the
    CCNet-style pair — boilerplate segment stats (WITHIN-batch
    frequency: crawl feeds arrive as per-site/per-snapshot batches
    where template segments repeat inside the batch; cross-batch
    boilerplate detection is the batch job over the landed corpus)
    plus the composite quality chain with reason codes — and land one
    verdict row per doc idempotently under ``out_dir/batch_id=N``.
    Per-batch cost is O(batch): two batch-local shuffles (segment-hash
    groupBy, doc re-assembly) and the chain's zero-shuffle projection.

    Returns the started StreamingQuery; await/stop is the caller's."""

    def _batch(batch_df: DataFrame, epoch: int) -> None:
        _quality_chain_batch(
            batch_df, epoch, out_dir, id_col, text_col, window, min_df
        )

    writer = stream_docs.writeStream.foreachBatch(_batch).outputMode("update")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def vocab_coverage(
    df: DataFrame,
    vocab_sizes: list[int],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary coverage curve: for each candidate vocab size ``v``,
    the share of ALL token instances covered by the ``v`` most frequent
    tokens — the curve a tokenizer team reads before fixing a vocab
    size (the knee is where marginal vocab stops buying coverage).

    Output: one row per vocab size with exact BIGINT ``covered_tokens``
    / ``total_tokens`` / ``n_distinct`` and ``coverage`` as the single
    final double division (exact-int discipline, so the DuckDB oracle
    hash-matches bitwise).

    Sizes are deduplicated and must be positive (a zero size would
    silently emit no row — the join misses rank 0 — so it raises
    instead). Scale: the corpus-sized work is ONE map-side-combined
    ``groupBy(token)`` — the same shuffle exact dedup pays. Everything
    after runs on the VOCAB table (distinct tokens ≪ corpus; low
    millions even at 100 TB): the global rank/cumsum window on that
    table is a deliberate single-partition sort of a metadata-sized
    frame, same stance as the sketch tables. Requesting a ``v`` larger
    than the vocab clamps to full coverage (``least(v, n_distinct)``).
    """
    sizes_list = sorted(set(int(v) for v in vocab_sizes))
    if not sizes_list or sizes_list[0] <= 0:
        raise ValueError(
            f"vocab_sizes must be positive ints, got {vocab_sizes!r}"
        )
    counts = (
        df.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # (c DESC, token ASC) is a total order — rank and cumsum are exact.
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("c").desc(), F.col("token"))
    ordered = counts.select(
        "token",
        "c",
        F.row_number().over(w).alias("rn"),
        F.sum("c")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    stats = counts.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("total_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    spark = df.sparkSession
    # pure-JVM local relation (r18): the createDataFrame form spawned
    # Python workers inside the two broadcast joins below on every run
    sizes = local_rows_df(
        spark, [(v,) for v in sizes_list], "vocab_size bigint"
    )
    return (
        sizes.join(F.broadcast(stats))
        .join(
            F.broadcast(ordered),
            F.col("rn") == F.least(F.col("vocab_size"), F.col("n_distinct")),
        )
        .select(
            "vocab_size",
            F.col("cum").alias("covered_tokens"),
            "total_tokens",
            "n_distinct",
            (
                F.col("cum").cast("double")
                / F.col("total_tokens").cast("double")
            ).alias("coverage"),
        )
    )
