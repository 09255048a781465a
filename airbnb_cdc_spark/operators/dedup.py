"""Deduplication family: exact, n-gram Jaccard, MinHash+LSH, SimHash.

These are the training-data-pipeline operators layered on top of the
reference's surface (BASELINE.json north star). Design notes per 100 TB:

- **Exact**: hash-groupBy on a normalized fingerprint — one shuffle on
  the hash, minimal row (id, fingerprint) shuffled, winner = min id.
- **N-gram Jaccard**: intersection via an *inverted index* self-join
  (explode distinct shingles → join on shingle → count per pair), NOT an
  all-pairs cross join — pair candidates are generated only where they
  share a shingle. ``max_doc_freq`` drops stop-shingles (a shingle in
  half the corpus creates O(n²) candidate pairs — frequency-capping is
  what keeps the join linear-ish at scale).
- **MinHash+LSH**: k signatures per doc from ONE md5-derived base hash
  plus k affine transforms (a_j·h + b_j) mod P (one explode + groupBy),
  banded into b buckets; only docs sharing a band bucket are paired,
  then verified with exact Jaccard. This is the classic
  shingle→minhash→band→bucket-join pipeline; cost scales with bucket
  collision counts, not n².
- **SimHash**: 16-bit signed bit-vote fingerprint over distinct tokens;
  pure projection (no shuffle), near-dup candidates = equal simhash.

md5 is the only string hash — deterministic and available in every
engine, so DuckDB oracles reproduce results bit-for-bit; its first 15
hex digits, cast to a 60-bit integer, are the single per-shingle hash
everything else (sets, Jaccard, doc-frequency cap, MinHash base)
derives from.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from airbnb_cdc_spark.functions.textfns import (
    h60,
    normalized_fingerprint,
    shingles,
    tokens,
    xxh_shingles_from_token_hashes,
)
from airbnb_cdc_spark.session import ensure_parallelism, persist_tracked


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id representative per normalized-text fingerprint."""
    fp = df.select(
        F.col(id_col), normalized_fingerprint(F.col(text_col)).alias("fingerprint")
    )
    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    return (
        fp.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "fingerprint")
    )


AUTO = "auto"


# The 60-bit md5 hash convention lives in functions/textfns.h60 (shared
# with the sketch and decontamination families); re-exported under the
# historical name for this module's callers.
_h60 = h60


def _hashed_base(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    hash_fn=None,
    sort: bool = True,
    token_combine: bool = False,
) -> DataFrame:
    """Cached (id, hs0): per-doc sorted array of distinct 60-bit shingle
    hashes. The expensive part — tokenize, shingle, md5 — runs EXACTLY
    ONCE and entirely within each document's own row: a doc's shingles
    are already an array, so hashing/dedup/sorting are array transforms.
    No explode + groupBy(id) re-assembly (round 2 regrouped rows that
    were never ungrouped — one full shuffle of the largest intermediate
    for nothing), and no second pass over the strings.

    NOTE: no filter between the projection and persist() — a filter on
    the projected column substitutes the full expression into the
    predicate AND pushes below the widening repartition, evaluating the
    expensive expression twice, single-threaded (measured 28x slower).
    Empty sets are dropped after the cache boundary by callers.

    ``hash_fn`` (default ``_h60``): per-shingle hash over the shingle
    STRING. MinHash keeps md5 (its DuckDB oracle mirrors the signature
    math bit-for-bit); the Jaccard family uses ``token_combine=True``
    below instead — its oracles compute Jaccard on the shingle strings,
    so any injective-in-practice identity gives the identical result.

    The frame is always persisted: beyond sharing it across consumers,
    the cache is an OPTIMIZER BARRIER — without it Catalyst pushes this
    projection below the widening repartition and evaluates it at the
    narrow pre-repartition parallelism (measured 5x slower end-to-end
    when the count path briefly dropped the persist).

    ``sort=False`` skips the ``sort_array`` — callers that only explode
    the array (the inverted-index count path) get nothing from sorted
    order, and the per-doc sort is pure overhead there. Set-algebra
    consumers (``array_except`` / ``array_intersect``) are
    order-insensitive too but keep the historical sorted form for
    deterministic debugging output.

    ``token_combine=True`` (the Jaccard-family fast path) skips shingle
    STRINGS entirely: tokens are xxhash64-ed once in their own
    projection, and shingle identities combine n token hashes through a
    second xxhash64 (see textfns.xxh_shingles_from_token_hashes) —
    measured ~2x cheaper than hashing concatenated shingle strings,
    which re-hash every character n times. Only valid for consumers
    that need shingle IDENTITY, not a specific hash value (Jaccard /
    containment / overlap); MinHash keeps md5 because its DuckDB oracle
    mirrors the signature arithmetic on the md5 value itself.
    """
    if token_combine:
        pre = ensure_parallelism(df).select(
            F.col(id_col).alias("id"),
            F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t)).alias(
                "__th"
            ),
        )
        hashed = F.array_distinct(xxh_shingles_from_token_hashes(F.col("__th"), n))
        out = pre.select(
            "id", (F.sort_array(hashed) if sort else hashed).alias("hs0")
        )
        return persist_tracked(out)
    if hash_fn is None:
        hash_fn = _h60
    hashed = F.array_distinct(
        F.transform(shingles(tokens(F.col(text_col)), n), hash_fn)
    )
    out = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        (F.sort_array(hashed) if sort else hashed).alias("hs0"),
    )
    return persist_tracked(out)


def _df_counts(base: DataFrame) -> DataFrame:
    """(h, __df): corpus document-frequency per shingle hash. Explodes
    only the integer hash arrays (no string work); map-side partial agg
    means only (hash, partial_count) rows cross the wire."""
    return (
        base.select(F.explode("hs0").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("__df"))
    )


def _filter_counts(
    counts: DataFrame,
    df: DataFrame,
    max_doc_freq: int | str,
    keep_hot: bool,
) -> DataFrame:
    """Rows of ``counts`` above (keep_hot) or at/below the cap. ``AUTO``
    derives the cap as ``max(2, n_docs // 100)`` via a broadcast one-row
    count join — fully lazy, no driver-side action. Callers pass the
    PERSISTED base as ``df`` where they have one: the count then reads
    the cache instead of re-scanning the source."""
    if max_doc_freq == AUTO:
        total = df.select(F.count(F.lit(1)).alias("__n"))
        cap = F.greatest(F.lit(2), F.floor(F.col("__n") / 100).cast("long"))
        joined = counts.join(F.broadcast(total))
        out = joined.filter(F.col("__df") > cap if keep_hot else F.col("__df") <= cap)
        return out.select("h", "__df")
    cond = F.col("__df") > max_doc_freq if keep_hot else F.col("__df") <= max_doc_freq
    return counts.filter(cond)


def _cap_arrays(base: DataFrame, hot: DataFrame) -> DataFrame:
    """(id, hs): per-doc arrays with the hot (over-cap) shingles removed
    via a one-row broadcast ``array_except`` — the shared capped-set
    construction (one definition; three strategies consume it)."""
    hot_arr = hot.agg(F.collect_set("h").alias("__hot"))
    return base.join(F.broadcast(hot_arr)).select(
        "id",
        F.array_except(
            "hs0", F.coalesce("__hot", F.array().cast("array<long>"))
        ).alias("hs"),
    )


def _hashed_shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_doc_freq: int | str | None,
) -> DataFrame:
    """(id, hs): per-doc sorted array of distinct 60-bit shingle hashes,
    stop-shingles removed.

    ``max_doc_freq`` drops stop-shingles: a shingle present in a large
    fraction of the corpus generates O(n²) candidate pairs in any
    shingle-join, so frequency-capping is what keeps the join linear-ish
    at 100 TB. The hot set, tiny by construction, comes back as a
    one-row broadcast whose array is removed per-doc with
    ``array_except`` — the full index is never shuffled.

    60-bit hashes: corpus-wide collisions merge two shingles with
    probability ~n²/2⁶¹ — the same trade the round-1 hashed join made,
    and mirrored consistently on both sides of every per-pair compare.
    """
    base = _hashed_base(df, id_col, text_col, n)
    if max_doc_freq is None:
        return base.select("id", F.col("hs0").alias("hs")).filter(
            F.size("hs") > 0
        )
    hot = _filter_counts(_df_counts(base), base, max_doc_freq, keep_hot=True)
    return _cap_arrays(base, hot).filter(F.size("hs") > 0)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | str | None = AUTO,
    strategy: str = "count",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b) with n-gram Jaccard >= threshold
    over the frequency-capped shingle sets (stop-shingles excluded — the
    default AUTO cap is what bounds candidate generation at scale).

    Both strategies share the hashed per-doc shingle sets
    (``_hashed_base`` with xxhash64 — Jaccard is hash-agnostic, its
    DuckDB oracle computes on the shingle *strings*, so the cheaper
    64-bit hash replaces md5+conv here; MinHash keeps md5 because its
    oracle mirrors the signature arithmetic) and both are exact; they
    differ in how candidate volume is bounded:

    - ``"count"`` (default): classic inverted-index set-similarity join
      (Vernica/Carey/Li, SIGMOD'10 stage shape). One groupBy(h) builds
      the postings list per shingle; pairs are generated in-row from
      each capped postings array and counted — the count IS the exact
      intersection size, so there is no separate verify join at all.
      Instance volume = Σ_h C(df_h, 2), which the frequency cap bounds
      at |shingles|·C(cap,2) worst case (1.27M instances for 5000 docs
      at sf0.1). Three shuffles total: index build, pair count, and the
      tiny one-row cap/hot aggregates; sizes ride the persisted base
      with a broadcast hot-set ``array_except`` (no extra shuffle).
    - ``"prefix"``: SSJoin/PPJoin prefix filtering under a GLOBAL
      FREQUENCY ORDER (rarest-first), with PPJoin positional pruning
      and array_intersect verification — better asymptotics when the
      cap must stay high relative to corpus size (candidates form only
      where two docs share a RARE shingle, and each candidate is
      verified once instead of materializing every co-occurrence).

    Crossover: at a fixed relative cap (AUTO = n_docs/100), the count
    strategy's instance volume grows ~quadratically with corpus size
    per shingle; use "prefix" when Σ C(df,2) outgrows the verify-join
    cost — for the bench corpus "count" is ~1.5x faster wall-clock."""
    if strategy == "count":
        return _jaccard_index_count_pairs(
            df, id_col, text_col, n, threshold, max_doc_freq
        )
    if strategy != "prefix":
        raise ValueError(f"unknown strategy {strategy!r}; use 'count' or 'prefix'")
    # sort=False: the prefix path's verify is array_intersect over the
    # hash sets — order-insensitive — and the window rank orders by
    # (df, h), not array position; the per-doc sort_array is dead cost.
    base = _hashed_base(df, id_col, text_col, n, sort=False, token_combine=True)
    # persisted: keep (joined into the exploded index) and hot (the
    # broadcast array) both consume it — unpersisted, the corpus-sized
    # doc-frequency shuffle ran twice
    counts = persist_tracked(_df_counts(base))
    if max_doc_freq is not None:
        keep = _filter_counts(counts, base, max_doc_freq, keep_hot=False)
        hot = _filter_counts(counts, base, max_doc_freq, keep_hot=True)
        sets = persist_tracked(
            _cap_arrays(base, hot)
            .withColumn("sz", F.size("hs"))
            .filter(F.col("sz") > 0)
        )
    else:
        keep = counts
        sets = persist_tracked(
            base.select("id", F.col("hs0").alias("hs"))
            .withColumn("sz", F.size("hs"))
            .filter(F.col("sz") > 0)
        )
    # Frequency-ordered PREFIX via one window pass over the exploded
    # index (row_number + partition count) — no collect_list/struct
    # sort/slice/re-explode. A pair with J >= t must share an element
    # within both docs' first sz - ceil(t·sz) + 1 elements under ANY
    # one total order; rarest-first makes that prefix maximally
    # selective (value order generated 568k candidates for 25 true
    # pairs at sf0.1). df=1 elements are dropped AFTER ranks are
    # assigned (they keep their prefix slots but cannot equi-join).
    ex = base.select("id", F.explode("hs0").alias("h")).join(keep, "h")
    w = Window.partitionBy("id").orderBy(F.col("__df").asc(), F.col("h").asc())
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    szc = F.col("sz")
    plen = (szc - F.ceil(F.lit(threshold) * szc) + 1).cast("int")
    # persisted (r17): the self-join below consumes p TWICE — without
    # the cache the whole explode + keep-join + rank-window pipeline
    # executed once per side (two ~5-9s-CPU stages at sf0.1, measured);
    # the cache bounds it to one compute and the join reads the tiny
    # prefix frame twice (guide §5 — reuse beats recompute here).
    p = persist_tracked(
        ex.select(
            "id",
            "h",
            "__df",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wall).alias("sz"),
        )
        .filter((F.col("rn") <= plen) & (F.col("__df") >= 2))
        .select("id", "h", "rn", "sz")
    )
    a, b = p.alias("a"), p.alias("b")
    # PPJoin POSITIONAL filter (Xiao et al.): an instance whose shared
    # element sits at 1-based rank i of A and j of B admits at most
    # ub = 1 + min(szA-i, szB-j) overlaps; the pair needs
    # alpha = ceil(t/(1+t)·(szA+szB)). For a true pair the FIRST common
    # element always yields a passing instance (its predecessors are
    # disjoint by construction), so instance-filter → distinct is
    # lossless. Cross-multiplied so t=0.5 (any dyadic t) stays exact:
    # keep iff (1+ub)·(1+t) >= t·(szA+szB).
    ub = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")
    )
    cand = (
        a.join(b, F.col("a.h") == F.col("b.h"))
        .filter(
            (F.col("a.id") < F.col("b.id"))
            & (F.col("b.sz") * F.lit(1.0) >= F.lit(threshold) * F.col("a.sz"))
            & (F.col("a.sz") * F.lit(1.0) >= F.lit(threshold) * F.col("b.sz"))
            & (
                ub.cast("double") * F.lit(1.0 + threshold)
                >= F.lit(threshold) * (F.col("a.sz") + F.col("b.sz"))
            )
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return _verify_pairs_by_sets(cand, sets, threshold)


def _jaccard_index_count_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
    max_doc_freq: int | str | None,
) -> DataFrame:
    """Inverted-index Jaccard with groupBy-count intersections: the
    postings list per (capped) shingle generates its C(df,2) doc pairs
    in-row; counting pair occurrences across shingles yields the exact
    intersection size |A∩B| directly, so no verify join exists. See
    ``ngram_jaccard_pairs`` for the strategy trade-off."""
    pairs = _index_pair_counts(df, id_col, text_col, n, max_doc_freq)
    return (
        pairs.withColumn(
            "jaccard",
            F.col("i").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("i")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def _index_pair_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_doc_freq: int | str | None,
) -> DataFrame:
    """(id_a, id_b, sz_a, sz_b, i): exact pairwise intersection counts
    over the frequency-capped shingle universe WITH each side's capped
    set size — the shared core of every set-overlap measure (Jaccard,
    containment, overlap coefficient).

    Sizes ride the postings structs instead of being a separate frame:
    the hot set (shingles with df > cap — tiny by construction) comes
    back as a one-row broadcast, ``array_except`` caps each doc's array
    map-side, and the postings index collects ``struct(id, sz)`` so the
    in-row pair generation emits both ids AND both sizes. The pair
    groupBy then yields |A∩B| next to |A|,|B| directly. Compared to the
    r5 shape (postings re-aggregated a second time for sizes + two
    attach joins) this drops two corpus-sized shuffles and both joins:
    three shuffles total — df-count, index build, pair count — plus the
    one-row hot/cap aggregates. The base projection keeps its persist:
    it is an optimizer barrier (see ``_hashed_base``)."""
    base = _hashed_base(df, id_col, text_col, n, sort=False, token_combine=True)
    if max_doc_freq is not None:
        hot = _filter_counts(_df_counts(base), base, max_doc_freq, keep_hot=True)
        capped = _cap_arrays(base, hot)
    else:
        capped = base.select("id", F.col("hs0").alias("hs"))
    docs = capped.select(
        F.struct("id", F.size("hs").alias("sz")).alias("d"), "hs"
    ).filter(F.col("d.sz") > 0)
    idx = (
        docs.select("d", F.explode("hs").alias("h"))
        .groupBy("h")
        .agg(F.collect_list("d").alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    # C(df,2) ordered pairs per postings array, generated in-row: the
    # nested transform/filter is O(df²) per shingle, bounded by the cap
    # (every shingle with df > cap was removed from the doc arrays, so
    # no postings list here exceeds it).
    return (
        idx.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ds",
                        lambda x: F.transform(
                            F.filter(
                                "ds", lambda y: y.getField("id") > x.getField("id")
                            ),
                            lambda y: F.struct(
                                x.getField("id").alias("id_a"),
                                y.getField("id").alias("id_b"),
                                x.getField("sz").alias("sz_a"),
                                y.getField("sz").alias("sz_b"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy("p.id_a", "p.id_b", "p.sz_a", "p.sz_b")
        .agg(F.count(F.lit(1)).alias("i"))
        .select("id_a", "id_b", "sz_a", "sz_b", "i")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | str | None = AUTO,
) -> DataFrame:
    """Near-SUBSET pairs: (id_a < id_b, containment) where containment
    = |A∩B| / min(|A|, |B|) >= threshold over the capped shingle sets.

    Jaccard misses asymmetric duplication — a page embedded whole
    inside a larger one scores |A|/|B| « 1 on Jaccard but 1.0 on
    containment — and that boilerplate-inclusion shape is the common
    duplication mode in web/training corpora (the measure behind
    Broder's "roughly contained" relation). Same inverted-index
    pair-count core as Jaccard ``strategy='count'``: the smaller set's
    coverage is exact, no verify join, cap bounds instance volume."""
    pairs = _index_pair_counts(df, id_col, text_col, n, max_doc_freq)
    return (
        pairs.withColumn(
            "containment",
            F.col("i").cast("double")
            / F.least("sz_a", "sz_b").cast("double"),
        )
        .filter(F.col("containment") >= F.lit(threshold))
        .select("id_a", "id_b", "containment")
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Production-shape exact dedup: the NEW batch deduped against an
    already-ingested corpus. ``seen`` is either raw documents (same
    columns) or a precomputed (id, fingerprint) store — the operator
    fingerprints it if the column is absent. Survivors are the batch's
    first-per-fingerprint rows whose fingerprint is unseen: one
    anti-join on the fingerprint hash (broadcast/shuffle decided by the
    optimizer) + the in-batch window dedup. At 100 TB the seen-side
    scan reads only the fingerprint column (columnar pruning) — the
    store never rewrites, it only appends survivors."""
    if "fingerprint" not in seen.columns:
        seen = seen.select(
            normalized_fingerprint(F.col(text_col)).alias("fingerprint")
        )
    fresh = exact_dedup(new_docs, id_col, text_col)
    return fresh.join(
        seen.select("fingerprint").distinct(), "fingerprint", "left_anti"
    ).select(id_col, "fingerprint")


def _verify_pairs_by_sets(
    cand: DataFrame, sets: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs via array_intersect
    of the per-doc hash sets (one tiny join per side, no shingle shuffle)."""
    joined = cand.join(
        sets.select(
            F.col("id").alias("id_a"), F.col("hs").alias("hs_a"), F.col("sz").alias("sz_a")
        ),
        "id_a",
    ).join(
        sets.select(
            F.col("id").alias("id_b"), F.col("hs").alias("hs_b"), F.col("sz").alias("sz_b")
        ),
        "id_b",
    )
    return (
        joined.withColumn("inter", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


#: Modulus of the MinHash universal-hash family: 2^31 - 1 (Mersenne
#: prime). With a 32-bit base hash h < 2^32 and a < 2^31, the product
#: a*h < 2^63 fits a BIGINT exactly in BOTH engines (Spark longs and
#: DuckDB BIGINT), so (a*h + b) % P is overflow-free integer math.
MINHASH_P = 2_147_483_647


def minhash_params(k: int) -> list[tuple[int, int]]:
    """Deterministic affine constants (a_j, b_j) for the universal-hash
    family h_j(x) = (a_j*x + b_j) mod P (Broder's MinHash construction).
    Fixed LCG-derived literals — any fixed constants give a valid family,
    and literals let the DuckDB oracle reproduce signatures bit-for-bit."""
    out = []
    for j in range(k):
        a = ((1103515245 * (j + 1) + 12345) % MINHASH_P) | 1
        b = (1103515245 * (j + 101) + 54321) % MINHASH_P
        out.append((a, b))
    return out


#: Truncation of the 60-bit shingle hash to the MinHash base domain:
#: lower 32 bits, so a*(h % 2^32) < 2^31 * 2^32 = 2^63 stays exact.
_MINHASH_BASE_MOD = 4_294_967_296


def _minhash_cols(k: int) -> list[Column]:
    """k MinHash values from a doc's hash-set column ``hs`` — min over
    the set of the affine transform (a_j*(h mod 2^32) + b_j) mod P.
    Pure array math in the doc's own row: no explode, no groupBy."""
    return [
        F.array_min(
            F.transform(
                F.col("hs"),
                lambda h: (
                    F.lit(a) * (h % F.lit(_MINHASH_BASE_MOD)) + F.lit(b)
                )
                % F.lit(MINHASH_P),
            )
        ).alias(f"mh{j}")
        for j, (a, b) in enumerate(minhash_params(k))
    ]


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    max_doc_freq: int | str | None = AUTO,
) -> DataFrame:
    """k MinHash values per doc: one md5-derived base hash per shingle,
    then min over k affine transforms (a_j*h + b_j) mod P — all computed
    as array transforms in the doc's own row (zero shuffles beyond the
    hot-shingle count). Signature row stays tiny (k bigints)."""
    sets = _hashed_shingle_sets(df, id_col, text_col, n, max_doc_freq)
    return sets.select(F.col("id").alias(id_col), *_minhash_cols(k))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
    max_doc_freq: int | str | None = AUTO,
) -> DataFrame:
    """Candidate pairs from banded MinHash buckets, verified with exact
    Jaccard: shingle → minhash → band → bucket-join → verify. The
    frequency cap applies to the shared hash sets, so both the
    signatures and the verify stage see the capped shingles."""
    # The per-doc hash set (verification) and the k MinHash signatures
    # (banding) both derive from ONE string-hash pass, entirely within
    # each doc's row — the only shuffles left are the tiny hot-shingle
    # count, the band bucket join, and the verify joins.
    # sz > 0: a doc whose every shingle was frequency-capped has no
    # signature (explode-based formulations dropped it implicitly; here
    # an empty set would band on all-null minhashes and verify as 0/0).
    # Persisted: three consumers (band explode, verify id_a, verify
    # id_b) would otherwise each re-run the cap broadcast + signature
    # transforms (~1s at sf0.1).
    if band_size <= 0 or k % band_size != 0:
        # leftover signatures would be silently dropped (k=8, band=3 →
        # only 6 used), and band_size > k would band NOTHING and return
        # an empty result with no error
        raise ValueError(
            f"band_size must divide k: k={k}, band_size={band_size}"
        )
    combined = persist_tracked(
        minhash_signature_sets(df, id_col, text_col, n, k, max_doc_freq)
    )
    return minhash_lsh_pairs_from_signatures(
        combined, k=k, band_size=band_size, threshold=threshold
    )


def minhash_signature_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    max_doc_freq: int | str | None = AUTO,
) -> DataFrame:
    """The per-doc MinHash signature frame ``(id, hs, sz, mh0..mhk-1)``
    — the derive-once artifact of the MinHash pipeline. Everything
    downstream (banding, bucket join, exact verify) consumes THIS
    frame and never rescans text, so persisting it per corpus snapshot
    turns every later near-dup pass into signature-table work (the
    signature-store stance the incremental/streaming variants already
    take). Derivation is deterministic (hash shingles + frequency cap
    + k column-wise mins), so a persisted copy is value-identical to a
    recompute on any engine or partitioning."""
    sets = _hashed_shingle_sets(df, id_col, text_col, n, max_doc_freq)
    # sz > 0: a doc whose every shingle was frequency-capped has no
    # signature (an empty set would band on all-null minhashes and
    # verify as 0/0)
    return sets.select(
        "id", "hs", F.size("hs").alias("sz"), *_minhash_cols(k)
    ).filter(F.col("sz") > 0)


def minhash_lsh_pairs_from_signatures(
    combined: DataFrame,
    k: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Banding + bucket join + exact-Jaccard verify over a
    ``minhash_signature_sets`` frame (in-session or read back from a
    persisted store). Split from ``minhash_lsh_pairs`` so a
    signature store can feed the same banded plan without re-deriving
    signatures. Enforces the same band_size-divides-k contract as the
    composed entry point — a store consumer must not silently band
    only a prefix of the k signature columns."""
    if band_size <= 0 or k % band_size != 0:
        raise ValueError(
            f"band_size must divide k: k={k}, band_size={band_size}"
        )
    n_bands = k // band_size
    bands = combined.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[F.col(f"mh{b * band_size + r}") for r in range(band_size)],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bucket"),
    )
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), on="bucket")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    return _verify_pairs_by_sets(cand, combined.select("id", "hs", "sz"), threshold)


def simhash_cluster(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate clustering by SimHash Hamming distance: each doc
    is assigned ``cluster_rep`` = the minimum doc id among docs whose
    fingerprint lies within ``max_hamming`` bits of its own (single-hop
    neighborhood, deterministic — not a transitive closure).

    Why clusters, not pairs: templated corpora put tens of docs on ONE
    fingerprint, so a pair listing is inherently quadratic in cluster
    size (measured 35k pairs for 500 docs). Collapsing to DISTINCT
    fingerprints first (groupBy simhash, min id as the fingerprint's
    representative) makes the quadratic step run on the fingerprint
    universe — bounded by corpus diversity, not corpus size — and the
    final assignment is a linear join back.

    Band blocking keeps the fingerprint self-join sub-quadratic: split
    the ``bits``-bit fingerprint into ``n_bands`` equal bands; by
    pigeonhole, two fingerprints within ``n_bands - 1`` bits agree on
    at least one whole band, so candidates come from an equi-join on
    (band_idx, band_value), verified with an exact popcount of the XOR.
    ``max_hamming`` must be < ``n_bands`` for losslessness (asserted).
    The per-band duplicates collapse inside the min() aggregation — no
    distinct needed."""
    if max_hamming >= n_bands:
        # not assert: stripped under python -O, and a silently lossy
        # band blocking returns wrong clusters with no error
        raise ValueError(
            f"pigeonhole requires max_hamming < n_bands "
            f"(got {max_hamming} >= {n_bands})"
        )
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    sims = simhash(df, id_col, text_col, bits)
    fps = sims.groupBy("simhash").agg(F.min(F.col(id_col)).alias("rep"))
    bands = fps.select(
        "simhash",
        "rep",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        F.shiftright("simhash", b * band_bits).bitwiseAND(mask),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bucket"),
    )
    x, y = bands.alias("x"), bands.alias("y")
    cmap = (
        x.join(y, "bucket")
        .filter(
            F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
            <= max_hamming
        )
        .groupBy(F.col("x.simhash").alias("simhash"))
        .agg(F.min(F.col("y.rep")).alias("cluster_rep"))
    )
    return sims.join(cmap, "simhash").select(id_col, "cluster_rep")


def streaming_exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exact dedup for a document *stream*: keep the first arrival per
    normalized-text fingerprint, dropping re-arrivals whose event time is
    within ``watermark`` of the first (``dropDuplicatesWithinWatermark``
    — state for a fingerprint is evicted once the watermark passes it, so
    state size is bounded by the dedup horizon, not the corpus). Note the
    guarantee is one-sided: dups within the horizon are always dropped;
    dups *beyond* it are dropped too while the state happens to live
    (eviction runs as the watermark advances between micro-batches) and
    re-admitted after.

    Batch input degrades to the plain fingerprint dedup (first row per
    fingerprint in storage order) so one call site serves both modes.

    Scale: one shuffle on the fingerprint; state store per fingerprint
    key within the horizon. At 100 TB/day the horizon (not the corpus)
    bounds memory — widen it only as far as re-delivery actually spans.
    """
    fp = df.select(
        F.col(id_col),
        F.col(ts_col),
        normalized_fingerprint(F.col(text_col)).alias("fingerprint"),
    )
    if df.isStreaming:
        return fp.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["fingerprint"]
        )
    return fp.dropDuplicates(["fingerprint"])


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """Signed bit-vote SimHash over distinct tokens. Bit i's vote for a
    token is the parity of hex digit i of md5(token) (>= '8' → +1).
    Pure projection — fingerprints then group/join however the caller
    wants (equal simhash = near-dup candidate).

    Each token is md5'd exactly ONCE: the hex array lives in its own
    projection (CollapseProject keeps a non-cheap alias referenced by
    many expressions materialized, and codegen CSE doesn't reach inside
    lambda bodies), and the ``bits`` bit-votes are derived from the
    cached hex strings with cheap substring compares."""
    if not 1 <= bits <= 32:
        # md5 has 32 hex digits; bit i > 31 would read substring('')
        # and vote a constant -1 — silently half-entropy fingerprints
        raise ValueError(f"bits must be in [1, 32], got {bits}")
    toks = F.array_distinct(tokens(F.col(text_col)))
    base = ensure_parallelism(df).select(F.col(id_col), toks.alias("__toks"))
    hexed = base.select(
        F.col(id_col),
        F.transform(F.col("__toks"), lambda t: F.md5(t)).alias("__hex"),
    )

    def vote_adder(i: int):
        # factory: the closure must bind i per bit (a loop-shared lambda
        # would capture the final i).
        def fn(acc, h):
            return acc + F.when(
                F.substring(h, i + 1, 1).isin(
                    "8", "9", "a", "b", "c", "d", "e", "f"
                ),
                F.lit(1),
            ).otherwise(F.lit(-1))

        return fn

    bit_votes = []
    for i in range(bits):
        # vote_i = sum over tokens of +-1; bit set iff vote > 0
        vote = F.aggregate(F.col("__hex"), F.lit(0), vote_adder(i))
        bit_votes.append(F.when(vote > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    total = bit_votes[0]
    for b in bit_votes[1:]:
        total = total + b
    return hexed.select(id_col, total.cast("long").alias("simhash"))


def streaming_incremental_dedup(
    stream_docs: DataFrame,
    store,
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
):
    """The PRODUCTION ingest shape end-to-end: a document stream deduped
    per micro-batch against a PERSISTENT fingerprint store, survivors
    appended back to the store — so re-deliveries are dropped across
    batches, restarts, and corpus history (unlike
    ``streaming_exact_dedup``, whose state lives only within the
    watermark horizon).

    ``store`` is a ``ParquetMergeTable`` keyed on ``fingerprint``
    (Delta/Iceberg table on a real cluster). Each batch runs the batch
    operator ``incremental_exact_dedup`` — in-batch window dedup + one
    anti-join against the store's fingerprint column (columnar-pruned
    scan) — then merges survivors in. Survivors are anti-joined before
    the merge, so the store only ever INSERTS; the first writer of a
    fingerprint wins permanently, the dedup semantics (a version-LWW
    merge would let late re-deliveries steal representatives).

    Returns the started StreamingQuery; await/stop is the caller's."""
    from airbnb_cdc_spark.operators.merge import ParquetMergeTable

    if not isinstance(store, ParquetMergeTable):
        raise TypeError(f"store must be a ParquetMergeTable, got {type(store).__name__}")
    if store.keys != ["fingerprint"]:
        raise ValueError(f"store must be keyed on ['fingerprint'], got {store.keys}")

    def _batch(batch_df: DataFrame, _epoch: int) -> None:
        if store.exists():
            seen = store.read().select("fingerprint")
        else:
            seen = batch_df.sparkSession.createDataFrame([], "fingerprint string")
        fresh = incremental_exact_dedup(batch_df, seen, id_col, text_col)
        # merge() handles the missing-table case itself (fresh load).
        store.merge(fresh)

    writer = stream_docs.writeStream.foreachBatch(_batch).outputMode("update")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def _check_chunk_params(
    chunks: DataFrame, id_col: str, window: int, stride: int
) -> None:
    """Guard for precomputed-``chunks=`` callers (r17 ADVICE): a chunk
    table built with different (window, stride) than the call names
    would yield plausible-but-wrong keeper marks with no error.
    ``chunk_documents`` stamps its parameters as ``chunk_hash`` field
    metadata, which projections and the parquet round trip keep. A
    frame without the stamp is only checked for the id column
    (hand-built test frames stay accepted)."""
    if id_col not in chunks.columns:
        raise ValueError(
            f"precomputed chunks frame lacks id column {id_col!r} "
            f"(has {chunks.columns})"
        )
    if "chunk_hash" not in chunks.columns:
        return
    got = chunks.schema["chunk_hash"].metadata.get("chunk_params")
    want = {"window": window, "stride": stride}
    if got is not None and got != want:
        raise ValueError(
            f"precomputed chunks frame was built with {got} but the "
            f"call names {want}; pass a matching chunk table"
        )


def chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
    chunks: DataFrame | None = None,
) -> DataFrame:
    """Paragraph/substring-level exact dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): mark
    every chunk occurrence whose exact token window already appeared
    earlier in the corpus — the repeated-boilerplate INSIDE otherwise-
    distinct documents that doc-granularity dedup (exact / Jaccard /
    MinHash / SimHash) cannot see.

    Chunk-hash approximation of the paper's suffix-array exact-substring
    match: documents split into ``window``-token chunks every ``stride``
    tokens (``text.chunk_documents``), identical chunks collide on an
    md5 hash, and the FIRST occurrence in ``(doc_id, chunk_idx)`` order
    is the keeper — every later occurrence (across docs, or repeated
    within one doc) is a droppable span. Overlapping chunks
    (stride < window) widen recall at span boundaries; callers wanting
    disjoint spans pass ``stride == window``.

    Returns one row per chunk occurrence: ``(doc_id, chunk_idx,
    chunk_tokens, chunk_hash, keep_doc_id, keep_chunk_idx, is_dup)``.
    Filter ``is_dup`` for the dropped-span list; group by ``doc_id``
    for per-document duplication rates (``chunk_dedup_summary``).

    Scale shape: chunking is a narrow projection+explode; the keeper
    choice is ONE hash-partitioned groupBy on ``chunk_hash`` (min of a
    2-field struct — lexicographic, partial-aggregates map-side) and
    the mark-back join is keyed on the same ``chunk_hash`` — AQE
    broadcasts the keeper table while it fits and falls back to a
    co-partitioned shuffle join (same key, no extra repartition) when
    the chunk vocabulary outgrows broadcast. No all-pairs anywhere;
    cost is linear in total chunk count, the same shape as doc-level
    ``exact_dedup`` one granularity down."""
    from airbnb_cdc_spark.operators.text import chunk_documents

    # ``chunks`` (r17): a caller holding a precomputed chunk table
    # (e.g. the registry's derive-once chunk store, shared by the
    # spans/summary/intervals family) passes it here and the
    # tokenize + slice + md5 pipeline is skipped entirely — the
    # keeper/mark-back tail reads the store on both join sides.
    if chunks is not None:
        _check_chunk_params(chunks, id_col, window, stride)
    if chunks is None:
        # persist: the keeper aggregate and the mark-back probe both
        # consume the chunk frame — uncached, BOTH join sides re-run
        # the tokenize + slice + md5 pipeline from the scan (the plan
        # showed the chunking subtree twice). Chunk rows are tiny
        # (hash + three ints, no token arrays), so the cache is cheap
        # at any corpus size.
        chunks = persist_tracked(
            chunk_documents(
                df, id_col=id_col, text_col=text_col, window=window, stride=stride
            )
        )
    return _mark_chunk_keepers(chunks, id_col)


def _mark_chunk_keepers(chunks: DataFrame, id_col: str) -> DataFrame:
    """The shared keeper-marking tail of every chunk-granularity dedup:
    first occurrence in (doc_id, chunk_idx) order keeps each
    chunk_hash, one hash-keyed groupBy + one same-key mark-back join
    (AQE broadcasts the keeper table while it fits)."""
    keepers = chunks.groupBy("chunk_hash").agg(
        F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).alias("__keep")
    )
    return (
        chunks.join(keepers, "chunk_hash")
        .select(
            F.col(id_col),
            "chunk_idx",
            "chunk_tokens",
            "chunk_hash",
            F.col("__keep")[id_col].alias("keep_doc_id"),
            F.col("__keep")["chunk_idx"].alias("keep_chunk_idx"),
            (
                (F.col(id_col) != F.col("__keep")[id_col])
                | (F.col("chunk_idx") != F.col("__keep")["chunk_idx"])
            ).alias("is_dup"),
        )
    )


def content_chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 16,
    rem: int = 3,
) -> DataFrame:
    """``chunk_dedup`` over CONTENT-DEFINED chunks
    (``text.content_chunk_documents``): boundaries follow the token
    hashes instead of fixed positions, so shared boilerplate still
    collides on identical chunks when an edit SHIFTS it within the
    document — the case where every fixed-stride window after the edit
    changes and chunk-level dedup goes blind (pytest-pinned contrast
    in ``test_content_chunks.py``). Same output contract and the same
    linear scale shape as ``chunk_dedup``: narrow per-row chunking,
    one chunk-hash groupBy, one same-key mark-back join."""
    from airbnb_cdc_spark.operators.text import content_chunk_documents

    chunks = persist_tracked(
        content_chunk_documents(
            df, id_col=id_col, text_col=text_col, divisor=divisor, rem=rem
        )
    )
    return _mark_chunk_keepers(chunks, id_col)


def chunk_dedup_summary(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
    chunks: DataFrame | None = None,
) -> DataFrame:
    """Per-document chunk-duplication profile: total chunks, droppable
    (non-keeper) chunks, and the duplication ratio — the corpus-prep
    gate value ("drop docs that are >X% boilerplate"). Ratio is one
    double division of two exact BIGINTs, engine-reproducible.
    Documents with no chunks (empty text) emit no row, matching the
    chunker.

    Counting identity instead of the mark-back join: exactly ONE
    occurrence per hash is its keeper, so a doc's droppable count is
    ``n_chunks − (hashes this doc won)``. Both sides reduce to
    doc-level counts BEFORE the join — at corpus scale the chunk
    occurrence list never flows through a join at all (``chunk_dedup``
    pays that for its per-occurrence output; the summary doesn't have
    to)."""
    from airbnb_cdc_spark.operators.text import chunk_documents

    if chunks is not None:
        _check_chunk_params(chunks, id_col, window, stride)
    if chunks is None:
        chunks = persist_tracked(
            chunk_documents(
                df, id_col=id_col, text_col=text_col, window=window, stride=stride
            )
        )
    per_doc = chunks.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks")
    )
    won = (
        chunks.groupBy("chunk_hash")
        .agg(F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).alias("__keep"))
        .groupBy(F.col("__keep")[id_col].alias(id_col))
        .agg(F.count(F.lit(1)).cast("long").alias("__n_won"))
    )
    d = F.col("n_chunks") - F.coalesce(F.col("__n_won"), F.lit(0))
    return per_doc.join(won, id_col, "left").select(
        F.col(id_col),
        "n_chunks",
        d.cast("long").alias("n_dup_chunks"),
        (d.cast("double") / F.col("n_chunks").cast("double")).alias("dup_ratio"),
    )


def chunk_dedup_intervals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
    chunks: DataFrame | None = None,
) -> DataFrame:
    """The actionable output of chunk-level dedup: per document, the
    MERGED token intervals to cut — droppable chunk occurrences
    (``chunk_dedup``) mapped to token spans
    ``[chunk_idx·stride, chunk_idx·stride + chunk_tokens)`` and
    coalesced where they overlap or touch (overlapping chunks from
    stride < window collapse into one span, exactly what a
    Lee-et-al-style substring cut consumes).

    One row per merged span: ``(doc_id, span_start, span_end,
    n_chunks)``. Exact integer arithmetic throughout.

    Scale shape: classic interval merge via two windows PARTITIONED BY
    doc_id (running max-end, then a running group counter) + one
    groupBy — all shuffles are hash-partitioned on the document key;
    per-partition frames are bounded by per-doc chunk counts (doc
    length / stride), never corpus-sized. Span starts are unique per
    doc (chunk_idx·stride), so the window order is total and the
    result engine-deterministic."""
    spans = (
        chunk_dedup(
            df, id_col=id_col, text_col=text_col, window=window,
            stride=stride, chunks=chunks,
        )
        .filter(F.col("is_dup"))
        .select(
            F.col(id_col),
            (F.col("chunk_idx").cast("long") * stride).alias("s"),
            (F.col("chunk_idx").cast("long") * stride + F.col("chunk_tokens")).alias(
                "e"
            ),
        )
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.max("e").over(w_prev)
    new_group = F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0)
    grouped = spans.withColumn("grp", F.sum(new_group).over(w_run))
    return (
        grouped.groupBy(id_col, "grp")
        .agg(
            F.min("s").alias("span_start"),
            F.max("e").alias("span_end"),
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
        )
        .select(id_col, "span_start", "span_end", "n_chunks")
    )


def incremental_chunk_dedup(
    new_docs: DataFrame,
    seen,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
    chunker=None,
) -> DataFrame:
    """Chunk-level dedup in the production ingest shape: a NEW batch
    marked against an already-ingested corpus's chunk-hash store — the
    growing-corpus form of ``chunk_dedup`` (a crawl refresh's repeated
    boilerplate is dropped against everything ever ingested, not just
    the current batch).

    ``seen`` is raw documents (same columns) or a precomputed store
    carrying a ``chunk_hash`` column — the operator chunks it if the
    column is absent. A batch chunk occurrence is droppable when its
    hash is IN the store, or when an earlier batch occurrence (first by
    ``(doc_id, chunk_idx)``) already claimed it. Output matches
    ``chunk_dedup``'s marking minus the keeper columns:
    ``(doc_id, chunk_idx, chunk_tokens, chunk_hash, is_dup)``.

    Scale shape: the batch chunk frame is persisted (hash + ints only);
    keeper choice is one hash groupBy; the store probe is a LEFT join
    on ``chunk_hash`` against a DISTINCT, column-pruned store scan —
    the store itself is never re-shuffled against the corpus, the same
    contract as ``incremental_exact_dedup``.

    ``chunker`` swaps the chunking rule while keeping every store/
    keeper/replay semantic: a callable ``docs -> (id, chunk_idx,
    chunk_tokens, chunk_hash)`` — e.g. a ``content_chunk_documents``
    closure for insertion-robust boundaries. Default: fixed-stride
    ``chunk_documents`` with ``window``/``stride``."""
    from airbnb_cdc_spark.operators.text import chunk_documents

    if chunker is None:
        def chunker(d):
            return chunk_documents(
                d, id_col=id_col, text_col=text_col, window=window, stride=stride
            )

    if "chunk_hash" not in seen.columns:
        seen = chunker(seen)
    store = seen.select("chunk_hash").distinct().withColumn("__seen", F.lit(True))
    chunks = persist_tracked(chunker(new_docs))
    keepers = chunks.groupBy("chunk_hash").agg(
        F.min(F.struct(F.col(id_col), F.col("chunk_idx"))).alias("__keep")
    )
    not_keeper = (F.col(id_col) != F.col("__keep")[id_col]) | (
        F.col("chunk_idx") != F.col("__keep")["chunk_idx"]
    )
    return (
        chunks.join(keepers, "chunk_hash")
        .join(store, "chunk_hash", "left")
        .select(
            F.col(id_col),
            "chunk_idx",
            "chunk_tokens",
            "chunk_hash",
            (not_keeper | F.coalesce(F.col("__seen"), F.lit(False))).alias(
                "is_dup"
            ),
        )
    )


def streaming_chunk_dedup(
    stream_docs: DataFrame,
    store,
    spans_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 64,
    stride: int = 48,
    checkpoint_dir: str | None = None,
    chunker=None,
):
    """Streaming chunk-level dedup against a PERSISTENT chunk-hash
    store: each micro-batch is marked by ``incremental_chunk_dedup``,
    its droppable spans land in ``spans_dir`` (idempotently per batch,
    like the quarantine sink), and the batch's KEEPER hashes that were
    unseen are appended to the store — so a paragraph ingested in any
    earlier batch (or run: the store survives restarts) suppresses
    every later recurrence.

    ``store`` is a ``ParquetMergeTable`` keyed on ``chunk_hash``; each
    row records the ``(run_id, batch_id)`` that first inserted it. The
    first writer of a hash wins permanently — the same first-occurrence
    semantics as the batch operator — and the pair makes the whole
    batch REPLAY-SAFE: foreachBatch can re-run an epoch after a crash
    (same epoch id, same data), and by then the store may already hold
    the crashed attempt's keeper hashes. The seen-set therefore
    EXCLUDES rows this same ``(run_id, epoch)`` inserted, so the replay
    reproduces the original marking bit-for-bit (keepers stay keepers),
    the spans overwrite rewrites identical content, and the re-merge
    replaces the row with itself. Without the exclusion a replay would
    mark every batch chunk as a duplicate and corrupt that epoch's
    spans directory.

    ``batch_id`` alone is NOT a safe exclusion key: foreachBatch epochs
    are only unique per checkpoint location, so a restart with a fresh
    checkpoint dir (or a second stream sharing the store) restarts at
    epoch 0 and would wrongly exclude a PREVIOUS run's epoch-0..N
    inserts from history — re-marking already-ingested chunks as
    keepers. ``run_id`` pins the exclusion to one logical stream: it is
    derived from ``checkpoint_dir`` (md5, stable across crash-restarts
    of the same checkpoint — the only case with a replay contract) or a
    fresh uuid when no checkpoint is given. (Stores created by older
    code lack the columns; their rows read NULL → treated as
    earlier-run history, and the first merge evolves the schema.)

    Returns the started StreamingQuery; await/stop is the caller's."""
    import hashlib
    import uuid as _uuid

    from airbnb_cdc_spark.operators.merge import ParquetMergeTable

    if not isinstance(store, ParquetMergeTable):
        raise TypeError(
            f"store must be a ParquetMergeTable, got {type(store).__name__}"
        )
    if store.keys != ["chunk_hash"]:
        raise ValueError(f"store must be keyed on ['chunk_hash'], got {store.keys}")

    run_id = (
        hashlib.md5(checkpoint_dir.encode("utf-8")).hexdigest()
        if checkpoint_dir is not None
        else _uuid.uuid4().hex
    )

    def _batch(batch_df: DataFrame, epoch: int) -> None:
        _chunk_dedup_batch(
            batch_df,
            epoch,
            store,
            spans_dir,
            id_col,
            text_col,
            window,
            stride,
            run_id=run_id,
            chunker=chunker,
        )

    writer = stream_docs.writeStream.foreachBatch(_batch).outputMode("update")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def _chunk_dedup_batch(
    batch_df: DataFrame,
    epoch: int,
    store,
    spans_dir: str,
    id_col: str,
    text_col: str,
    window: int,
    stride: int,
    run_id: str = "",
    chunker=None,
) -> None:
    """One ``streaming_chunk_dedup`` micro-batch, replay-idempotent:
    re-running the same ``(batch_df, epoch)`` under the same ``run_id``
    — foreachBatch's crash contract — reproduces the identical spans
    output and leaves the store unchanged, because the seen-set
    excludes this ``(run_id, epoch)``'s own inserts. A DIFFERENT run
    reusing epoch numbers (fresh checkpoint dir, second stream) gets a
    different ``run_id``, so prior runs' rows stay in the history and
    already-ingested chunks stay suppressed. Module-level so both
    properties are directly testable."""
    import posixpath

    from airbnb_cdc_spark.session import cache_scope

    # cache_scope: incremental_chunk_dedup persists the batch chunk
    # frame; without a scoped release every micro-batch would leak one
    # cached DataFrame into the session registry for the stream's
    # lifetime.
    with cache_scope():
        if store.exists():
            seen = store.read()
            if "batch_id" in seen.columns:
                # Replay safety: drop THIS (run, epoch)'s own inserts
                # from the history. NULL batch_id / run_id = legacy or
                # foreign rows = history. Rows written before run_id
                # existed coalesce to "" and only match a caller that
                # explicitly passed run_id="" (the legacy default).
                same_run = F.coalesce(
                    F.col("run_id") if "run_id" in seen.columns else F.lit(None),
                    F.lit(""),
                ) == F.lit(run_id)
                same_epoch = (
                    F.coalesce(F.col("batch_id"), F.lit(-1)) == F.lit(epoch)
                )
                seen = seen.filter(~(same_run & same_epoch))
            seen = seen.select("chunk_hash")
        else:
            seen = batch_df.sparkSession.createDataFrame([], "chunk_hash string")
        marked = incremental_chunk_dedup(
            batch_df, seen, id_col, text_col,
            window=window, stride=stride, chunker=chunker,
        )
        marked.filter(F.col("is_dup")).select(
            id_col, "chunk_idx", "chunk_tokens", "chunk_hash"
        ).write.mode("overwrite").parquet(
            posixpath.join(spans_dir, f"batch_id={epoch}")
        )
        fresh = (
            marked.filter(~F.col("is_dup"))
            .select("chunk_hash")
            .distinct()
            .withColumn("batch_id", F.lit(epoch).cast("long"))
            .withColumn("run_id", F.lit(run_id))
        )
        # fresh can only contain hashes absent from history or inserted
        # by this same (run, epoch)'s crashed attempt, so the upsert
        # never rewrites an earlier epoch's or another run's row.
        store.merge(fresh, allow_schema_evolution=True)


def winnowed_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03 — the MOSS algorithm): positional k-gram hashes, then the
    MINIMUM hash of every ``w``-long window of consecutive grams,
    deduplicated per document. Guarantees every shared substring of at
    least ``w + k - 1`` tokens contributes a shared fingerprint —
    position-robust substring detection that fixed-stride chunking
    (``chunk_dedup``) misses when the copy shifts by a few tokens,
    with a fingerprint density of ~2/(w+1) instead of every gram.

    Docs with fewer than ``w`` grams keep their single overall minimum
    (one truncated window); empty docs emit nothing. Everything is
    md5-h60 + array_min — exact integers, DuckDB-reproducible.

    Scale: pure per-row array transforms (gram hashes, window minima,
    distinct) — zero shuffles; output rows are (id, fingerprint).

    The gram-hash array is MATERIALIZED behind a persist barrier before
    the window minima: referenced directly inside the window lambda,
    Catalyst inlines the whole tokenize→shingle→md5 expression into
    every per-element evaluation — O(n_grams²) md5 calls per document
    (measured 27.6s at sf0.1 vs ~1s materialized; CollapseProject undoes
    a plain two-step select, so the cache is the barrier — the same
    discipline as ``_hashed_base``)."""
    toks = tokens(F.col(text_col))
    hashed = persist_tracked(
        ensure_parallelism(df).select(
            F.col(id_col),
            F.transform(shingles(toks, k), _h60).alias("__gh"),
        )
    )
    gh = F.col("__gh")
    n_win = F.greatest(F.size(gh) - (w - 1), F.lit(1))
    winnowed = F.array_distinct(
        F.transform(F.sequence(F.lit(1), n_win), lambda i: F.array_min(F.slice(gh, i, w)))
    )
    return (
        hashed.filter(F.size(gh) > 0)
        .select(F.col(id_col), winnowed.alias("__wf"))
        .select(id_col, F.explode("__wf").alias("fp"))
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Near-substring pair detection over winnowed fingerprints: doc
    pairs sharing at least ``min_shared`` fingerprints, with the
    shared count — the MOSS-style plagiarism/boilerplate report.

    Same inverted-index discipline as the Jaccard family: hot
    fingerprints above the AUTO doc-frequency cap (``max(2, n/100)``,
    the same rule) are dropped before the postings self-join, so
    candidate instances stay Σ C(df,2) over capped postings — never
    all-pairs. The winnowed sets are ~2/(w+1) the density of full gram
    sets, so the postings (and the join) are proportionally smaller
    than the Jaccard index over the same corpus.

    The postings frame is NOT persisted: its three consumers re-run
    only the cheap window-min transform over the CACHED gram arrays
    (winnowed_fingerprints' barrier), and an extra cache layer here
    measured 4-5x SLOWER end-to-end at sf0.1 (27.8s vs 5.9s) — an
    InMemoryRelation boundary on the exploded postings defeats the
    broadcast/AQE planning of the downstream joins."""
    posts = winnowed_fingerprints(df, id_col, text_col, k=k, w=w)
    total = df.select(F.count(F.lit(1)).alias("__n"))
    return winnow_pairs_from_posts(posts, total, id_col, min_shared)


def capped_winnow_posts(posts: DataFrame, total: DataFrame) -> DataFrame:
    """Drop hot fingerprints above the AUTO doc-frequency cap
    (``max(2, n/100)`` — the Jaccard-family rule) from an (id, fp)
    posting frame; ``total`` is a one-row ``__n`` doc-count frame.
    The shared pre-join guard of every winnow consumer: candidate
    instances stay Σ C(df,2) over capped postings, never all-pairs."""
    cap = F.greatest(F.lit(2), F.floor(F.col("__n") / 100).cast("long"))
    keep = (
        posts.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .join(F.broadcast(total))
        .filter(F.col("__df") <= cap)
        .select("fp")
    )
    return posts.join(keep, "fp")


def winnow_pairs_from_posts(
    posts: DataFrame,
    total: DataFrame,
    id_col: str = "doc_id",
    min_shared: int = 2,
) -> DataFrame:
    """The pair half of ``winnow_pairs``, taking an already-derived
    (id, fp) fingerprint frame — e.g. one read back from a persisted
    store — plus a one-row doc-count frame for the AUTO cap. Lets the
    fingerprint derivation be shared between the fingerprint report
    and the pair derivation (store-not-rescan: the corpus is
    fingerprinted once per snapshot)."""
    capped = capped_winnow_posts(posts, total)
    a = capped.select(F.col("fp"), F.col(id_col).alias("id_a"))
    b = capped.select(F.col("fp"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def incremental_winnow_neardup(
    batch: DataFrame,
    store_posts: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    batch_posts: DataFrame | None = None,
) -> DataFrame:
    """Near-substring detection for a NEW batch against the ingested
    corpus using only the corpus's stored winnow fingerprints — the
    MOSS-style analog of ``incremental_minhash_neardup``: the corpus
    text is NEVER rescanned. ``store_posts`` is a persisted (id, fp)
    posting frame (``winnowed_fingerprints`` output, hot-fp-capped at
    ingest via ``capped_winnow_posts`` — the cap is computed ONCE over
    the frozen corpus snapshot, so it cannot drift between batches the
    way a per-batch cap would); the batch fingerprints itself per run
    (per-row window minima, zero shuffles), candidates come from the
    fp equi-join, and the verify IS the join: the shared-fingerprint
    count is exact, unlike the minhash leg's signature-agreement
    estimate, because winnow fingerprints are content hashes, not
    sketches.

    Returns one row per near-dup batch doc: ``(id, match_id,
    shared_fps)`` — the corpus doc sharing the most fingerprints (ties
    to the smallest id), only where ``shared_fps >= min_shared``.
    Shuffles: the fp join (capped-posting-sized) and the per-batch-doc
    argmax — nothing corpus-sized moves.

    ``batch_posts`` lets a caller that also needs the batch postings
    (the streaming leg appends keepers' postings to the store) pass
    the precomputed frame so the fingerprint pass runs once."""
    bposts = (
        batch_posts
        if batch_posts is not None
        else winnowed_fingerprints(batch, id_col, text_col, k=k, w=w)
    )
    shared = (
        bposts.select(F.col(id_col).alias("__bid"), "fp")
        .join(store_posts.select(F.col(id_col).alias("__cid"), "fp"), "fp")
        .groupBy("__bid", "__cid")
        .agg(F.count(F.lit(1)).alias("__shared"))
        .filter(F.col("__shared") >= min_shared)
    )
    best = shared.groupBy("__bid").agg(
        F.min(
            F.struct(
                (-F.col("__shared")).alias("d"),
                F.col("__cid").alias("c"),
            )
        ).alias("__best")
    )
    return best.select(
        F.col("__bid").alias(id_col),
        F.col("__best.c").alias("match_id"),
        (-F.col("__best.d")).alias("shared_fps"),
    )


def streaming_winnow_neardup(
    stream_docs: DataFrame,
    store,
    report_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    checkpoint_dir: str | None = None,
):
    """Streaming near-substring ingest against a PERSISTENT winnow
    posting store — the MOSS-style sibling of
    ``streaming_minhash_neardup``: each micro-batch is checked with
    ``incremental_winnow_neardup`` (stored postings only, no corpus
    rescan), its near-dup report lands idempotently in
    ``report_dir/batch_id=N``, and the KEEPERS' postings (batch docs
    with no store match) are appended so any earlier batch or run
    suppresses later recurrences. Intra-batch near-dups are NOT
    cross-checked (run ``winnow_pairs`` where that matters) — the
    store is the dedup authority, exactly like the chunk store.

    The hot-fp cap is applied at QUERY time over the store snapshot a
    batch sees (``capped_winnow_posts`` with the store's own doc
    count): the corpus grows between batches, so no build-time cap
    exists to freeze, and the snapshot-at-batch-start is deterministic
    under replay — the ``(run_id, batch_id)`` exclusion restores the
    exact pre-crash snapshot, so the cap (and the marking) replays
    bit-for-bit.

    ``store`` is a ``ParquetMergeTable`` keyed on ``(id_col, fp)``
    holding posting rows plus ``(run_id, batch_id)`` provenance; the
    same replay-exclusion protocol as ``_chunk_dedup_batch`` applies.

    Returns the started StreamingQuery; await/stop is the caller's."""
    import hashlib
    import uuid as _uuid

    from airbnb_cdc_spark.operators.merge import ParquetMergeTable

    if not isinstance(store, ParquetMergeTable):
        raise TypeError(
            f"store must be a ParquetMergeTable, got {type(store).__name__}"
        )
    if store.keys != [id_col, "fp"]:
        raise ValueError(
            f"store must be keyed on [{id_col!r}, 'fp'], got {store.keys}"
        )

    run_id = (
        hashlib.md5(checkpoint_dir.encode("utf-8")).hexdigest()
        if checkpoint_dir is not None
        else _uuid.uuid4().hex
    )

    def _batch(batch_df: DataFrame, epoch: int) -> None:
        _winnow_neardup_batch(
            batch_df,
            epoch,
            store,
            report_dir,
            id_col,
            text_col,
            k,
            w,
            min_shared,
            run_id=run_id,
        )

    writer = stream_docs.writeStream.foreachBatch(_batch).outputMode("update")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def _winnow_neardup_batch(
    batch_df: DataFrame,
    epoch: int,
    store,
    report_dir: str,
    id_col: str,
    text_col: str,
    k: int,
    w: int,
    min_shared: int,
    run_id: str = "",
) -> None:
    """One ``streaming_winnow_neardup`` micro-batch, replay-idempotent
    under the ``(run_id, batch_id)`` exclusion protocol (see
    ``_chunk_dedup_batch`` — identical reasoning). Module-level so the
    replay and cross-run properties are directly testable."""
    import posixpath

    from airbnb_cdc_spark.session import cache_scope

    with cache_scope():
        if store.exists():
            seen = store.read()
            if "batch_id" in seen.columns:
                same_run = F.coalesce(
                    F.col("run_id") if "run_id" in seen.columns else F.lit(None),
                    F.lit(""),
                ) == F.lit(run_id)
                same_epoch = (
                    F.coalesce(F.col("batch_id"), F.lit(-1)) == F.lit(epoch)
                )
                seen = seen.filter(~(same_run & same_epoch))
            seen = persist_tracked(seen.select(id_col, "fp"))
            # snapshot-time hot-fp cap: doc count and fp frequencies
            # come from the SAME frozen seen-frame, so the capped
            # postings are a pure function of the store snapshot
            total = seen.select(
                F.count_distinct(F.col(id_col)).alias("__n")
            )
            seen = capped_winnow_posts(seen, total)
        else:
            seen = batch_df.sparkSession.createDataFrame(
                [], f"{id_col} long, fp bigint"
            )
        # persisted: consumed twice (match join + keeper append) —
        # without the barrier the fingerprint pass would run per use
        bposts = persist_tracked(
            winnowed_fingerprints(batch_df, id_col, text_col, k=k, w=w)
        )
        matches = persist_tracked(
            incremental_winnow_neardup(
                batch_df,
                seen,
                id_col,
                text_col,
                k,
                w,
                min_shared,
                batch_posts=bposts,
            )
        )
        matches.write.mode("overwrite").parquet(
            posixpath.join(report_dir, f"batch_id={epoch}")
        )
        fresh = (
            bposts.join(matches.select(id_col), id_col, "left_anti")
            .withColumn("batch_id", F.lit(epoch).cast("long"))
            .withColumn("run_id", F.lit(run_id))
        )
        store.merge(fresh, allow_schema_evolution=True)


def _sig_band_buckets(
    sigs: DataFrame, id_col: str, out_id: str, k: int, band_size: int
) -> DataFrame:
    """(out_id, bucket) band keys from a signature frame (id, mh0..) —
    the banding shape shared by batch-vs-corpus joins."""
    n_bands = k // band_size
    return sigs.select(
        F.col(id_col).alias(out_id),
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        F.lit(str(b)),
                        *[
                            F.col(f"mh{b * band_size + r}")
                            for r in range(band_size)
                        ],
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bucket"),
    )


def incremental_minhash_neardup(
    batch: DataFrame,
    store_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    band_size: int = 2,
    min_agree: int = 4,
    batch_sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate detection for a NEW batch against the ingested
    corpus using only the corpus's stored MinHash signatures — the
    near-dup analog of ``incremental_exact_dedup``: the corpus text is
    NEVER rescanned. ``store_sigs`` is ``minhash_signatures`` output
    persisted at ingest (k bigints per doc — a fixed-size sketch
    table, like the chunk-hash and KMV stores); the batch computes its
    own signatures, candidates come from the banded-bucket equi-join,
    and verification is SIGNATURE AGREEMENT: the fraction of the k
    minhashes that match is the standard unbiased Jaccard estimator,
    so ``min_agree``/k is the effective similarity threshold. Exact
    Jaccard verification would need the corpus shingle sets — exactly
    the rescan this operator exists to avoid; the estimator's variance
    is the price of O(batch) incremental cost, and is honest: both
    engines compute the identical integer agreement counts.

    Signatures must be built UNCAPPED (``max_doc_freq=None``): a
    corpus-frequency cap computed at ingest time would drift from one
    computed on a later batch, silently breaking signature
    comparability across time.

    Returns one row per near-dup batch doc: ``(id, match_id,
    n_agree)`` — the corpus doc with the highest agreement (ties to
    the smallest id), only where ``n_agree >= min_agree``. Shuffles:
    the band-bucket join (bucket-sized) and the per-batch-doc argmax —
    nothing corpus-sized moves.

    ``batch_sigs`` lets a caller that also needs the batch signatures
    (the streaming leg appends keepers' signatures to the store) pass
    the precomputed frame so the shingle/minhash pass runs once."""
    if band_size <= 0 or k % band_size != 0:
        raise ValueError(f"band_size must divide k: k={k}, band_size={band_size}")
    if not 1 <= min_agree <= k:
        raise ValueError(f"min_agree must be in [1, {k}], got {min_agree}")
    missing = [f"mh{j}" for j in range(k) if f"mh{j}" not in store_sigs.columns]
    if missing:
        raise ValueError(f"store_sigs lacks signature columns {missing}")

    bsigs = (
        batch_sigs
        if batch_sigs is not None
        else persist_tracked(
            minhash_signatures(batch, id_col, text_col, n, k, max_doc_freq=None)
        )
    )
    cand = (
        _sig_band_buckets(bsigs, id_col, "__bid", k, band_size)
        .join(
            _sig_band_buckets(store_sigs, id_col, "__cid", k, band_size),
            "bucket",
        )
        .select("__bid", "__cid")
        .distinct()
    )
    a = bsigs.select(
        F.col(id_col).alias("__bid"),
        *[F.col(f"mh{j}").alias(f"__a{j}") for j in range(k)],
    )
    c = store_sigs.select(
        F.col(id_col).alias("__cid"),
        *[F.col(f"mh{j}").alias(f"__c{j}") for j in range(k)],
    )
    agree = sum(
        (F.col(f"__a{j}") == F.col(f"__c{j}")).cast("int") for j in range(k)
    )
    verified = (
        cand.join(a, "__bid")
        .join(c, "__cid")
        .select("__bid", "__cid", agree.alias("__agree"))
        .filter(F.col("__agree") >= min_agree)
    )
    best = verified.groupBy("__bid").agg(
        F.min(
            F.struct(
                (F.lit(k) - F.col("__agree")).alias("d"),
                F.col("__cid").alias("c"),
            )
        ).alias("__best")
    )
    return best.select(
        F.col("__bid").alias(id_col),
        F.col("__best.c").alias("match_id"),
        (F.lit(k) - F.col("__best.d")).cast("int").alias("n_agree"),
    )


def streaming_minhash_neardup(
    stream_docs: DataFrame,
    store,
    report_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    band_size: int = 2,
    min_agree: int = 4,
    checkpoint_dir: str | None = None,
):
    """Streaming near-dup ingest against a PERSISTENT MinHash signature
    store — the near-dup sibling of ``streaming_chunk_dedup``: each
    micro-batch is checked with ``incremental_minhash_neardup`` (store
    signatures only, no corpus rescan), its near-dup report lands
    idempotently in ``report_dir/batch_id=N``, and the KEEPERS'
    signatures (batch docs with no store match) are appended so any
    earlier batch or run suppresses later recurrences. Intra-batch
    near-dups are NOT cross-checked (run ``minhash_lsh_pairs`` on a
    batch where that matters) — the store is the dedup authority,
    exactly like the chunk store.

    ``store`` is a ``ParquetMergeTable`` keyed on ``id_col`` holding
    ``minhash_signatures`` rows plus ``(run_id, batch_id)`` provenance;
    the same ``(run_id, batch_id)`` replay-exclusion protocol as
    ``_chunk_dedup_batch`` makes a crashed epoch's re-run reproduce its
    marking bit-for-bit, and keeps a SECOND run (fresh checkpoint dir,
    epochs restarting at 0) from un-suppressing the first run's
    documents.

    Returns the started StreamingQuery; await/stop is the caller's."""
    import hashlib
    import uuid as _uuid

    from airbnb_cdc_spark.operators.merge import ParquetMergeTable

    if not isinstance(store, ParquetMergeTable):
        raise TypeError(
            f"store must be a ParquetMergeTable, got {type(store).__name__}"
        )
    if store.keys != [id_col]:
        raise ValueError(f"store must be keyed on [{id_col!r}], got {store.keys}")

    run_id = (
        hashlib.md5(checkpoint_dir.encode("utf-8")).hexdigest()
        if checkpoint_dir is not None
        else _uuid.uuid4().hex
    )

    def _batch(batch_df: DataFrame, epoch: int) -> None:
        _minhash_neardup_batch(
            batch_df,
            epoch,
            store,
            report_dir,
            id_col,
            text_col,
            n,
            k,
            band_size,
            min_agree,
            run_id=run_id,
        )

    writer = stream_docs.writeStream.foreachBatch(_batch).outputMode("update")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def _minhash_neardup_batch(
    batch_df: DataFrame,
    epoch: int,
    store,
    report_dir: str,
    id_col: str,
    text_col: str,
    n: int,
    k: int,
    band_size: int,
    min_agree: int,
    run_id: str = "",
) -> None:
    """One ``streaming_minhash_neardup`` micro-batch, replay-idempotent
    under the ``(run_id, batch_id)`` exclusion protocol (see
    ``_chunk_dedup_batch`` — identical reasoning). Module-level so the
    replay and cross-run properties are directly testable."""
    import posixpath

    from airbnb_cdc_spark.session import cache_scope

    sig_cols = [f"mh{j}" for j in range(k)]
    with cache_scope():
        if store.exists():
            seen = store.read()
            if "batch_id" in seen.columns:
                same_run = F.coalesce(
                    F.col("run_id") if "run_id" in seen.columns else F.lit(None),
                    F.lit(""),
                ) == F.lit(run_id)
                same_epoch = (
                    F.coalesce(F.col("batch_id"), F.lit(-1)) == F.lit(epoch)
                )
                seen = seen.filter(~(same_run & same_epoch))
            seen = seen.select(id_col, *sig_cols)
        else:
            schema = f"{id_col} long, " + ", ".join(
                f"{c} long" for c in sig_cols
            )
            seen = batch_df.sparkSession.createDataFrame([], schema)
        bsigs = persist_tracked(
            minhash_signatures(
                batch_df, id_col, text_col, n, k, max_doc_freq=None
            )
        )
        # persisted: consumed twice (report write + keeper anti-join) —
        # without the barrier the band join would run once per consumer
        matches = persist_tracked(
            incremental_minhash_neardup(
                batch_df,
                seen,
                id_col,
                text_col,
                n,
                k,
                band_size,
                min_agree,
                batch_sigs=bsigs,
            )
        )
        matches.write.mode("overwrite").parquet(
            posixpath.join(report_dir, f"batch_id={epoch}")
        )
        fresh = (
            bsigs.join(matches.select(id_col), id_col, "left_anti")
            .withColumn("batch_id", F.lit(epoch).cast("long"))
            .withColumn("run_id", F.lit(run_id))
        )
        store.merge(fresh, allow_schema_evolution=True)
