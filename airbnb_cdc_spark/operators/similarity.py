"""Similarity search over an embedding column (array<float>).

Two paths:
- ``brute_force_topk`` — exact top-k by cosine for a (small) query set:
  broadcast the queries, scan the corpus once, window top-k. The
  correctness baseline at any scale where queries are few.
- ``lsh_topk`` — sign-random-projection LSH: integer hyperplanes bucket
  vectors; candidates = same bucket; exact re-rank inside the bucket.
  At 100 TB the bucket-join replaces the corpus×queries cross product;
  recall is tuned by bits/tables. (An IVF variant would k-means the
  corpus; LSH keeps everything deterministic for the oracle.)

Numeric determinism (the "quantized dot product" trick): components are
quantized to integers (round(x * 1e6)), so dot products and norms are
exact BIGINTs and the derived cosine is a deterministic IEEE double —
bitwise identical across Spark and the DuckDB oracle. Hyperplanes are
integer-valued pseudo-random projections, so bucket ids are exact too.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airbnb_cdc_spark.session import ensure_parallelism, persist_tracked

QUANT = 1_000_000


def quantize(vec: Column) -> Column:
    """array<float> → array<long>, component-wise round(x * 1e6)."""
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * QUANT).cast("long")
    )


def qdot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def qnorm2(a: Column) -> Column:
    return qdot(a, a)


def cosine_q(a: Column, b: Column) -> Column:
    """Cosine from exact integer dot/norms (deterministic double)."""
    return qdot(a, b).cast("double") / (
        F.sqrt(qnorm2(a).cast("double")) * F.sqrt(qnorm2(b).cast("double"))
    )


def _with_quant(
    df: DataFrame, id_col: str, vec_col: str, widen: bool = True
) -> DataFrame:
    """Quantize once and precompute the norm — pair-wise scoring then
    does ONE dot product per pair instead of three (the norms would
    otherwise be recomputed for every candidate pair).

    ``widen=False`` skips the ``ensure_parallelism`` fan-out: a query
    side that is about to be broadcast gains nothing from a repartition
    (its rows are few and the broadcast re-collects them anyway), so the
    extra shuffle stage is pure fixed overhead."""
    if not widen:
        base = df
    else:
        base = ensure_parallelism(df)
    return base.select(
        F.col(id_col),
        quantize(F.col(vec_col)).alias("__q"),
    ).withColumn("__norm", F.sqrt(qnorm2(F.col("__q")).cast("double")))


def _pair_cosine(qa: Column, qb: Column, na: Column, nb: Column) -> Column:
    return qdot(qa, qb).cast("double") / (na * nb)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k cut: rank (cosine desc, neighbor_id asc) per query,
    keep k. One definition so the exact and ANN variants can never
    desynchronize their tie-break or k semantics."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _rank_topk_score8(scored: DataFrame, k: int) -> DataFrame:
    """`_rank_topk`'s integer-score sibling for the SQ8 family: rank
    (score8 desc, neighbor_id asc) per query, keep k. One definition
    so the in-session variants (sq8_topk, ivf_sq8_topk) and the store
    queries (query_sq8_index, query_ivf_sq8_index) can never
    desynchronize their tie-break or k semantics — the bit-exact
    replay contract tests/test_registry_oracle.py checks."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score8").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score8", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, cosine, rank).
    Queries broadcast; self-matches excluded; ties broken by neighbor id."""
    c = _with_quant(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__q").alias("__qc"),
        F.col("__norm").alias("__nc"),
    )
    q = F.broadcast(
        _with_quant(queries, id_col, vec_col, widen=False).select(
            F.col(id_col).alias("query_id"),
            F.col("__q").alias("__qq"),
            F.col("__norm").alias("__nq"),
        )
    )
    scored = (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _pair_cosine(F.col("__qq"), F.col("__qc"), F.col("__nq"), F.col("__nc")),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return _rank_topk(scored, k)


# 8-bit scalar quantization (SQ8): symmetric, one global scale. 127
# levels per side; codes live in a TINYINT array — 4x smaller than the
# raw float32 embedding and 8x smaller than the 1e6-quantized BIGINT
# form, which is the knob that matters at 100 TB: the candidate scan is
# memory-bandwidth-bound, so shrinking bytes/vector is a direct
# throughput multiplier, and a billion-vector code table broadcasts or
# pins in cache where floats cannot.
SQ8_LEVELS = 127.0


def _sq8_max_abs(corpus: DataFrame, vec_col: str) -> DataFrame:
    """1-row frame holding the corpus-wide max |component| (the
    symmetric quantizer's scale). Float abs/max are exact, the final
    cast to double is exact — every engine computes the same scale."""
    return corpus.agg(
        F.max(F.array_max(F.transform(F.col(vec_col), F.abs)))
        .cast("double")
        .alias("__mx")
    )


def sq8_codes(
    df: DataFrame,
    scale: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    widen: bool = True,
) -> DataFrame:
    """(id, c8: array<tinyint>) — c8[i] = floor(x_i * 127 / max_abs),
    SATURATED to [-127, 127] (standard symmetric int8). The clamp is
    what makes a FROZEN scale safe: vectors appended later may exceed
    the build-time max_abs, and double rounding can nudge the exact
    boundary to -128 even same-corpus — either way the code rail-stops
    instead of overflowing. The expression is a fixed left-to-right
    double chain over exactly-converted floats, so the codes are
    bit-identical on any engine and any partitioning.

    A degenerate scale (all-zero or empty corpus → max_abs 0 or NULL)
    fails LOUDLY at execution instead of silently emitting NULL/NaN
    codes — a zero scale written by ``write_sq8_index`` would poison
    every later append and query. For any positive scale the guard
    passes ``__mx`` through unchanged (no value drift)."""
    base = ensure_parallelism(df) if widen else df
    mx = F.when(F.col("__mx") > 0, F.col("__mx")).otherwise(
        F.raise_error(
            F.lit(
                "sq8_codes: degenerate quantizer scale (max_abs <= 0 or"
                " NULL) — all-zero or empty corpus; rebuild the index"
                " from a corpus with signal"
            )
        )
    )
    return base.crossJoin(F.broadcast(scale)).select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.greatest(
                F.least(
                    F.floor(x.cast("double") * F.lit(SQ8_LEVELS) / mx),
                    F.lit(127).cast("long"),
                ),
                F.lit(-127).cast("long"),
            ).cast("byte"),
        ).alias("c8"),
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """ANN top-k over SQ8 codes: (query_id, neighbor_id, score8, rank).
    score8 is the EXACT integer dot product of the two int8 code
    vectors (<= dim * 127^2 — nowhere near int64), so the entire
    result is integer-valued: ranking, tie-break (neighbor id), and
    output hash cannot drift. Queries quantize with the same corpus
    scale and broadcast; the corpus is scanned once, codes-only."""
    scale = _sq8_max_abs(corpus, vec_col)
    c = sq8_codes(corpus, scale, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("c8").alias("__cc")
    )
    q = F.broadcast(
        sq8_codes(queries, scale, id_col, vec_col, widen=False).select(
            F.col(id_col).alias("query_id"), F.col("c8").alias("__cq")
        )
    )
    score = F.aggregate(
        F.zip_with(
            F.col("__cq"),
            F.col("__cc"),
            lambda x, y: x.cast("long") * y.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score8", score)
        .select("query_id", "neighbor_id", "score8")
    )
    return _rank_topk_score8(scored, k)


def auto_bits(n_rows: int, target_bucket: int = 256, lo: int = 2, hi: int = 16) -> int:
    """Scale-proportional LSH width: enough sign bits that the expected
    bucket holds ~``target_bucket`` vectors (2^bits buckets). Keeps the
    same call working from 1e3 to 1e10 rows without retuning — the
    bucket-join cost tracks bucket occupancy, not corpus size."""
    import math

    return max(lo, min(hi, math.ceil(math.log2(max(2.0, n_rows / target_bucket)))))


def hyperplane(j: int, dim: int) -> list[int]:
    """Deterministic integer pseudo-random hyperplane component:
    h_j[d] = ((1009*(j+1)*(d+7) + 30011*(j+3)) % 2003) - 1001."""
    return [((1009 * (j + 1) * (d + 7) + 30011 * (j + 3)) % 2003) - 1001 for d in range(dim)]


def lsh_bucket(qvec: Column, planes: list[list[int]]) -> Column:
    """Signed-projection bucket id: bit j = sign(dot(q, h_j))."""
    total = F.lit(0)
    for j, plane in enumerate(planes):
        h = F.array(*[F.lit(v) for v in plane])
        proj = qdot(qvec, h.cast("array<long>"))
        total = total + F.when(proj > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return total.cast("int")


def lsh_probe_buckets(qvec: Column, planes: list[list[int]], nprobe: int) -> Column:
    """Query-directed multi-probe bucket list (Lv et al., VLDB 2007):
    the query's own bucket first, then the buckets reached by flipping
    the sign bit of the ``nprobe - 1`` planes whose projection magnitude
    is smallest — those are the planes the vector sits closest to, so
    their flip-side buckets are the likeliest to hold missed neighbors.
    Projections are exact integers (quantized vector × integer plane),
    so the probe list is bit-reproducible across engines."""
    projs = [qdot(qvec, F.array(*[F.lit(v) for v in plane]).cast("array<long>"))
             for plane in planes]
    own = F.lit(0)
    for j, p in enumerate(projs):
        own = own + F.when(p > 0, F.lit(1 << j)).otherwise(F.lit(0))
    own = own.cast("int")
    if nprobe <= 1:
        return F.array(own)
    # struct carries the flip mask 1<<j (monotonic in j, so the (|proj|,
    # mask) sort order matches the oracle's (|proj|, j) tie-break)
    ranked = F.sort_array(
        F.array(*[
            F.struct(F.abs(p).alias("a"), F.lit(1 << j).alias("m"))
            for j, p in enumerate(projs)
        ])
    )
    flips = F.transform(
        F.slice(ranked, 1, nprobe - 1),
        lambda s: own.bitwiseXOR(s.getField("m")).cast("int"),
    )
    return F.concat(F.array(own), flips)


def _check_dim(df: DataFrame, vec_col: str, dim: int, full: bool = False) -> None:
    """Fail fast when the configured plane dimension doesn't match the
    data: a too-large ``dim`` makes every zip_with projection NULL,
    silently collapsing ALL vectors into bucket 0 — the bucket join
    then degenerates to the full cross product the LSH exists to avoid.
    Default: one LIMIT-1 row is read (bounded metadata, like auto_bits'
    count — the right cost for a 100 TB corpus side). ``full=True``
    scans min AND max vector size, catching mixed-dimension frames —
    use it on the small/broadcast query side only."""
    if full:
        row = df.agg(
            F.min(F.size(F.col(vec_col))).alias("mn"),
            F.max(F.size(F.col(vec_col))).alias("mx"),
        ).collect()
        if row and row[0].mn is not None and not (row[0].mn == row[0].mx == dim):
            raise ValueError(
                f"hyperplane dim={dim} but {vec_col!r} vectors have "
                f"{row[0].mn}..{row[0].mx} components"
            )
        return
    row = df.select(F.size(F.col(vec_col)).alias("s")).limit(1).collect()
    if row and row[0].s != dim:
        raise ValueError(
            f"hyperplane dim={dim} but {vec_col!r} vectors have "
            f"{row[0].s} components"
        )


# Store-artifact read cache (r17, guide §1/§6): every stored-ANN query
# run re-paid spark.read.parquet's ~90 ms footer re-analysis per
# artifact (centroids/, scale/, codebook/, meta/, codes/) plus a
# collect job for meta rows and geometry/width probes — fixed driver
# overhead ∝ artifacts, not data. Entries are keyed on (session, path,
# DIRECTORY MTIME): a rebuild (overwrite recreates the dir) or an
# append (new part files touch the dir) changes the mtime, so a stale
# plan or row can never be served; partitioned layouts (lists/cid=N)
# stay UNcached because writes land in subdirectories the parent mtime
# does not reflect (_read_lists handles those). Data is still scanned
# from parquet on every action — this caches analysis and bounded
# metadata, never rows of a query result.
_STORE_PART_CACHE: dict = {}
# Bound (r17 ADVICE): rebuilds/appends insert new-signature entries while
# superseded ones would otherwise stay alive (and geometry entries pin a
# DataFrame each) — unbounded driver growth in long sessions. Same-
# (kind, session, path) predecessors are dropped on insert; the FIFO cap
# backstops keys with no path component (the geometry probe).
_STORE_PART_CACHE_MAX = 1024


def _store_part_sig(spark, path: str):
    """Content signature of a FLAT store artifact dir. Local posix dirs
    (every _derive_once/store layout we produce) hash the child listing
    — (name, mtime_ns, size) per entry — so a same-tick overwrite or a
    sub-second append-after-read always changes the key (part-file
    names are fresh UUIDs on every write; mtime_ns beats 1 s dir-mtime
    granularity). Non-local paths fall back to the Hadoop dir mtime; an
    object store that reports no usable mtime returns None, which
    DISABLES caching for that path (r17 ADVICE) rather than risking a
    stale plan."""
    if os.path.isdir(path):
        try:
            with os.scandir(path) as it:
                return hash(
                    tuple(
                        sorted(
                            (e.name, e.stat().st_mtime_ns, e.stat().st_size)
                            for e in it
                        )
                    )
                )
        except OSError:
            return None
    try:
        from airbnb_cdc_spark.operators.merge import _fs

        fs, _ = _fs(spark, path)
        mtime = fs.getFileStatus(
            spark._jvm.org.apache.hadoop.fs.Path(path)
        ).getModificationTime()
        return mtime or None
    except Exception:
        return None


def _cached_part(spark, path: str, kind: str, build):
    sig = _store_part_sig(spark, path)
    if sig is None:
        return build()
    key = (kind, id(spark), path, sig)
    hit = _STORE_PART_CACHE.get(key)
    if hit is not None and hit[0] is spark:
        return hit[1]
    val = build()
    # evict superseded signatures for the same artifact, then backstop
    # total size (plain FIFO — the cache is tiny relative to the cap)
    stale = [
        k
        for k in _STORE_PART_CACHE
        if len(k) == 4 and k[:3] == (kind, id(spark), path)
    ]
    for k in stale:
        _STORE_PART_CACHE.pop(k, None)
    while len(_STORE_PART_CACHE) >= _STORE_PART_CACHE_MAX:
        _STORE_PART_CACHE.pop(next(iter(_STORE_PART_CACHE)), None)
    _STORE_PART_CACHE[key] = (spark, val)
    return val


def _read_store_part(spark, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` memoized per (session, path, dir
    mtime) — for flat store artifacts only (module comment above)."""
    return _cached_part(spark, path, "df", lambda: spark.read.parquet(path))


def _store_part_row(spark, path: str):
    """First row of a 1-row store artifact (``meta/``), memoized."""
    return _cached_part(
        spark, path, "row", lambda: _read_store_part(spark, path).collect()[0]
    )


def _stored_width_cached(spark, path: str, code_col: str) -> int | None:
    """The limit-1 stored-width probe of ``_check_stored_width``,
    memoized per (session, path, dir mtime). Returns None on an empty
    store. The incoming-frame side of the guard stays per-call."""

    def _probe():
        row = (
            _read_store_part(spark, path)
            .select(F.size(F.col(code_col)).alias("d"))
            .limit(1)
            .collect()
        )
        return row[0].d if row else None

    return _cached_part(spark, path, f"width:{code_col}", _probe)


def _collected_probes(probes_sel: DataFrame):
    """One bounded collect of a (query_id, list-id) probe assignment,
    returned as (rows, local relation). |queries|·nprobe two-scalar
    rows — the same driver-side-metadata trade the static partition
    filter already makes. Replaces the r17 persist + distinct-collect +
    cached-broadcast chain (3 driver jobs and a persist lifecycle) with
    ONE action: the distinct list ids come from the collected rows, and
    the local relation broadcasts without a scan (r18, guide §1/§5 —
    fewer sequential driver jobs, nothing corpus-sized ever collected).

    The rebuild is a pure-JVM local relation (``local_rows_df``), never
    a ``createDataFrame`` — the parallelized Python local frame would
    cost one Python-worker round-trip PER CORE inside every broadcast
    build over it (measured ~230 ms/task of pure wait)."""
    from airbnb_cdc_spark.session import local_rows_df

    rows = probes_sel.collect()
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in probes_sel.schema.fields
    )
    local = local_rows_df(probes_sel.sparkSession, rows, schema)
    return rows, local


def _check_collected_dims(pairs, size_col: str, dim: int | None, vec_col: str) -> None:
    """The ``_check_dim(full=True)`` guard evaluated from the probe
    collect instead of a separate 2-job aggregate action (r18): every
    query row contributes its top-nprobe probe rows, so the collected
    ``size(vec)`` column covers the whole query frame — same fail-loud
    ValueError, two fewer driver jobs per run. An empty query frame
    passes, exactly like the aggregate form. A NULL query vector has a
    NULL size; it fails loud too, naming the query ids."""
    nulls = sorted({r.query_id for r in pairs if r[size_col] is None})
    if nulls:
        raise ValueError(f"{vec_col!r} is NULL for query ids {nulls}")
    sizes = {r[size_col] for r in pairs}
    if sizes and sizes != {dim}:
        raise ValueError(
            f"hyperplane dim={dim} but {vec_col!r} vectors have "
            f"{min(sizes)}..{max(sizes)} components"
        )


def _check_store_not_empty(width: int | None, queries: DataFrame, path: str) -> None:
    """A store with no rows has no stored width (``width`` is None), so
    no width guard can run and every query would silently get an empty
    top-k. Fail loud for a non-empty query frame instead; an empty one
    still gets its empty answer. Runs a job only on an empty store."""
    if width is None and not queries.isEmpty():
        raise ValueError(
            f"ANN store {path!r} is empty; cannot answer a non-empty query frame"
        )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    bits: int | None = 4,
    dim: int = 64,
    nprobe: int = 1,
) -> DataFrame:
    """ANN top-k: bucket by sign-LSH, exact cosine re-rank in-bucket.
    Same output shape as brute_force_topk (approximate contents).
    ``bits=None`` derives the width from the corpus size (one count).

    ``nprobe > 1`` turns on query-directed multi-probe: each query also
    searches the buckets reached by flipping its least-confident sign
    bits, trading ~nprobe× candidate volume for recall WITHOUT extra
    hash tables (the corpus is still bucketed exactly once — at 100 TB
    the corpus index is the expensive side, so multi-probe is the right
    recall knob: only the broadcast query side fans out)."""
    if bits is None:
        bits = auto_bits(corpus.count())
    nprobe = max(1, min(nprobe, bits + 1))
    _check_dim(corpus, vec_col, dim)
    # Queries go through the same zip_with projection, so a wrong-dim
    # query vector would also NULL out and silently collapse into
    # bucket 0; the query side is the small (broadcast) side, so the
    # full min/max scan is cheap and catches mixed-dimension frames.
    _check_dim(queries, vec_col, dim, full=True)
    planes = [hyperplane(j, dim) for j in range(bits)]
    c = _with_quant(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__q").alias("__qc"),
        F.col("__norm").alias("__nc"),
        lsh_bucket(F.col("__q"), planes).alias("bucket"),
    )
    qbase = _with_quant(queries, id_col, vec_col, widen=False).select(
        F.col(id_col).alias("query_id"),
        F.col("__q").alias("__qq"),
        F.col("__norm").alias("__nq"),
        lsh_probe_buckets(F.col("__q"), planes, nprobe).alias("__probes"),
    )
    # distinct probe buckets per query → a corpus vector (in exactly one
    # bucket) matches at most one probe, so no candidate dedup is needed
    q = F.broadcast(
        qbase.select(
            "query_id", "__qq", "__nq",
            F.explode(F.col("__probes")).alias("bucket"),
        )
    )
    scored = (
        q.join(c, on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _pair_cosine(F.col("__qq"), F.col("__qc"), F.col("__nq"), F.col("__nc")),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return _rank_topk(scored, k)


def build_lsh_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int | None = 4,
    dim: int = 64,
) -> None:
    """The sign-LSH bucket table as a DISK LAYOUT — ``lsh_topk``'s
    production form: quantized vectors written as parquet PARTITIONED
    by their sign-LSH bucket (``lists/bucket=N/``), with a 1-row
    ``meta/`` (bits, dim) alongside. The hyperplanes are a
    deterministic function of (j, dim) (``hyperplane``), so persisting
    (bits, dim) IS persisting the hash family — queries re-derive the
    planes and land in identical buckets on any engine. A query prunes
    to its probed ``bucket=`` directories at the scan (nprobe
    multi-probe fans out only the broadcast query side; the corpus is
    bucketed exactly once — the 100 TB recall knob). ``bits=None``
    derives the width from the corpus size, then freezes it.

    Fails fast on an empty corpus (the _validated_sq8_scale /
    _seed_centroids build-time contract): freezing a hash family over
    zero list rows would make every later query/append silently return
    empty instead of surfacing the broken build."""
    import os

    n = corpus.count()
    if n == 0:
        raise ValueError(
            "build_lsh_index: empty corpus — refusing to freeze a hash "
            "family over zero list rows (queries/appends against such a "
            "store would silently return empty)"
        )
    if bits is None:
        bits = auto_bits(n)
    _check_dim(corpus, vec_col, dim)
    planes = [hyperplane(j, dim) for j in range(bits)]
    c = _with_quant(corpus, id_col, vec_col).select(
        F.col(id_col),
        F.col("__q"),
        F.col("__norm"),
        lsh_bucket(F.col("__q"), planes).alias("bucket"),
    )
    c.repartition("bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(os.path.join(path, "lists"))
    corpus.sparkSession.createDataFrame(
        [(int(bits), int(dim))], "bits int, dim int"
    ).write.mode("overwrite").parquet(os.path.join(path, "meta"))


def append_lsh_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skip_existing: bool = True,
) -> int:
    """Incrementally grow a ``build_lsh_index`` layout: hash each new
    vector with the FROZEN (bits, dim) family and append into the
    matching ``bucket=`` partitions. Same contract as the IVF-family
    appends: partition-pruned existence probe over only the TOUCHED
    buckets, ``skip_existing`` replays are append-zero, full-batch
    width guard before anything is written, one file per touched
    bucket per batch, and the ``_recover_parked_lists`` preamble makes
    crashed-compaction interleavings safe. Returns rows appended.

    INSERT-ONLY contract (the IVF-family frozen-geometry caveat): the
    existence probe sees only the buckets the NEW batch hashes into,
    so re-appending an id whose embedding CHANGED lands a second row
    in its new bucket while the stale row persists in the old one —
    updated vectors require a rebuild (the rebuild-cadence answer the
    IVF appends document), not an append."""
    import os

    _recover_parked_lists(spark, os.path.join(path, "lists"))
    # single-partition-batch guard (the family contract): hashing is
    # per-row, but the persisted batch then feeds the existence probe
    # and the bucket-clustered write — widen a one-file batch first
    want = spark.sparkContext.defaultParallelism
    if new_vectors.rdd.getNumPartitions() < want:
        new_vectors = new_vectors.repartition(want)
    meta = _store_part_row(spark, os.path.join(path, "meta"))
    bits, dim = meta.bits, meta.dim
    _check_dim(new_vectors, vec_col, dim, full=True)
    planes = [hyperplane(j, dim) for j in range(bits)]
    batch = persist_tracked(
        _with_quant(new_vectors, id_col, vec_col).select(
            F.col(id_col),
            F.col("__q"),
            F.col("__norm"),
            lsh_bucket(F.col("__q"), planes).alias("bucket"),
        )
    )
    if skip_existing:
        touched = [
            r.bucket for r in batch.select("bucket").distinct().collect()
        ]
        existing = _read_lists(
            spark, os.path.join(path, "lists"), touched, part_col="bucket"
        )
        if existing is not None:
            batch = persist_tracked(
                batch.join(existing.select(id_col), id_col, "left_anti")
            )
    n = batch.count()
    if n:
        batch.repartition("bucket").write.mode("append").partitionBy(
            "bucket"
        ).parquet(os.path.join(path, "lists"))
    return n


def query_lsh_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """Top-k over a ``build_lsh_index`` layout: queries hash with the
    stored (bits, dim) family, their probe buckets (|queries|·nprobe
    ints) are collected and pushed into the lists scan as a STATIC
    partition filter — only the probed ``bucket=`` directories are
    listed or read — and the survivors re-rank by exact quantized
    cosine. Identical semantics and output contract
    (query_id, neighbor_id, cosine, rank) to ``lsh_topk`` over the
    same logical corpus and (bits, nprobe)."""
    import os

    meta = _store_part_row(spark, os.path.join(path, "meta"))
    bits, dim = meta.bits, meta.dim
    nprobe = max(1, min(nprobe, bits + 1))
    # width guard evaluated from the probe collect below (r18)
    planes = [hyperplane(j, dim) for j in range(bits)]
    qbase = _with_quant(queries, id_col, vec_col, widen=False).select(
        F.col(id_col).alias("query_id"),
        F.col("__q").alias("__qq"),
        F.col("__norm").alias("__nq"),
        lsh_probe_buckets(F.col("__q"), planes, nprobe).alias("__probes"),
    )
    probe_sel = qbase.select(
        "query_id",
        F.explode(F.col("__probes")).alias("bucket"),
        F.size(F.col("__qq")).alias("__d"),
    )
    # one bounded collect replaces the r17 persist + distinct-collect
    # chain; the query vectors re-attach from a fresh projection
    pairs, pairs_local = _collected_probes(probe_sel)
    _check_collected_dims(pairs, "__d", dim, vec_col)
    pairs_local = pairs_local.drop("__d")
    probe_buckets = sorted({r.bucket for r in pairs})
    q = qbase.select("query_id", "__qq", "__nq").join(
        F.broadcast(pairs_local), "query_id"
    )
    lists = _read_lists(
        spark, os.path.join(path, "lists"), probe_buckets, part_col="bucket"
    )
    if lists is None:
        empty = (
            q.select("query_id", F.col("query_id").alias("neighbor_id"))
            .limit(0)
            .withColumn("cosine", F.lit(None).cast("double"))
        )
        return _rank_topk(empty, k)
    scored = (
        lists.select(
            "bucket",
            F.col(id_col).alias("neighbor_id"),
            F.col("__q").alias("__qc"),
            F.col("__norm").alias("__nc"),
        )
        .join(F.broadcast(q), on="bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _pair_cosine(
                F.col("__qq"), F.col("__qc"), F.col("__nq"), F.col("__nc")
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return _rank_topk(scored, k)


def ivf_sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    centroid_mod: int = 37,
    centroid_rem: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """IVF pruning x SQ8 scanning — the composition the 100 TB ANN
    path actually runs: the inverted file cuts the candidate set to
    ~nprobe/n_centroids of the corpus, and the surviving candidate
    scan reads 4x-smaller int8 codes instead of floats (bandwidth-
    bound, so 4x fewer bytes is ~4x faster scanning). Assignment and
    probing use the exact quantized cosine (same deterministic
    centroid rule as ``ivf_topk``); candidate scoring is the exact
    integer SQ8 dot product, so the result is integer-ranked and
    bit-replayable end to end."""
    from pyspark.sql import Window

    base = persist_tracked(_with_quant(corpus, id_col, vec_col))
    cents = F.broadcast(
        _seed_centroids(corpus, base, id_col, centroid_mod, centroid_rem)
    )

    def nearest(side: DataFrame, out_id: str, n: int) -> DataFrame:
        if n == 1:
            # map-side-combined argmax (see _nearest_centroid): one
            # shuffled row per vector instead of one per
            # (vector, centroid)
            return _nearest_centroid(side, cents, id_col).select(
                F.col(id_col).alias(out_id), "cid"
            )
        scored = side.crossJoin(cents).withColumn(
            "__cos",
            _pair_cosine(
                F.col("__q"), F.col("__qc"), F.col("__norm"), F.col("__nc")
            ),
        )
        w = Window.partitionBy(side[id_col]).orderBy(
            F.col("__cos").desc(), F.col("cid").asc()
        )
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n)
            .select(F.col(id_col).alias(out_id), "cid")
        )

    assign = nearest(base, "neighbor_id", 1)
    probes = nearest(
        _with_quant(queries, id_col, vec_col, widen=False), "query_id", nprobe
    )
    scale = _sq8_max_abs(corpus, vec_col)
    codes = sq8_codes(corpus, scale, id_col, vec_col)
    cand = assign.join(
        codes.select(
            F.col(id_col).alias("neighbor_id"), F.col("c8").alias("__cc")
        ),
        "neighbor_id",
    )
    qcodes = F.broadcast(
        probes.join(
            sq8_codes(queries, scale, id_col, vec_col, widen=False).select(
                F.col(id_col).alias("query_id"), F.col("c8").alias("__cq")
            ),
            "query_id",
        )
    )
    score = F.aggregate(
        F.zip_with(
            F.col("__cq"),
            F.col("__cc"),
            lambda x, y: x.cast("long") * y.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        qcodes.join(cand, "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score8", score)
        .select("query_id", "neighbor_id", "score8")
    )
    return _rank_topk_score8(scored, k)


def write_sq8_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Materialize the SQ8 code table as a DISK LAYOUT: ``codes/``
    (id, c8 tinyint array) plus the 1-row quantizer ``scale/``. The
    persisted form is what makes SQ8 pay at scale — the 4x-smaller
    code table is built once per corpus version and every later scan
    reads codes, never floats. The scale is FROZEN at build time:
    later appends quantize against it (the IVF frozen-centroid
    contract), so codes stay mutually comparable; a corpus whose
    value range drifts needs a rebuild, exactly like centroid drift."""
    import os

    scale = _validated_sq8_scale(corpus, vec_col, "write_sq8_index")
    sq8_codes(corpus, scale, id_col, vec_col).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "codes"))
    scale.write.mode("overwrite").parquet(os.path.join(path, "scale"))


def append_sq8_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skip_existing: bool = True,
) -> int:
    """Incrementally grow a ``write_sq8_index`` layout: quantize the
    batch against the FROZEN stored scale and append. The existing
    code table is never rewritten — ingest cost is one batch-sized
    quantization pass plus an id anti-join against the (id-column-only,
    column-pruned) existing codes scan. Returns rows appended;
    ``skip_existing`` makes replays idempotent (the store-not-rescan
    contract every incremental store in this repo follows)."""
    import os

    scale = _read_store_part(spark, os.path.join(path, "scale"))
    stored_d = _check_stored_width(
        spark.read.parquet(os.path.join(path, "codes")),
        new_vectors,
        vec_col,
        full=False,
    )
    batch = sq8_codes(new_vectors, scale, id_col, vec_col)
    if skip_existing:
        existing = spark.read.parquet(os.path.join(path, "codes")).select(
            id_col
        )
        batch = batch.join(existing, id_col, "left_anti")
    batch = persist_tracked(batch)
    n = batch.count()
    if n:
        if stored_d is not None:
            _check_batch_width_full(batch, "c8", stored_d, "append_sq8_index")
        _bounded_files(batch, n).write.mode("append").parquet(
            os.path.join(path, "codes")
        )
    return n


def query_sq8_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Top-k against a persisted SQ8 layout: queries quantize with the
    stored scale and broadcast; the corpus side reads ONLY the code
    table — at no point is a float embedding materialized. Identical
    semantics to ``sq8_topk`` over the same logical corpus (pytest-
    asserted), so in-session results carry over to the stored form."""
    import os

    scale = _read_store_part(spark, os.path.join(path, "scale"))
    stored_codes = _read_store_part(spark, os.path.join(path, "codes"))
    # the scale is a scalar (max_abs), so the stored WIDTH lives in the
    # code table: one limit-1 probe guards the query frame — zip_with
    # silently truncates a wider query into plausible-but-wrong scores
    # (the _stored_pq_geometry class of drift). Stored side memoized
    # (r17); the query-frame check stays per-call.
    d = _stored_width_cached(spark, os.path.join(path, "codes"), "c8")
    _check_store_not_empty(d, queries, path)
    if d is not None:
        _check_dim(queries, vec_col, d, full=True)
    c = stored_codes.select(
        F.col(id_col).alias("neighbor_id"), F.col("c8").alias("__cc")
    )
    q = F.broadcast(
        sq8_codes(queries, scale, id_col, vec_col, widen=False).select(
            F.col(id_col).alias("query_id"), F.col("c8").alias("__cq")
        )
    )
    score = F.aggregate(
        F.zip_with(
            F.col("__cq"),
            F.col("__cc"),
            lambda x, y: x.cast("long") * y.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        q.join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score8", score)
        .select("query_id", "neighbor_id", "score8")
    )
    return _rank_topk_score8(scored, k)


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    bits: int | None = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH blocking + exact
    verify (id_a < id_b, cosine >= threshold). At scale the bucket join
    replaces the n² cross product; near-identical vectors land in the
    same bucket with high probability (raise tables/bits for recall).
    ``bits=None`` derives the width from the corpus size (one count)."""
    if bits is None:
        bits = auto_bits(df.count())
    _check_dim(df, vec_col, dim)
    planes = [hyperplane(j, dim) for j in range(bits)]
    base = persist_tracked(
        _with_quant(df, id_col, vec_col).select(
            F.col(id_col).alias("id"),
            F.col("__q"),
            F.col("__norm"),
            lsh_bucket(F.col("__q"), planes).alias("bucket"),
        )
    )  # quantize + bucket once; feeds both self-join sides
    a = base.select(
        F.col("id").alias("id_a"), F.col("__q").alias("__qa"),
        F.col("__norm").alias("__na"), "bucket",
    )
    b = base.select(
        F.col("id").alias("id_b"), F.col("__q").alias("__qb"),
        F.col("__norm").alias("__nb"), "bucket",
    )
    return (
        a.join(b, on="bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            _pair_cosine(F.col("__qa"), F.col("__qb"), F.col("__na"), F.col("__nb")),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cosine")
    )
    # no .distinct(): each vector lives in exactly ONE bucket, so the
    # bucket self-join emits every (id_a, id_b) pair at most once — the
    # old dedup shuffled all surviving pairs for no semantic effect


def _nearest_centroid(base: DataFrame, cents_b, id_col: str) -> DataFrame:
    """(id, __q, __norm, cid): each vector joined to its nearest
    centroid under the (cosine desc, cid asc) total order. Argmax as a
    hash aggregate, not a window: a window over the corpus×centroids
    cross join exchanges every scored row (two quantized arrays each —
    n·sqrt(n) rows under the ~sqrt(n) centroid rule), while max_by
    partial-combines map-side so the shuffle is one row per vector
    regardless of centroid count. The struct key (__cos, -cid) is the
    same total order as the window form — NaN sorts largest and
    struct-NULL smallest on both paths — so the pick (and the DuckDB
    oracle replay) is identical."""
    scored = base.crossJoin(cents_b).withColumn(
        "__cos",
        _pair_cosine(F.col("__q"), F.col("__qc"), F.col("__norm"), F.col("__nc")),
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.max_by(
                F.struct(F.col("__q"), F.col("__norm"), F.col("cid")),
                F.struct(
                    F.col("__cos").alias("__c"),
                    (-F.col("cid")).alias("__negcid"),
                ),
            ).alias("__best")
        )
        .select(id_col, "__best.*")
    )


def _seed_centroids(
    raw: DataFrame,
    base: DataFrame,
    id_col: str,
    centroid_mod: int | None,
    centroid_rem: int,
) -> DataFrame:
    """Deterministic centroid seeds ``(cid, __qc, __nc)``: every
    ``id ≡ rem (mod m)`` row of the quantized frame ``base``;
    ``centroid_mod=None`` derives ~sqrt(n) from ``raw``'s count. ONE
    definition shared by the in-session variants (ivf_topk,
    ivf_sq8_topk) and every store build (IVF, IVF-SQ8, IVF-PQ), so the
    centroid rule and its empty-residue fail-fast can never
    desynchronize between the forms the registry oracle test checks
    bit-exact. The fail-fast probes the RAW frame with only the id
    column selected — column pruning + CollectLimit stop at the first
    match (measured ~0.16s/call cheaper than probing the quantized
    frame at sf0.1); an in-plan raise_error is NOT an option because
    AQE's empty-side propagation removes the probe side of the inner
    join before the guard expression ever evaluates."""
    if centroid_mod is None:
        import math

        centroid_mod = max(2, int(math.sqrt(raw.count())))
    if (
        raw.select(F.col(id_col))
        .filter((F.col(id_col) % centroid_mod) == centroid_rem)
        .limit(1)
        .count()
        == 0
    ):
        raise ValueError(
            f"no corpus {id_col} satisfies {id_col} % {centroid_mod} == "
            f"{centroid_rem}; pass a smaller centroid_mod (or None to "
            "derive ~sqrt(n) from the corpus size)"
        )
    return base.filter((F.col(id_col) % centroid_mod) == centroid_rem).select(
        F.col(id_col).alias("cid"),
        F.col("__q").alias("__qc"),
        F.col("__norm").alias("__nc"),
    )


def _validated_sq8_scale(corpus: DataFrame, vec_col: str, op: str) -> DataFrame:
    """The 1-row SQ8 quantizer scale, validated EAGERLY: sq8_codes'
    in-plan guard is per-row, so an EMPTY corpus streams zero rows
    through it and would silently freeze a NULL scale into ``scale/``
    — deferring the failure to the first append instead of the build.
    One driver-side row; the build is corpus-scale anyway. Shared by
    write_sq8_index and build_ivf_sq8_index so the degenerate-corpus
    contract stays identical across the SQ8 stores."""
    scale = _sq8_max_abs(corpus, vec_col)
    mx = scale.collect()[0]["__mx"]
    if mx is None or mx <= 0:
        raise ValueError(
            f"{op}: degenerate quantizer scale (max_abs={mx!r}) — empty"
            " or all-zero corpus; an index built from it would poison"
            " every later append and query"
        )
    return scale


def _lloyd_refine(
    base: DataFrame, cents_df: DataFrame, iters: int, id_col: str
) -> DataFrame:
    """``iters`` deterministic Lloyd (k-means) iterations over a
    quantized corpus frame (``_with_quant`` output, persisted by the
    caller): assign every vector to its nearest centroid, then new
    centroid = element-wise ``floor(sum/count)`` of its members.
    Integer means keep the refinement bit-reproducible across engines
    (floor of an exact double division). Each iteration is one
    broadcast assignment pass + one (cid, dim)-keyed aggregation —
    linear in corpus size, no pairwise work; posexplode → groupBy(cid,
    pos) partial-combines map-side, so shuffle volume is
    ~n_centroids×dim regardless of corpus size (the collect_list
    alternative shuffled every member vector uncombined and measured
    1.7x slower at sf0.1, r3). Shared by ``ivf_topk`` (in-session) and
    ``build_ivf_index(refine_iters=...)`` (persisted store), so the
    stored k-means centroids replay the in-session refinement
    bit-exactly."""
    for _ in range(iters):
        members = _nearest_centroid(
            base, F.broadcast(cents_df), id_col
        ).select("cid", F.posexplode(F.col("__q")).alias("pos", "val"))
        dim_means = members.groupBy("cid", "pos").agg(
            F.floor(
                F.sum("val").cast("double") / F.count(F.lit(1)).cast("double")
            ).alias("m")
        )
        cents_df = (
            dim_means.groupBy("cid")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s.getField("m"),
                ).alias("__qc")
            )
            .withColumn(
                "__nc",
                F.sqrt(
                    F.aggregate(
                        F.zip_with(
                            F.col("__qc"), F.col("__qc"), lambda a, b: a * b
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).cast("double")
                ),
            )
        )
    return cents_df


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    centroid_mod: int | None = 37,
    centroid_rem: int = 3,
    nprobe: int = 1,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF-style ANN: a deterministic sample of the corpus acts as
    centroids ("training" = pick every vec_id ≡ rem mod m — deterministic
    so the DuckDB oracle reproduces it; a real deployment would k-means);
    every vector is assigned to its nearest centroid (building the
    inverted file), and a query probes its ``nprobe`` nearest centroids'
    lists, with exact re-rank inside.

    Scale: assignment is corpus × centroids with the centroid set
    broadcast — linear in corpus size; the probe join touches ``nprobe``
    lists per query instead of the whole corpus (~nprobe/n_centroids of
    the corpus). Raise nprobe / centroid count to trade recall vs cost.
    ``centroid_mod=None`` derives ~sqrt(n) centroids from the corpus
    size (one count) so list sizes stay ~sqrt(n) at any scale.

    ``refine_iters`` runs that many Lloyd (k-means) iterations on the
    sampled seeds before building the inverted file: assign corpus →
    new centroid = element-wise ``floor(sum/count)`` of its members.
    Integer means keep the refinement bit-reproducible across engines
    (floor of an exact double division). Each iteration is one broadcast
    assignment pass + one (cid, dim)-keyed aggregation — linear in
    corpus size, no pairwise work.
    """
    from pyspark.sql import Window

    base = persist_tracked(_with_quant(corpus, id_col, vec_col))
    cents_df = _seed_centroids(corpus, base, id_col, centroid_mod, centroid_rem)

    def assign_to(cents_b, side: DataFrame, out_id: str, n: int) -> DataFrame:
        scored = side.crossJoin(cents_b).withColumn(
            "__cos",
            _pair_cosine(F.col("__q"), F.col("__qc"), F.col("__norm"), F.col("__nc")),
        )
        if n == 1:
            # _nearest_centroid: map-side-combined argmax — at sf0.1
            # the query is stage-overhead-bound and measures the same
            # as the window form (A/B r13: 3.19s vs 3.09s, inside
            # noise); the win is shuffle VOLUME — n rows instead of
            # n·sqrt(n) under the ~sqrt(n) centroid rule, the
            # difference between linear and superlinear exchange at
            # corpus scale.
            return _nearest_centroid(side, cents_b, id_col).select(
                F.col(id_col).alias(out_id),
                "cid",
                F.col("__q").alias(f"__q_{out_id}"),
                F.col("__norm").alias(f"__n_{out_id}"),
            )
        w = Window.partitionBy(side[id_col]).orderBy(
            F.col("__cos").desc(), F.col("cid").asc()
        )
        return (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= n)
            .select(
                F.col(id_col).alias(out_id),
                "cid",
                F.col("__q").alias(f"__q_{out_id}"),
                F.col("__norm").alias(f"__n_{out_id}"),
            )
        )

    cents_df = _lloyd_refine(base, cents_df, refine_iters, id_col)
    cents = F.broadcast(cents_df)

    assigned = assign_to(cents, base, "neighbor_id", 1)
    # NOT widen=False: unlike the brute-force/LSH query sides (broadcast
    # immediately), this side crossJoins the centroid set and scores
    # |queries|x|centroids| dot products BEFORE any broadcast — on a
    # 1-partition query frame that work serializes onto one core
    # (measured 2.4x on ann_topk_ivf_recall when r6 briefly narrowed it).
    probes = assign_to(
        cents, _with_quant(queries, id_col, vec_col), "query_id", nprobe
    )
    scored = (
        probes.join(assigned, on="cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            _pair_cosine(
                F.col("__q_query_id"),
                F.col("__q_neighbor_id"),
                F.col("__n_query_id"),
                F.col("__n_neighbor_id"),
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return _rank_topk(scored, k)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int | None = 37,
    centroid_rem: int = 3,
    refine_iters: int = 0,
) -> None:
    """Materialize the IVF inverted file as a DISK LAYOUT: quantized
    vectors written as parquet partitioned by their nearest-centroid id
    (``lists/cid=N/``), centroids alongside (``centroids/``). Build
    once, query many — the production shape ``ivf_topk`` only simulates
    in-session: at 100 TB the assignment pass runs once per corpus
    version, and every later query prunes to its probed partitions at
    the SCAN (directory-level pruning, nothing else is read or even
    listed as input).

    Same deterministic centroid choice as ``ivf_topk`` (vec_id ≡ rem
    mod m; ``None`` derives ~sqrt(n)), so recall characteristics match
    the benchmarked in-session variants. ``refine_iters`` runs that
    many deterministic Lloyd iterations on the seeds before freezing
    the centroids (``_lloyd_refine`` — the SAME refinement
    ``ivf_topk(refine_iters=...)`` computes per run), so a store built
    with it replays the k-means variant bit-exactly while paying the
    refinement once instead of per query."""
    from pyspark.sql import Window
    import os

    base = _with_quant(corpus, id_col, vec_col)
    if refine_iters:
        # the refinement re-scans the quantized corpus once per
        # iteration plus the final assignment pass — persist it
        base = persist_tracked(base)
    cents = _seed_centroids(corpus, base, id_col, centroid_mod, centroid_rem)
    cents = _lloyd_refine(base, cents, refine_iters, id_col)
    assigned = _nearest_centroid(base, F.broadcast(cents), id_col).select(
        F.col(id_col), F.col("__q"), F.col("__norm"), F.col("cid")
    )
    assigned.write.mode("overwrite").partitionBy("cid").parquet(
        os.path.join(path, "lists")
    )
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))


def append_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skip_existing: bool = True,
) -> int:
    """Incrementally grow a ``build_ivf_index`` layout: assign each new
    vector to its nearest EXISTING centroid (same deterministic scoring
    and tie-break as the build pass) and append the quantized rows to
    the matching ``lists/cid=N/`` partitions. The corpus already in the
    index is never rescanned or rewritten — the cost of ingesting a
    batch is (batch x centroids) scoring plus a partition-pruned
    existence probe, independent of index size. This is the standard
    IVF maintenance story (FAISS ``add``): centroids drift only on a
    full rebuild, matching how production ANN services batch-ingest.

    ``skip_existing=True`` makes re-running the SAME batch idempotent
    (crash-replay safe, the insert-only-merge pattern of the dedup
    stores): already-indexed ids are dropped by an anti-join against
    ONLY the ``cid=`` partitions this batch assigns into — the probe
    reads the touched lists, not the index (verify: ``inputFiles()``).
    Returns the number of rows appended.

    Note the assignment uses the PERSISTED centroids, so a query after
    append sees old + new vectors under the same geometry; recall on
    appended vectors matches the build-time recall as long as the new
    batch is drawn from a distribution the centroids still cover (the
    rebuild cadence knob at 100 TB)."""
    import os

    from pyspark.sql import Window

    # same crash-window contract as append_ivf_pq_index: restore any
    # list parked by a crashed compact_ivf_lists BEFORE the existence
    # probe, or a replayed id double-writes and the next recovery
    # deletes the parked original (row loss)
    _recover_parked_lists(spark, os.path.join(path, "lists"))
    stored_cents = _read_store_part(spark, os.path.join(path, "centroids"))
    # width guard (the _stored_pq_geometry class): a wrong-width batch
    # would assign via silently-truncated cosines and poison the lists
    stored_d = _check_stored_width(
        stored_cents, new_vectors, vec_col, code_col="__qc", full=False
    )
    cents = F.broadcast(stored_cents)
    base = _with_quant(new_vectors, id_col, vec_col)
    # persist: the touched-cid collect, the existence probe, and the
    # append all consume this frame — unpersisted, the batch x
    # centroids scoring pass would run three times.
    assigned = persist_tracked(
        _nearest_centroid(base, cents, id_col).select(
            F.col(id_col), F.col("__q"), F.col("__norm"), F.col("cid")
        )
    )
    if skip_existing:
        touched = [r.cid for r in assigned.select("cid").distinct().collect()]
        existing = _read_lists(spark, os.path.join(path, "lists"), touched)
        if existing is not None:
            assigned = persist_tracked(
                assigned.join(existing.select(id_col), id_col, "left_anti")
            )
    n = assigned.count()
    if n:
        if stored_d is not None:
            _check_batch_width_full(
                assigned, "__q", stored_d, "append_ivf_index"
            )
        # one file per touched list per batch (the IVF-PQ repartition
        # rationale): an unclustered partitioned write fragments each
        # cid= dir into up-to-#tasks files per append
        assigned.repartition("cid").write.mode("append").partitionBy(
            "cid"
        ).parquet(os.path.join(path, "lists"))
    return n


def query_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
) -> DataFrame:
    """Top-k over a ``build_ivf_index`` layout. The probe set (query →
    nprobe nearest centroids) is bounded at |queries|·nprobe ints, so
    it is collected and pushed into the scan as a STATIC partition
    filter — the lists scan reads only the probed ``cid=`` directories
    (verify: ``inputFiles()`` of the result touches that subset only).
    The bounded collect is the same trade ``ParquetMergeTable`` makes
    for bucket ids: driver-side metadata, never data."""
    from pyspark.sql import Window
    import os

    stored_cents = _read_store_part(spark, os.path.join(path, "centroids"))
    # width guard (the _stored_pq_geometry class): the probe cosine's
    # zip_with silently truncates a wider query frame. Evaluated from
    # the probe collect below (r18) — two fewer driver jobs per run.
    d = _stored_width_cached(spark, os.path.join(path, "centroids"), "__qc")
    _check_store_not_empty(d, queries, path)
    cents = F.broadcast(stored_cents)
    # widen=False (r18): the probe scoring (|queries| x |centroids|
    # cosines) is collected as bounded metadata below — fanning the tiny
    # query frame out first cost a round-robin exchange + an extra AQE
    # job per run, the same trade the other store query paths make.
    qs = _with_quant(queries, id_col, vec_col, widen=False)
    scored = qs.crossJoin(cents).withColumn(
        "__cos",
        _pair_cosine(F.col("__q"), F.col("__qc"), F.col("__norm"), F.col("__nc")),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__cos").desc(), F.col("cid").asc())
    probe_sel = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(
            F.col(id_col).alias("query_id"),
            "cid",
            F.size(F.col("__q")).alias("__d"),
        )
    )
    # one bounded collect replaces the r17 persist + distinct-collect
    # chain; the query vectors are re-attached from a fresh projection
    # of the (tiny) query frame instead of riding the collected rows
    pairs, pairs_local = _collected_probes(probe_sel)
    _check_collected_dims(pairs, "__d", d, vec_col)
    pairs_local = pairs_local.drop("__d")
    probe_cids = sorted({r.cid for r in pairs})
    qvec = _with_quant(queries, id_col, vec_col, widen=False).select(
        F.col(id_col).alias("query_id"),
        F.col("__q").alias("__qq"),
        F.col("__norm").alias("__nq"),
    )
    # broadcast the LOCAL pairs inside the re-attach join: the probes
    # broadcast then builds from one query-frame scan stage (a shuffle
    # join here would re-exchange the query side per run)
    probes = qvec.join(F.broadcast(pairs_local), "query_id")
    lists = _read_lists(spark, os.path.join(path, "lists"), probe_cids)
    if lists is None:
        # every probed list mid-swap/absent: empty top-k, right schema
        joined = (
            probes.select(
                "query_id", F.col("query_id").alias("neighbor_id")
            )
            .limit(0)
            .withColumn("cosine", F.lit(None).cast("double"))
        )
        return _rank_topk(joined, k)
    joined = (
        lists.join(F.broadcast(probes), on="cid")
        .filter(F.col("query_id") != F.col(id_col))
        .withColumn(
            "cosine",
            _pair_cosine(F.col("__qq"), F.col("__q"), F.col("__nq"), F.col("__norm")),
        )
        .select("query_id", F.col(id_col).alias("neighbor_id"), "cosine")
    )
    return _rank_topk(joined, k)


def build_ivf_sq8_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int | None = 37,
    centroid_rem: int = 3,
) -> None:
    """The IVF×SQ8 composition as a DISK LAYOUT — ``ivf_sq8_topk``'s
    production form, completing the persisted-store family (IVF, SQ8,
    PQ, IVF-PQ): int8 code rows (``id, c8``) written as parquet
    PARTITIONED by nearest-IVF-centroid id (``lists/cid=N/``), with
    ``centroids/`` (quantized probe vectors) and the 1-row quantizer
    ``scale/`` alongside. A query prunes to its probed ``cid=``
    directories at the scan and integer-dot-scores 4x-smaller codes —
    at 100 TB a top-k reads ~nprobe/n_centroids of a 4x-compressed
    corpus, the product of both cuts. Centroids AND scale freeze at
    build (the frozen-geometry contract shared by every store);
    appends encode against both, rebuild cadence owns drift.

    Same deterministic centroid rule and integer scoring as
    ``ivf_sq8_topk``, so the store replays it bit-exactly
    (checked by tests/test_registry_oracle.py against the
    `ann_topk_ivf_sq8` DuckDB oracle)."""
    import os

    base = persist_tracked(_with_quant(corpus, id_col, vec_col))
    cents = _seed_centroids(corpus, base, id_col, centroid_mod, centroid_rem)
    scale = _validated_sq8_scale(corpus, vec_col, "build_ivf_sq8_index")
    assigned = _nearest_centroid(base, F.broadcast(cents), id_col).select(
        F.col(id_col), "cid"
    )
    codes = sq8_codes(corpus, scale, id_col, vec_col)
    assigned.join(codes, id_col).repartition("cid").write.mode(
        "overwrite"
    ).partitionBy("cid").parquet(os.path.join(path, "lists"))
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    scale.write.mode("overwrite").parquet(os.path.join(path, "scale"))


def append_ivf_sq8_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    skip_existing: bool = True,
) -> int:
    """Incrementally grow a ``build_ivf_sq8_index`` layout: assign each
    new vector to its nearest FROZEN centroid and encode it against the
    FROZEN scale, then append into the matching ``cid=`` partitions.
    Same contract as the sibling appends: partition-pruned existence
    probe over only the TOUCHED lists, ``skip_existing`` replays are
    append-zero, full-batch width guard before anything is written, one
    file per touched list per batch, and the ``_recover_parked_lists``
    preamble makes crashed-compaction interleavings safe. Returns rows
    appended."""
    import os

    _recover_parked_lists(spark, os.path.join(path, "lists"))
    # same single-partition-batch guard as append_ivf_index /
    # append_ivf_pq_index: a one-file batch would serialize the
    # batch x centroids scoring onto one core (the r6-measured 2.4x)
    want = spark.sparkContext.defaultParallelism
    if new_vectors.rdd.getNumPartitions() < want:
        new_vectors = new_vectors.repartition(want)
    stored_cents = _read_store_part(spark, os.path.join(path, "centroids"))
    stored_d = _check_stored_width(
        stored_cents, new_vectors, vec_col, code_col="__qc", full=False
    )
    scale = _read_store_part(spark, os.path.join(path, "scale"))
    cents = F.broadcast(stored_cents)
    base = _with_quant(new_vectors, id_col, vec_col)
    assigned = persist_tracked(
        _nearest_centroid(base, cents, id_col)
        .select(F.col(id_col), "cid")
        .join(sq8_codes(new_vectors, scale, id_col, vec_col), id_col)
    )
    if skip_existing:
        touched = [r.cid for r in assigned.select("cid").distinct().collect()]
        existing = _read_lists(spark, os.path.join(path, "lists"), touched)
        if existing is not None:
            assigned = persist_tracked(
                assigned.join(existing.select(id_col), id_col, "left_anti")
            )
    n = assigned.count()
    if n:
        if stored_d is not None:
            _check_batch_width_full(
                assigned, "c8", stored_d, "append_ivf_sq8_index"
            )
        assigned.repartition("cid").write.mode("append").partitionBy(
            "cid"
        ).parquet(os.path.join(path, "lists"))
    return n


def query_ivf_sq8_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """Integer-SQ8 top-k over a ``build_ivf_sq8_index`` layout: the
    probe set (query → nprobe nearest stored centroids by exact
    quantized cosine) is |queries|·nprobe ints, collected and pushed
    into the lists scan as a STATIC partition filter (the family's
    driver-side-metadata trade), so only the probed ``cid=``
    directories are listed or read; the survivors' int8 codes are
    scored against the broadcast query codes with the exact integer
    dot product. Identical semantics and output contract
    (query_id, neighbor_id, score8, rank) to ``ivf_sq8_topk`` over the
    same logical corpus and parameters."""
    import os

    from pyspark.sql import Window

    stored_cents = _read_store_part(spark, os.path.join(path, "centroids"))
    # width guard evaluated from the probe collect below (r18)
    d = _stored_width_cached(spark, os.path.join(path, "centroids"), "__qc")
    _check_store_not_empty(d, queries, path)
    scale = _read_store_part(spark, os.path.join(path, "scale"))
    cents = F.broadcast(stored_cents)
    qs = _with_quant(queries, id_col, vec_col, widen=False)
    scored = qs.crossJoin(cents).withColumn(
        "__cos",
        _pair_cosine(F.col("__q"), F.col("__qc"), F.col("__norm"), F.col("__nc")),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__cos").desc(), F.col("cid").asc()
    )
    probe_sel = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(
            F.col(id_col).alias("query_id"),
            "cid",
            F.size(F.col("__q")).alias("__d"),
        )
    )
    # one bounded collect replaces the r17 persist + distinct-collect
    # chain; the query codes re-attach from a fresh projection
    pairs, pairs_local = _collected_probes(probe_sel)
    _check_collected_dims(pairs, "__d", d, vec_col)
    pairs_local = pairs_local.drop("__d")
    probe_cids = sorted({r.cid for r in pairs})
    qcodes = sq8_codes(queries, scale, id_col, vec_col, widen=False).select(
        F.col(id_col).alias("query_id"), F.col("c8").alias("__cq")
    ).join(F.broadcast(pairs_local), "query_id")
    lists = _read_lists(spark, os.path.join(path, "lists"), probe_cids)
    if lists is None:
        empty = (
            qcodes.select(
                "query_id", F.col("query_id").alias("neighbor_id")
            )
            .limit(0)
            .withColumn("score8", F.lit(None).cast("long"))
            .withColumn("rank", F.lit(None).cast("int"))
        )
        return empty
    score = F.aggregate(
        F.zip_with(
            F.col("__cq"),
            F.col("__cc"),
            lambda x, y: x.cast("long") * y.cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    out = (
        lists.select(
            "cid", F.col(id_col).alias("neighbor_id"), F.col("c8").alias("__cc")
        )
        .join(F.broadcast(qcodes), "cid")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("score8", score)
        .select("query_id", "neighbor_id", "score8")
    )
    return _rank_topk_score8(out, k)


def semantic_decontam(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding-space decontamination: flag every corpus vector whose
    cosine to ANY benchmark/eval vector reaches ``threshold``, with its
    best-matching eval id — the semantic complement of the n-gram
    ``benchmark_overlap`` decontamination (catches paraphrased eval
    leakage that token overlap misses). One row per contaminated
    corpus vector: ``(id, eval_id, cosine)``, best match ranked
    (cosine DESC, eval_id ASC).

    Scale shape: the eval side is benchmark-sized (thousands of rows),
    so it broadcasts; the corpus is scanned ONCE with a broadcast
    nested-loop score against the eval block — embarrassingly parallel,
    no corpus shuffle. The only exchange is the best-match window over
    the HIT set (pairs already past the threshold), which is
    contamination-sized, not corpus-sized. Cosines come from the exact
    integer quantized dot/norm core (deterministic doubles — sqrt is
    correctly rounded IEEE, unlike ln), shared with every ANN oracle.
    """
    base = _with_quant(corpus, id_col, vec_col)
    ev = _with_quant(eval_set, id_col, vec_col, widen=False).select(
        F.col(id_col).alias("__eid"),
        F.col("__q").alias("__qe"),
        F.col("__norm").alias("__ne"),
    )
    hits = (
        base.crossJoin(F.broadcast(ev))
        .withColumn(
            "cosine",
            _pair_cosine(
                F.col("__q"), F.col("__qe"), F.col("__norm"), F.col("__ne")
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col(id_col).alias("query_id"),
            F.col("__eid").alias("neighbor_id"),
            "cosine",
        )
    )
    return _rank_topk(hits, 1).select(
        F.col("query_id").alias(id_col),
        F.col("neighbor_id").alias("eval_id"),
        "cosine",
    )


def semdedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    centroid_mod: int | None = 37,
    centroid_rem: int = 3,
    dim: int = 64,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pairs found by k-means-style clustering of the
    embedding space, then pairwise cosine ONLY within each cluster —
    the paper's observation is that semantic duplicates land in the
    same cluster, so the n² comparison collapses to Σ|cluster|².
    Complements ``cosine_neardup_pairs``: random-hyperplane LSH blocks
    by geometry-agnostic signs, cluster blocking follows the corpus's
    own density — duplicates split across an unlucky hyperplane still
    share a centroid.

    Clustering reuses the IVF convention (``ivf_topk``): deterministic
    centroid sample (``vec_id ≡ rem mod m``), nearest-centroid
    assignment by quantized-integer cosine — bit-reproducible, so the
    DuckDB oracle replays the exact cluster structure. Emits
    ``(id_a, id_b, cid, cosine)`` with ``id_a < id_b``; a keep-list is
    one anti-join on ``id_b`` (min-id keeper, the same canonical rule
    the dedup family uses; the paper keeps the member farthest from
    the centroid — a one-line ORDER BY change if wanted).

    Scale shape: assignment is corpus × broadcast-centroids (linear);
    the pair join is hash-partitioned on ``cid`` and touches only
    within-cluster pairs. With ``centroid_mod=None`` (~sqrt(n)
    centroids) expected cluster size is ~sqrt(n), keeping Σ|c|² ≈
    n^1.5 — the paper's regime; skewed clusters are the caller's
    signal to raise the centroid count."""
    _check_dim(df, vec_col, dim)
    base = persist_tracked(_with_quant(df, id_col, vec_col))
    # None -> ~sqrt(n) is derived inside _seed_centroids
    cents = _seed_centroids(df, base, id_col, centroid_mod, centroid_rem)
    # map-side-combined argmax (see _nearest_centroid): one shuffled
    # row per vector instead of one per (vector, centroid) — same
    # (cosine desc, cid asc) total order, so cluster structure (and
    # the oracle replay) is unchanged
    assigned = _nearest_centroid(base, F.broadcast(cents), id_col).select(
        F.col(id_col), "cid", "__q", "__norm"
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"), "cid",
        F.col("__q").alias("__qa"), F.col("__norm").alias("__na"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), "cid",
        F.col("__q").alias("__qb"), F.col("__norm").alias("__nb"),
    )
    return (
        a.join(b, on="cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            _pair_cosine(F.col("__qa"), F.col("__qb"), F.col("__na"), F.col("__nb")),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
        .select("id_a", "id_b", "cid", "cosine")
    )


# -- product quantization (PQ / IVF-PQ) ---------------------------------------

PQ_M = 8  # subspaces over the dim-64 embedding -> 8 dims per codebook
# The refine/persisted-index operating point: finer subspaces (4 dims
# each) buy the shortlist recall the exact re-rank depends on
# (measured 0.96-1.00 of true top-5 inside the ADC top-50 at m=16 vs
# ~0.8 at m=8 — COVERAGE.md). One named constant so the in-session
# refine form and every disk layout agree by default; the persisted
# query/append paths additionally DERIVE geometry from the stored
# codebook (``_stored_pq_geometry``), so a default can never silently
# disagree with an artifact on disk.
PQ_INDEX_M = 16


def _check_stored_width(
    stored_codes: DataFrame,
    frame: DataFrame,
    vec_col: str,
    code_col: str = "c8",
    full: bool = True,
) -> int | None:
    """Guard an incoming frame's vector width against a persisted code
    table whose geometry has no sidecar (SQ8: the scale is a scalar):
    one limit-1 probe reads the stored code width, then ``_check_dim``
    checks the incoming frame (``full=True`` min/max-scans it — the
    broadcast query side; ``full=False`` is the limit-1 fail-fast probe
    append paths run BEFORE doing any quantization work). Returns the
    stored width so append paths can re-check the full batch post-
    persist (``_check_batch_width_full``), or None on an empty store."""
    row = (
        stored_codes.select(F.size(F.col(code_col)).alias("d"))
        .limit(1)
        .collect()
    )
    if not row:
        return None
    _check_dim(frame, vec_col, row[0].d, full=full)
    return row[0].d


def _check_batch_width_full(
    batch: DataFrame, arr_col: str, d: int, op: str
) -> None:
    """Append-side mixed-width guard: the limit-1 fail-fast probe
    admits a mixed-width batch whose FIRST sampled row matches the
    stored width — the quantize transform would then persist
    plausible-but-wrong codes for the odd rows, the exact failure
    class the width guards target. The batch is already persisted and
    counted by every append path, so this min/max aggregation over the
    CACHED frame is one cheap extra job before the write (the quantize
    transforms are element-wise, so the code array width per row
    equals the incoming vector width — a full check on the persisted
    codes IS a full check on the batch, with no second source scan)."""
    row = batch.agg(
        F.min(F.size(F.col(arr_col))).alias("mn"),
        F.max(F.size(F.col(arr_col))).alias("mx"),
    ).collect()
    if row and row[0].mn is not None and not (row[0].mn == row[0].mx == d):
        raise ValueError(
            f"{op}: mixed/mismatched vector widths in append batch "
            f"({row[0].mn}..{row[0].mx} components vs stored {d}) — "
            "nothing was written; fix the batch and re-run (appends "
            "are idempotent)"
        )


def _read_lists(spark, lists_dir: str, cids, part_col: str = "cid") -> DataFrame | None:
    """Read ONLY the given ``{part_col}=`` list directories of a
    partitioned ANN store (``basePath`` keeps the partition column) —
    ``cid=`` for the IVF-family layouts, ``bucket=`` for the LSH
    layout. This replaces
    a full-directory read + ``isin`` filter for two reasons:

    - listing cost is proportional to the probed/touched lists, never
      the store — at 100 TB an index holds thousands of lists and a
      query probes a handful (Catalyst pruned the DATA read before,
      but the discovery phase still LISTED every list directory);
    - a parked ``cid=N.old`` directory (an in-flight or crashed
      ``compact_ivf_pq_lists`` swap) is invisible. Full-directory
      partition discovery SEES it, infers ``cid`` as string, and the
      reader dies with CAST_INVALID_INPUT on the probe filter — the
      compaction/reader race (pytest-pinned in test_ivf_pq_index.py).

    A requested cid whose directory is missing entirely is skipped —
    the documented one-list transient window of a compaction swap (the
    per-list loop has at most one list mid-swap at any instant; it
    reappears with bit-identical rows). Returns None when NO requested
    list exists (callers substitute their empty-result shape).

    The skip covers directories absent at LISTING time; a directory
    that passes the existence probe but is renamed away before the
    read resolves it (check-then-read, r15 ADVICE) surfaces as an
    analysis-time missing-path error — re-filter existence and retry
    ONCE, which converges because a compaction swap parks each list
    only transiently. A list vanishing mid-SCAN (after analysis)
    stays under the compactor's maintenance-window caveat: failing
    there is correct, because silently dropping the already-read part
    of a list would break the whole-list-or-nothing guarantee."""
    import posixpath

    from airbnb_cdc_spark.operators.merge import _fs

    fs, _ = _fs(spark, lists_dir)
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path

    def _existing():
        return [
            p
            for p in (
                posixpath.join(lists_dir, f"{part_col}={c}") for c in cids
            )
            if fs.exists(hadoop_path(p))
        ]

    paths = _existing()
    if not paths:
        return None
    try:
        return spark.read.option("basePath", lists_dir).parquet(*paths)
    except AnalysisException as e:
        # retry ONLY the missing-path race (check-then-read): any other
        # analysis failure (corrupt footer, schema merge) is
        # deterministic — re-attempting it once would just delay the
        # same error and bury its original context
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        paths = _existing()
        if not paths:
            return None
        return spark.read.option("basePath", lists_dir).parquet(*paths)


def _bounded_files(batch: DataFrame, n_rows: int, rows_per_file: int = 4_000_000):
    """Cap an append's file count by row volume instead of task count:
    a 32-task micro-batch otherwise lands 32 tiny files per append and
    the store's read/probe cost grows with appends, not with data
    (measured on the IVF-PQ leg: 64 -> 370 scan tasks over 10 uniform
    batches). ``coalesce`` never increases partitions, so large
    batches keep their parallelism; the cap only collapses small ones.
    Call on a PERSISTED frame after its count — the coalesce then
    reads the cache, not the lineage."""
    return batch.coalesce(max(1, -(-n_rows // rows_per_file)))


def _stored_pq_geometry(
    codebook: DataFrame, m: int | None, dim: int | None
) -> tuple[int, int]:
    """(m, dim) of a persisted PQ layout, read from the artifact
    itself: the codebook's subspace count is ``max(j)+1`` and the
    subvector width is ``size(__csub)``. Geometry lives in the store —
    a caller passing a mismatched ``m``/``dim`` (e.g. index built at
    m=8, queried with the m=16 default) would otherwise get silently
    truncated subvectors from ``zip_with`` and dropped subspaces from
    the j-join: plausible but wrong scores. Deriving makes the
    defaults always-correct; an explicit override must MATCH or this
    fails loud (the SQ8 ``scale/`` persistence contract, without
    needing a separate meta file). One 1-row collect over the
    broadcast-sized codebook — control-plane, like the centroid
    lists. The collect is memoized per codebook DataFrame OBJECT
    (r17): ``_read_store_part`` returns the same object per (session,
    path, mtime), so repeated queries of one store skip the probe job;
    a fresh DataFrame (appends, direct reads) probes as before."""
    hit = _STORE_PART_CACHE.get(("geom", id(codebook)))
    row = hit[1] if hit is not None and hit[0] is codebook else None
    if row is None:
        row = codebook.select(
            (F.max("j") + F.lit(1)).alias("m"),
            F.max(F.size("__csub")).alias("d"),
            F.min(F.size("__csub")).alias("d_min"),
        ).first()
        if row is not None:
            _STORE_PART_CACHE[("geom", id(codebook))] = (codebook, row)
    if row is None or row.m is None:
        raise ValueError("persisted PQ codebook is empty")
    stored_m, stored_dim = int(row.m), int(row.m) * int(row.d)
    if row.d != row.d_min:
        raise ValueError("persisted PQ codebook has ragged subvectors")
    if m is not None and m != stored_m:
        raise ValueError(
            f"index was built with m={stored_m} but queried with m={m}; "
            "omit m to use the stored geometry"
        )
    if dim is not None and dim != stored_dim:
        raise ValueError(
            f"index was built with dim={stored_dim} but queried with "
            f"dim={dim}; omit dim to use the stored geometry"
        )
    return stored_m, stored_dim


def pq_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    dim: int = 64,
    cb_mod: int | None = None,
    cb_rem: int = 1,
) -> DataFrame:
    """Long-form PQ codebook ``(j, cid, __csub)`` — subspace ``j``'s
    entries are the ``j``-th quantized subvectors of a deterministic
    corpus sample (``id % cb_mod == cb_rem``, the IVF centroid
    convention with a different modulus so IVF pruning and PQ coding
    compose independently; a real deployment would k-means per
    subspace). ``cb_mod=None`` derives ``max(2, n // 256)`` from one
    corpus count — ~256 entries per subspace at ANY corpus size, the
    FAISS ``k*=256`` convention that keeps the codebook constant-size
    (and the broadcast bounded) at 100 TB. Fails loud on an empty
    sample: silently emitting no codebook would make every downstream
    code NULL."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    _check_dim(corpus, vec_col, dim)
    if cb_mod is None:
        cb_mod = max(2, corpus.count() // 256)
        cb_rem = cb_rem % cb_mod
    sample = _with_quant(corpus, id_col, vec_col, widen=False).filter(
        (F.col(id_col) % cb_mod) == cb_rem
    )
    if sample.limit(1).count() == 0:
        raise ValueError(
            f"no {id_col} satisfies id % {cb_mod} == {cb_rem}; "
            "choose a codebook sample rule that hits the corpus"
        )
    return sample.select(
        F.col(id_col).alias("cid"),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
        F.col("__q"),
    ).select(
        "j",
        "cid",
        F.slice(F.col("__q"), F.col("j") * d + 1, F.lit(d)).alias("__csub"),
    )


def _sub_l2(a: Column, b: Column) -> Column:
    """Exact integer squared L2 between two quantized subvectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def pq_codes(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    dim: int = 64,
    widen: bool = True,
) -> DataFrame:
    """PQ encoding ``(id, j, cid)``: each vector's nearest codebook
    entry per subspace by exact integer squared L2, ties to the
    smaller ``cid`` — bit-reproducible, so an oracle replays every
    code. The argmin is a map-side-combined ``min_by`` hash aggregate
    (the ``_nearest_centroid`` shape): the candidate fan-out
    (vector x codebook-entry) collapses before the exchange, which
    carries exactly one row per (vector, subspace). At 100 TB the
    code table is the 32x-compressed artifact a PQ deployment
    materializes once: m codes/vector instead of dim floats."""
    d = dim // m
    subs = (
        _with_quant(corpus, id_col, vec_col, widen=widen)
        .select(
            F.col(id_col),
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
            F.col("__q"),
        )
        .select(
            F.col(id_col),
            "j",
            F.slice(F.col("__q"), F.col("j") * d + 1, F.lit(d)).alias("__xsub"),
        )
    )
    return (
        subs.join(F.broadcast(codebook), "j")
        .withColumn("__d", _sub_l2(F.col("__xsub"), F.col("__csub")))
        .groupBy(id_col, "j")
        .agg(
            F.min_by(
                F.col("cid"), F.struct(F.col("__d"), F.col("cid"))
            ).alias("cid")
        )
    )


def _pq_lut(
    queries: DataFrame,
    codebook: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    dim: int,
) -> DataFrame:
    """ADC lookup table ``(query_id, j, cid, __pdot)``: the exact
    integer dot product of every query subvector against every
    codebook entry — |queries| x m x |codebook| rows, broadcast-sized
    (this table is what makes PQ scanning cheap: scoring a vector is
    m lookups instead of a dim-length dot product)."""
    d = dim // m
    qsubs = (
        _with_quant(queries, id_col, vec_col, widen=False)
        .select(
            F.col(id_col).alias("query_id"),
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("j"),
            F.col("__q"),
        )
        .select(
            "query_id",
            "j",
            F.slice(F.col("__q"), F.col("j") * d + 1, F.lit(d)).alias("__qsub"),
        )
    )
    return qsubs.join(F.broadcast(codebook), "j").select(
        "query_id", "j", "cid", qdot(F.col("__qsub"), F.col("__csub")).alias("__pdot")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int = PQ_M,
    dim: int = 64,
    cb_mod: int | None = None,
    cb_rem: int = 1,
) -> DataFrame:
    """Flat PQ/ADC top-k (Jegou, Douze, Schmid: "Product quantization
    for nearest neighbor search", TPAMI 2011): vectors are stored as m
    codebook ids, and score(query, x) is approximated by the sum of m
    precomputed partial dot products LUT[j, code_j(x)] — exact BIGINT
    end to end (quantized integers in, integer sums out), so ranking,
    (score desc, neighbor_id) tie-break, and the oracle replay are
    bit-stable.

    Scale shape: the corpus is scanned once to encode (one skinny
    (id, j, cid) exchange), then scoring reads CODES ONLY — m bigints
    per vector instead of dim floats (the 32x memory cut that lets a
    100 TB corpus's index fit a cluster) — against a broadcast LUT,
    with the per-(query, vector) sum map-side-combined. The scan still
    touches every vector (flat PQ is the recall baseline);
    ``ivf_pq_topk`` composes the inverted file on top to prune it."""
    cb = pq_codebook(corpus, id_col, vec_col, m, dim, cb_mod, cb_rem)
    codes = pq_codes(corpus, cb, id_col, vec_col, m, dim).select(
        F.col(id_col).alias("neighbor_id"), "j", "cid"
    )
    lut = _pq_lut(queries, cb, id_col, vec_col, m, dim)
    scored = (
        codes.join(F.broadcast(lut), ["j", "cid"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("__pdot").alias("pq_score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "pq_score", "rank")
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    centroid_mod: int = 37,
    centroid_rem: int = 3,
    nprobe: int = 2,
    m: int = PQ_M,
    dim: int = 64,
    cb_mod: int | None = None,
    cb_rem: int = 1,
) -> DataFrame:
    """IVF pruning x PQ/ADC scanning — the FAISS ``IVFx,PQy`` shape, THE
    production 100 TB ANN configuration: the inverted file cuts the
    candidate set to ~nprobe/n_centroids of the corpus (exact
    quantized-cosine assignment and probing, same deterministic
    centroid rule as ``ivf_topk``), and the surviving candidates are
    scored from m-code PQ lookups instead of full vectors. Both the
    pruning and the ADC sums are exact integer arithmetic — the
    result is bit-replayable end to end."""
    from pyspark.sql import Window

    base = persist_tracked(_with_quant(corpus, id_col, vec_col))
    cents = F.broadcast(
        base.filter((F.col(id_col) % centroid_mod) == centroid_rem).select(
            F.col(id_col).alias("__ivf_cid"),
            F.col("__q").alias("__qc"),
            F.col("__norm").alias("__nc"),
        )
    )
    # corpus assignment: map-side-combined argmax (see _nearest_centroid;
    # inlined here because the centroid column is renamed to keep the
    # PQ codebook's `cid` distinct from the IVF list id)
    assigned = (
        base.crossJoin(cents)
        .withColumn(
            "__cos",
            _pair_cosine(
                F.col("__q"), F.col("__qc"), F.col("__norm"), F.col("__nc")
            ),
        )
        .groupBy(id_col)
        .agg(
            F.max_by(
                F.col("__ivf_cid"),
                F.struct(
                    F.col("__cos").alias("__c"),
                    (-F.col("__ivf_cid")).alias("__negcid"),
                ),
            ).alias("__ivf_cid")
        )
        .select(F.col(id_col).alias("neighbor_id"), "__ivf_cid")
    )
    qbase = _with_quant(queries, id_col, vec_col, widen=False)
    qscored = qbase.crossJoin(cents).withColumn(
        "__cos",
        _pair_cosine(F.col("__q"), F.col("__qc"), F.col("__norm"), F.col("__nc")),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__cos").desc(), F.col("__ivf_cid").asc()
    )
    probes = (
        qscored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(F.col(id_col).alias("query_id"), "__ivf_cid")
    )
    cand = assigned.join(F.broadcast(probes), "__ivf_cid").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    cb = pq_codebook(corpus, id_col, vec_col, m, dim, cb_mod, cb_rem)
    codes = pq_codes(corpus, cb, id_col, vec_col, m, dim).select(
        F.col(id_col).alias("neighbor_id"), "j", "cid"
    )
    lut = _pq_lut(queries, cb, id_col, vec_col, m, dim)
    scored = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(lut), ["query_id", "j", "cid"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("__pdot").alias("pq_score"))
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "pq_score", "rank")
    )


def pq_refine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    refine: int = 10,
    m: int = PQ_INDEX_M,
    dim: int = 64,
    cb_mod: int | None = None,
    cb_rem: int = 1,
) -> DataFrame:
    """PQ shortlist + exact re-rank (the FAISS ``IndexRefineFlat``
    shape, THE production configuration for exact-quality answers over
    a compressed index): the ADC scan cuts each query's candidates to
    ``refine * k`` by approximate integer score, then ONLY those
    ``refine*k`` vectors are re-scored with the exact quantized
    cosine. Output is (query_id, neighbor_id, cosine, rank) — the same
    schema and tie-break as ``brute_force_topk``, so the two are
    directly comparable.

    Why refine: PQ codes are a 32x compression, and on low-structure
    embeddings the raw ADC ranking is coarse (measured recall@5 ~0.4-
    0.6 on the synthetic corpus). The shortlist, however, is excellent
    — measured 0.96-1.00 of true top-5 inside the top-50 ADC
    candidates (m=16) — and the exact re-rank touches refine*k vectors
    per query instead of the corpus, so at 100 TB the expensive exact
    math reads ~500 full vectors per query while the corpus-wide scan
    reads m bigint codes per vector.

    The re-rank join broadcasts the shortlist (|queries| x refine*k
    rows) against one corpus scan — no corpus shuffle anywhere in the
    refine stage. Everything is deterministic: ADC sums are exact
    BIGINTs, the shortlist cut and final rank both break ties by
    neighbor id, so an oracle replays the whole pipeline."""
    shortlist = pq_topk(
        corpus, queries, id_col, vec_col, refine * k, m, dim, cb_mod, cb_rem
    ).select("query_id", "neighbor_id")
    return _exact_refine(corpus, queries, shortlist, id_col, vec_col, k)


def _exact_refine(
    corpus: DataFrame,
    queries: DataFrame,
    shortlist: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Exact re-rank of a (query_id, neighbor_id) shortlist: broadcast
    the shortlist against ONE corpus scan (no corpus shuffle), score
    the surviving pairs with the exact quantized cosine, cut to top-k
    with the shared (cosine desc, neighbor id) tie-break. The refine
    stage of ``pq_refine_topk`` and of the store-backed
    ``query_pq_index_refined`` — one definition so the in-session and
    on-disk FAISS ``IndexRefineFlat`` shapes can never desynchronize."""
    c = _with_quant(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col("__q").alias("__qc"),
        F.col("__norm").alias("__nc"),
    )
    q = F.broadcast(
        _with_quant(queries, id_col, vec_col, widen=False).select(
            F.col(id_col).alias("query_id"),
            F.col("__q").alias("__qq"),
            F.col("__norm").alias("__nq"),
        )
    )
    scored = (
        c.join(F.broadcast(shortlist), "neighbor_id")
        .join(q, "query_id")
        .withColumn(
            "cosine",
            _pair_cosine(
                F.col("__qq"), F.col("__qc"), F.col("__nq"), F.col("__nc")
            ),
        )
        .select("query_id", "neighbor_id", "cosine")
    )
    return _rank_topk(scored, k)


def query_pq_index_refined(
    spark,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    refine: int = 10,
    m: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """The on-disk FAISS ``IndexRefineFlat``: ADC shortlist from the
    PERSISTED code table (``query_pq_index`` semantics — the
    corpus-wide scan reads m bigint codes per vector, never a float),
    then ONLY the refine*k shortlist is re-ranked with the exact
    quantized cosine against the caller's float ``corpus`` frame (the
    index deliberately stores no floats; the refine side reads them
    from the primary table, which a production deployment keeps
    anyway). Identical output contract and tie-breaks to the
    in-session ``pq_refine_topk`` over the same logical corpus and
    codebook — the amortized production path for the exact-quality ANN
    configuration: build once, every query batch pays one code-table
    scan plus refine*k exact scores per query."""
    shortlist = query_pq_index(
        spark, path, queries, id_col, vec_col, refine * k, m, dim
    ).select("query_id", "neighbor_id")
    return _exact_refine(corpus, queries, shortlist, id_col, vec_col, k)


def write_pq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_INDEX_M,
    dim: int = 64,
    cb_mod: int | None = None,
    cb_rem: int = 1,
) -> None:
    """Materialize the PQ index as a DISK LAYOUT: ``codebook/`` (the
    ~256-entries-per-subspace long-form table) plus ``codes/``
    (id, j, cid — m bigints per vector, the 32x compression). The
    codebook is FROZEN at build time, the same contract as the SQ8
    scale and the IVF centroids: later appends encode against it so
    codes stay mutually comparable; corpus drift needs a rebuild.
    ``pq_codebook`` fails loud on an empty/unsampled corpus, so a
    degenerate build can never persist a poisoned store."""
    import os

    cb = persist_tracked(
        pq_codebook(corpus, id_col, vec_col, m, dim, cb_mod, cb_rem)
    )
    cb.write.mode("overwrite").parquet(os.path.join(path, "codebook"))
    pq_codes(corpus, cb, id_col, vec_col, m, dim).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "codes"))


def append_pq_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int | None = None,
    dim: int | None = None,
    skip_existing: bool = True,
) -> int:
    """Incrementally grow a ``write_pq_index`` layout: encode the batch
    against the FROZEN stored codebook and append. The existing code
    table is never rewritten — ingest cost is one batch-sized encode
    plus an id anti-join against the (id-column-only, column-pruned)
    existing codes scan. Returns rows appended (vectors, not code
    rows); ``skip_existing`` makes replays idempotent — the
    store-not-rescan contract every incremental store here follows.
    ``m``/``dim`` default to the STORED geometry
    (``_stored_pq_geometry``); an explicit value must match it."""
    import os

    # Fan the batch out before encoding: ensure_parallelism leaves
    # non-file frames (foreachBatch micro-batches) untouched, but the
    # encode is compute-heavy (batch x m x 256 subspace distances) and
    # serializes on a narrow JSON/Kafka batch. The RDD partition probe
    # is a per-BATCH fixed cost — fine at ingest cadence, unlike the
    # per-call hot-path cost ensure_parallelism's design avoids.
    want = spark.sparkContext.defaultParallelism
    if new_vectors.rdd.getNumPartitions() < want:
        new_vectors = new_vectors.repartition(want)
    stored_cb = _read_store_part(spark, os.path.join(path, "codebook"))
    m, dim = _stored_pq_geometry(stored_cb, m, dim)
    # full=True (not the limit-1 probe): PQ encodes via F.slice, which
    # silently truncates a WIDER row into plausible-but-wrong codes —
    # undetectable post-encode, so the mixed-width check must scan the
    # incoming batch itself (one batch-sized min/max agg at ingest
    # cadence, nothing corpus-sized)
    _check_dim(new_vectors, vec_col, dim, full=True)
    cb = F.broadcast(stored_cb)
    batch = pq_codes(new_vectors, cb, id_col, vec_col, m, dim)
    if skip_existing:
        existing = spark.read.parquet(os.path.join(path, "codes")).select(
            id_col
        )
        batch = batch.join(existing.distinct(), id_col, "left_anti")
    batch = persist_tracked(batch)
    n_rows = batch.count()
    if n_rows:
        _bounded_files(batch, n_rows).write.mode("append").parquet(
            os.path.join(path, "codes")
        )
    return n_rows // m


def query_pq_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """ADC top-k against a persisted PQ layout: the query side builds
    its LUT from the stored codebook and broadcasts it; the corpus
    side reads ONLY the m-bigints-per-vector code table — at no point
    is a stored float embedding materialized. Identical ADC semantics
    to ``pq_topk`` over the same logical corpus and codebook
    (pytest-asserted). Callers wanting exact-quality answers re-rank
    the returned shortlist against their float table — the
    ``pq_refine_topk`` composition; the index itself never needs the
    floats. ``m``/``dim`` default to the STORED geometry
    (``_stored_pq_geometry``); an explicit value must match it."""
    import os

    from pyspark.sql import Window

    stored_cb = _read_store_part(spark, os.path.join(path, "codebook"))
    m, dim = _stored_pq_geometry(stored_cb, m, dim)
    # the query frame must match the stored width too: F.slice never
    # errors on longer arrays, so a 128-dim query against a 64-dim
    # index would otherwise score the first 64 components silently
    _check_dim(queries, vec_col, dim, full=True)
    cb = F.broadcast(stored_cb)
    codes = _read_store_part(spark, os.path.join(path, "codes")).select(
        F.col(id_col).alias("neighbor_id"), "j", "cid"
    )
    lut = _pq_lut(queries, cb, id_col, vec_col, m, dim)
    scored = (
        codes.join(F.broadcast(lut), ["j", "cid"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("__pdot").alias("pq_score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "pq_score", "rank")
    )


def build_ivf_pq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_mod: int | None = 37,
    centroid_rem: int = 3,
    m: int = PQ_INDEX_M,
    dim: int = 64,
    cb_mod: int | None = None,
    cb_rem: int = 1,
) -> None:
    """The composed FAISS ``IVFx,PQy`` DISK LAYOUT — the full
    production ANN artifact: PQ codes (one array<long> of m codes per
    vector) written as parquet PARTITIONED by nearest-IVF-centroid id
    (``lists/cid=N/``), with ``centroids/`` and ``codebook/``
    alongside. A query prunes to its probed ``cid=`` directories at
    the scan (directory-level, nothing else read or listed) and then
    ADC-scores m-code rows — at 100 TB a top-k touches
    ~nprobe/n_centroids of a 32x-compressed corpus, the product of
    both cuts. Centroids AND codebook freeze at build; appends encode
    against both, rebuild cadence owns drift."""
    import os

    base = persist_tracked(_with_quant(corpus, id_col, vec_col))
    cents = _seed_centroids(corpus, base, id_col, centroid_mod, centroid_rem)
    cb = persist_tracked(
        pq_codebook(corpus, id_col, vec_col, m, dim, cb_mod, cb_rem)
    )
    assigned = _nearest_centroid(base, F.broadcast(cents), id_col).select(
        F.col(id_col), "cid"
    )
    codes = _pq_code_arrays(corpus, cb, id_col, vec_col, m, dim)
    (
        codes.join(assigned, id_col)
        # hash-cluster on the partition column before the partitioned
        # write: each cid lands in exactly ONE task, so the layout is
        # one file per list instead of (tasks x lists) fragments — at
        # 32 tasks x 200 centroids the difference is 200 files vs
        # 6,400, and every later probe/query scan pays the file count
        .repartition("cid")
        .write.mode("overwrite")
        .partitionBy("cid")
        .parquet(os.path.join(path, "lists"))
    )
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))
    cb.write.mode("overwrite").parquet(os.path.join(path, "codebook"))


def _pq_code_arrays(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str,
    vec_col: str,
    m: int,
    dim: int,
) -> DataFrame:
    """(id, codes array<long>): the long-form ``pq_codes`` rolled back
    up to one m-element array per vector, ordered by subspace — the
    on-disk shape (m bigints per row packs better than m rows and
    reads back with one scan)."""
    long_form = pq_codes(corpus, codebook, id_col, vec_col, m, dim)
    return long_form.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("j", "cid"))),
            lambda s: s["cid"],
        ).alias("codes")
    )


def append_ivf_pq_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int | None = None,
    dim: int | None = None,
    skip_existing: bool = True,
) -> int:
    """Incrementally grow a ``build_ivf_pq_index`` layout: assign each
    new vector to its nearest FROZEN centroid and encode it against
    the FROZEN codebook, then append into the matching ``cid=``
    partitions. Ingest cost is one batch-sized assignment+encode plus
    a partition-pruned existence probe over only the TOUCHED lists'
    id columns — proportional to the probed lists, never the whole
    index (a skewed batch touching few lists probes few; a uniform
    batch probes its centroid spread). ``skip_existing`` replays are
    append-zero (the insert-only contract). Returns rows appended.
    ``m``/``dim`` default to the STORED geometry
    (``_stored_pq_geometry``); an explicit value must match it.

    Runs the ``_recover_parked_lists`` preamble first: an append must
    never land while a crashed compaction has a list parked at
    ``.old`` with its live directory missing — the existence probe
    would miss the parked rows (double-write) and the next recovery
    would drop them (row loss). Live compaction and appends belong in
    separate maintenance windows (the compactor's documented caveat);
    the preamble makes the CRASHED-compactor interleavings safe."""
    import os

    _recover_parked_lists(spark, os.path.join(path, "lists"))
    want = spark.sparkContext.defaultParallelism
    if new_vectors.rdd.getNumPartitions() < want:
        new_vectors = new_vectors.repartition(want)
    cents = F.broadcast(_read_store_part(spark, os.path.join(path, "centroids")))
    stored_cb = _read_store_part(spark, os.path.join(path, "codebook"))
    m, dim = _stored_pq_geometry(stored_cb, m, dim)
    # full=True for the same reason as append_pq_index: the F.slice
    # encode silently truncates wider rows, so only a pre-encode
    # batch-sized min/max scan catches a mixed-width batch
    _check_dim(new_vectors, vec_col, dim, full=True)
    cb = F.broadcast(stored_cb)
    base = _with_quant(new_vectors, id_col, vec_col, widen=False)
    assigned = _nearest_centroid(base, cents, id_col).select(F.col(id_col), "cid")
    batch = persist_tracked(
        _pq_code_arrays(new_vectors, cb, id_col, vec_col, m, dim).join(
            assigned, id_col
        )
    )
    if skip_existing:
        touched = [r.cid for r in batch.select("cid").distinct().collect()]
        existing = _read_lists(spark, os.path.join(path, "lists"), touched)
        if existing is not None:
            batch = persist_tracked(
                batch.join(existing.select(id_col), id_col, "left_anti")
            )
    n = batch.count()
    if n:
        # one file per touched list per batch (the build's repartition
        # rationale): without it every append fragments each cid= dir
        # into up-to-#tasks files and the NEXT batch's existence probe
        # pays the growing file count — measured 64 -> 370 scan tasks
        # over 10 uniform batches before this clustering
        batch.repartition("cid").write.mode("append").partitionBy(
            "cid"
        ).parquet(os.path.join(path, "lists"))
    return n


def _recover_parked_lists(spark, lists_dir: str) -> None:
    """Recovery preamble shared by the compactor and the append path:
    restore any list parked at ``cid=N.old`` by a CRASHED compaction
    whose live directory is missing (crash between the two swap
    renames), and drop stale ``.old`` copies whose live directory
    exists (crash before cleanup). Appends MUST run this before their
    existence probe: a parked-only list is invisible to the probe, so
    an append would re-insert ids the parked list already holds
    (double-write) and the next compaction's preamble — seeing a live
    directory recreated by that very append — would delete the parked
    original (row loss). Pinned by
    tests/test_ivf_pq_index.py::test_append_mid_compaction_crash_*."""
    from airbnb_cdc_spark.operators.merge import _fs, _rename_or_raise

    fs, lists_hp = _fs(spark, lists_dir)
    if not fs.exists(lists_hp):
        return
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path
    for st in list(fs.listStatus(lists_hp)):
        name = st.getPath().getName()
        if name.endswith(".old"):
            live = hadoop_path(lists_hp, name[: -len(".old")])
            if not fs.exists(live):
                _rename_or_raise(fs, st.getPath(), live)
            else:
                fs.delete(st.getPath(), True)


def compact_ivf_lists(
    spark, path: str, max_files: int = 4, part_col: str = "cid"
) -> int:
    """Compact fragmented inverted lists in any ``lists/cid=N``
    layout — ``build_ivf_index`` (quantized vectors) and
    ``build_ivf_pq_index`` (PQ codes) share the directory contract,
    and compaction never interprets the rows, so one implementation
    serves both (``compact_ivf_pq_lists`` is the historical alias).
    Every append lands one file per touched ``cid=`` (the
    repartition contract), so after B batches a hot list holds up to B
    files and every probe/existence scan pays the file count. This
    rewrites ONLY the lists whose file count exceeds ``max_files`` —
    one partition-pruned read of the fragmented lists, one clustered
    write, then a PER-LIST atomic directory swap — and returns the
    number of lists compacted. Orders of magnitude cheaper than a
    rebuild: codes and assignments are frozen artifacts, so compaction
    is pure I/O (no re-encode, no re-assignment, no centroid math).

    Crash safety: each list swaps independently (``cid=N`` →
    ``cid=N.old``, tmp → ``cid=N``, drop old), so a crash corrupts
    nothing — at worst one list is parked at ``.old``; the recovery
    preamble restores any parked list whose live directory is missing
    before compacting. Run in a maintenance window like any table
    compaction: a query racing the swap of exactly the list it probes
    can transiently miss it (the same caveat every
    rewrite-in-place maintenance op carries).

    All listing/rename/delete goes through Hadoop's FileSystem API
    (resolved from the store path's scheme), the same layer every
    other operation on this layout uses — so compaction works wherever
    the index lives (local, HDFS, s3a://, ...). The per-list swap is
    atomic on filesystems with atomic directory rename (local, HDFS);
    object stores emulate rename as copy+delete, which widens the
    transient-miss window for a racing query but never corrupts the
    list — a crash mid-rename still leaves the parked ``.old`` copy
    for the recovery preamble."""
    import os

    from airbnb_cdc_spark.operators.merge import _fs, _rename_or_raise

    lists_dir = os.path.join(path, "lists")
    fs, lists_hp = _fs(spark, lists_dir)
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path

    _recover_parked_lists(spark, lists_dir)
    frag = []
    for st in fs.listStatus(lists_hp):
        name = st.getPath().getName()
        if name.startswith(f"{part_col}=") and st.isDirectory():
            n_files = sum(
                1
                for f in fs.listStatus(st.getPath())
                if f.getPath().getName().endswith(".parquet")
            )
            if n_files > max_files:
                frag.append(int(name.split("=", 1)[1]))
    if not frag:
        return 0
    tmp = os.path.join(path, ".lists_compact_tmp")
    fs.delete(hadoop_path(tmp), True)
    (
        # never None: frag just listed
        _read_lists(spark, lists_dir, frag, part_col)
        .repartition(part_col)
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(tmp)
    )
    for cid in frag:
        src = hadoop_path(os.path.join(tmp, f"{part_col}={cid}"))
        dst = hadoop_path(os.path.join(lists_dir, f"{part_col}={cid}"))
        old = hadoop_path(os.path.join(lists_dir, f"{part_col}={cid}.old"))
        _rename_or_raise(fs, dst, old)
        _rename_or_raise(fs, src, dst)
        fs.delete(old, True)
    fs.delete(hadoop_path(tmp), True)
    return len(frag)


# Historical name (the function predates the plain-IVF store gaining
# append-driven fragmentation); the implementation is layout-generic.
compact_ivf_pq_lists = compact_ivf_lists


def query_ivf_pq_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 2,
    m: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """ADC top-k over a ``build_ivf_pq_index`` layout: the probe set
    (query -> nprobe nearest stored centroids) is |queries|·nprobe
    ints, collected and pushed into the lists scan as a STATIC
    partition filter (the ``query_ivf_index`` trade — driver-side
    metadata, never data), so only the probed ``cid=`` directories are
    read; the survivors' m-code arrays are scored against the
    broadcast query LUT. Identical ADC semantics to ``ivf_pq_topk``
    over the same logical corpus and parameters (pytest-asserted).
    ``m``/``dim`` default to the STORED geometry
    (``_stored_pq_geometry``); an explicit value must match it."""
    import os

    from pyspark.sql import Window

    cents = F.broadcast(_read_store_part(spark, os.path.join(path, "centroids")))
    # geometry first (before probe selection): the probe-side cosine
    # zip_with would silently truncate a wrong-width query frame too
    stored_cb = _read_store_part(spark, os.path.join(path, "codebook"))
    m, dim = _stored_pq_geometry(stored_cb, m, dim)
    # width guard evaluated from the probe collect below (r18)
    # widen=False: the query frame is tiny and feeds a broadcast —
    # repartitioning it first is pure fixed overhead (the query-side
    # convention ivf_pq_topk / pq_refine_topk / _pq_lut follow).
    qs = _with_quant(queries, id_col, vec_col, widen=False)
    scored = qs.crossJoin(cents).withColumn(
        "__cos",
        _pair_cosine(F.col("__q"), F.col("__qc"), F.col("__norm"), F.col("__nc")),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__cos").desc(), F.col("cid").asc()
    )
    probe_sel = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= nprobe)
        .select(
            F.col(id_col).alias("query_id"),
            "cid",
            F.size(F.col("__q")).alias("__d"),
        )
    )
    pairs, probes = _collected_probes(probe_sel)
    if not pairs:  # an empty query frame, or no centroids to probe
        cents_path = os.path.join(path, "centroids")
        _check_store_not_empty(
            _stored_width_cached(spark, cents_path, "__qc"), queries, path
        )
    _check_collected_dims(pairs, "__d", dim, vec_col)
    probes = probes.drop("__d")
    probe_cids = sorted({r.cid for r in pairs})
    cb = F.broadcast(stored_cb)
    lut = _pq_lut(queries, cb, id_col, vec_col, m, dim)
    lists = _read_lists(spark, os.path.join(path, "lists"), probe_cids)
    if lists is None:
        # every probed list mid-swap/absent: empty top-k, right schema
        scored_pairs = (
            probes.select(
                "query_id", F.col("query_id").alias("neighbor_id")
            )
            .limit(0)
            .withColumn("pq_score", F.lit(None).cast("long"))
        )
    else:
        cand = (
            lists.join(F.broadcast(probes), "cid")
            .filter(F.col("query_id") != F.col(id_col))
            .select(
                "query_id",
                F.col(id_col).alias("neighbor_id"),
                F.posexplode("codes").alias("j", "code"),
            )
        )
        scored_pairs = (
            cand.join(
                F.broadcast(lut),
                (cand["j"] == lut["j"])
                & (cand["code"] == lut["cid"])
                & (cand["query_id"] == lut["query_id"]),
            )
            .groupBy(cand["query_id"], "neighbor_id")
            .agg(F.sum("__pdot").alias("pq_score"))
        )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("pq_score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored_pairs.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "pq_score", "rank")
    )
