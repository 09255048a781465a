"""Bloom-bitset semi-join pruning: a hand-rolled RUNTIME FILTER for
the join regime Spark's planner handles worst at 100 TB — a fact table
joined to a dimension that is too large to broadcast as a hash
relation but whose KEY SET compresses into a few-MB bit array.

The reference's lookup/join surface (dataflow joins over warehouse
tables) always shuffles the fact when the dim outgrows the broadcast
threshold. This operator keeps the fact scan shuffle-light: the dim's
keys are hashed into a fixed-size Bloom bitset (built distributed —
explode positions, one word-level ``bit_or`` aggregate; only the
aggregated ≤ ``num_bits/64`` words ever reach the driver), the bitset
is embedded as an ARRAY LITERAL in a plain filter on the fact, and
only the surviving sliver — true matches plus the tunable
false-positive residue — reaches the exact ``left_semi`` verify. That
verify makes the END RESULT exactly the semi-join regardless of false
positives, so correctness never depends on the filter; the filter only
moves work off the 100 TB side.

Why a driver-materialized literal and not a broadcast 1-row bitmap
join: a first implementation attached the bitset via
``fact.crossJoin(broadcast(bitmap_row)).filter(probe)`` — and
Catalyst's ``PushDownLeftSemiAntiJoin`` rule then pushed the exact
verify BELOW the bitmap join (its condition references only fact
columns), producing a plan that shuffled the FULL fact into the
sort-merge semi join and applied the bloom probe to its output:
runtime filtering exactly backwards. A literal filter cannot be
reordered behind the join — it sits directly on the scan, which is the
entire point. This is the same materialization shape Spark's own
``InjectRuntimeFilter``/``InSubqueryExec`` uses (the optimizer's bloom
is likewise built, collected, and replanned as a scan-side filter);
the driver cost is the bitset itself, ``num_bits/8`` bytes
(1 MiB at the 2^23 default), a deliberate metadata-sized collect.

Determinism: ``bloom_mark``/``bloom_prune`` positions are md5-h60 of
``"<i>:<key>"`` mod ``num_bits`` — exact integers, reproducible in
DuckDB with the shared ``('0x' || substring(md5(..), 1, 15))``
convention, so even the pre-verify survivor set (false positives
included) is oracle-checkable cross-engine (the bitset word test is
equivalent to position-set membership). ``bloom_semi_join`` instead
probes with native ``xxhash64`` positions (r17): its exact verify
makes the END RESULT identical for any position hash, and the md5
expression chain was the measured bottleneck of the probe scan — only
callers whose contract is the survivor set itself need the
oracle-replayable md5 form.

Sizing: with ``n`` dim keys, ``m = num_bits``, ``k = num_hashes``,
false-positive rate ≈ ``(1 - e^(-kn/m))^k`` — 1 byte per key
(m = 8n, k = 3) gives ~3%. Pass ``num_bits=None`` (the default) to
AUTO-SIZE: a cheap ``approx_count_distinct`` over the dim keys picks
the next power of two ≥ 8n, clamped to ``MAX_BLOOM_BITS`` (2^26, the
same order as Spark's own ``runtime.bloomFilter.maxNumBits`` default —
an 8 MiB literal is the largest a plan should carry). A dim whose key
count would saturate even the capped bitset (FPR → 1: the filter
passes everything and you pay a useless double scan) makes
``bloom_semi_join`` fall back to the plain ``left_semi`` — identical
result, no wasted build — while ``bloom_mark``/``bloom_prune`` (whose
contract is the approximate survivor set itself) clamp to the cap and
keep the documented-degraded filter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airbnb_cdc_spark.functions.textfns import h60

MAX_BLOOM_BITS = 1 << 26
MIN_BLOOM_BITS = 1 << 10
# keys above which even MAX_BLOOM_BITS gives < 1 bit/key — the filter
# is saturated noise and the exact join alone is cheaper
_FALLBACK_KEYS = MAX_BLOOM_BITS


def _auto_num_bits(
    keys_df: DataFrame, dim_key: str, rsd: float = 0.05
) -> tuple[int, int]:
    """Bitset size for an unknown dim: next power of two ≥ 8 bits per
    estimated distinct key (FPR ≈ 3% at k=3), clamped to
    [MIN_BLOOM_BITS, MAX_BLOOM_BITS]. The estimate is one
    ``approx_count_distinct`` aggregation — a metadata-sized scan of
    the SMALL side only, the same pre-pass Spark's InjectRuntimeFilter
    does via rowCount stats."""
    n_est = keys_df.agg(
        F.approx_count_distinct(dim_key, rsd).alias("n")
    ).collect()[0]["n"]
    bits = MIN_BLOOM_BITS
    while bits < 8 * max(n_est, 1) and bits < MAX_BLOOM_BITS:
        bits <<= 1
    return bits, n_est


def bloom_positions(
    key: Column, num_bits: int, num_hashes: int, hash_fn: str = "md5"
) -> list[Column]:
    """The ``num_hashes`` bit positions for one key.

    ``hash_fn="md5"`` (default): md5-h60 of the salted string
    ``"<i>:<key>"`` mod ``num_bits`` — h60 is a positive 60-bit
    integer, so ``%`` and ``pmod`` agree (and agree with DuckDB's
    ``%``), which is what makes the SURVIVOR SET itself
    oracle-replayable (``bloom_mark``'s contract).

    ``hash_fn="xxh64"``: ``xxhash64(key, seed=i)`` — pure codegen over
    the native column, ~10x cheaper per row than the md5 chain
    (measured r17: the md5 probe serialized a fact scan at 786 ms CPU).
    Positions are NOT DuckDB-replayable; only callers whose RESULT is
    hash-independent (``bloom_semi_join``'s exact verify) may use it.
    """
    if hash_fn == "xxh64":
        return [
            F.pmod(F.xxhash64(key, F.lit(i)), F.lit(num_bits))
            for i in range(num_hashes)
        ]
    return [
        F.pmod(
            h60(F.concat(F.lit(f"{i}:"), key.cast("string"))), F.lit(num_bits)
        )
        for i in range(num_hashes)
    ]


def _mask(pos: Column) -> Column:
    """``1 << (pos & 63)`` as a long. The PySpark ``shiftleft`` wrapper
    only takes literal shift amounts; ``call_function`` reaches the SQL
    form, which accepts a column (``pow`` would round above 2^53)."""
    return F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.pmod(pos, F.lit(64)).cast("int")
    )


def bloom_bitset_words(
    keys_df: DataFrame,
    key_col: str,
    num_bits: int,
    num_hashes: int,
    hash_fn: str = "md5",
    key_cast: str | None = None,
) -> list[int]:
    """The dim key set as a DENSE word array (``num_bits/64`` longs;
    word = position >> 6, bit = position & 63). Built with one explode
    + one word-level ``bit_or`` aggregate — the dim is scanned once and
    shuffles only exploded ``(word, mask)`` ints; the collect pulls the
    AGGREGATED words only (metadata-sized by construction: ≤ 128 Ki
    longs at the 2^23-bit default), never the keys."""
    if num_bits < 64 or num_bits % 64 != 0:
        raise ValueError(f"num_bits must be a positive multiple of 64, got {num_bits}")
    bkey = F.col(key_col).cast(key_cast) if key_cast else F.col(key_col)
    rows = (
        keys_df.select(
            F.explode(
                F.array(*bloom_positions(bkey, num_bits, num_hashes, hash_fn))
            ).alias("pos")
        )
        .distinct()
        .select(
            F.shiftright(F.col("pos"), 6).alias("w"),
            _mask(F.col("pos")).alias("m"),
        )
        .groupBy("w")
        .agg(F.bit_or("m").alias("m"))
        .collect()
    )
    words = [0] * (num_bits // 64)
    for r in rows:
        words[r["w"]] = r["m"]
    return words


def bloom_mark(
    fact: DataFrame,
    keys_df: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    num_bits: int | None = None,
    num_hashes: int = 3,
    out_col: str = "bloom_hit",
    hash_fn: str = "md5",
    key_cast: str | None = None,
) -> DataFrame:
    """``fact`` + boolean ``out_col``: does the row's key PASS the
    dim's Bloom bitset (true matches plus false positives)? The bitset
    is an array literal, so the probe is a pure whole-stage-codegen
    projection on the fact scan — no join, nothing the optimizer can
    reorder behind downstream joins.

    ``num_bits=None`` auto-sizes from the dim cardinality (module
    docstring); above-cap dims clamp to ``MAX_BLOOM_BITS`` — the
    survivor-set contract holds at any FPR, it just prunes less."""
    dim_key = dim_key or fact_key
    if num_bits is None:
        num_bits, _ = _auto_num_bits(keys_df, dim_key)
    words = F.lit(
        bloom_bitset_words(keys_df, dim_key, num_bits, num_hashes, hash_fn, key_cast)
    )
    probe = F.col(fact_key).cast(key_cast) if key_cast else F.col(fact_key)
    cond = None
    for p in bloom_positions(probe, num_bits, num_hashes, hash_fn):
        # element_at is 1-based on arrays; the array is dense, so no
        # missing-word coalesce is needed.
        hit = (
            F.element_at(words, (F.shiftright(p, 6) + 1).cast("int")).bitwiseAND(
                _mask(p)
            )
            != 0
        )
        cond = hit if cond is None else (cond & hit)
    return fact.withColumn(out_col, cond)


def bloom_prune(
    fact: DataFrame,
    keys_df: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    num_bits: int | None = None,
    num_hashes: int = 3,
    hash_fn: str = "md5",
    key_cast: str | None = None,
) -> DataFrame:
    """``fact`` filtered to its Bloom survivors — NO exact verify (use
    ``bloom_semi_join`` for the exact result)."""
    marked = bloom_mark(
        fact, keys_df, fact_key, dim_key, num_bits, num_hashes, "__bh", hash_fn, key_cast
    )
    return marked.filter(F.col("__bh")).drop("__bh")


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    num_bits: int | None = None,
    num_hashes: int = 3,
) -> DataFrame:
    """Exact ``left_semi`` of ``fact`` against ``dim``'s keys, with the
    Bloom bitset pruning the fact BEFORE the shuffle join: only bloom
    survivors (matches + the small false-positive sliver) are hashed
    across the cluster, so the shuffle volume follows the MATCH size,
    not the fact size. The verify join guarantees the result equals
    the plain semi-join for any bitset sizing.

    ``num_bits=None`` auto-sizes from the dim cardinality; a dim whose
    estimated key count exceeds ``MAX_BLOOM_BITS`` keys (< 1 bit/key
    even at the cap — FPR → 1, the filter passes everything) skips the
    bloom entirely and runs the plain ``left_semi``: same result, no
    useless bitset build + double fact scan. So do key dtypes that
    differ and are not both integral."""
    dim_key = dim_key or fact_key
    keys = dim.select(F.col(dim_key).alias(fact_key)).distinct()
    # xxh64 positions (r17): the verify join makes the result identical
    # for ANY position hash, so the probe uses the ~10x-cheaper native
    # xxhash64 instead of the oracle-replayable md5 chain (which only
    # bloom_mark/bloom_prune — whose OUTPUT is the survivor set — need).
    # xxhash64 is TYPE-sensitive (int 7 and bigint 7 hash differently),
    # so mismatched key dtypes would make build and probe position sets
    # disjoint and silently prune TRUE matches before the verify (r17
    # ADVICE). Same dtype hashes natively; differing integral dtypes
    # widen both sides to bigint (value-preserving). Any other mismatch
    # has no hash-safe common form (decimal 7.00, double 7.0 and bigint
    # 7 stringify differently, and Spark's join coercion may match a
    # string to a number), so it runs the plain semi-join.
    ftype = dict(fact.dtypes).get(fact_key)
    dtype = dict(dim.dtypes).get(dim_key)
    key_cast = None
    if ftype != dtype:
        _ints = {"tinyint", "smallint", "int", "bigint"}
        if ftype not in _ints or dtype not in _ints:
            return fact.join(keys, on=fact_key, how="left_semi")
        key_cast = "bigint"
    if num_bits is None:
        num_bits, n_est = _auto_num_bits(dim, dim_key)
        if n_est > _FALLBACK_KEYS:
            return fact.join(keys, on=fact_key, how="left_semi")
    pruned = bloom_prune(
        fact,
        dim,
        fact_key,
        dim_key,
        num_bits,
        num_hashes,
        hash_fn="xxh64",
        key_cast=key_cast,
    )
    return pruned.join(keys, on=fact_key, how="left_semi")
