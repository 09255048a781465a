"""Oracle REHEARSAL for the quality-classifier operator: an independent
DuckDB SQL replay is run here directly against the sf0.001 parquet and
compared to the Spark operator output, value for value.

Query shape: positive class = the `_LM_TARGET`/'src0' source,
negative class = every other source, candidates = the negative pool,
output = the TOP-K verdict rows by (margin desc, doc_id) — the
keep_quality selection form. Probed for degeneracy first (the Q22
lesson): a bare label column is all-0 at sf0.001/0.01 (the negative
class IS the candidate pool, so almost nothing clears the neutral
mean; 29 docs do at sf0.1), so the thresholded-keep form would be a
degenerate oracle — the top-K cut is discriminative at every SF."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from airbnb_cdc_spark.operators.classifier import (
    classify,
    fit_quality_classifier,
    token_buckets,
)

SF_DIR = "/root/testdata/sf0.001"
K = 120
N_BUCKETS = 512
SCALE = 1 << 16
TARGET = "src0"

# HUGEINT `//` mirrors Spark's DECIMAL(38,0) `div` (both truncate;
# operands positive) — the _DSIR_ORACLE arithmetic with two class
# corpora instead of target-vs-corpus.
REHEARSAL_SQL = f"""
WITH tok AS (
    SELECT doc_id, source,
           CAST(('0x' || substring(md5(u.tok), 1, 15)) AS BIGINT)
               % {N_BUCKETS} AS bucket
    FROM (
        SELECT doc_id, source,
               list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),
                           t -> t <> '') AS t
        FROM documents
    ), unnest(t) AS u(tok)
),
pcnt AS (
    SELECT bucket, count(*) AS pc FROM tok
    WHERE source = '{TARGET}' GROUP BY bucket
),
ncnt AS (
    SELECT bucket, count(*) AS nc FROM tok
    WHERE source <> '{TARGET}' GROUP BY bucket
),
tot AS (
    SELECT (SELECT COALESCE(SUM(pc), 0) FROM pcnt) AS PT,
           (SELECT COALESCE(SUM(nc), 0) FROM ncnt) AS NT
),
weights AS (
    SELECT r.range AS bucket,
           CAST(
               (CAST((COALESCE(pc.pc, 0) + 1) * {SCALE} AS HUGEINT)
                    * (tot.NT + {N_BUCKETS}))
               // (CAST(COALESCE(nc.nc, 0) + 1 AS HUGEINT)
                    * (tot.PT + {N_BUCKETS}))
           AS BIGINT) AS w
    FROM range({N_BUCKETS}) r
    LEFT JOIN pcnt pc ON pc.bucket = r.range
    LEFT JOIN ncnt nc ON nc.bucket = r.range
    CROSS JOIN tot
)
SELECT t.doc_id AS doc_id,
       CAST(SUM(ws.w) AS BIGINT) AS margin_sum,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(ws.w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS margin,
       CAST(SUM(ws.w) >= {SCALE} * COUNT(*) AS INT) AS label
FROM tok t JOIN weights ws ON t.bucket = ws.bucket
WHERE t.source <> '{TARGET}'
GROUP BY t.doc_id
ORDER BY margin DESC, doc_id
LIMIT {K}
"""


def test_classifier_matches_duckdb_rehearsal(spark):
    from airbnb_cdc_spark.session import load_table

    docs = load_table(spark, SF_DIR, "documents")
    tok = token_buckets(
        docs.select("doc_id", "source", "text"), "text", N_BUCKETS
    )
    model = fit_quality_classifier(
        tok.filter(F.col("source") == TARGET),
        tok.filter(F.col("source") != TARGET),
        N_BUCKETS,
        SCALE,
    )
    cand = docs.filter(F.col("source") != TARGET).select("doc_id", "text")
    scored = classify(cand, model, "text", "doc_id", N_BUCKETS, SCALE)
    top = scored.orderBy(F.col("margin").desc(), F.col("doc_id")).limit(K)
    got = {
        r.doc_id: (r.margin_sum, r.n_tokens, r.margin, r.label)
        for r in top.collect()
    }

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = {
        row[0]: (row[1], row[2], row[3], row[4])
        for row in con.execute(REHEARSAL_SQL).fetchall()
    }
    assert got == want  # bit-exact: ints, one final division, int label
    assert len(got) == K  # the top-K cut is non-degenerate at every SF
