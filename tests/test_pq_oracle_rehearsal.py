"""Oracle REHEARSAL for the in-session PQ operator: a DuckDB SQL replay
of ``pq_refine_topk`` runs here directly against the sf0.001 parquet
and is compared to the Spark operator output value for value. The
`ann_topk_pq` registry query runs the persisted-store form instead.

Shape: pq_refine_topk(embeddings, vec_id % 50 == 0,
k=5, refine=10, m=16, dim=64, cb_mod=None→max(2, n//256), cb_rem=1) —
ADC shortlist of 50 by exact-integer PQ score, exact quantized-cosine
re-rank to 5. Every stage is integer or deterministic-double, and
every tie (code argmin, shortlist cut, final rank) breaks on an id,
so the replay is bit-exact."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from airbnb_cdc_spark.operators.similarity import pq_refine_topk

SF_DIR = "/root/testdata/sf0.001"
K, REFINE, M, DIM = 5, 10, 16, 64
D = DIM // M  # 4-dim subvectors

REHEARSAL_SQL = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
    FROM embeddings
),
params AS (
    SELECT GREATEST(2, COUNT(*) // 256) AS cb_mod FROM embeddings
),
cb AS (
    SELECT j.j AS j, q.vec_id AS cid,
           list_transform(range(1, {D + 1}), i -> q.qe[j.j * {D} + i]) AS csub
    FROM q, params, range(0, {M}) AS j(j)
    WHERE q.vec_id % params.cb_mod = 1
),
subs AS (
    SELECT q.vec_id, j.j AS j,
           list_transform(range(1, {D + 1}), i -> q.qe[j.j * {D} + i]) AS xsub
    FROM q, range(0, {M}) AS j(j)
),
codes AS (
    SELECT vec_id, j, cid FROM (
        SELECT s.vec_id, s.j, cb.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id, s.j
                   ORDER BY CAST(list_sum(list_transform(range(1, {D + 1}),
                           i -> (s.xsub[i] - cb.csub[i])
                                * (s.xsub[i] - cb.csub[i]))) AS BIGINT),
                        cb.cid) AS rn
        FROM subs s JOIN cb ON cb.j = s.j
    ) WHERE rn = 1
),
lut AS (
    SELECT a.vec_id AS query_id, cb.j, cb.cid,
           CAST(list_sum(list_transform(range(1, {D + 1}),
                   i -> a.qe[cb.j * {D} + i] * cb.csub[i])) AS BIGINT) AS pdot
    FROM q a, cb
    WHERE a.vec_id % 50 = 0
),
adc AS (
    SELECT l.query_id, c.vec_id AS neighbor_id,
           CAST(SUM(l.pdot) AS BIGINT) AS pq_score
    FROM codes c JOIN lut l ON l.j = c.j AND l.cid = c.cid
    WHERE l.query_id <> c.vec_id
    GROUP BY l.query_id, c.vec_id
),
shortlist AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY pq_score DESC, neighbor_id) AS rn
        FROM adc
    ) WHERE rn <= {REFINE * K}
),
rer AS (
    SELECT s.query_id, s.neighbor_id,
           CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * b.qe[i])) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * a.qe[i])) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(range(1, 65), i -> b.qe[i] * b.qe[i])) AS DOUBLE)))
               AS cosine
    FROM shortlist s
    JOIN q a ON a.vec_id = s.query_id
    JOIN q b ON b.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rank
    FROM rer
) WHERE rank <= {K}
"""


def test_pq_refine_matches_duckdb_rehearsal(spark):
    from airbnb_cdc_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in pq_refine_topk(emb, queries, k=K, refine=REFINE, m=M).collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = {
        (row[0], row[3]): (row[1], row[2])
        for row in con.execute(REHEARSAL_SQL).fetchall()
    }
    assert got == want  # bit-exact: integer ADC, deterministic doubles
    # non-degenerate: every query yields a full top-K at this SF
    n_queries = queries.count()
    assert len(got) == n_queries * K
