"""Oracle REHEARSAL for the in-session IVF-PQ operator: a DuckDB SQL
replay of ivf_pq_topk runs directly against the sf0.001 parquet and is
compared to the Spark operator value for value. The `ann_topk_ivf_pq`
registry query runs the persisted-store form instead.

Shape: ivf_pq_topk(embeddings, vec_id % 50 == 0, k=5,
centroid_mod=37, centroid_rem=3, nprobe=2, m=16, dim=64,
cb_mod=None→max(2, n//256), cb_rem=1) — IVF pruning by exact
quantized cosine (the _IVF_SQ8_ORACLE assignment/probe CTEs) composed
with PQ/ADC candidate scoring (the test_pq_oracle_rehearsal CTEs).
Integer sums and id tie-breaks end to end — bit-exact replay."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from airbnb_cdc_spark.operators.similarity import ivf_pq_topk

SF_DIR = "/root/testdata/sf0.001"
K, NPROBE, M, DIM = 5, 2, 16, 64
D = DIM // M

_COS = (
    "CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * c.ce[i])) AS DOUBLE)"
    " / (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> a.qe[i] * a.qe[i])) AS DOUBLE))"
    " * sqrt(CAST(list_sum(list_transform(range(1, 65), i -> c.ce[i] * c.ce[i])) AS DOUBLE)))"
)

REHEARSAL_SQL = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS qe
    FROM embeddings
),
cent AS (SELECT vec_id AS cid, qe AS ce FROM q WHERE vec_id % 37 = 3),
assign AS (
    SELECT vec_id, cid FROM (
        SELECT a.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {_COS} DESC, c.cid
               ) AS rn
        FROM q a CROSS JOIN cent c
    ) WHERE rn = 1
),
probe AS (
    SELECT vec_id, cid FROM (
        SELECT a.vec_id, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {_COS} DESC, c.cid
               ) AS rn
        FROM q a CROSS JOIN cent c WHERE a.vec_id % 50 = 0
    ) WHERE rn <= {NPROBE}
),
params AS (
    SELECT GREATEST(2, COUNT(*) // 256) AS cb_mod FROM embeddings
),
cb AS (
    SELECT j.j AS j, q.vec_id AS ccid,
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
    SELECT vec_id, j, ccid FROM (
        SELECT s.vec_id, s.j, cb.ccid,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id, s.j
                   ORDER BY CAST(list_sum(list_transform(range(1, {D + 1}),
                           i -> (s.xsub[i] - cb.csub[i])
                                * (s.xsub[i] - cb.csub[i]))) AS BIGINT),
                        cb.ccid) AS rn
        FROM subs s JOIN cb ON cb.j = s.j
    ) WHERE rn = 1
),
lut AS (
    SELECT a.vec_id AS query_id, cb.j, cb.ccid,
           CAST(list_sum(list_transform(range(1, {D + 1}),
                   i -> a.qe[cb.j * {D} + i] * cb.csub[i])) AS BIGINT) AS pdot
    FROM q a, cb
    WHERE a.vec_id % 50 = 0
),
adc AS (
    SELECT p.vec_id AS query_id, n.vec_id AS neighbor_id,
           CAST(SUM(l.pdot) AS BIGINT) AS pq_score
    FROM probe p
    JOIN assign n ON p.cid = n.cid
    JOIN codes c ON c.vec_id = n.vec_id
    JOIN lut l ON l.j = c.j AND l.ccid = c.ccid AND l.query_id = p.vec_id
    WHERE p.vec_id <> n.vec_id
    GROUP BY p.vec_id, n.vec_id
)
SELECT query_id, neighbor_id, pq_score, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY pq_score DESC, neighbor_id) AS rank
    FROM adc
) WHERE rank <= {K}
"""


def test_ivf_pq_matches_duckdb_rehearsal(spark):
    from airbnb_cdc_spark.session import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.pq_score)
        for r in ivf_pq_topk(
            emb,
            queries,
            k=K,
            centroid_mod=37,
            centroid_rem=3,
            nprobe=NPROBE,
            m=M,
        ).collect()
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
    assert got == want  # bit-exact: integer ADC over pruned candidates
    assert len(got) > 0
