"""Incrementally maintained join view: FACT ⋈ DIM kept fresh under
change feeds on EITHER side without recomputing the join.

The reference pipeline materializes enriched bookings by re-running the
dataflow; the warehouse-native answer is delta maintenance of the
standard bilinear identity Δ(A ⋈ B) = ΔA ⋈ B ∪ A ⋈ ΔB:

- fact delta (the common, cheap path): enrich ONLY the changed fact
  rows against the current dim and MERGE them into the view — cost
  follows the delta, the view's bucket pruning touches only the
  affected buckets, and the dim side is a broadcast.
- dim delta (the rare, wider path): re-enrich only the fact rows whose
  join key is in the changed-dim key set — a broadcast semi-join prunes
  the fact scan; everything re-written is again MERGE'd by fact key.
  At 100 TB the fact scan for this path is the honest cost; partition
  or bucket the fact table by the dim key if dim churn is hot (the
  view itself stays bucket-pruned either way).

The view is a ``ParquetMergeTable`` keyed by the fact key, so refresh
is idempotent (last-writer-wins under ``version_col``), both delta
paths commute with retries, and each refresh is one commit of the
table's log — the same guarantees the CDC sink relies on
(operators/merge.py). Like any merge table it sizes its bucket count
to its bytes unless ``num_buckets`` pins it: it starts at 16 buckets,
and a refresh whose delta touches every bucket re-sizes it with
``merge.suggest_num_buckets`` (one bucket below one
``spark.sql.files.openCostInBytes``, else at least 16).

``dim`` inputs must be one-row-per-join-key (pre-dedup with
``lookup.latest_per_key`` when the dim itself is a change feed). Dim
deletions are supported via ``apply_dim_delta(..., keys=...)`` —
pass the deleted keys explicitly and their fact rows re-enrich to
NULL; callers that omit ``keys`` get the standard warehouse stance
(dims soft-deleted / tombstoned upstream, deletes out of scope).

Verified by equivalence: after any interleaving of fact and dim deltas,
``read()`` equals the from-scratch join of the final tables
(tests/test_matview.py, including a Hypothesis-randomized interleaving).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airbnb_cdc_spark.operators.merge import ParquetMergeTable


class MaterializedJoinView:
    """FACT ⋈ DIM (left join on ``join_key``), stored keyed by
    ``fact_keys`` and maintained by delta. ``num_buckets=None`` lets the
    view size its bucket count to its bytes; an int pins it."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        fact_keys: Sequence[str],
        join_key: str,
        version_col: str | None = None,
        num_buckets: int | None = None,
    ) -> None:
        self.spark = spark
        self.join_key = join_key
        self.table = ParquetMergeTable(
            spark, path, fact_keys, version_col=version_col, num_buckets=num_buckets
        )

    def _enrich(self, fact: DataFrame, dim: DataFrame) -> DataFrame:
        return fact.join(F.broadcast(dim), self.join_key, "left")

    def full_build(self, fact: DataFrame, dim: DataFrame) -> None:
        self.table.overwrite(self._enrich(fact, dim))

    def apply_fact_delta(self, fact_delta: DataFrame, dim: DataFrame) -> None:
        """ΔA ⋈ B: enrich just the changed fact rows, upsert by fact key."""
        self.table.merge(self._enrich(fact_delta, dim))

    def apply_fact_deletes(self, keys_df: DataFrame) -> None:
        self.table.delete(keys_df)

    def apply_dim_delta(
        self,
        fact: DataFrame,
        dim_delta: DataFrame,
        keys: DataFrame | None = None,
    ) -> None:
        """A ⋈ ΔB: re-enrich only fact rows whose join key changed.
        The semi-join prunes the fact scan to affected rows before the
        enrichment join; both joins broadcast the delta.

        ``keys`` (one ``join_key`` column) widens the affected set
        beyond the delta's own keys — pass it when a dim key was
        DELETED: the key has no post-image row in ``dim_delta``, but
        its fact rows must still be re-enriched (the left join then
        yields NULLs, un-matching them). Without ``keys`` the affected
        set is the delta's keys, and dim deletes are out of scope."""
        hot = (dim_delta if keys is None else keys).select(self.join_key).distinct()
        affected = fact.join(F.broadcast(hot), self.join_key, "leftsemi")
        self.table.merge(self._enrich(affected, dim_delta))

    def read(self) -> DataFrame:
        return self.table.read()
