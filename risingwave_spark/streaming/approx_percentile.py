"""Retractable approx_percentile — the reference's two-stage
log-bucket histogram (`src/stream/src/executor/approx_percentile/
local.rs:60-118` bucketing, `global_state.rs:251-340` quantile walk):
values map to sign-separated geometric buckets
`bucket = ceil(log_base(|v|))` with `base = (1+e)/(1-e)` for relative
error e; inserts increment and deletes decrement the bucket counts, so
the sketch is exactly updatable under retraction. The estimate for a
bucket is its midpoint `±2·base^b/(base+1)`, within relative error e
of every value the bucket covers.

Spark-first shape: the bucket table is a DataFrame
(group_keys, __ps, __pb, __cnt) — value sign, log bucket, count — in
a _BucketedMvTable keyed by the group columns; a changelog batch becomes
per-(group, sign, bucket) count deltas (one groupBy — the reference's
LocalApproxPercentile map stage), merged additively into touched groups
(the splice pattern).
The quantile walk is a cumulative-sum window over each group's ≤ a few
thousand bucket rows — state is O(buckets) per group, independent of
row count, which is the point vs. exact percentile state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from risingwave_spark.streaming.mv import (
    OP_COL,
    _BucketedMvTable,
    nullsafe_cond,
)


class ApproxPercentileRetractable:
    """Per-group approx_percentile(quantile, relative_error) over a
    changelog (inserts AND deletes) — reference SQL spelling
    `approx_percentile(q, e) WITHIN GROUP (ORDER BY col)`."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: list[str],
        value_col: str,
        quantile: float,
        relative_error: float = 0.01,
    ):
        if not 0.0 <= quantile <= 1.0:
            raise ValueError("quantile must be in [0, 1]")
        if not 0.0 < relative_error < 1.0:
            raise ValueError("relative_error must be in (0, 1)")
        self.spark = spark
        self.keys = keys
        self.value_col = value_col
        self.quantile = quantile
        # reference plan_node derivation: bucket edges grow by
        # (1+e)/(1-e) so the bucket midpoint 2·y^b/(y+1) is within e of
        # both edges
        self.base = (1.0 + relative_error) / (1.0 - relative_error)
        self.buckets = _BucketedMvTable(
            spark, os.path.join(state_dir, "buckets"), keys
        )

    def _deltas(self, batch: DataFrame) -> DataFrame:
        """Changelog chunk → additive (group, sign, bucket) deltas
        (LocalApproxPercentile's map stage, local.rs:63-87)."""
        import math

        v = F.col(self.value_col).cast("double")
        sign = F.when(v > 0, F.lit(1)).when(v < 0, F.lit(-1)).otherwise(F.lit(0))
        bucket = F.when(
            v != 0,
            F.ceil(F.log(F.abs(v)) / F.lit(math.log(self.base))).cast("long"),
        ).otherwise(F.lit(0))
        return (
            batch.filter(v.isNotNull())
            .select(
                *self.keys,
                sign.alias("__ps"),
                bucket.alias("__pb"),
                F.col(OP_COL).cast("long").alias("__d"),
            )
            .groupBy(*self.keys, "__ps", "__pb")
            .agg(F.sum("__d").alias("__cnt"))
            .filter(F.col("__cnt") != 0)
        )

    def apply_batch(self, batch: DataFrame) -> None:
        deltas = self._deltas(batch)
        affected = deltas.select(*self.keys).distinct()
        if not self.buckets.exists():
            self.buckets.write(deltas)
            return
        touched = self.buckets.touched_buckets(affected)
        prev_t = self.buckets.read_buckets(touched)
        untouched_t = prev_t.join(
            affected, nullsafe_cond(prev_t, affected, self.keys), "left_anti"
        )
        prev_aff = prev_t.join(
            affected, nullsafe_cond(prev_t, affected, self.keys), "left_semi"
        )
        merged = (
            prev_aff.unionByName(deltas)
            .groupBy(*self.keys, "__ps", "__pb")
            .agg(F.sum("__cnt").alias("__cnt"))
            .filter(F.col("__cnt") != 0)
        )
        self.buckets.overwrite_buckets(untouched_t.unionByName(merged), touched)

    def result(self) -> DataFrame:
        """(group_keys..., approx_percentile double) — the
        GlobalApproxPercentile quantile walk (global_state.rs:305-340):
        order buckets by value (neg buckets descending id, zeros, pos
        ascending id), take the first whose cumulative count exceeds
        floor((row_count−1)·q), output its midpoint."""
        from pyspark.sql import Window as W

        st = self.buckets.read().filter(F.col("__cnt") > 0)
        # one sort key ordering buckets by the values they hold: for
        # sign −1 larger bucket = more negative value
        ok = F.col("__ps").cast("long") * F.lit(10**12) + (
            F.col("__ps") * F.col("__pb")
        )
        totals = st.groupBy(*self.keys).agg(F.sum("__cnt").alias("__n"))
        w = (
            W.partitionBy(*self.keys)
            .orderBy(ok)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        cum = st.withColumn("__cum", F.sum("__cnt").over(w))
        j = cum.join(totals, self.keys)
        qc = F.floor((F.col("__n") - 1) * F.lit(self.quantile))
        hit = j.filter(F.col("__cum") > qc)
        first = (
            hit.withColumn(
                "__rn",
                F.row_number().over(W.partitionBy(*self.keys).orderBy(ok)),
            )
            .filter(F.col("__rn") == 1)
        )
        mid = (
            F.lit(2.0)
            * F.col("__ps")
            * F.pow(F.lit(self.base), F.col("__pb"))
            / F.lit(self.base + 1.0)
        )
        est = F.when(F.col("__ps") == 0, F.lit(0.0)).otherwise(mid)
        return first.select(*self.keys, est.alias("approx_percentile"))

    def state_rows(self) -> int:
        """Bucket rows currently stored (the O(buckets) bound check)."""
        return self.buckets.read().count()
