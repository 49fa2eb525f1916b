"""Retractable stream-stream join MV — the reference's general streaming
HashJoin (`src/stream/src/executor/hash_join.rs:129`): both inputs are
changelogs (inserts AND deletes on either side), the join result is kept
incrementally correct.

Design (Spark-first, NOT a row-at-a-time port): the reference probes the
opposite side's state per input row and maintains per-row match-degree
counters to decide when outer-join null-padded rows appear/disappear
(`hash_join.rs` degree tables). Here both sides' current rows live in
ChunkedState; a batch marks its distinct JOIN KEYS affected, the join is
re-run declaratively for exactly those keys' state rows (Catalyst picks
the physical join), and the result splices into the bucketed MV by key.
Degree bookkeeping falls out for free: null-padded outer rows are
whatever the per-key recompute emits. Deletes on either side are handled
by construction — state reflects them before the recompute.

Scale posture: per-batch work is O(state rows of touched keys) on both
sides (semi-join pushdown to the state scan) + O(touched buckets) MV
write. The reference's per-row delta is finer-grained for huge key
groups; this trades that for whole-plan declarativity — at 1000
executors every step here is a keyed shuffle Catalyst can plan. The
splice key `__jk*` is coalesce(left key, right key), never null for
matched/padded rows of inner/left/right/full joins, so the bucket splice
(null-safe anyway) stays exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from risingwave_spark.streaming.mv import (
    ChunkedState,
    KeySet,
    OP_COL,
    _BucketedMvTable,
    non_strict_analysis,
)

_HOW = {"inner", "left", "left_outer", "right", "right_outer", "full", "full_outer", "left_semi", "left_anti"}


class RetractableStreamJoin:
    """Two-sided retractable equi-join MV.

    `left_on` / `right_on`: equi-key column names per side (column names
    of the two sides must be disjoint — pre-alias like any Spark join).
    `cond`: optional residual non-equi predicate (SQL text over the
    joined columns, e.g. ``"r_ts >= l_ts"``).
    """

    #: compact each side's chunked state every N folds (None = never) —
    #: the rewrite lands the bucketed base layer pruned reads depend on
    compact_every: int | None = 16

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        left_on: list[str],
        right_on: list[str],
        row_id_l: str,
        row_id_r: str,
        how: str = "inner",
        cond: str | None = None,
    ):
        if how not in _HOW:
            raise ValueError(f"unsupported join type {how!r}")
        self.spark = spark
        self.left_on = left_on
        self.right_on = right_on
        self.how = how
        self.cond = cond
        self.jk = [f"__jk{i}" for i in range(len(left_on))]
        self.mv = _BucketedMvTable(spark, os.path.join(state_dir, "mv"), self.jk)
        # both sides' state bucketed by their join keys with the SAME
        # crc32/modulus as the MV: equal key values land in equal bucket
        # ids on either side, so one touched-bucket set prunes the state
        # READS of both sides AND the MV splice (O(touched buckets) per
        # batch on every path, read and write)
        self.state_l = ChunkedState(
            spark,
            os.path.join(state_dir, "left"),
            row_id_l,
            bucket_cols=left_on,
            n_buckets=self.mv.n_buckets,
        )
        self.state_r = ChunkedState(
            spark,
            os.path.join(state_dir, "right"),
            row_id_r,
            bucket_cols=right_on,
            n_buckets=self.mv.n_buckets,
        )
        # MV-on-MV over the join (reference mv-on-mv.md): each apply's
        # diff (−1 old affected join rows / +1 recomputed) is a changelog
        # forwarded to subscribed downstream views — the SQL surface
        # hangs a group-agg MV here (frontend CREATE MV ... FROM a JOIN b)
        self.downstream: list = []

    def _fold_side(
        self,
        state: ChunkedState,
        batch: DataFrame | None,
        keys: list[str],
        batch_id: int | None,
        batch_ns: str | None,
    ) -> tuple[KeySet | None, bool]:
        """Fold one side's chunk; return its key set under the `__jk*`
        names (None when the side got no batch) and whether it folded."""
        if batch is None:
            return None, False
        # parsed-SQL one-call forms (r13 §B: Column chains pay a py4j
        # round trip per node; where(str)+drop(str) is 2 per side)
        did = state.fold(
            batch.where(f"`{OP_COL}` > 0").drop(OP_COL),
            batch.where(f"`{OP_COL}` < 0").drop(OP_COL),
            batch_id=batch_id,
            tomb_extra_cols=keys,
            batch_ns=batch_ns,
        )
        keyset = KeySet.of_fold(
            state, keys, plan=lambda: batch.select(*keys).distinct(), names=self.jk
        )
        return keyset, did

    def apply(
        self,
        left: DataFrame | None = None,
        right: DataFrame | None = None,
        batch_id: int | None = None,
        batch_ns: str | None = None,
    ) -> None:
        """Fold one changelog chunk per side (either may be None; both
        need an __op column) and re-join the affected keys.

        `batch_id` gives foreachBatch-redelivery protection (same
        contract as `_RetractableView.apply_batch`): a replayed id skips
        the state folds, while the affected-key recompute + MV splice
        still run — they are idempotent full recomputes from state.
        `batch_ns` names the driving stream: the two sides may be fed by
        independent foreachBatch queries with unrelated batch-id
        sequences, so every redelivery pointer — here and in the
        downstream changelog forward — is kept PER (namespace, side),
        never compared across sequences."""
        ks_l, did_l = self._fold_side(
            self.state_l, left, self.left_on, batch_id, batch_ns
        )
        ks_r, did_r = self._fold_side(
            self.state_r, right, self.right_on, batch_id, batch_ns
        )
        if ks_l is None and ks_r is None:
            return
        # one key set for both sides (`KeySet.union`): literal when both
        # sides' values fit driver-side and share a type, so the affected
        # -key filters on both state reads and the MV splice are InSet
        # predicates with no broadcast-build jobs
        keyset = ks_l.union(ks_r) if ks_l and ks_r else ks_l or ks_r
        # compaction cadence: only a side that ACTUALLY folded this apply
        # compacts (a side idling at a seq multiple, or a skipped replay,
        # must not re-run the O(state) rewrite every apply); after the
        # key set is read — the compacted chunk spans every bucket
        for st, did in ((self.state_l, did_l), (self.state_r, did_r)):
            st.compact_on_cadence(self.compact_every, did, keyset)
        if self.mv.exists() and keyset.is_empty():
            # every folded side proved empty (footers, or a probe of a
            # replayed batch plan): recompute, splice and the downstream
            # forward are no-ops — what stops empty changelogs from
            # rippling down a deep chain
            return
        # per-key re-join plans analyze non-strict (non_strict_mode.slt:
        # a poisoned residual/projection expression pads NULL instead of
        # failing the fold — the reference wraps every streaming
        # executor's expressions in NonStrictExpression)
        with non_strict_analysis(self.spark):
            recomputed = self._join_affected(keyset)
        # every recomputed row's __jk is an affected key, so the affected
        # rows of the new epoch ARE the recompute
        out_changelog = self.mv.splice(
            recomputed, keyset, changelog=bool(self.downstream)
        )
        # forwarded redelivery pointers are namespaced by (incoming
        # namespace, which sides folded): two independent upstream
        # streams driving the two sides never share a downstream
        # LAST_BATCH pointer, so neither stream's ids can wrongly
        # skip the other's fold (ADVICE r4 #5)
        side_tag = ("L" if left is not None else "") + (
            "R" if right is not None else ""
        )
        fwd_ns = f"{batch_ns}_{side_tag}" if batch_ns else (side_tag or None)
        for d in self.downstream:
            d.apply_batch(out_changelog, batch_id=batch_id, batch_ns=fwd_ns)

    def _affected_sides(self, keyset: KeySet) -> tuple[DataFrame, DataFrame]:
        """Both sides' state rows of the key set's join keys: bucket-pruned
        reads (a file-level superset) narrowed by the key set's filter."""
        return (
            keyset.semi(self.state_l.read(buckets=keyset.buckets), self.left_on),
            keyset.semi(self.state_r.read(buckets=keyset.buckets), self.right_on),
        )

    def _join_affected(self, keyset: KeySet) -> DataFrame:
        L, R = self._affected_sides(keyset)
        on = None
        for lc, rc in zip(self.left_on, self.right_on):
            c = L[lc] == R[rc]
            on = c if on is None else (on & c)
        if self.cond is not None:
            # residual non-equi predicate belongs IN the join condition so
            # outer joins null-pad rows whose match fails it (reference
            # `cond: Option<NonStrictExpression>` at hash_join.rs)
            on = on & F.expr(self.cond)
        j = L.join(R, on, self.how)
        if self.how in ("left_semi", "left_anti"):
            jk_cols = [F.col(lc).alias(k) for lc, k in zip(self.left_on, self.jk)]
            return j.select(*jk_cols, *j.columns)
        jk_cols = [
            F.coalesce(L[lc], R[rc]).alias(k)
            for lc, rc, k in zip(self.left_on, self.right_on, self.jk)
        ]
        return j.select(*jk_cols, *[F.col(c) for c in j.columns])

    def result(self) -> DataFrame:
        """Current join MV (without the internal __jk splice columns)."""
        out = self.mv.read()
        return out.drop(*self.jk)


class RetractableAsOfJoin(RetractableStreamJoin):
    """Streaming as-of join (reference `asof_join.rs:110`): each left row
    matches the latest right row with right_ts <= left_ts per key, kept
    correct as EITHER side receives out-of-order inserts or deletes.

    The reference maintains a per-key ordered right-state and patches
    matches row-by-row; here the affected keys' state simply re-runs the
    batch as-of operator (union + last(ignorenulls) over one keyed
    window, `operators/asof.py`) — a late-arriving right row or a right
    delete re-resolves every left row of that key in one declarative
    pass, O(state of touched keys) per batch."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_l: str,
        key_r: str,
        ts_l: str,
        ts_r: str,
        payload_cols: list[str],
        row_id_l: str,
        row_id_r: str,
        how: str = "inner",
    ):
        super().__init__(
            spark, state_dir, [key_l], [key_r], row_id_l, row_id_r, how="inner"
        )
        self.ts_l = ts_l
        self.ts_r = ts_r
        self.payload_cols = payload_cols
        self.asof_how = how

    def _join_affected(self, keyset: KeySet) -> DataFrame:
        from risingwave_spark.operators.asof import asof_join_backward

        L, R = self._affected_sides(keyset)
        out = asof_join_backward(
            L,
            R,
            key=self.left_on[0],
            right_key=self.right_on[0],
            left_ts=self.ts_l,
            right_ts=self.ts_r,
            payload_cols=self.payload_cols,
            how=self.asof_how,
        )
        return out.select(F.col(self.left_on[0]).alias(self.jk[0]), *out.columns)


def join_changelogs(
    spark: SparkSession,
    state_dir: str,
    batches: list[tuple[DataFrame | None, DataFrame | None]],
    left_on: list[str],
    right_on: list[str],
    row_id_l: str,
    row_id_r: str,
    how: str = "inner",
    cond: str | None = None,
) -> DataFrame:
    """Drive a RetractableStreamJoin over (left chunk, right chunk) pairs."""
    jv = RetractableStreamJoin(
        spark, state_dir, left_on, right_on, row_id_l, row_id_r, how=how, cond=cond
    )
    for lb, rb in batches:
        jv.apply(lb, rb)
    return jv.result()
