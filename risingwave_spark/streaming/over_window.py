"""Frame-delta over-window MV — the reference's OverWindow general
executor with delta-based affected-range recompute
(`src/stream/src/executor/over_window/general.rs:48` +
`over_window/frame_finder.rs`): a change at order-position p in a
partition only dirties the rows whose frames can SEE p. For
backward-looking functions (row_number, lag, running aggregates —
frames ending at CURRENT ROW), that is exactly the rows at positions
>= p, and their new values are computable from the suffix alone plus a
per-partition SEED carried out of the untouched prefix (the MV already
stores the prefix's outputs — no state scan needed).

Per-batch cost: O(suffix rows of touched partitions), not O(partition).
A batch appending recent-timestamp rows — the realistic streaming shape
— recomputes only the new tail of each partition, even when every
partition is touched.

Functions are declared, not arbitrary (the reference's frame_finder is
equally per-function-kind):

    funcs={"rn": ("row_number",),          "prev": ("lag", "value"),
           "cum": ("sum", "value"),        "rk": ("rank",),
           "drk": ("dense_rank",),         "mn": ("min", "value"),
           "mx": ("max", "value"),         "av": ("avg", "value"),
           "cnt": ("count", "value"),      "nxt": ("lead", "value"),
           "nxt3": ("lead", "value", 3)}

Backward-looking functions carry a per-partition SEED out of the prefix
(rank/avg via hidden cumulative `__aux_*` columns stored in the MV and
dropped at result()). Forward-looking `lead` extends the affected range
BACKWARD by its frame reach (frame_finder computes both directions,
`frame_finder.rs`): the `reach` rows before the earliest touched
position recompute too — their lead frames see the change — and need no
seed because the suffix always runs to the partition end.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from risingwave_spark.streaming.mv import (
    ChunkedState,
    KeySet,
    OP_COL,
    _BucketedMvTable,
    _next_seq_index,
    _parquet_rows,
    _parquet_ts_minmax,
    _statically_empty,
    chunk_base,
    nullsafe_cond,
    with_ops,
    write_changelog,
)

_KINDS = {
    "row_number",
    "lag",
    "sum",
    "rank",
    "dense_rank",
    "min",
    "max",
    "avg",
    "count",
    "lead",
    "first_value",
    "last_value",
    "percent_rank",
    "cume_dist",
    "ntile",
    "session_sum",
    "session_min",
    "session_max",
    "session_avg",
    "session_count",
}

#: kinds whose value depends on the WHOLE partition (total row count):
#: an insert anywhere dirties every row, so the affected range is the
#: full touched partition (frame_finder's whole-partition case).
#: SESSION frames (session.rs SessionFrameBounds) are here too: an
#: insert/delete can merge or split sessions and shift every later
#: session id, so the safe affected range is the full partition.
_FULL_KINDS = {
    "percent_rank", "cume_dist", "ntile",
    "session_sum", "session_min", "session_max", "session_avg",
    "session_count",
}

#: aggregate kinds that accept a bounded frame spec
_FRAMEABLE = {"sum", "min", "max", "avg", "count"}


def _frame_of(spec: tuple) -> dict | None:
    """Optional trailing frame spec: ("sum", "v", {"rows": (3, 0)}) =
    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW; {"rows": (2, 1)} includes
    1 FOLLOWING; {"range": (10.0, 0.0)} = RANGE over a single NUMERIC
    order column (reference frame_finder.rs handles ROWS and RANGE
    frames in both directions the same way)."""
    if spec and isinstance(spec[-1], dict):
        return spec[-1]
    return None


def _reaches(funcs: dict[str, tuple]):
    """(emit_rows, input_rows, emit_range, input_range):

    - emit_rows / emit_range — how far BACKWARD (row count / order-value
      delta) of the earliest touched position a stored row's frame can
      still SEE the change (lead offsets, FOLLOWING frame ends): those
      rows must be re-emitted.
    - input_rows / input_range — how much further back the recompute
      needs INPUT rows so re-emitted rows' backward-bounded frames are
      complete: those rows feed the computation but keep their stored
      values (frame_finder.rs computes the same two extents)."""
    e_rows = i_rows = 0
    e_range = i_range = 0.0
    for spec in funcs.values():
        if spec[0] == "lead":
            off = spec[2] if len(spec) > 2 and not isinstance(spec[2], dict) else 1
            e_rows = max(e_rows, off)
        f = _frame_of(spec)
        if f and "rows" in f:
            lo, hi = f["rows"]
            e_rows = max(e_rows, hi)
            i_rows = max(i_rows, lo)
        if f and "range" in f:
            lo, hi = f["range"]
            e_range = max(e_range, float(hi))
            i_range = max(i_range, float(lo))
    return e_rows, i_rows, e_range, i_range


def _lex_lt(left: DataFrame, right: DataFrame, cols: list[str], rcols: list[str]):
    """left.(cols) < right.(rcols), lexicographically."""
    cond = None
    for i in range(len(cols)):
        eq_prefix = None
        for j in range(i):
            e = left[cols[j]] == right[rcols[j]]
            eq_prefix = e if eq_prefix is None else (eq_prefix & e)
        lt = left[cols[i]] < right[rcols[i]]
        term = lt if eq_prefix is None else (eq_prefix & lt)
        cond = term if cond is None else (cond | term)
    return cond


class MaterializedOverWindowDelta:
    """Incrementally-maintained window-function MV with retraction and
    FRAME-DELTA recompute. Output = payload columns + one column per
    declared function."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: list[str],
        order_cols: list[str],
        row_id: str,
        funcs: dict[str, tuple],
        payload_cols: list[str],
    ):
        for name, spec in funcs.items():
            if spec[0] not in _KINDS:
                raise ValueError(
                    f"unsupported window function {spec[0]!r} for frame-delta "
                    f"maintenance (supported: {sorted(_KINDS)})"
                )
            f = _frame_of(spec)
            if f and spec[0] not in _FRAMEABLE:
                raise ValueError(
                    f"{spec[0]!r} does not accept a frame spec (frames apply "
                    f"to {sorted(_FRAMEABLE)})"
                )
            if f and "range" in f:
                if len(order_cols) != 1:
                    raise ValueError(
                        "RANGE frames need exactly one (numeric) ORDER BY column"
                    )
                if not all(float(x).is_integer() for x in f["range"]):
                    raise ValueError(
                        "RANGE frame bounds must be integral (scale the "
                        "order column for fractional ranges)"
                    )
        #: whole-partition kinds (percent_rank/cume_dist/ntile) make the
        #: affected range the FULL touched partition — every row's value
        #: depends on the partition's total row count
        self._full = any(s[0] in _FULL_KINDS for s in funcs.values())
        self.spark = spark
        self.keys = keys
        self.order_cols = order_cols
        self.funcs = funcs
        self.payload_cols = payload_cols
        self.mv = _BucketedMvTable(spark, os.path.join(state_dir, "mv"), keys)
        # state bucketed like the MV → per-batch state reads prune to
        # the touched partitions' buckets (see ChunkedState.read)
        self.state = ChunkedState(
            spark,
            os.path.join(state_dir, "state"),
            row_id,
            bucket_cols=keys,
            n_buckets=self.mv.n_buckets,
        )
        #: compact the chunked state every N folded batches (None=never);
        #: compaction writes the bucketed base layer for pruned reads
        self.compact_every: int | None = 16
        #: set track_recompute=True to record how many rows entered each
        #: window recompute (the frame-delta efficiency claim, asserted in
        #: tests; costs one count job per batch, so off by default)
        self.track_recompute = False
        self.last_recompute_rows: int | None = None
        #: SQL-surface registration hooks (catalog drop-path duck typing)
        self.downstream: list = []
        #: per-batch changelog (reference CREATE SUBSCRIPTION over an
        #: over-window MV): −1 the replaced suffix rows / +1 the
        #: recomputed ones, hidden __aux carriers stripped — the same
        #: Update-pair contract as the agg MVs. Off by default.
        self.changelog_dir = os.path.join(state_dir, "changelog")
        self.emit_changelog = False

    def _chunk_boundaries_local(
        self, kcols: list[str], bcols: list[str]
    ) -> DataFrame | None:
        """Per-partition frame boundaries (earliest touched order
        position) computed DRIVER-SIDE from the last fold's chunk columns
        (`ChunkedState.fold_columns`) — a pandas lexicographic-min per
        key. Returns a LocalRelation DataFrame shaped exactly like the
        Spark-side boundary agg (kcols + bcols + __aff=1): the per-batch
        boundary agg job AND its eager localCheckpoint job disappear, and
        the downstream boundary joins broadcast a literal relation (no
        build job). None falls back to the Spark agg: replay, oversized
        batch, missing columns, unsupported dtypes (only int/string keys
        and int/string/timestamp order cols round-trip exactly), any NULL
        key/order value (Spark's struct-min null ordering is not
        reproduced), or key/order name overlap."""
        if set(self.keys) & set(self.order_cols):
            return None
        import pyarrow as pa

        try:
            tab = self.state.fold_columns([*self.keys, *self.order_cols])
            if tab is None or not tab.num_rows:
                return None
            for fld in tab.schema:
                # timestamps: Spark writes LTZ as INT96 (pyarrow: NAIVE
                # ns) — under the engine's pinned UTC session the naive
                # wall time IS the instant, so the round trip is exact
                # for both naive and tz-aware footers
                ok = (
                    pa.types.is_integer(fld.type)
                    or pa.types.is_string(fld.type)
                    or pa.types.is_large_string(fld.type)
                    or pa.types.is_timestamp(fld.type)
                )
                if not ok:
                    return None
            if any(c.null_count for c in tab.columns):
                return None
            pdf = tab.to_pandas()
            # lexicographic min per key == first row of a stable sort on
            # the order cols (UTF-8 byte order == code-point order, so
            # pandas string comparison agrees with Spark's)
            pdf = (
                pdf.sort_values(list(self.order_cols), kind="mergesort")
                .drop_duplicates(subset=list(self.keys), keep="first")
                .reset_index(drop=True)
            )
            pdf = pdf.rename(
                columns={
                    **dict(zip(self.keys, kcols)),
                    **dict(zip(self.order_cols, bcols)),
                }
            )
            pdf["__aff"] = 1
            return self.spark.createDataFrame(pdf)
        except Exception:
            return None

    def _log_changelog(self, old_rows: DataFrame, new_rows: DataFrame) -> None:
        def strip(df: DataFrame) -> DataFrame:
            return df.drop(*[c for c in df.columns if c.startswith("__aux_")])

        write_changelog(
            self.changelog_dir,
            chunk_base(self.changelog_dir) + self.state._seq - 1,
            with_ops(strip(old_rows), -1).unionByName(with_ops(strip(new_rows), 1)),
        )

    # ------------------------------------------------------------ internals
    def _window_outputs(self, rows: DataFrame, seeds: DataFrame | None) -> DataFrame:
        """Window functions over `rows` (a per-partition ORDER SUFFIX),
        seeded with the prefix's carried-out state when present."""
        w = W.partitionBy(*self.keys).orderBy(*[F.asc(c) for c in self.order_cols])
        if seeds is not None:
            rows = rows.join(seeds, on=self.keys, how="left")
        local_rn = F.row_number().over(w)
        run_frame = w.rowsBetween(W.unboundedPreceding, W.currentRow)
        out_cols = [*self.keys, *self.order_cols]
        out_cols = list(dict.fromkeys(out_cols + self.payload_cols))
        # SESSION frames (session.rs): materialize one session-id column
        # per distinct gap FIRST (windows can't nest in one projection);
        # the frame aggregate is then a plain partition-by-(keys, sid)
        # window. Only reached on the whole-partition path (_FULL_KINDS),
        # so `rows` is the complete touched partition.
        sess_gaps = sorted(
            {
                float(spec[2])
                for spec in self.funcs.values()
                if spec[0].startswith("session_")
            }
        )
        sid_col: dict[float, str] = {}
        for gi, gap in enumerate(sess_gaps):
            oc = self.order_cols[0]
            cur, prev = F.col(oc), F.lag(oc).over(w)
            if "timestamp" in dict(rows.dtypes).get(oc, "") or "date" in dict(
                rows.dtypes
            ).get(oc, ""):
                delta = cur.cast("double") - prev.cast("double")
            else:
                delta = cur - prev
            mark = F.when(delta <= F.lit(gap), F.lit(0)).otherwise(F.lit(1))
            sid_col[gap] = f"__sid{gi}"
            rows = rows.withColumn(
                sid_col[gap],
                F.sum(mark).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
            )
        proj = [F.col(c) for c in out_cols]

        def seed_of(col: str, default=None):
            if seeds is None:
                return F.lit(default)
            base = F.col(col)
            return base if default is None else F.coalesce(base, F.lit(default))

        for name, spec in self.funcs.items():
            kind = spec[0]
            frame = _frame_of(spec)
            src = (
                F.col(spec[1])
                if len(spec) > 1 and isinstance(spec[1], str)
                else None
            )
            if frame is not None and kind in _FRAMEABLE:
                # bounded ROWS/RANGE frame: computed LOCALLY — the input
                # extension (apply_batch) guarantees every re-emitted
                # row's frame is fully inside the recompute input, so no
                # seed continuation is needed (frame_finder.rs)
                if "rows" in frame:
                    lo, hi = frame["rows"]
                    fw = w.rowsBetween(-int(lo), int(hi))
                else:
                    lo, hi = frame["range"]
                    fw = W.partitionBy(*self.keys).orderBy(
                        F.col(self.order_cols[0])
                    ).rangeBetween(-int(lo), int(hi))
                fn = {"sum": F.sum, "min": F.min, "max": F.max,
                      "avg": F.avg, "count": F.count}[kind]
                proj.append(fn(src).over(fw).alias(name))
                continue
            if kind.startswith("session_"):
                gap = float(spec[2])
                sw = W.partitionBy(*self.keys, F.col(sid_col[gap]))
                fn = {
                    "session_sum": F.sum,
                    "session_min": F.min,
                    "session_max": F.max,
                    "session_avg": F.avg,
                    "session_count": F.count,
                }[kind]
                proj.append(
                    fn(src if src is not None else F.lit(1)).over(sw).alias(name)
                )
                continue
            if kind == "first_value":
                # partition's first value: carried out of the prefix via
                # an explicit set-marker (the value itself may be NULL)
                local = F.first(src).over(run_frame)
                if seeds is not None:
                    proj.append(
                        F.when(
                            F.col(f"__seed_{name}_set") == 1,
                            F.col(f"__seed_{name}"),
                        )
                        .otherwise(local)
                        .alias(name)
                    )
                else:
                    proj.append(local.alias(name))
            elif kind == "last_value":
                # default frame (unbounded preceding → current row):
                # last_value(x) IS the current row's x — purely local
                proj.append(src.alias(name))
            elif kind == "percent_rank":
                proj.append(F.percent_rank().over(w).alias(name))
            elif kind == "cume_dist":
                proj.append(F.cume_dist().over(w).alias(name))
            elif kind == "ntile":
                n = spec[1] if len(spec) > 1 else 4
                proj.append(F.ntile(int(n)).over(w).alias(name))
            elif kind == "row_number":
                proj.append((local_rn + seed_of(f"__seed_{name}", 0)).alias(name))
            elif kind == "lag":
                lag_local = F.lag(src).over(w)
                if seeds is not None:
                    # only the FIRST suffix row takes the seed — a null
                    # from lag() further in may be a genuine null value
                    proj.append(
                        F.when(local_rn == 1, F.col(f"__seed_{name}"))
                        .otherwise(lag_local)
                        .alias(name)
                    )
                else:
                    proj.append(lag_local.alias(name))
            elif kind == "sum":
                run = F.sum(src).over(run_frame)
                proj.append((run + seed_of(f"__seed_{name}", 0)).alias(name))
            elif kind == "rank":
                # the prefix/suffix boundary is strict (< on order cols),
                # so no suffix row ever TIES the seed row: global rank =
                # local rank shifted by the prefix row COUNT, carried as
                # a hidden cumulative counter (__aux)
                cnt_seed = seed_of(f"__seed_{name}_cnt", 0)
                proj.append((F.rank().over(w) + cnt_seed).alias(name))
                proj.append((local_rn + cnt_seed).alias(f"__aux_{name}_cnt"))
            elif kind == "dense_rank":
                proj.append(
                    (F.dense_rank().over(w) + seed_of(f"__seed_{name}", 0)).alias(name)
                )
            elif kind == "min":
                run = F.min(src).over(run_frame)
                proj.append(
                    (F.least(run, seed_of(f"__seed_{name}")) if seeds is not None else run).alias(name)
                )
            elif kind == "max":
                run = F.max(src).over(run_frame)
                proj.append(
                    (F.greatest(run, seed_of(f"__seed_{name}")) if seeds is not None else run).alias(name)
                )
            elif kind == "count":
                run = F.count(src).over(run_frame)
                proj.append((run + seed_of(f"__seed_{name}", 0)).alias(name))
            elif kind == "avg":
                # running avg = cumulative sum / cumulative non-null
                # count, both carried as hidden __aux columns — the avg
                # value alone cannot be continued across the boundary
                tot_s = seed_of(f"__seed_{name}_sum", 0.0) + F.coalesce(
                    F.sum(src).over(run_frame), F.lit(0.0)
                )
                tot_c = seed_of(f"__seed_{name}_cnt", 0) + F.count(src).over(run_frame)
                proj.append(F.when(tot_c > 0, tot_s / tot_c).alias(name))
                proj.append(tot_s.alias(f"__aux_{name}_sum"))
                proj.append(tot_c.alias(f"__aux_{name}_cnt"))
            elif kind == "lead":
                off = spec[2] if len(spec) > 2 else 1
                # forward-looking: the suffix always runs to the
                # partition end, so lead is complete locally — no seed;
                # the BACKWARD range extension (apply_batch) guarantees
                # rows whose frames see the change are in the suffix
                proj.append(F.lead(src, off).over(w).alias(name))
        return rows.select(*proj)

    def _seeds(self, prefix: DataFrame) -> DataFrame:
        """Per-partition carried-out state = the prefix's LAST row's
        outputs (rn → offset, lag source → next row's lag, sum → base)."""
        wlast = W.partitionBy(*self.keys).orderBy(
            *[F.desc(c) for c in self.order_cols]
        )
        last = (
            prefix.withColumn("__last_rn", F.row_number().over(wlast))
            .filter(F.col("__last_rn") == 1)
        )
        sel = [F.col(k) for k in self.keys]
        for name, spec in self.funcs.items():
            kind = spec[0]
            if _frame_of(spec) is not None:
                continue  # bounded frames recompute locally (input reach)
            if kind == "lag":
                sel.append(F.col(spec[1]).alias(f"__seed_{name}"))
            elif kind in ("row_number", "sum", "dense_rank", "min", "max", "count"):
                sel.append(F.col(name).alias(f"__seed_{name}"))
            elif kind == "first_value":
                sel.append(F.col(name).alias(f"__seed_{name}"))
                sel.append(F.lit(1).alias(f"__seed_{name}_set"))
            elif kind == "rank":
                sel.append(F.col(f"__aux_{name}_cnt").alias(f"__seed_{name}_cnt"))
            elif kind == "avg":
                sel.append(F.col(f"__aux_{name}_sum").alias(f"__seed_{name}_sum"))
                sel.append(F.col(f"__aux_{name}_cnt").alias(f"__seed_{name}_cnt"))
            # lead/last_value: forward-looking / purely local, no state
        return last.select(*sel)

    # ------------------------------------------------------------ main loop
    def apply_batch(
        self,
        batch: DataFrame,
        batch_id: int | None = None,
        batch_ns: str | None = None,
    ) -> None:
        """`batch_id` gives foreachBatch-redelivery protection (same
        contract as `_RetractableView.apply_batch`): a replayed id skips
        the state fold; the suffix recompute + MV splice still run — they
        are idempotent full recomputes from committed state, closing the
        crash window between state commit and MV flip. `batch_ns` scopes
        the pointer per upstream stream (see ChunkedState.fold)."""
        # parsed-SQL one-call forms (r13 §B: Column chains pay a py4j
        # round trip per node; where(str)+drop(str) is 2 per side)
        inserts = batch.where(f"`{OP_COL}` > 0").drop(OP_COL)
        deletes = batch.where(f"`{OP_COL}` < 0").drop(OP_COL)
        # tombstones carry keys AND order cols so the boundary
        # computation below can come from the chunk files
        did_fold = self.state.fold(
            inserts, deletes, batch_id=batch_id,
            tomb_extra_cols=list(dict.fromkeys([*self.keys, *self.order_cols])),
            batch_ns=batch_ns,
        )
        # the batch's touched partitions (`KeySet`: buckets and footer
        # emptiness from the just-written chunk files, no Spark job)
        keyset = KeySet.of_fold(self.state, self.keys)
        if self.mv.exists() and keyset.empty:
            # empty batch: fold committed; the recompute/splice would
            # rewrite an epoch for zero touched partitions — skip it,
            # but keep the compaction cadence (an empty batch on a
            # cadence seq must not defer the O(state) rewrite)
            self.state.compact_on_cadence(
                self.compact_every, did_fold, changelog_dir=self.changelog_dir
            )
            return
        # per-partition frame boundary: the EARLIEST order position the
        # batch touches (insert or delete) — frames at positions before it
        # cannot see the change (frame_finder's affected-range start).
        # Preferred source: driver-side pandas min over the chunk files
        # (a LocalRelation — no agg job, no checkpoint job, free
        # broadcasts). Fallback: the Spark agg, checkpointed eagerly — it
        # is tiny (one row per touched partition), is reused by three
        # plan branches, and a materialized copy breaks the self-join
        # lineage that trips ambiguous-column detection.
        bcols = [f"__b{i}" for i in range(len(self.order_cols))]
        kcols = [f"__bk{i}" for i in range(len(self.keys))]
        boundaries = self._chunk_boundaries_local(kcols, bcols)
        if boundaries is None:
            # boundary source: the batch's chunk files when available,
            # instead of re-evaluating the upstream batch plan (§2.4);
            # the eager checkpoint materializes before any compaction GC
            bsrc = self.state.fold_frame(list(dict.fromkeys([*self.keys, *self.order_cols])))
            if bsrc is None:
                bsrc = batch
            boundaries = (
                bsrc.groupBy(*self.keys)
                .agg(F.min(F.struct(*self.order_cols)).alias("__b"))
                .select(
                    # fresh names (and expr-ids) so joining boundaries
                    # against frames that also descend from `batch` stays
                    # unambiguous
                    *[F.col(k).alias(bk) for k, bk in zip(self.keys, kcols)],
                    *[
                        F.col(f"__b.{c}").alias(b)
                        for c, b in zip(self.order_cols, bcols)
                    ],
                )
                .withColumn("__aff", F.lit(1))
                .localCheckpoint(eager=True)
            )
        affected = boundaries.select(
            *[F.col(bk).alias(k) for bk, k in zip(kcols, self.keys)]
        )

        def fresh(df: DataFrame) -> DataFrame:
            # per-join-site copy with new expression ids — the prefix and
            # suffix branches each join `boundaries` and later meet in one
            # plan (suffix ⋈ seeds); shared ids would be flagged ambiguous
            return df.select(*[F.col(c).alias(c) for c in df.columns])

        touched = keyset.buckets
        # compaction cadence: lands the bucketed base layer the pruned
        # state read depends on; after the key set and the boundaries
        # are read, which must see the batch's chunk
        self.state.compact_on_cadence(
            self.compact_every, did_fold, changelog_dir=self.changelog_dir
        )

        if self._full:
            # whole-partition kinds (percent_rank/cume_dist/ntile): an
            # insert anywhere moves every row's value, so the affected
            # range is the FULL touched partition — partition-grain
            # recompute, no seeds, no boundary arithmetic
            st = self.state.read(buckets=touched)
            st_aff = st.join(
                affected, nullsafe_cond(st, affected, self.keys), "left_semi"
            )
            if self.track_recompute:
                self.last_recompute_rows = st_aff.count()
            out = self._window_outputs(st_aff, None)
            if not self.mv.exists():
                if self.emit_changelog:
                    self._log_changelog(out.limit(0), out)
                self.mv.write(out)
                return
            if touched is None:
                touched = self.mv.touched_buckets(affected)
            prev_t = self.mv.read_buckets(touched)
            if self.emit_changelog:
                old_aff = prev_t.join(
                    affected, nullsafe_cond(prev_t, affected, self.keys), "left_semi"
                )
                self._log_changelog(old_aff, out)
            kept = prev_t.join(
                affected, nullsafe_cond(prev_t, affected, self.keys), "left_anti"
            )
            self.mv.overwrite_buckets(kept.unionByName(out), touched)
            return

        # two extents per frame_finder.rs: the EMIT boundary (rows whose
        # frames SEE the change — lead offsets / FOLLOWING frame ends
        # extend it backward) and the INPUT boundary (further back, so
        # backward-bounded frames of re-emitted rows are complete; those
        # extra rows feed the compute but keep their stored values)
        e_rows, i_rows, e_range, i_range = _reaches(self.funcs)
        if (e_rows or e_range) and self.mv.exists():
            if touched is None:
                touched = self.mv.touched_buckets(affected)
            if e_rows:
                boundaries = self._extend_rows(boundaries, touched, e_rows, kcols, bcols)
            if e_range:
                boundaries = self._shift_range(boundaries, e_range, kcols, bcols)
        boundaries_in = boundaries
        if (i_rows or i_range) and self.mv.exists():
            if touched is None:
                touched = self.mv.touched_buckets(affected)
            if i_rows:
                boundaries_in = self._extend_rows(
                    boundaries_in, touched, i_rows, kcols, bcols
                )
            if i_range:
                boundaries_in = self._shift_range(
                    boundaries_in, i_range, kcols, bcols
                )

        st = self.state.read(buckets=touched)
        st_aff = st.join(affected, nullsafe_cond(st, affected, self.keys), "left_semi")

        if not self.mv.exists():
            out = self._window_outputs(st_aff, None)
            if self.track_recompute:
                self.last_recompute_rows = st_aff.count()
            if self.emit_changelog:
                self._log_changelog(out.limit(0), out)
            self.mv.write(out)
            return

        if touched is None:
            touched = self.mv.touched_buckets(affected)
        prev_t = self.mv.read_buckets(touched)
        # ONE left-join splits the previous rows by the EMIT boundary:
        # untouched partition (no boundary) ∪ prefix (before boundary)
        # keep their stored values; at/after it they are replaced by the
        # recompute.
        b_prev = fresh(boundaries)
        jprev = prev_t.join(
            b_prev, nullsafe_cond(prev_t, b_prev, self.keys, kcols), "left"
        )
        keep_cols = list(prev_t.columns)
        is_prefix = _lex_lt(prev_t, b_prev, self.order_cols, bcols)
        kept_rows = jprev.filter(
            b_prev["__aff"].isNull() | is_prefix
        ).select(*[prev_t[c] for c in keep_cols])
        # seeds continue from the INPUT boundary (strictly before every
        # row entering the recompute)
        b_seed = fresh(boundaries_in)
        jseed = prev_t.join(
            b_seed, nullsafe_cond(prev_t, b_seed, self.keys, kcols), "left"
        )
        prefix_rows = jseed.filter(
            (b_seed["__aff"] == 1)
            & _lex_lt(prev_t, b_seed, self.order_cols, bcols)
        ).select(*[prev_t[c] for c in keep_cols])
        seeds = self._seeds(prefix_rows)

        # recompute INPUT: state rows at/after the INPUT boundary
        b_suf = fresh(boundaries_in)
        jsuf = st_aff.join(
            b_suf, nullsafe_cond(st_aff, b_suf, self.keys, kcols), "inner"
        )
        suffix_rows = jsuf.filter(
            ~_lex_lt(st_aff, b_suf, self.order_cols, bcols)
        ).select(*[st_aff[c] for c in st_aff.columns])
        if self.track_recompute:
            self.last_recompute_rows = suffix_rows.count()
        suffix_out = self._window_outputs(suffix_rows, seeds)
        if i_rows or i_range:
            # input-extension rows ([input boundary, emit boundary)) fed
            # the compute but their own frames don't see the change —
            # drop their recomputed outputs; their stored values stay
            b_out = fresh(boundaries)
            jout = suffix_out.join(
                b_out, nullsafe_cond(suffix_out, b_out, self.keys, kcols), "inner"
            )
            suffix_out = jout.filter(
                ~_lex_lt(suffix_out, b_out, self.order_cols, bcols)
            ).select(*[suffix_out[c] for c in suffix_out.columns])

        if self.emit_changelog:
            # replaced rows: stored rows at/after the EMIT boundary in
            # touched partitions (exactly what the splice drops)
            b_old = fresh(boundaries)
            jold = prev_t.join(
                b_old, nullsafe_cond(prev_t, b_old, self.keys, kcols), "inner"
            )
            old_suffix = jold.filter(
                ~_lex_lt(prev_t, b_old, self.order_cols, bcols)
            ).select(*[prev_t[c] for c in keep_cols])
            self._log_changelog(old_suffix, suffix_out)

        self.mv.overwrite_buckets(kept_rows.unionByName(suffix_out), touched)

    # ------------------------------------------------- boundary extension
    def _extend_rows(
        self,
        boundaries: DataFrame,
        touched: list[int] | None,
        n: int,
        kcols: list[str],
        bcols: list[str],
    ) -> DataFrame:
        """Extend each touched partition's boundary BACKWARD by `n`
        STORED rows (lead offsets / ROWS-frame reach): the rows just
        before the boundary whose frames can reach across it."""
        prev_ext = self.mv.read_buckets(touched)
        je = prev_ext.join(
            boundaries,
            nullsafe_cond(prev_ext, boundaries, self.keys, kcols),
            "inner",
        )
        pre = je.filter(
            _lex_lt(prev_ext, boundaries, self.order_cols, bcols)
        ).select(*[prev_ext[c] for c in prev_ext.columns])
        wdesc = W.partitionBy(*self.keys).orderBy(
            *[F.desc(c) for c in self.order_cols]
        )
        lastk = pre.withColumn("__dr", F.row_number().over(wdesc)).filter(
            F.col("__dr") <= n
        )
        nkcols = [f"__nk{i}" for i in range(len(self.keys))]
        newb = (
            lastk.groupBy(*self.keys)
            .agg(F.min(F.struct(*self.order_cols)).alias("__nb"))
            .select(
                *[F.col(k).alias(nk) for k, nk in zip(self.keys, nkcols)],
                *[
                    F.col(f"__nb.{c}").alias(f"__nb{i}")
                    for i, c in enumerate(self.order_cols)
                ],
            )
        )
        jb = boundaries.join(
            newb, nullsafe_cond(boundaries, newb, kcols, nkcols), "left"
        )
        # extension rows sort strictly before the old boundary, so
        # coalesce(extended, old) is the per-partition minimum
        return jb.select(
            *[boundaries[k] for k in kcols],
            *[
                F.coalesce(newb[f"__nb{i}"], boundaries[b]).alias(b)
                for i, b in enumerate(bcols)
            ],
            boundaries["__aff"],
        ).localCheckpoint(eager=True)

    def _shift_range(
        self, boundaries: DataFrame, delta: float, kcols: list[str], bcols: list[str]
    ) -> DataFrame:
        """Extend the boundary BACKWARD by an ORDER-VALUE delta (RANGE
        frames: reach is measured in order-column units, not rows)."""
        return boundaries.select(
            *[boundaries[k] for k in kcols],
            (boundaries[bcols[0]] - F.lit(delta)).alias(bcols[0]),
            *[boundaries[b] for b in bcols[1:]],
            boundaries["__aff"],
        ).localCheckpoint(eager=True)

    def result(self) -> DataFrame:
        out = self.mv.read()
        # hidden cumulative carriers (rank/avg continuation state)
        return out.drop(*[c for c in out.columns if c.startswith("__aux_")])


class EowcOverWindow:
    """Emit-on-window-close over-window (reference EowcOverWindowExecutor,
    `src/stream/src/executor/over_window/eowc.rs:88`): rows buffer until
    the event-time watermark passes them, then leave the buffer exactly
    once with their window-function outputs attached (append-only
    downstream). Because emission happens in event-time order, each
    partition's functions continue from a carried SEED (the last emitted
    row's outputs) — per-partition O(1) state plus the bounded buffer,
    the same state shape as the reference's sort buffer + partition
    states.

    Same declared-function set as MaterializedOverWindowDelta
    (backward-looking: row_number / lag / running sum)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        keys: list[str],
        ts_col: str,
        order_cols: list[str],
        row_id: str,
        funcs: dict[str, tuple],
        payload_cols: list[str],
        delay_seconds: int,
    ):
        from risingwave_spark.streaming.mv import _BucketedMvTable

        for name, spec in funcs.items():
            if spec[0] not in _KINDS:
                raise ValueError(f"unsupported EOWC window function {spec[0]!r}")
            if spec[0] in _FULL_KINDS:
                raise ValueError(
                    f"{spec[0]!r} cannot emit on window close: its value "
                    "depends on the partition's final row count, which is "
                    "never final in a stream"
                )
            f = _frame_of(spec)
            if f is not None and "range" in f:
                raise ValueError(
                    "RANGE frames are not supported in the EOWC path (the "
                    "row-count emission delay is undefined in value space); "
                    "use ROWS or MaterializedOverWindowDelta"
                )
        self.spark = spark
        self.keys = keys
        self.ts_col = ts_col
        self.order_cols = order_cols
        self.row_id = row_id
        self.funcs = funcs
        self.payload_cols = payload_cols
        self.delay_seconds = delay_seconds
        # lead-emission filtering is by ROW IDENTITY: the row id always
        # rides through _window_outputs (appended to payload when absent)
        # and is stripped from result() if the caller didn't ask for it
        self._extra_row_id = row_id not in set(keys) | set(order_cols) | set(
            payload_cols
        )
        #: bounded ROWS frames (reference frame_finder.rs both extents in
        #: the EOWC path): FOLLOWING ends ride the lead-style emission
        #: delay (_reaches e_rows); PRECEDING sizes require the last
        #: `i_rows` EMITTED rows per partition to stay available as
        #: compute context — retained in `tail`, excluded from re-emission
        self._frame_funcs = {
            n: s for n, s in funcs.items() if _frame_of(s) is not None
        }
        self.buffer = _BucketedMvTable(spark, os.path.join(state_dir, "buffer"), keys)
        self.seeds = _BucketedMvTable(spark, os.path.join(state_dir, "seeds"), keys)
        self.tail = _BucketedMvTable(spark, os.path.join(state_dir, "tail"), keys)
        self.out_path = os.path.join(state_dir, "out")
        # guard against an out dir left EMPTY by a GC'd zero-row emission
        self._emitted_any = os.path.isdir(self.out_path) and any(
            os.scandir(self.out_path)
        )
        # Round-12 chunk buffer (same design as EowcTumbleAgg/EowcAggMv,
        # guide §1.2/§2.4): when no function looks FORWARD (no lead, no
        # FOLLOWING frame end — _reaches emit reach 0), the emitted set of
        # every feed is exactly the event-time span (prev wm, new wm], so
        # batches can append as immutable chunk files: the watermark comes
        # from the chunk's parquet footer max-ts (driver-side, no Spark
        # job — previously one agg job over buffer∪batch per feed),
        # emission reads only the chunks overlapping the newly-closed
        # span, and fully-emitted chunks are GC'd instead of rewriting the
        # whole surviving buffer every feed. Forward reach holds back the
        # last `reach` CLOSED rows per partition — that breaks the
        # "emitted iff ts <= wm" file-level invariant, so those instances
        # (and pre-existing legacy buffer state) keep the versioned-buffer
        # path.
        self._chunks_dir = os.path.join(state_dir, "buffer_chunks")
        self._use_chunks = _reaches(funcs)[0] == 0 and not self.buffer.exists()
        self._chunk_stats: dict[str, tuple] = {}  # path -> (min_ts, max_ts)
        self._chunk_n = 0
        if self._use_chunks and os.path.isdir(self._chunks_dir):
            # restart: adopt surviving chunks (ts ranges from footers),
            # resume numbering; the durable WM below is the emit horizon
            for d in sorted(os.listdir(self._chunks_dir)):
                m = re.fullmatch(r"b(\d+)", d)
                if not m:
                    continue
                p = os.path.join(self._chunks_dir, d)
                mn, mx = _parquet_ts_minmax(p, ts_col)
                self._chunk_n = max(self._chunk_n, int(m.group(1)) + 1)
                if mx is None:
                    shutil.rmtree(p, ignore_errors=True)
                    continue
                self._chunk_stats[p] = (mn, mx)
        self._in_schema = None
        self._emit_n = _next_seq_index(self.out_path, "e")
        # durable watermark (reference: the sort buffer's watermark rides
        # the barrier/state table): restart must keep the late-drop
        # boundary, or a post-restart late row would emit out of order
        self._wm_path = os.path.join(state_dir, "WM")
        self._watermark = None
        try:
            with open(self._wm_path) as f:
                import datetime as _dt

                self._watermark = _dt.datetime.fromisoformat(f.read().strip())
        except (FileNotFoundError, ValueError):
            pass
        self._out_schema = None
        #: optional schema source for result() before first emission
        self.empty_input = None

    def _delta(self):  # shares the seeded window-output machinery
        d = MaterializedOverWindowDelta.__new__(MaterializedOverWindowDelta)
        d.keys, d.order_cols = self.keys, self.order_cols
        # frame funcs are computed in a separate pass over tail+buffer
        # (they need no seeds; their columns are joined in afterwards)
        d.funcs = {n: s for n, s in self.funcs.items() if n not in self._frame_funcs}
        d.payload_cols = list(dict.fromkeys([*self.payload_cols, self.row_id]))
        return d

    def _frame_outputs(self, out: DataFrame, buf: DataFrame) -> DataFrame:
        """Bounded-frame columns for the emitted set: computed over the
        retained tail (last emitted rows — backward context) plus the
        whole buffer (held/open rows — forward context), then joined
        onto `out` by row identity."""
        pb_in = buf
        if self.tail.exists():
            pb_in = self.tail.read().unionByName(buf)
        w = W.partitionBy(*self.keys).orderBy(
            *[F.asc(c) for c in self.order_cols]
        )
        sel = [F.col(self.row_id)]
        for name, spec in self._frame_funcs.items():
            lo, hi = _frame_of(spec)["rows"]
            fw = w.rowsBetween(-int(lo), int(hi))
            fn = {"sum": F.sum, "min": F.min, "max": F.max,
                  "avg": F.avg, "count": F.count}[spec[0]]
            sel.append(fn(F.col(spec[1])).over(fw).alias(name))
        return out.join(pb_in.select(*sel), on=self.row_id, how="left")

    def _update_tail(self, out: DataFrame, buf: DataFrame) -> None:
        """Retain the last `input-reach` emitted rows per partition as
        future backward-frame context (never re-emitted)."""
        i_reach = _reaches(self.funcs)[1]
        if not i_reach:
            return
        emitted = buf.join(
            out.select(self.row_id).distinct(), on=self.row_id, how="left_semi"
        )
        allt = emitted
        if self.tail.exists():
            allt = self.tail.read().unionByName(emitted)
        wdesc = W.partitionBy(*self.keys).orderBy(
            *[F.desc(c) for c in self.order_cols]
        )
        self.tail.write(
            allt.withColumn("__tr", F.row_number().over(wdesc))
            .filter(F.col("__tr") <= i_reach)
            .drop("__tr")
        )

    def feed(self, batch: DataFrame) -> None:
        if self._use_chunks:
            return self._feed_chunks(batch)
        return self._feed_buffered(batch)

    def _feed_chunks(self, batch: DataFrame) -> None:
        """Chunk-buffer feed (emit reach 0): one O(batch) chunk write per
        feed; emission (only when the watermark advances) reads the
        chunks overlapping the newly-closed span (prev wm, wm] — the
        emitted set IS that event-time span, late rows having been
        dropped at the door and rows <= prev wm having emitted already."""
        import datetime

        prev_wm = self._watermark
        if prev_wm is not None:
            # WatermarkFilter: late rows at/behind the watermark dropped
            # (strictly `>` — a ts==wm row has already been emitted)
            batch = batch.filter(F.col(self.ts_col) > F.lit(prev_wm))
        chunk = os.path.join(self._chunks_dir, f"b{self._chunk_n}")
        self._chunk_n += 1
        if self._in_schema is None:
            self._in_schema = batch.schema  # driver-side analysis only
        batch.coalesce(4).write.mode("overwrite").parquet(chunk)
        mn, mx = _parquet_ts_minmax(chunk, self.ts_col)
        if mx is None:  # empty batch: drop the chunk, nothing to do
            shutil.rmtree(chunk, ignore_errors=True)
            return
        self._chunk_stats[chunk] = (mn, mx)
        wm = mx - datetime.timedelta(seconds=self.delay_seconds)
        if prev_wm is not None and wm < prev_wm:
            wm = prev_wm
        self._watermark = wm

        # chunks that can hold rows of the newly-closed span (prev_wm,
        # wm]: footer-range pruning, no Spark job; a stalled watermark
        # closes nothing — skip the emission entirely
        cand = (
            []
            if prev_wm is not None and wm <= prev_wm
            else [
                c
                for c, (cmn, cmx) in self._chunk_stats.items()
                if cmn <= wm and (prev_wm is None or cmx > prev_wm)
            ]
        )
        if cand:
            rows = self.spark.read.schema(self._in_schema).parquet(*cand)
            closing = F.col(self.ts_col) <= F.lit(wm)
            if prev_wm is not None:
                closing = closing & (F.col(self.ts_col) > F.lit(prev_wm))
            closed = rows.filter(closing)
            seeds = self.seeds.read() if self.seeds.exists() else None
            delta = self._delta()
            out = delta._window_outputs(closed, seeds)
            if self._frame_funcs:
                # frame context = retained tail + every unemitted row
                # (all live chunk rows past the emit horizon — already-
                # emitted stragglers in partially-emitted chunks are
                # exactly the rows the tail retains)
                buf = self.spark.read.schema(self._in_schema).parquet(
                    *self._chunk_stats.keys()
                )
                if prev_wm is not None:
                    buf = buf.filter(F.col(self.ts_col) > F.lit(prev_wm))
                out = self._frame_outputs(out, buf)
                out = out.localCheckpoint(eager=True)
                self._update_tail(out, buf)
            else:
                out = out.localCheckpoint(eager=True)
            out_dir = os.path.join(self.out_path, f"e{self._emit_n}")
            self._emit_n += 1
            if self._out_schema is None:
                self._out_schema = out.schema
            out.coalesce(2).write.mode("overwrite").parquet(out_dir)
            if _parquet_rows(out_dir) > 0:
                self._emitted_any = True
                # carry-out: last emitted row's outputs per partition
                # seed the next emission (merged over previous seeds)
                new_seeds = delta._seeds(out)
                if seeds is not None:
                    stale = seeds.join(
                        new_seeds.select(*self.keys), on=self.keys, how="left_anti"
                    )
                    new_seeds = stale.unionByName(new_seeds)
                self.seeds.write(new_seeds)
            else:
                shutil.rmtree(out_dir, ignore_errors=True)
        # WM durability AFTER the emission write: the stored WM is the
        # emit horizon on restart — a crash in between leaves the old
        # horizon, the un-emitted span's chunks survive (GC below gates
        # on wm too) and the next feed re-runs the emission (the same
        # at-least-once recovery the buffered path has).
        tmp = self._wm_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(self._watermark.isoformat())
        os.replace(tmp, self._wm_path)
        # GC chunks whose every row has emitted (file-level retention —
        # the delay × arrival-rate buffer bound, without the rewrite)
        for c, (_, cmx) in list(self._chunk_stats.items()):
            if cmx <= wm:
                shutil.rmtree(c, ignore_errors=True)
                del self._chunk_stats[c]

    def _feed_buffered(self, batch: DataFrame) -> None:
        import datetime

        if self._watermark is not None:
            # late rows at/behind the watermark are dropped (WatermarkFilter;
            # strictly `>` — everything <= wm has already been emitted, and
            # re-emitting a ts==wm row would break the seed continuation)
            batch = batch.filter(F.col(self.ts_col) > F.lit(self._watermark))
        buf = batch
        if self.buffer.exists():
            buf = self.buffer.read().unionByName(batch)
        mx = buf.agg(F.max(self.ts_col)).first()[0]
        if mx is None:
            return
        wm = mx - datetime.timedelta(seconds=self.delay_seconds)
        if self._watermark is not None and wm < self._watermark:
            wm = self._watermark
        self._watermark = wm

        closed = buf.filter(F.col(self.ts_col) <= F.lit(wm))
        still_open = buf.filter(F.col(self.ts_col) > F.lit(wm))
        seeds = self.seeds.read() if self.seeds.exists() else None
        delta = self._delta()
        reach = _reaches(self.funcs)[0]  # emit reach rows (lead offsets)
        if reach:
            # lead(): a closed row's frame reaches `reach` rows FORWARD —
            # emit only closed rows with that many closed rows behind
            # them; the rest stay buffered (the reference delays emission
            # by the frame reach the same way). Outputs are computed over
            # the WHOLE buffer so emitted rows see their held/open
            # successors, then filtered to the emittable set by row id.
            wdesc = W.partitionBy(*self.keys).orderBy(
                *[F.desc(c) for c in self.order_cols]
            )
            c2 = closed.withColumn("__dr", F.row_number().over(wdesc))
            # identity join includes the ROW ID: with duplicate
            # (partition, order) tuples a held row must not value-collide
            # with an emittable one (it would emit early with an
            # incomplete lead frame AND again at the next flush)
            idc = list(
                dict.fromkeys([*self.keys, *self.order_cols, self.row_id])
            )
            emit_ids = c2.filter(F.col("__dr") > reach).select(*idc)
            held = c2.filter(F.col("__dr") <= reach).drop("__dr")
            still_open = still_open.unionByName(held)
            out = delta._window_outputs(buf, seeds).join(
                emit_ids, on=idc, how="left_semi"
            )
        else:
            out = delta._window_outputs(closed, seeds)
        if self._frame_funcs:
            out = self._frame_outputs(out, buf)
        # the write below evaluates `out`; persist so the seed update
        # doesn't recompute the closed-window functions a second time
        out = out.localCheckpoint(eager=True)
        if self._frame_funcs:
            self._update_tail(out, buf)
        if self._out_schema is None:
            self._out_schema = out.schema
        out.coalesce(2).write.mode("append").parquet(self.out_path)
        self._emitted_any = True
        # carry-out: last emitted row's outputs per partition become the
        # next emission's seeds (merged over previous seeds)
        new_seeds = delta._seeds(out)
        if seeds is not None:
            stale = seeds.join(
                new_seeds.select(*self.keys), on=self.keys, how="left_anti"
            )
            new_seeds = stale.unionByName(new_seeds)
        self.seeds.write(new_seeds)
        self.buffer.write(still_open)
        tmp = self._wm_path + ".tmp"
        with open(tmp, "w") as f:
            f.write(self._watermark.isoformat())
        os.replace(tmp, self._wm_path)

    def apply_batch(
        self, batch: DataFrame, batch_id: int | None = None, batch_ns=None
    ) -> None:
        """Changelog-handle adapter (MV front-door contract): EOWC output
        is append-only, so delete ops are rejected loudly (the reference
        optimizer enforces append-only upstream for EOWC plans)."""
        from risingwave_spark.streaming.mv import OP_COL

        deletes = batch.where(f"`{OP_COL}` < 0")
        # an insert-only chunk (with_ops(df, 1)) folds the delete branch
        # to an empty LocalRelation at plan time — zero Spark jobs for
        # the common case; only genuinely mixed batches pay the probe
        if not _statically_empty(deletes) and deletes.limit(1).count():
            raise ValueError(
                "EMIT ON WINDOW CLOSE over-window requires an append-only "
                "source: deletes/updates cannot retract emitted rows"
            )
        self.feed(batch.where(f"`{OP_COL}` > 0").drop(OP_COL))

    def exists(self) -> bool:
        return (
            self._emitted_any
            or self.buffer.exists()
            or bool(self._chunk_stats)
            or self._watermark is not None
        )

    def result(self) -> DataFrame:
        if not self._emitted_any:
            if self.empty_input is not None:
                # pre-emission: correct schema, zero rows
                out = self._delta()._window_outputs(self.empty_input(), None)
            else:
                raise ValueError("nothing emitted yet")
        else:
            # recursive lookup spans both output layouts (legacy flat
            # appends and the chunk path's e{N} emission dirs); the
            # known schema skips the inference job
            r = self.spark.read.option("recursiveFileLookup", "true")
            if self._out_schema is not None:
                r = r.schema(self._out_schema)
            out = r.parquet(self.out_path)
        if self._frame_funcs and not self._emitted_any:
            out = self._frame_outputs(out, self.empty_input())
        drop = [c for c in out.columns if c.startswith("__aux_")]
        if self._extra_row_id:
            drop.append(self.row_id)
        return out.drop(*drop)
