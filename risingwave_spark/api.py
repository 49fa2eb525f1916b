"""User-facing engine surface mirroring the reference's SQL DDL/DML:
CREATE TABLE / INSERT / DELETE / CREATE MATERIALIZED VIEW / ad-hoc SQL
(reference handlers: `src/frontend/src/handler/create_table.rs`,
`create_mv.rs:87`, batch DML executors `insert.rs:39` / `delete.rs:35`).

Semantics reproduced:
- a TABLE is a changelog-backed store (ChunkedState keyed by pk); its
  current snapshot is registered in the Spark catalog under the table
  name, so `engine.sql("SELECT ...")` works against it (§3.1).
- DML doesn't mutate in place: INSERT/DELETE become +1/−1 changelog
  chunks folded into the table state AND pushed to every MV defined over
  the table (§3.3 — "DML is just another stream input").
- CREATE MATERIALIZED VIEW backfills from the current table snapshot
  (reference Backfill executor) then stays incrementally maintained on
  every subsequent DML batch; the MV's current result is also registered
  in the catalog (MV-on-MV reads compose the same way).

Propagation graph (reference stream-job fragment graph, `src/meta`):
every producer — a table, an MV, a join step — holds one `downstream`
list of `Edge`s. An edge names the MV that owns it and folds the
producer's changelog batch into that MV's input. DROP / RENAME / ALTER
unhook dependents by owner name, and after a DML batch only the MVs
reachable from the written table are re-registered.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from risingwave_spark.streaming.mv import (
    OP_COL,
    ChunkedState,
    DeltaPlan,
    MaterializedView,
    fold_keys,
    non_strict_analysis,
    with_ops,
    write_changelog,
)

#: warehouse directory prefixes an MV's state may live under (one per MV kind)
MV_STATE_PREFIXES = ("mv_", "jmv_", "umv_", "topn_", "owmv_", "eowc_", "eowcow_")


def sub_now(sql: str, ts) -> str:
    """Replace now()/current_timestamp() with a pinned timestamp
    literal — the engine's barrier time (reference now.rs: now() in a
    streaming plan is bound to the epoch's barrier timestamp, not
    re-evaluated per row). String literals are masked first so a
    'now()' INSIDE a literal is never rewritten."""
    import re as _re

    from risingwave_spark.functions.pgsql import _mask_strings, _unmask

    masked, lits = _mask_strings(sql)
    masked = _re.sub(
        r"\b(?:now|current_timestamp)\s*\(\s*\)",
        f"timestamp'{ts.isoformat(sep=' ')}'",
        masked,
        flags=_re.I,
    )
    return _unmask(masked, lits)


class Table:
    def __init__(self, spark: SparkSession, path: str, name: str, pk: str):
        self.spark = spark
        self.name = name
        self.pk = pk
        self.state = ChunkedState(spark, path, pk)
        self.downstream: list[Edge] = []
        #: columns a DELETE's tombstones carry beside the pk: the group
        #: keys of the value-state MVs over this table, so their key sets
        #: come from the fold's files (`mv.fold_keys`) without a collect
        self.tomb_cols: list[str] = []
        #: TTL (reference e2e_test/ttl/ttl.slt, `retention_seconds` WITH
        #: option — APPEND ONLY tables only): rows expire by ingest-chunk
        #: commit time; reads skip expired chunks at FILE level.
        self.retention_seconds: float | None = None
        #: epoch-seconds clock — the engine injects its barrier clock so
        #: `now_override` drives TTL deterministically in tests
        self.now_fn = None

    def snapshot(self) -> DataFrame:
        if self.retention_seconds is not None and self.state._has_values:
            import time as _time

            now = self.now_fn() if self.now_fn is not None else _time.time()
            cutoff = now - self.retention_seconds
            live = [s for s, t in self.state.seq_times().items() if t >= cutoff]
            if not live:
                return self.state._empty()
            return self.state.read_bounded(min_seq=min(live))
        return self.state.read()

    def asof(self, ts: float) -> DataFrame:
        """Historical read: state as of epoch-seconds `ts` (reference
        `FOR SYSTEM_TIME AS OF`, e2e_test/time_travel/basic.slt) — chunks
        and tombstones committed after `ts` are excluded at file level.
        History reaches back to the last compaction; beyond it raises
        (the reference's bounded Hummock time-travel retention)."""
        return self.state.read_bounded(max_seq=self.state.max_seq_asof(ts))

    def _register(self) -> None:
        self.snapshot().createOrReplaceTempView(self.name)


class MaterializedViewHandle:
    def __init__(self, name: str, view: MaterializedView):
        self.name = name
        self.view = view

    def _register(self) -> None:
        self.view.result().createOrReplaceTempView(self.name)


class StreamJoinChainMv:
    """Left-deep cascade of retractable stream-stream joins — the
    reference's multi-way streaming join plan (`create_mv.rs:87` →
    a tree of `stream_hash_join.rs` nodes; every
    `e2e_test/streaming/tpch/` MV joins 3-6 tables this way): step i
    joins the maintained result of steps <i with table i+1, each step's
    changelog (−1 old affected rows / +1 recomputed) feeds the next
    step's LEFT input, and an optional GROUP BY hangs a MaterializedView
    — or a ValueAggMv for count/sum bodies — off the last step
    (mv-on-mv.md). DML — including deletes — on ANY
    participating table keeps the whole chain exact. A 2-input join is
    a one-step chain.

    Scale posture: every level is O(touched join keys/buckets) per batch
    (each step recomputes only affected keys against bucket-pruned
    state); a change deep in the chain touches downstream steps only
    through the affected rows' changelog, never a full recompute."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        steps: list[dict],
        row_ids: list,
        keys: list[str] | None = None,
        recompute=None,
        project=None,
        key_of=None,
    ):
        from risingwave_spark.streaming.join import RetractableStreamJoin

        self.spark = spark
        self.project = project
        self.keys = keys or []
        self.joins: list[RetractableStreamJoin] = []
        ids_acc = [row_ids[0]] if isinstance(row_ids[0], str) else list(row_ids[0])
        for i, s in enumerate(steps):
            ids_r = [row_ids[i + 1]] if isinstance(row_ids[i + 1], str) else list(row_ids[i + 1])
            j = RetractableStreamJoin(
                spark,
                os.path.join(state_dir, f"s{i}"),
                s["left_on"],
                s["right_on"],
                ids_acc if i > 0 else row_ids[0],
                row_ids[i + 1],
                how=s.get("how", "inner"),
                cond=s.get("cond"),
            )
            self.joins.append(j)
            # semi/anti join output carries only the left side's rows —
            # the right pk never becomes part of the row identity
            if s.get("how", "inner") not in ("left_semi", "left_anti"):
                ids_acc = ids_acc + ids_r
        #: row identity of the last step's rows (the agg level's row id)
        self.row_ids = ids_acc
        #: the GROUP BY level: a MaterializedView, or a ValueAggMv that
        #: `Engine.create_stream_join_chain_mv` attaches after backfill
        self.agg = None
        if keys is not None and recompute is not None:
            self.agg = MaterializedView(
                spark, os.path.join(state_dir, "agg"), keys, ids_acc, recompute
            )
            self.agg.key_of = key_of

    @property
    def unique_keys(self) -> bool:
        return self.agg is not None

    @property
    def downstream(self) -> list:
        return self.agg.downstream if self.agg is not None else self.joins[-1].downstream

    @property
    def emit_changelog(self) -> bool:
        return self.agg.emit_changelog if self.agg is not None else False

    @emit_changelog.setter
    def emit_changelog(self, v: bool) -> None:
        if self.agg is None:
            raise ValueError(
                "subscriptions/sinks on a row-grain stream-join MV are not "
                "supported yet — add a GROUP BY level or subscribe upstream"
            )
        self.agg.emit_changelog = v

    @property
    def changelog_dir(self) -> str:
        if self.agg is None:
            raise ValueError("row-grain stream-join MV has no changelog log")
        return self.agg.changelog_dir

    def result(self) -> DataFrame:
        if self.agg is not None:
            return self.agg.result()
        out = self.joins[-1].result()
        return self.project(out) if self.project is not None else out


def _ren_pk(pk, ren: dict | None):
    if not ren:
        return pk
    if isinstance(pk, (list, tuple)):
        return [ren.get(c, c) for c in pk]
    return ren.get(pk, pk)


def _ren_batch(df: DataFrame, ren: dict | None) -> DataFrame:
    """Apply a self-join role's column-rename map (alias.col →
    <alias>_<col>, reference binder alias disambiguation) to a snapshot
    or changelog batch; op/aux columns pass through unrenamed."""
    if not ren:
        return df
    return df.select([F.col(c).alias(ren.get(c, c)) for c in df.columns])


class Edge:
    """One subscription in the propagation graph. A producer (table, MV,
    join step) hands each folded batch's changelog to every edge in its
    `downstream` list; the edge folds it into the input of the MV named
    `owner`. Engine._unhook drops edges by owner name, and
    Engine._closure walks them to find the MVs a batch can move. An
    owner of None marks a link inside one MV (the TopN delta probe),
    which no walk reaches."""

    __slots__ = ("owner", "_fold")

    def __init__(self, owner: str | None, fold):
        self.owner = owner
        self._fold = fold  # (batch, batch_id, batch_ns) -> None

    def apply_batch(self, batch: DataFrame, batch_id: int | None = None, batch_ns: str | None = None) -> None:
        self._fold(batch, batch_id, batch_ns)


def _join_edge(owner: str, join, side: str, pre: str | None = None, ren: dict | None = None) -> Edge:
    """Edge into one input ("left"/"right") of a stream-join step —
    fed by a base table's DML, an upstream MV's changelog (MV-as-join-
    input, the desugared form of subqueries / CTEs / stacked views in MV
    bodies) or the previous chain step. The upstream's internal __jk
    splice columns are stripped, a self-join role's rename applied, and
    `pre` — a pushed-down single-side filter (reference predicate
    pushdown below the join) — drops rows BEFORE they reach join state."""

    def fold(batch: DataFrame, batch_id, batch_ns) -> None:
        drop = [c for c in batch.columns if c.startswith("__jk")]
        b = _ren_batch(batch.drop(*drop) if drop else batch, ren)
        if pre:
            b = _pre_filter(b, pre)
        join.apply(**{side: b}, batch_id=batch_id, batch_ns=batch_ns)

    return Edge(owner, fold)


def _pre_filter(df: DataFrame, pre: str) -> DataFrame:
    """`df` filtered by a join MV's pushed-down predicate `pre`,
    analyzed non-strict like the rest of the MV's streaming plan (a row
    whose predicate errors is dropped: NULL is not true), at backfill
    and on every fold alike."""
    with non_strict_analysis(df.sparkSession):
        return df.filter(F.expr(pre))


class TopNReadMv:
    """MV whose body ends in ``ORDER BY ... LIMIT k`` (reference TopN
    executor, `top_n/top_n_state.rs` — state holds ALL rows; the
    ordered bound applies on emit): the full unbounded view stays
    maintained by the usual fold/splice loop, and reads apply the
    ordered LIMIT (a TakeOrderedAndProject — O(k) result, never a full
    sort at read).

    Downstream consumption (reference `top_n/top_n_plain.rs:79`: a row
    entering the top-k is an Insert, one leaving is a Delete — the
    executor's emitted changelog is the k-row MEMBERSHIP delta, not the
    unbounded state's): after each fold the wrapper diffs the new top-k
    against its persisted k-row snapshot and forwards/logs exactly
    those deltas, which makes ORDER BY ... LIMIT MVs legal bases for
    MV-on-MV, join inputs, subscriptions and sinks. The diff is O(k)
    per batch (two k-row frames), independent of state size — the same
    bound the reference's managed TopN state gives it."""

    def __init__(
        self,
        inner,
        order_items: list[tuple[str, bool]],
        limit: int | None,
        state_dir: str | None = None,
    ):
        self._inner = inner
        self._order = order_items  # [(spark_sql_expr, ascending)]
        self._limit = limit
        self._dir = state_dir
        self._downstream: list = []
        self._emit = False
        self._probed = False
        self._delta: DataFrame | None = None  # inner fold's output changelog
        # metrics: threshold-cache skips vs full ordered-state diffs
        self._skips = 0
        self._full_diffs = 0

    def result(self) -> DataFrame:
        df = self._inner.result()
        # pg null ordering defaults (ASC → NULLS LAST, DESC → NULLS
        # FIRST), which differ from Spark's
        cols = [
            F.expr(e).asc_nulls_last() if asc else F.expr(e).desc_nulls_first()
            for e, asc in self._order
        ]
        out = df.orderBy(*cols)
        return out.limit(self._limit) if self._limit is not None else out

    # ---- top-k membership changelog (top_n_plain.rs:79) -------------
    @property
    def downstream(self) -> list:
        return self._downstream

    @property
    def emit_changelog(self) -> bool:
        return self._emit

    @emit_changelog.setter
    def emit_changelog(self, v: bool) -> None:
        if v:
            self.ensure_topk_feed()
        self._emit = v

    @property
    def changelog_dir(self) -> str:
        self._need_dir()
        return os.path.join(self._dir, "changelog")

    def _need_dir(self) -> None:
        if self._dir is None:
            raise ValueError(
                "this TopN MV was created without a changelog state dir — "
                "it cannot feed subscriptions/sinks/downstream MVs"
            )

    def ensure_topk_feed(self) -> None:
        """Seed the k-row snapshot (if absent) BEFORE a consumer
        attaches: the consumer backfills from the CURRENT top-k, so the
        next emitted delta must be relative to exactly that set."""
        self._need_dir()
        if not self._snap_ids():
            self._write_snap(0, self.result())

    def _snap_ids(self) -> list[int]:
        import re as _re

        try:
            return sorted(
                int(m.group(1))
                for d in os.listdir(os.path.join(self._dir, "snap"))
                if (m := _re.fullmatch(r"s(\d+)", d))
            )
        except FileNotFoundError:
            return []

    def _write_snap(self, sid: int, df: DataFrame) -> None:
        import shutil

        base = os.path.join(self._dir, "snap")
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(base, f"s{sid}"))
        self._write_threshold(sid, df)
        for old in self._snap_ids()[:-2]:  # keep last 2 generations
            shutil.rmtree(os.path.join(base, f"s{old}"), ignore_errors=True)

    # ---- k-th-row threshold cache (top_n/top_n_cache.rs) -------------
    @staticmethod
    def _enc_th(v):
        import datetime
        import decimal

        if isinstance(v, bool):
            return ["b", v]
        if isinstance(v, int):
            return ["i", v]
        if isinstance(v, float):
            return ["f", v]
        if isinstance(v, str):
            return ["s", v]
        if isinstance(v, decimal.Decimal):
            return ["d", str(v)]
        if isinstance(v, datetime.datetime):
            return ["ts", v.isoformat()]
        if isinstance(v, datetime.date):
            return ["dt", v.isoformat()]
        return None  # unsupported order-key type → no threshold

    @staticmethod
    def _dec_th(tag, raw):
        import datetime
        import decimal

        return {
            "b": lambda: bool(raw),
            "i": lambda: int(raw),
            "f": lambda: float(raw),
            "s": lambda: raw,
            "d": lambda: decimal.Decimal(raw),
            "ts": lambda: datetime.datetime.fromisoformat(raw),
            "dt": lambda: datetime.date.fromisoformat(raw),
        }[tag]()

    def _write_threshold(self, sid: int, df: DataFrame) -> None:
        """Persist the k-th row's order-key values beside the snapshot
        (reference `top_n/top_n_cache.rs` keeps the cached head for the
        same reason): a later batch whose rows ALL order strictly after
        it provably can't move the top-k — the membership diff skips
        the full ordered state scan. Written only when the snapshot is
        FULL (k rows, else any insert can enter) with non-NULL,
        serializable order keys; absence = always take the full path."""
        import functools
        import json as _json

        if self._limit is None:
            return
        try:
            rows = df.select(
                *[F.expr(e).alias(f"__o{i}") for i, (e, _a) in enumerate(self._order)]
            ).collect()  # O(k) rows
        except Exception:  # noqa: BLE001 - exotic order expr: no threshold
            return
        path = os.path.join(self._dir, "snap", f"s{sid}", "_THRESHOLD.json")
        if len(rows) < self._limit or any(v is None for r in rows for v in r):
            return
        order = self._order

        def cmp(a, b):
            for i, (_e, asc) in enumerate(order):
                x, y = a[i], b[i]
                if x == y:
                    continue
                return (-1 if x < y else 1) * (1 if asc else -1)
            return 0

        worst = max(rows, key=functools.cmp_to_key(cmp))
        vals = [self._enc_th(v) for v in worst]
        if any(v is None for v in vals):
            return
        with open(path, "w") as f:
            _json.dump(vals, f)

    def _read_threshold(self, sid: int):
        import json as _json

        try:
            with open(os.path.join(self._dir, "snap", f"s{sid}", "_THRESHOLD.json")) as f:
                return [self._dec_th(t, r) for t, r in _json.load(f)]
        except (FileNotFoundError, ValueError, KeyError):
            return None

    def _delta_cant_cross(self, delta: DataFrame, sid: int) -> bool:
        """True iff EVERY row of the batch's output delta orders
        STRICTLY after the persisted k-th-row threshold — then no
        insert can enter the top-k and no delete can leave it (ties are
        conservative: a full tie counts as crossing). NULL order keys
        count as crossing (conservative under pg null ordering)."""
        th = self._read_threshold(sid)
        if th is None:
            return False
        try:
            pred = F.lit(False)
            for (e, asc), tv in reversed(list(zip(self._order, th))):
                col = F.expr(e)
                strict = col > F.lit(tv) if asc else col < F.lit(tv)
                pred = strict | ((col == F.lit(tv)) & pred)
            may_cross = delta.filter(~F.coalesce(pred, F.lit(False)))
            return not may_cross.take(1)
        except Exception:  # noqa: BLE001 - expr not valid on the delta
            return False

    def _ensure_probe(self) -> None:
        """Attach the inner view's output-changelog probe once consumers
        exist: the threshold skip (reference `top_n/top_n_cache.rs` —
        cached head, O(log n) per update) tests the batch's OUTPUT delta
        against the persisted k-th-row threshold and skips the full
        TakeOrderedAndProject when no row can enter or leave the
        top-k."""
        if (
            not self._probed
            and self._limit is not None
            and (self._downstream or self._emit)
            and hasattr(self._inner, "downstream")
        ):
            self._probed = True
            self._inner.downstream.append(Edge(None, self._capture))

    def _capture(self, delta: DataFrame, _batch_id, _batch_ns) -> None:
        self._delta = delta

    def apply_batch(self, batch: DataFrame, batch_id: int | None = None, batch_ns: str | None = None) -> None:
        self._ensure_probe()
        self._delta = None
        self._inner.apply_batch(batch, batch_id=batch_id, batch_ns=batch_ns)
        self._emit_membership_delta(batch_id=batch_id, batch_ns=batch_ns)

    def retouch(self, affected: DataFrame) -> None:
        # Now-executor tick (temporal-filter MVs): time moving can also
        # move rows in/out of the top-k
        self._ensure_probe()
        self._delta = None
        self._inner.retouch(affected)
        self._emit_membership_delta()

    def _emit_membership_delta(
        self, batch_id: int | None = None, batch_ns: str | None = None
    ) -> None:
        if not (self._downstream or self._emit):
            return
        ids = self._snap_ids()
        if not ids:  # consumer attached without seeding — seed, no delta
            self.ensure_topk_feed()
            return
        if self._delta is not None and self._delta_cant_cross(self._delta, ids[-1]):
            # threshold skip (top_n_cache.rs): the batch's whole output
            # delta orders strictly after the cached k-th row — top-k
            # membership provably unchanged, NO ordered state scan, no
            # snapshot flip
            self._skips += 1
            return
        self._full_diffs += 1
        prev = self.spark.read.parquet(os.path.join(self._dir, "snap", f"s{ids[-1]}"))
        new = self.result().localCheckpoint(eager=True)
        delta = with_ops(prev.exceptAll(new), -1).unionByName(
            with_ops(new.exceptAll(prev), 1)
        )
        delta = delta.localCheckpoint(eager=True)
        if not delta.take(1):
            return  # batch didn't move the top-k — no chunk, no forward
        if batch_id is None:
            # retouch-driven delta (now-tick): derive a deterministic id
            # from the snapshot transition so a crash between a downstream
            # apply_batch and the trailing _write_snap dedupes the replay
            # instead of double-applying the same +rows (ADVICE r8). The
            # id is the snapshot generation — strictly monotonic — scoped
            # to this MV's own namespace so it never collides with an
            # upstream batch-id sequence.
            batch_id = ids[-1]
            batch_ns = f"topn_retouch:{os.path.basename(self._dir or 'anon')}"
        if self._emit:
            # chunk id = snapshot transition id; overwrite-idempotent on
            # a replayed batch (same prev snapshot → same delta)
            write_changelog(self.changelog_dir, ids[-1], delta.coalesce(1))
        for dn in self._downstream:
            dn.apply_batch(delta, batch_id=batch_id, batch_ns=batch_ns)
        # snapshot flips LAST: a crash before this point replays the
        # IDENTICAL delta (prev unchanged, consumers idempotent via
        # batch_id); a crash after it replays an empty delta
        self._write_snap(ids[-1] + 1, new)

    def __getattr__(self, a):
        return getattr(self._inner, a)

    def __setattr__(self, a, v):
        # private slots and class-level descriptors (the emit_changelog
        # property setter) bind on the wrapper; any other attribute
        # write falls through to the inner view, so callers tweaking
        # inner knobs (compact_every, key_of, ...) keep working
        if a.startswith("_") or hasattr(type(self), a):
            object.__setattr__(self, a, v)
        else:
            setattr(self._inner, a, v)


class ProjectedMaterializedView(MaterializedView):
    """MaterializedView whose VISIBLE result drops hidden carrier
    columns — e.g. `SELECT DISTINCT ON (k) v FROM t` is keyed by k but
    does not select it (reference `binder/select.rs` DistinctOn: the ON
    expressions are bound like ORDER BY keys, not output columns). The
    hidden keys live in the materialization for splice identity and are
    stripped at read and from the subscription changelog."""

    def __init__(self, spark, state_dir, keys, row_id, recompute, hidden):
        super().__init__(spark, state_dir, keys, row_id, recompute)
        self._hidden = list(hidden)

    def result(self) -> DataFrame:
        out = super().result()
        return out.drop(*[c for c in self._hidden if c in out.columns])

    def _log_changelog(self, chunk: DataFrame) -> None:
        super()._log_changelog(
            chunk.drop(*[c for c in self._hidden if c in chunk.columns])
        )


class SimpleAggMv(ProjectedMaterializedView):
    """Global-aggregate (no GROUP BY) MV — the reference SimpleAgg
    executor (`src/stream/src/executor/simple_agg.rs`: always produces
    exactly one row): state rides the grouped machinery on one constant
    hidden key; when every input row is deleted the group vanishes from
    state, and the read falls back to `seed()` — the aggregate over an
    EMPTY input (count()=0, sum()=NULL, the executor's initial
    accumulators), so the one-row contract holds from CREATE time."""

    seed = None  # () -> one-row DataFrame, set by the frontend compiler

    def result(self) -> DataFrame:
        out = super().result()
        if self.seed is not None and out.isEmpty():
            return self.seed()
        return out


class StreamUnionMv:
    """MV over `UNION [ALL]` of N single-table arms (reference stream
    Union executor `src/stream/src/executor/union.rs` merging its
    inputs' changelogs; `e2e_test/streaming/union.slt`): each arm is an
    independently-maintained select-project-filter of one engine
    table's changelog. The union-all level is a ROW-GRAIN MV keyed by
    (arm index, source pk) — a delete retracts exactly its own arm's
    row even when another arm holds an identical-valued row. UNION
    (distinct) hangs a value-keyed MV off that level's changelog: a
    value-tuple's group disappears only when its multiplicity across
    ALL arms drops to zero (the reference plans this as union-all +
    distinct agg, `binder/set_expr.rs`).

    Scale posture: each arm's per-batch work is O(batch) (stateless SPF
    + bucketed fold); the distinct level recomputes only the
    value-tuples the batch touched. No arm ever rescans another arm's
    state."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        out_cols: list[str],
        setop: str = "union_all",
    ):
        if setop not in ("union_all", "union", "intersect", "except"):
            raise ValueError(f"unknown set operation {setop!r}")
        inner = ["__ubranch", "__urid"]
        self.out_cols = list(out_cols)
        self.setop = setop
        self.rows = MaterializedView(
            spark, os.path.join(state_dir, "rows"), inner, inner, lambda r: r
        )
        self.distinct: MaterializedView | None = None
        if setop == "union":
            recompute = lambda r, cols=tuple(self.out_cols): r.select(*cols).distinct()
        elif setop in ("intersect", "except"):
            # set semantics over per-arm PRESENCE (reference
            # e2e_test/streaming/{intersect,except}.slt.part: a tuple is
            # visible iff arm 0 holds it AND arm 1 does (intersect) /
            # does not (except), regardless of multiplicities)
            want1 = 1 if setop == "intersect" else 0

            def recompute(r, cols=tuple(self.out_cols), want1=want1):
                agg = r.groupBy(*cols).agg(
                    F.max(F.when(F.col("__ubranch") == 0, 1).otherwise(0)).alias("__p0"),
                    F.max(F.when(F.col("__ubranch") == 1, 1).otherwise(0)).alias("__p1"),
                )
                return agg.filter(
                    (F.col("__p0") == 1) & (F.col("__p1") == want1)
                ).select(*cols)

        else:
            recompute = None
        if recompute is not None:
            self.distinct = MaterializedView(
                spark,
                os.path.join(state_dir, "distinct"),
                self.out_cols,
                inner,
                recompute,
            )
            self.rows.downstream.append(self.distinct)

    @property
    def keys(self) -> list[str]:
        if self.distinct is not None:
            return self.distinct.keys
        raise ValueError(
            "MV-on-MV over a UNION ALL MV is not supported: its rows are "
            "row-grain (identified by arm + source pk); use UNION "
            "(distinct) or build the downstream MV on the arm tables"
        )

    @property
    def downstream(self) -> list:
        return (self.distinct if self.distinct is not None else self.rows).downstream

    @property
    def emit_changelog(self) -> bool:
        if self.distinct is None:
            return False
        return self.distinct.emit_changelog

    @emit_changelog.setter
    def emit_changelog(self, v: bool) -> None:
        if self.distinct is None:
            raise ValueError(
                "subscriptions/sinks on a UNION ALL MV are not supported "
                "(its changelog carries internal arm/row-id columns); "
                "subscribe to the arm tables or use UNION (distinct)"
            )
        self.distinct.emit_changelog = v

    @property
    def changelog_dir(self) -> str:
        if self.distinct is None:
            raise ValueError("UNION ALL MV has no consumable changelog log")
        return self.distinct.changelog_dir

    def result(self) -> DataFrame:
        if self.distinct is not None:
            return self.distinct.result()
        return self.rows.result().drop("__ubranch", "__urid")


def _non_strict(spark: SparkSession, transform):
    """`transform(rows)` (an MV's recompute or key annotation) with its
    plan analyzed non-strict.

    Streaming expression evaluation is NON-STRICT in the reference
    (`e2e_test/streaming/non_strict_mode.slt`; issue 4625 / PR 12461:
    compute errors — division by zero, bad casts — pad NULL per
    expression node instead of failing the job, so one poisoned row
    cannot kill an MV). Batch queries stay strict (ANSI). Spark bakes
    the eval mode into each expression AT ANALYSIS, so toggling
    `spark.sql.ansi.enabled` around the plan's construction pins legacy
    (null-padding) semantics into the MV's plan without touching ad-hoc
    batch behavior (`mv.non_strict_analysis`)."""

    def wrapped(rows):
        with non_strict_analysis(spark):
            return transform(rows)

    return wrapped


class Engine:
    """The session object a reference user would hold (their `psql`
    connection analog)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        # the reference's TIME-of-day type (datatype.slt): Spark 4.1 ships
        # TIME behind a flag — enable it so `t time` columns, TIME'..'
        # literals and string↔time casts work on the SQL surface
        try:
            spark.conf.set("spark.sql.timeType.enabled", "true")
        except Exception:
            pass  # older Spark: TIME stays unsupported (documented)
        self.tables: dict[str, Table] = {}
        self.mv_handles: dict[str, MaterializedViewHandle] = {}
        # ORDER BY ... LIMIT tails of MV bodies, stashed by the compile
        # core for the TopNReadMv wrap after the handler registers
        self._pending_read_topn: dict[str, tuple] = {}
        # uncorrelated-scalar-subquery dependencies (reference
        # DynamicFilter, `dynamic_filter.rs:39`): [{mv, sql, last}] —
        # after every DML cascade the scalar re-evaluates against the
        # live views, and a moved value re-splices the MV's groups (the
        # RHS moving re-evaluates rows in the reference too)
        self._scalar_deps: list[dict] = []
        # SQL-surface catalog objects (reference handler/create_view.rs,
        # create_source.rs, create_sink.rs): views are SQL bodies bound
        # once as Spark SQL temp views (see _bind_view); sources are connector
        # descriptors (file ones batch-readable); sinks drain MV
        # changelogs after every DML batch.
        self.views: dict[str, str] = {}
        self.sources: dict[str, dict] = {}
        self.sinks: dict[str, object] = {}
        # CREATE FUNCTION / CREATE AGGREGATE registrations (reference
        # FunctionCatalog): name → descriptor; the callables live in the
        # SparkSession's function registry.
        self.functions: dict[str, dict] = {}
        # temporal-filter MVs (reference Now executor, now.rs): name →
        # Spark-SQL predicate template containing now() references.
        # tick() re-splices keys whose predicate truth changed since the
        # last tick (see tick()).
        self.temporal_mvs: dict[str, str] = {}
        #: test hook — force the engine's notion of "now" (the reference
        #: achieves the same by driving barrier timestamps in tests)
        self.now_override = None
        self._replaying = False
        #: active transaction marker ({"read_only": bool} or None) —
        #: frontend BEGIN/COMMIT handlers manage it
        self._txn = None
        #: PREPARE name AS <stmt> registry: name → statement template
        self.prepared: dict[str, str] = {}
        #: background DDL jobs (SET BACKGROUND_DDL=true): name → job dict
        import threading

        self._bg_jobs: dict[str, dict] = {}
        #: serializes DML against in-flight background backfills
        self._ddl_lock = threading.RLock()
        #: webhook tables (reference `src/frontend/src/webhook/mod.rs`):
        #: table name → {"validator": fn(headers, body)->bool,
        #: "insert": fn(body_text)}; populated by CREATE TABLE ...
        #: WITH (connector='webhook') VALIDATE ... and re-populated on
        #: catalog replay like every other DDL
        self.webhooks: dict[str, dict] = {}
        self._webhook_dml_lock = threading.RLock()
        self._webhook_server = None
        self._pg_server = None
        #: per-MV backfill rate limits (reference
        #: e2e_test/streaming/rate_limit: WITH (backfill_rate_limit=N)
        #: + ALTER MATERIALIZED VIEW ... SET BACKFILL_RATE_LIMIT):
        #: name → rows-per-slice cap; 0 parks the backfill until raised
        self._mv_rate_limits: dict[str, int] = {}

    def _bind_view(self, name: str, body: str) -> None:
        """Register plain view `name` as a Spark SQL temp view. Such a
        view resolves the relations it names at READ time, so it follows
        every re-registered table/MV snapshot without a refresh, reads
        as TABLE_OR_VIEW_NOT_FOUND once its base is dropped, and re-binds
        when the base is re-created."""
        from risingwave_spark.functions.pgsql import pg_to_spark_sql

        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY VIEW `{name}` AS {pg_to_spark_sql(body)}"
        )

    # ---- propagation graph -------------------------------------------
    def _producer(self, name: str):
        """The table or MV view whose `downstream` edges leave `name`."""
        return self.tables[name] if name in self.tables else self.mv_handles[name].view

    def _subscribe(self, base: str, h: MaterializedViewHandle) -> None:
        """Hook MV `h` onto table/MV `base`: base's batches fold into it.
        `h.view` resolves per batch, so a TopN wrap installed after the
        hook sees every batch."""
        self._producer(base).downstream.append(
            Edge(h.name, lambda b, i, ns: h.view.apply_batch(b, batch_id=i, batch_ns=ns))
        )

    def _edges(self, name: str) -> list:
        """The edges leaving table/MV `name`; an MV kind that feeds
        nothing (the EOWC over-window MV) has none."""
        return getattr(self._producer(name), "downstream", [])

    def _closure(self, names) -> list[str]:
        """The MVs a batch from any of `names` (tables or MVs) can move:
        edge owners, transitively — `names` themselves excluded."""
        out: dict[str, None] = {}
        todo = list(names)
        while todo:
            for e in self._edges(todo.pop()):
                if e.owner not in out and e.owner in self.mv_handles:
                    out[e.owner] = None
                    todo.append(e.owner)
        return [n for n in out if n not in names]

    def _refresh(self, names) -> None:
        """Re-register MVs `names` and every MV downstream of them — the
        only catalog registrations a fold can move."""
        for n in [*names, *self._closure(names)]:
            self.mv_handles[n]._register()

    def _unhook(self, names) -> None:
        """Drop every edge owned by one of `names` from every producer."""
        for n in [*self.tables, *self.mv_handles]:
            edges = self._edges(n)
            edges[:] = [e for e in edges if e.owner not in names]

    def _remove_state(self, prefixes, name: str) -> None:
        import shutil

        for prefix in prefixes:
            shutil.rmtree(os.path.join(self.warehouse, prefix + name), ignore_errors=True)

    def _drop_mvs(self, names: list[str], unrecord: list[str] = (), cascade: bool = False) -> None:
        """Forget MVs `names`: their catalog entries (with `unrecord`, in
        one catalog write), their edges, registrations and on-disk state.
        Sinks and subscriptions reading their changelogs go with them
        under `cascade`; without it their presence refuses the drop.
        State is removed only after the catalog no longer names it, so a
        crash in between never leaves an entry pointing at deleted
        state."""
        dirs = tuple(
            os.path.join(self.warehouse, p + n) + os.sep for n in names for p in MV_STATE_PREFIXES
        )
        # a sink (through its subscription) or subscription whose cursor
        # lives in a dropped changelog would fail every later drain
        readers = {
            k: coll
            for coll in (self.sinks, getattr(self, "subscriptions", {}))
            for k, v in coll.items()
            if getattr(v, "sub", v).dir.startswith(dirs)
        }
        if readers and not cascade:
            raise ValueError(
                f"sinks/subscriptions {sorted(readers)} read materialized "
                f"view(s) {names}; drop them first or use CASCADE"
            )
        self._unrecord_ddl([*unrecord, *names, *readers])
        for k, coll in readers.items():
            coll.pop(k)
        self._unhook(set(names))
        for n in names:
            self.mv_handles.pop(n, None)
            self.temporal_mvs.pop(n, None)
            self.spark.catalog.dropTempView(n)
            self._remove_state(MV_STATE_PREFIXES, n)
        self._scalar_deps[:] = [d for d in self._scalar_deps if d["mv"] not in names]

    # ---- durability ------------------------------------------------
    def _catalog_path(self) -> str:
        return os.path.join(self.warehouse, "CATALOG.json")

    def _record_ddl(self, name: str, stmt: str) -> None:
        """Persist a DDL statement (SQL text) so Engine.open can replay it
        (the reference's catalog is durable the same way — definitions,
        not data; data lives in the state tables). Python-API definitions
        (lambda recomputes) are not recordable — only the SQL surface is."""
        # any DDL invalidates cached relation schemas (pg_catalog's
        # pg_attribute/information_schema builders cache per catalog
        # generation — the 5k-relation soak measured ~8 ms of Catalyst
        # analysis per relation per statement without it)
        self.catalog_gen = getattr(self, "catalog_gen", 0) + 1
        if self._replaying:
            return
        import json

        # under the DDL lock: a background creation's final record must
        # not interleave with a foreground DDL's read-modify-replace
        with self._ddl_lock:
            entries = self._read_catalog()
            entries = [e for e in entries if e["name"] != name] + [
                {"name": name, "stmt": stmt}
            ]
            os.makedirs(self.warehouse, exist_ok=True)
            tmp = self._catalog_path() + ".tmp"
            with open(tmp, "w") as f:
                json.dump(entries, f, indent=1)
            os.replace(tmp, self._catalog_path())

    def _unrecord_ddl(self, names: list[str]) -> None:
        import json

        if self._replaying:
            return
        with self._ddl_lock:
            entries = [e for e in self._read_catalog() if e["name"] not in names]
            tmp = self._catalog_path() + ".tmp"
            with open(tmp, "w") as f:
                json.dump(entries, f, indent=1)
            os.replace(tmp, self._catalog_path())

    def _read_catalog(self) -> list:
        import json

        try:
            with open(self._catalog_path()) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return []

    def _write_catalog(self, entries: list) -> None:
        """Atomic whole-catalog replace — for DDL rewrites (ALTER RENAME
        dependent-definition updates, rate-limit option swaps)."""
        import json

        with self._ddl_lock:
            os.makedirs(self.warehouse, exist_ok=True)
            tmp = self._catalog_path() + ".tmp"
            with open(tmp, "w") as f:
                json.dump(entries, f, indent=1)
            os.replace(tmp, self._catalog_path())

    @classmethod
    def open(cls, spark: SparkSession, warehouse: str) -> "Engine":
        """Re-open an existing warehouse after a restart: replay the
        recorded DDL (definitions only — tables re-attach their on-disk
        ChunkedState, MVs their bucketed epochs and changelog; no
        backfill re-runs, no data is rewritten)."""
        eng = cls(spark, warehouse)
        eng._replay()
        return eng

    def _replay(self) -> None:
        """Re-run the recorded DDL in catalog order. A view recorded
        before a base that was dropped and re-created fails to bind
        during the pass; it binds at the end, once every base exists."""
        self._replaying = True
        try:
            for entry in self._read_catalog():
                self.sql(entry["stmt"])
        finally:
            self._replaying = False
        for name, body in self.views.items():
            if not self.spark.catalog.tableExists(name):
                try:
                    self._bind_view(name, body)
                except AnalysisException:
                    pass  # base still gone: reads raise TABLE_OR_VIEW_NOT_FOUND

    def _rebuild_from_catalog(self) -> None:
        """Reset the in-memory catalog state and replay the recorded DDL
        in place — the in-session analog of Engine.open, used after a
        catalog-wide definition rewrite (ALTER ... RENAME with
        dependents: the reference rewrites every dependent definition,
        `handler/alter_rename.rs`; this engine rewrites the recorded
        statements and re-binds everything by replay). State re-attaches
        on disk; no data is rewritten and no backfill re-runs."""
        for ns in (self.tables, self.mv_handles, self.views, self.sources):
            for name in list(ns):
                try:
                    self.spark.catalog.dropTempView(name)
                except Exception:
                    pass
        self.tables.clear()
        self.mv_handles.clear()
        self.views.clear()
        self.sources.clear()
        self.sinks.clear()
        self.functions.clear()
        self.temporal_mvs.clear()
        self._scalar_deps.clear()
        self._pending_read_topn.clear()
        for attr in ("subscriptions", "cursors", "schemas", "databases"):
            ns = getattr(self, attr, None)
            if ns is not None:
                ns.clear()
        self._replay()

    # ---- DDL -------------------------------------------------------
    def create_table(self, name: str, rows: DataFrame, pk: str) -> Table:
        """CREATE TABLE ... ; initial rows are the first insert chunk.
        Re-opening an existing warehouse re-attaches the on-disk state
        instead (no fold — the data is already there)."""
        t = Table(self.spark, os.path.join(self.warehouse, f"t_{name}"), name, pk)
        t.now_fn = self._now_epoch
        if not t.state._has_values:
            t.state.fold(rows, rows.limit(0), commit_ts=self._now_epoch())
        t._register()
        self.tables[name] = t
        return t

    def create_materialized_view(
        self, name: str, base: str, keys: list[str], recompute, key_of=None,
        hidden: list[str] | None = None, seed=None, delta: DeltaPlan | None = None,
    ) -> MaterializedViewHandle:
        """CREATE MATERIALIZED VIEW over a TABLE or another MV:
        `recompute(rows)` is the per-affected-group query body (any
        DataFrame transform emitting the group keys). For DERIVED group
        keys (GROUP BY k % 2), pass `key_of(rows)` annotating rows with
        the key columns. Backfills from the base's current state, then
        stays maintained: DML batches flow table → MV → downstream MVs
        as changelogs (mv-on-mv.md). `delta` (from the SQL compile
        path's state classifier) folds batches into the MV itself
        instead of keeping a copy of the input (`DeltaPlan.view`)."""
        recompute = _non_strict(self.spark, recompute)
        if base in self.tables:
            t = self.tables[base]
            row_id, backfill = t.pk, t.snapshot()
        else:
            up = self.mv_handles[base]
            if isinstance(up.view, TopNReadMv):
                # legal base (top_n_plain.rs:79): seed the k-row snapshot
                # so deltas start relative to the top-k we backfill from;
                # up.view.result() below IS the top-k, and the downstream
                # subscribe lands on the wrapper's membership-delta feed
                up.view.ensure_topk_feed()
            if hasattr(up.view, "funcs") and hasattr(up.view, "order_cols"):
                raise ValueError(
                    "MV-on-MV over an over-window MV is not supported: its "
                    "rows are row-grain (identified by the base row id), not "
                    "group-grain — subscribe to its changelog instead"
                )
            if not up.view.keys:
                raise ValueError("MV-on-MV requires the upstream MV to have group keys (its pk)")
            if getattr(up.view, "_hidden", None):
                raise ValueError(
                    "MV-on-MV over a DISTINCT ON MV is not supported: its "
                    "visible rows lack the splice keys (the ON columns); "
                    "select the ON columns in the upstream MV instead"
                )
            # upstream group keys ARE the upstream rows' pk — composite
            # keys ride through as a composite row id (ChunkedState
            # tombstones match on all pk columns)
            row_id = up.view.keys[0] if len(up.view.keys) == 1 else list(up.view.keys)
            backfill = up.view.result()
        path = os.path.join(self.warehouse, f"mv_{name}")
        mv = None
        if delta is not None:
            mv = delta.view(self.spark, path, keys, recompute, backfill.limit(0))
        if mv is None and hidden:
            cls = SimpleAggMv if seed is not None else ProjectedMaterializedView
            mv = cls(self.spark, path, keys, row_id, recompute, hidden)
            if seed is not None:
                mv.seed = seed
        elif mv is None:
            mv = MaterializedView(self.spark, path, keys, row_id, recompute)
        elif base in self.tables:  # a delta view: see Table.tomb_cols
            t = self.tables[base]
            t.tomb_cols += [k for k in keys if k not in t.tomb_cols]
        mv.key_of = _non_strict(self.spark, key_of) if key_of else None
        # Backfill: current base state (the reference's
        # snapshot-then-switchover bootstrap). A re-opened MV already
        # holds its materialization — re-attach, don't re-run; an MV
        # whose chunked backfill CRASHED partway resumes its remaining
        # chunks (see _run_backfill).
        if not mv.mv.exists() or os.path.exists(self._backfill_progress_path(name)):
            self._run_backfill(name, mv, backfill, row_id)
        h = MaterializedViewHandle(name, mv)
        h._register()
        self._subscribe(base, h)
        self.mv_handles[name] = h
        return h

    def _backfill_progress_path(self, name: str) -> str:
        return os.path.join(self.warehouse, f"mv_{name}", "BACKFILL_PROGRESS")

    def _run_backfill(self, name: str, mv, backfill: DataFrame, row_id) -> None:
        """Snapshot backfill, resumable in pk-hash chunks (reference
        backfill executor family, `src/stream/src/executor/backfill/` —
        per-vnode progress state so a crashed backfill resumes instead
        of restarting; here the unit is a deterministic pk-hash slice).

        `SET rw.backfill_chunks = K` (the reference's backfill
        rate-control analog) splits the snapshot into K slices; each
        slice folds as one changelog batch with a per-slice redelivery
        pointer (batch_ns '__backfill'), and BACKFILL_PROGRESS records
        completed slices durably. A crash mid-slice re-applies that
        slice idempotently (the state fold is skipped by its batch
        pointer; the group recompute is an idempotent splice; a
        delta-folded MV skips a slice its MANIFEST records as applied);
        a crash between slices resumes at the next one. K=1 (default) keeps the
        one-batch bootstrap. At 100 TB this is the difference between
        re-reading the whole base table after a mid-backfill failure and
        re-reading one slice."""
        import json
        import time

        def _effective_rate():
            # per-MV WITH (backfill_rate_limit=N) / ALTER ... SET override
            # wins over the session variable (reference rate_limit suite)
            lim = self._mv_rate_limits.get(name)
            if lim is not None:
                return str(lim)
            return self.spark.conf.get("BACKFILL_RATE_LIMIT", None)

        def _check_cancel():
            # CANCEL JOBS (reference cancel_job.rs → meta
            # cancel_creating_jobs): cooperative — checked between
            # slices and while parked, so a cancel lands within one
            # slice's work
            if name in getattr(self, "_cancelled_jobs", set()):
                raise RuntimeError(f"backfill of {name!r} cancelled")

        # rate 0 parks the backfill until an ALTER raises it (reference
        # alter_rate_limit.slt: CREATE ... with (backfill_rate_limit=0)
        # under BACKGROUND_DDL shows 0% until the ALTER) — poll the live
        # limit; chunk sizing waits for the first non-zero value
        while _effective_rate() == "0":
            _check_cancel()
            time.sleep(0.05)

        k = int(self.spark.conf.get("rw.backfill_chunks", "1"))
        rate = _effective_rate()
        if k <= 1 and rate and rate.upper() != "DEFAULT":
            # reference SET BACKFILL_RATE_LIMIT=N (rows per barrier):
            # mapped to a per-slice ROW CAP — chunk count sized so each
            # slice carries ~N rows (documented divergence: slices, not
            # rows/second; resumability and bounded batch size are the
            # properties that matter at scale)
            import math

            n = backfill.count()
            k = max(1, math.ceil(n / max(1, int(rate))))
        prog = self._backfill_progress_path(name)
        done: set[int] = set()
        if os.path.exists(prog):
            try:
                with open(prog) as f:
                    rec = json.load(f)
                k, done = rec["chunks"], set(rec["done"])
            except (ValueError, KeyError):
                pass
        if k <= 1:
            _check_cancel()
            mv.apply_batch(with_ops(backfill, 1))
            return
        pk_cols = [row_id] if isinstance(row_id, str) else list(row_id)
        os.makedirs(os.path.dirname(prog), exist_ok=True)
        if not os.path.exists(prog):
            # durable BEFORE the first slice: a crash inside slice 0 must
            # leave the resume marker, or reopen would re-attach a
            # partial MV as complete
            with open(prog + ".tmp", "w") as f:
                json.dump({"chunks": k, "done": []}, f)
            os.replace(prog + ".tmp", prog)
        for i in range(k):
            if i in done:
                continue
            _check_cancel()
            while _effective_rate() == "0":  # ALTER to 0 pauses mid-backfill
                _check_cancel()
                time.sleep(0.05)
            chunk = backfill.filter(
                F.pmod(F.xxhash64(*[F.col(c) for c in pk_cols]), F.lit(k)) == i
            )
            mv.apply_batch(with_ops(chunk, 1), batch_id=i, batch_ns="__backfill")
            done.add(i)
            tmp = prog + ".tmp"
            with open(tmp, "w") as f:
                json.dump({"chunks": k, "done": sorted(done)}, f)
            os.replace(tmp, prog)
        os.remove(prog)

    def _resolve_join_input(self, name: str):
        """Resolve a stream-join input by name to (pk, snapshot,
        producer): an engine TABLE or an agg-keyed MV — the MV-as-join-
        input path that desugared subqueries / CTEs / MV-on-MV join
        bodies ride on. Either way the join hooks an edge onto the
        producer's `downstream`."""
        if name in self.tables:
            t = self.tables[name]
            return t.pk, t.snapshot(), t
        if name not in self.mv_handles:
            raise ValueError(f"join input {name!r} is not a known table or MV")
        v = self.mv_handles[name].view
        if isinstance(v, TopNReadMv):
            # legal join input: v.result() is the top-k snapshot the join
            # backfills from, and the wrapper's downstream list delivers
            # membership deltas (top_n_plain.rs:79) from here on
            v.ensure_topk_feed()
        if hasattr(v, "funcs") and hasattr(v, "order_cols"):
            raise ValueError(
                f"MV {name!r} cannot be a join input: over-window MVs are "
                "row-grain (no group-key pk) — materialize the needed "
                "columns in a keyed MV instead"
            )
        if getattr(v, "_hidden", None):
            raise ValueError(
                f"MV {name!r} cannot be a join input: its DISTINCT ON keys "
                "are hidden from its visible rows — select them explicitly "
                "in the upstream MV"
            )
        keys = getattr(v, "keys", None)
        if not keys:
            raise ValueError(
                f"MV {name!r} as a join input needs group keys (its pk) — "
                "row-grain join MVs cannot re-key a downstream join's state"
            )
        pk = keys[0] if len(keys) == 1 else list(keys)
        return pk, v.result(), v

    def create_stream_join_chain_mv(
        self,
        name: str,
        tbls: list[str],
        steps: list[dict],
        keys: list[str] | None = None,
        recompute=None,
        project=None,
        key_of=None,
        renames: list | None = None,
        delta: DeltaPlan | None = None,
    ) -> MaterializedViewHandle:
        """CREATE MATERIALIZED VIEW over an N-way stream-stream join of
        inputs — engine tables or agg-keyed MVs (left-deep; see
        StreamJoinChainMv; MV inputs are the desugared form of
        subqueries / CTEs in the body — reference `apply_to_join_rule.rs`
        subquery unnesting composed with the multi-way join plan).
        `steps[i]` = {left_on, right_on, how, cond, pre_l, pre_r}
        joining the running result with `tbls[i+1]`; a 2-input join is a
        one-step chain. Backfills each level from current snapshots,
        then wires the changelog cascade + per-input feeds. `delta` makes
        the GROUP BY level a `ValueAggMv` (see `create_materialized_view`)."""
        if recompute is not None:
            recompute = _non_strict(self.spark, recompute)  # non_strict_mode.slt
        if key_of is not None:
            key_of = _non_strict(self.spark, key_of)
        resolved = [self._resolve_join_input(t) for t in tbls]
        renames = renames or [None] * len(tbls)
        resolved = [
            (_ren_pk(pk, ren), _ren_batch(snap, ren), src)
            for (pk, snap, src), ren in zip(resolved, renames)
        ]
        chain = StreamJoinChainMv(
            self.spark,
            os.path.join(self.warehouse, f"jmv_{name}"),
            steps,
            [pk for pk, _, _ in resolved],
            keys=keys,
            project=project,
        )
        # Backfill LEVEL BY LEVEL (each level's snapshot feeds the next)
        # BEFORE hooking the cascade and the agg — the hooks would
        # double-feed the backfill chunks. A re-opened chain re-attaches
        # instead; a kept agg already holds every joined row even when a
        # join level is rebuilt.
        pre_of = [steps[0].get("pre_l")] + [s.get("pre_r") for s in steps]
        for i, j in enumerate(chain.joins):
            if not j.mv.exists():
                left = resolved[0][1] if i == 0 else chain.joins[i - 1].result()
                if i == 0 and pre_of[0]:
                    left = _pre_filter(left, pre_of[0])
                right = resolved[i + 1][1]
                if pre_of[i + 1]:
                    right = _pre_filter(right, pre_of[i + 1])
                j.apply(
                    left=with_ops(left, 1),
                    right=with_ops(right, 1),
                )
        if recompute is not None:
            agg_dir = os.path.join(self.warehouse, f"jmv_{name}", "agg")
            if delta is not None:
                chain.agg = delta.view(
                    self.spark, agg_dir, keys, recompute, chain.joins[-1].result().limit(0)
                )
            if chain.agg is None:
                chain.agg = MaterializedView(self.spark, agg_dir, keys, chain.row_ids, recompute)
                chain.agg.key_of = key_of
            if not chain.agg.mv.exists():
                chain.agg.apply_batch(with_ops(chain.joins[-1].result(), 1))
            chain.joins[-1].downstream.append(chain.agg)
        for i in range(len(chain.joins) - 1):
            chain.joins[i].downstream.append(_join_edge(name, chain.joins[i + 1], "left"))
        h = MaterializedViewHandle(name, chain)
        h._register()
        for i, (_, _, src) in enumerate(resolved):
            join, side = (chain.joins[0], "left") if i == 0 else (chain.joins[i - 1], "right")
            src.downstream.append(_join_edge(name, join, side, pre=pre_of[i], ren=renames[i]))
        self.mv_handles[name] = h
        return h

    def create_union_mv(
        self,
        name: str,
        branches: list,
        out_cols: list[str],
        setop: str = "union_all",
    ) -> MaterializedViewHandle:
        """CREATE MATERIALIZED VIEW over UNION [ALL] / INTERSECT /
        EXCEPT of single-table arms (see StreamUnionMv). `branches` =
        [(table_name, transform)] where transform maps a changelog
        batch (op column included) of the arm's table to the arm's
        output rows plus (__ubranch, __urid, op). Backfills each arm
        from its table's current snapshot; a re-opened MV re-attaches
        instead."""
        umv = StreamUnionMv(
            self.spark, os.path.join(self.warehouse, f"umv_{name}"), out_cols, setop
        )
        if not umv.rows.mv.exists():
            for i, (tbl, transform) in enumerate(branches):
                umv.rows.apply_batch(
                    transform(with_ops(self.tables[tbl].snapshot(), 1)),
                    batch_ns=f"u{i}",
                )
        h = MaterializedViewHandle(name, umv)
        h._register()

        def arm(i: int, transform) -> Edge:
            # each arm folds through its select-project-filter under its
            # own batch namespace (independent upstream id sequences)
            def fold(batch: DataFrame, batch_id, batch_ns) -> None:
                ns = f"u{i}" if batch_ns is None else f"u{i}_{batch_ns}"
                umv.rows.apply_batch(transform(batch), batch_id=batch_id, batch_ns=ns)

            return Edge(name, fold)

        for i, (tbl, transform) in enumerate(branches):
            self.tables[tbl].downstream.append(arm(i, transform))
        self.mv_handles[name] = h
        return h

    # ---- DML -------------------------------------------------------
    def insert(self, table: str, rows: DataFrame) -> None:
        t = self.tables[table]
        if getattr(t, "on_conflict", None):
            batch = self._resolve_conflicts(t, rows).localCheckpoint(eager=True)
            self._apply_dml(table, batch)
        else:
            self._apply_dml(table, with_ops(rows, 1))

    def _resolve_conflicts(self, t, rows: DataFrame) -> DataFrame:
        """pk-conflict handling on INSERT (reference Materialize
        executor, `src/stream/src/executor/mview/materialize.rs:193-290`
        + `should_handle_conflict` at :822; SQL surface
        `parser.rs parse_on_conflict`): the incoming batch is folded
        per pk IN ROW ORDER against the table's pre-insert snapshot and
        becomes a changelog chunk (−1 replaced old versions, +1
        winners). Behaviors:

        - `ignore` (DO NOTHING): first batch row of a NEW pk wins; pks
          already stored drop entirely.
        - `overwrite` (DO UPDATE FULL): last handled batch row wins and
          replaces the stored row.
        - `update_if_not_null`: per column, the last handled non-null
          value wins, seeded from the stored row (nulls never clobber).

        WITH VERSION COLUMN(v): a row is handled only while its version
        is ≥ the running maximum (seeded from the stored row's version;
        a null new version loses to any non-null current one —
        `should_handle_conflict`'s exact truth table). Within-batch
        order comes from monotonically_increasing_id, which preserves
        construction order for VALUES batches; across shuffled
        multi-partition inserts the order is undefined, exactly as the
        reference's parallel-chunk arrival order is.

        Scale posture: one broadcast-sized join of the batch against
        the snapshot on pk + windows OVER THE BATCH (never the table);
        cost is O(batch + matching pks), not O(state)."""
        from pyspark.sql import Window as W

        oc = t.on_conflict
        vcol = getattr(t, "version_col", None)
        pks = [t.pk] if isinstance(t.pk, str) else list(t.pk)
        cols = list(rows.columns)
        snap = t.snapshot()
        old = snap.select(
            *[F.col(c).alias(f"__old_{c}") for c in cols],
            F.lit(True).alias("__old_exists"),
        )
        seqd = rows.withColumn("__iseq", F.monotonically_increasing_id())
        cond = None
        for p in pks:
            c = seqd[p].eqNullSafe(F.col(f"__old_{p}"))
            cond = c if cond is None else (cond & c)
        # the old side's columns are all renamed __old_*, so plain pk
        # names stay unambiguous after the join
        j = seqd.join(old, cond, "left")
        asc = W.partitionBy(*pks).orderBy("__iseq")
        exists = F.coalesce(F.col("__old_exists"), F.lit(False))

        if oc == "ignore":
            keep = (
                j.filter(~exists)
                .withColumn("__rn", F.row_number().over(asc))
                .filter(F.col("__rn") == 1)
            )
            return with_ops(keep.select(*cols), 1)

        if vcol is not None:
            # running max version over preceding batch rows, seeded from
            # the stored row's version (greatest skips nulls)
            prev = asc.rowsBetween(W.unboundedPreceding, -1)
            mx = F.greatest(
                F.max(F.col(vcol)).over(prev), F.col(f"__old_{vcol}")
            )
            handled = (
                F.col(vcol).isNotNull() & (mx.isNull() | (F.col(vcol) >= mx))
            ) | (F.col(vcol).isNull() & mx.isNull())
            j = j.withColumn("__handled", handled).filter(F.col("__handled"))

        if oc == "overwrite":
            winner = j.withColumn(
                "__rn",
                F.row_number().over(W.partitionBy(*pks).orderBy(F.desc("__iseq"))),
            ).filter(F.col("__rn") == 1)
        else:  # update_if_not_null: per-column last non-null, old-seeded
            full = asc.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            winner = (
                j.select(
                    *pks,
                    *[
                        F.coalesce(
                            F.last(F.col(c), ignorenulls=True).over(full),
                            F.col(f"__old_{c}"),
                        ).alias(c)
                        for c in cols
                        if c not in pks
                    ],
                    F.row_number().over(asc).alias("__rn"),
                    F.col("__old_exists"),
                    *[F.col(f"__old_{c}") for c in cols],
                )
                .filter(F.col("__rn") == 1)
                .select(*cols, "__old_exists", *[f"__old_{c}" for c in cols])
            )

        out = with_ops(winner.select(*cols), 1)
        olds = winner.filter(exists).select(
            *[F.col(f"__old_{c}").alias(c) for c in cols]
        )
        return out.unionByName(with_ops(olds, -1))

    def _reject_retraction(self, t) -> None:
        """APPEND ONLY tables reject DELETE/UPDATE BEFORE any state
        mutation (reference create_table.rs append-only binding): the
        check must precede the fold so a rejected statement leaves the
        table AND its MVs untouched — EOWC MVs downstream rely on it."""
        if getattr(t, "append_only", False):
            raise ValueError(
                f"table {t.name!r} is APPEND ONLY: DELETE/UPDATE are not "
                "allowed (watermark/EOWC semantics require an append-only "
                "changelog)"
            )

    def delete(self, table: str, predicate) -> None:
        """DELETE FROM table WHERE predicate — the matching rows of the
        current snapshot become a −1 chunk. The chunk is materialized
        (localCheckpoint) BEFORE the fold: each MV re-evaluates it after
        the table state has already been mutated, and a lazy plan over
        the snapshot would silently resolve against the post-delete
        file listing in a streaming-aware source."""
        t = self.tables[table]
        self._reject_retraction(t)
        doomed = t.snapshot().filter(predicate).localCheckpoint(eager=True)
        self._apply_dml(table, with_ops(doomed, -1))
        return doomed  # the deleted rows (DELETE ... RETURNING)

    def update(self, table: str, predicate, assignments: dict) -> None:
        """UPDATE table SET col=expr WHERE predicate — becomes the
        reference's UpdateDelete/UpdateInsert pair in ONE chunk (§1.2):
        −1 the old row versions, +1 the reassigned ones; same-batch
        delete+reinsert of a pk is exactly what ChunkedState's sequence
        numbering supports."""
        t = self.tables[table]
        self._reject_retraction(t)
        old = t.snapshot().filter(predicate).localCheckpoint(eager=True)
        new = old
        for col, expr in assignments.items():
            new = new.withColumn(col, expr)
        # generated columns recompute from the reassigned stored columns
        # (reference generated_columns.slt: UPDATE of a referenced
        # column refreshes the generated one)
        types = {f.name: f.dataType.simpleString() for f in old.schema.fields}
        for col, gexpr in (getattr(t, "generated", {}) or {}).items():
            new = new.withColumn(col, F.expr(gexpr).cast(types[col]))
        new = new.localCheckpoint(eager=True)
        self._apply_dml(table, with_ops(old, -1).unionByName(with_ops(new, 1)))
        return new  # the post-assignment rows (UPDATE ... RETURNING)

    def _now_epoch(self) -> float:
        """Epoch-seconds barrier clock (TTL cutoffs, chunk commit times).
        `now_override` (naive = session-UTC) drives it in tests."""
        if self.now_override is not None:
            import calendar

            dt = self.now_override
            if dt.tzinfo is not None:
                return dt.timestamp()
            return calendar.timegm(dt.timetuple()) + dt.microsecond / 1e6
        import time as _time

        return _time.time()

    def _apply_dml(self, table: str, batch: DataFrame) -> None:
        # serialize against background backfills: a DELETE folded while a
        # backfill slice containing the same row is still pending would be
        # resurrected by the later slice (tombstones mask only EARLIER
        # seqs) — blocking here is the engine's equivalent of the
        # reference's upstream buffering during backfill
        with self._ddl_lock:
            return self._apply_dml_locked(table, batch)

    def _register_scalar_dep(
        self, mv: str, scalar_sql: str, lhs: str | None = None, op: str | None = None
    ) -> None:
        """`lhs`/`op` (row-level comparison text, when the dep guards a
        WHERE predicate) enable the band-pruned re-splice below; HAVING
        deps compare group aggregates and pass neither."""
        self._scalar_deps.append({"mv": mv, "sql": scalar_sql, "lhs": lhs, "op": op})

    def _check_scalar_deps(self, table: str | None = None) -> None:
        """Re-splice MVs whose uncorrelated scalar subquery moved (the
        DynamicFilter recompute path). The re-splice recomputes every
        group from state — O(state), the honest cost of an RHS shift
        that can flip ANY row's predicate; unmoved scalars cost one
        tiny aggregate job, and a DML batch on a table the scalar never
        reads costs nothing at all (the reference only wakes the
        DynamicFilter when its RHS stream produces)."""
        import re as _re

        _MISS = object()
        for dep in self._scalar_deps:
            h = self.mv_handles.get(dep["mv"])
            if h is None:
                continue
            if table is not None:
                toks = dep.setdefault(
                    "refs", set(_re.findall(r"\b\w+\b", dep["sql"]))
                )
                # tables-only scalars skip unrelated DML; a scalar
                # reading an MV must always re-evaluate (its upstream
                # set is not tracked here — conservative)
                reads_mv = any(t in self.mv_handles for t in toks)
                if not reads_mv and table not in toks:
                    continue
            v = h.view
            agg = getattr(v, "agg", None)
            if agg is None and hasattr(v, "retouch"):
                agg = v
            if agg is None:
                # row-grain join MV: the scalar evaluates at read, inside
                # the registered plan — re-register to re-resolve it
                h._register()
                continue
            try:
                row = self.spark.sql(dep["sql"]).first()
            except Exception:
                continue
            val = tuple(row) if row is not None else None
            prev = dep.get("last", _MISS)
            if val == prev:
                continue
            dep["last"] = val
            src = agg.state.read()
            if (
                dep.get("lhs")
                and dep.get("op") in ("<", "<=", ">", ">=")
                and prev is not _MISS
                and prev is not None
                and val is not None
                and len(val) == 1
                and prev[0] is not None
                and val[0] is not None
            ):
                # range-pruned re-splice (reference DynamicFilter,
                # `dynamic_filter.rs:39`: a scalar MOVE re-evaluates
                # only rows between the old and new value): a monotone
                # comparison can flip only for rows whose lhs lies in
                # [min(old,new), max(old,new)] — groups owning none of
                # those keep their spliced values, so the touched-row
                # count is proportional to the band, not the state
                lhs = dep["lhs"]
                qm = _re.fullmatch(r"(\w+)\.(\w+)", lhs)
                if qm and qm.group(2) in src.columns:
                    lhs = qm.group(2)  # outer alias doesn't exist on state rows
                lo, hi = sorted((prev[0], val[0]))
                try:
                    src = src.filter(F.expr(lhs).between(F.lit(lo), F.lit(hi)))
                except Exception:
                    src = agg.state.read()  # unparseable on state → full
            annotate = agg.key_of or (lambda d: d)
            aff = annotate(src).select(*agg.keys).distinct()
            agg.retouch(aff)
            self._refresh([dep["mv"]])

    def _apply_dml_locked(self, table: str, batch: DataFrame) -> None:
        t = self.tables[table]
        t.state.fold(
            batch.where(f"`{OP_COL}` > 0").drop(OP_COL),
            batch.where(f"`{OP_COL}` < 0").drop(OP_COL),
            tomb_extra_cols=t.tomb_cols,
            commit_ts=self._now_epoch(),
        )
        # delta-folded MVs read the batch's keys from the fold's files
        batch._rw_keys = fold_keys(t.state)
        t._register()
        self._fan_out(t.downstream, batch)
        # only MVs reachable from this table moved; plain views are SQL
        # temp views and re-resolve at read
        for n in self._closure([table]):
            self.mv_handles[n]._register()
        self._check_scalar_deps(table)
        # sinks drain whatever changelog chunks this batch produced
        for s in self.sinks.values():
            s.drain()

    def _edge_groups(self, edges: list[Edge]) -> list[list[Edge]]:
        """Split `edges` into groups that can fold at the same time: two
        edges share a group when the MVs they reach (owner plus
        `_closure`) overlap, and an owner of None overlaps everything.
        Groups and the edges in each keep the order of `edges`."""

        def reach_of(e: Edge) -> set | None:
            if e.owner not in self.mv_handles:
                return None if e.owner is None else {e.owner}
            return {e.owner, *self._closure([e.owner])}

        def overlap(a: set | None, b: set | None) -> bool:
            return a is None or b is None or bool(a & b)

        reach = [reach_of(e) for e in edges]
        groups: list[list[int]] = []
        for i, r in enumerate(reach):
            hit = [g for g in groups if any(overlap(r, reach[j]) for j in g)]
            merged = sorted([i, *(j for g in hit for j in g)])
            groups = [g for g in groups if g not in hit] + [merged]
        return [[edges[i] for i in g] for g in sorted(groups)]

    def _fan_out(self, edges: list[Edge], batch: DataFrame) -> None:
        """Fold `batch` along `edges`: independent groups (`_edge_groups`)
        fold at the same time — the calling thread takes the first, each
        other one gets its own InheritableThread, which carries the
        statement's Spark job group (reference: one barrier reaches every
        fragment at once, and MVs that share only an input run as
        separate actors). A group reaching an MV with its own
        `parallelism` folds alone afterwards: its shuffle-partition swap
        is session-wide. Every group runs even when another fails; the
        first failed group's error is raised once all are done. Nothing
        an edge reaches may take `_ddl_lock`, which the statement thread
        holds.

        Every plan the groups build analyzes non-strict: one
        `non_strict_analysis` span covers the whole fan-out. ANSI mode is
        session-wide, so without it a plan built outside a span (a union
        arm, a pushed-down join filter, a TopN order key) would analyze
        strict or not depending on whether another thread's span was
        open at that moment. Non-strict is the reference's rule for every
        streaming executor (`non_strict_mode.slt`)."""
        from pyspark import InheritableThread

        def own_parallelism(g: list[Edge]) -> bool:
            owners = [e.owner for e in g if e.owner in self.mv_handles]
            return any(
                getattr(self.mv_handles[n].view, "parallelism", None)
                for n in [*owners, *self._closure(owners)]
            )

        groups = self._edge_groups(edges)
        together = [g for g in groups if not own_parallelism(g)]
        alone = [g for g in groups if own_parallelism(g)]
        errors: dict[int, BaseException] = {}

        def run(i: int, g: list[Edge]) -> None:
            try:
                for e in g:
                    e.apply_batch(batch)
            except BaseException as ex:  # noqa: BLE001 - re-raised below
                errors[i] = ex

        threads = [
            InheritableThread(target=run, args=(i, g), session=self.spark)
            for i, g in enumerate(together[1:], start=1)
        ]
        with non_strict_analysis(self.spark):
            for th in threads:
                th.start()
            if together:
                run(0, together[0])
            for th in threads:
                th.join()
            for i, g in enumerate(alone, start=len(together)):
                run(i, g)
        if errors:
            raise errors[min(errors)]

    # ---- temporal-filter MVs (Now executor) ------------------------
    def _current_now(self):
        """The engine's barrier timestamp: session-tz now(), evaluated
        ONCE per use so a batch's recompute and the tick comparison see
        the same instant (the reference pins now() to the epoch's
        barrier time, `binder NOW handling` + now.rs)."""
        if self.now_override is not None:
            return self.now_override
        return self.spark.sql("SELECT now() AS n").first()[0]

    def _now_tick_path(self, name: str) -> str:
        return os.path.join(self.warehouse, f"mv_{name}", "NOW_TICK")

    def _register_temporal_mv(self, name: str, pred_sql: str) -> None:
        self.temporal_mvs[name] = pred_sql
        if not os.path.exists(self._now_tick_path(name)):
            self._write_now_tick(name, self._current_now())

    def _write_now_tick(self, name: str, ts) -> None:
        p = self._now_tick_path(name)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p + ".tmp", "w") as f:
            f.write(ts.isoformat(sep=" "))
        os.replace(p + ".tmp", p)

    def tick(self) -> None:
        """Advance temporal-filter MVs to the current time (reference
        `src/stream/src/executor/now.rs`: the Now executor makes TIME an
        input — every barrier carries a new timestamp and rows whose
        `now()`-predicate truth flips are retracted/activated without
        any DML). Here the barrier is explicit: FLUSH (or this call)
        re-splices exactly the keys owning rows whose predicate value
        changed between the last tick and now.

        Scale posture: the changed-row scan is a two-predicate column
        comparison over state with no shuffle (predicate pushdown
        applies); a production deployment orders temporal-MV state by
        the time column so the scan prunes to the moved boundary range,
        exactly the reference's ts-ordered state table."""
        import datetime as _dt

        for name, pred in self.temporal_mvs.items():
            h = self.mv_handles.get(name)
            if h is None:
                continue
            mv = h.view
            cur = self._current_now()
            try:
                with open(self._now_tick_path(name)) as f:
                    prev = _dt.datetime.fromisoformat(f.read().strip())
            except (FileNotFoundError, ValueError):
                prev = None
            if prev is not None and prev != cur:
                annotate = mv.key_of or (lambda d: d)
                st = annotate(mv.state.read())
                changed = st.filter(
                    ~F.expr(sub_now(pred, prev)).eqNullSafe(
                        F.expr(sub_now(pred, cur))
                    )
                )
                affected = changed.select(*mv.keys).distinct()
                if not affected.isEmpty():
                    mv.retouch(affected)
            self._write_now_tick(name, cur)
        live = [n for n in self.temporal_mvs if n in self.mv_handles]
        if live:
            self._refresh(live)
            for s in self.sinks.values():
                s.drain()

    def poll_sources(self) -> None:
        """Fold NEW connector files into connector-backed tables (the
        reference's continuous source ingestion loop, here on-demand —
        `CREATE TABLE ... WITH (connector='posix_fs') FORMAT DEBEZIUM`
        tables pick up files that appeared since the last poll; MVs
        downstream advance incrementally as with any DML)."""
        from risingwave_spark.frontend import (
            _ingest_table_files,
            _ingest_table_kafka,
            _ingest_table_kinesis,
        )

        errs: list[tuple[str, Exception]] = []
        for t in self.tables.values():
            conn = getattr(t, "connector", None)
            if not conn:
                continue
            # one failing table must not halt ingestion for the others
            # (ADVICE r8: a mid-loop raise aborted every later connector
            # table in the same poll); errors re-raise after the sweep
            try:
                if "kafka" in conn:
                    _ingest_table_kafka(self, t)
                elif "kinesis" in conn:
                    _ingest_table_kinesis(self, t)
                elif "mqtt" in conn:
                    from risingwave_spark.frontend import _ingest_table_mqtt

                    _ingest_table_mqtt(self, t)
                elif "nats" in conn:
                    from risingwave_spark.frontend import _ingest_table_nats

                    _ingest_table_nats(self, t)
                elif "google_pubsub" in conn:
                    from risingwave_spark.frontend import _ingest_table_pubsub

                    _ingest_table_pubsub(self, t)
                elif "pulsar" in conn:
                    from risingwave_spark.frontend import _ingest_table_pulsar

                    _ingest_table_pulsar(self, t)
                elif "pgcdc" in conn:
                    from risingwave_spark.frontend import _ingest_table_pgcdc

                    _ingest_table_pgcdc(self, t)
                elif "mysqlcdc" in conn:
                    from risingwave_spark.frontend import _ingest_table_mysqlcdc

                    _ingest_table_mysqlcdc(self, t)
                elif "cituscdc" in conn:
                    from risingwave_spark.frontend import _ingest_table_cituscdc

                    _ingest_table_cituscdc(self, t)
                elif "sqlservercdc" in conn:
                    from risingwave_spark.frontend import (
                        _ingest_table_sqlservercdc,
                    )

                    _ingest_table_sqlservercdc(self, t)
                elif "mongocdc" in conn:
                    from risingwave_spark.frontend import _ingest_table_mongocdc

                    _ingest_table_mongocdc(self, t)
                else:
                    _ingest_table_files(self, t)
            except Exception as e:  # noqa: BLE001
                errs.append((t.name, e))
        if errs:
            if len(errs) > 1:
                names = ", ".join(n for n, _ in errs)
                raise RuntimeError(
                    f"poll_sources: ingest failed for tables [{names}]; "
                    f"first error from {errs[0][0]!r} follows"
                ) from errs[0][1]
            raise errs[0][1]

    def create_subscription(self, name: str, mv_name: str, from_beginning: bool = False):
        """CREATE SUBSCRIPTION ... FROM mv (reference
        `create_subscription.rs`): turns on the MV's changelog log and
        returns a durable named cursor over it. `Subscription.fetch()` →
        (pending diff chunks, ack token); `ack(token)` commits — the
        cursor survives restarts (re-calling this with the same name
        resumes, it does not rewind)."""
        from risingwave_spark.streaming.subscription import Subscription

        h = self.mv_handles[mv_name]
        h.view.emit_changelog = True
        return Subscription(self.spark, h.view.changelog_dir, name, from_beginning)

    # ---- webhook listener -------------------------------------------
    def start_webhook_server(self, host: str = "127.0.0.1", port: int = 0):
        """Start the HTTP ingestion listener (reference
        `webhook/mod.rs:221-260` WebhookService::serve — route
        POST /webhook/<db>/<schema>/<table>). port=0 binds an ephemeral
        port; returns (host, port). One listener serves every webhook
        table, exactly like the reference's single service."""
        if self._webhook_server is None:
            from risingwave_spark.sources.webhook import WebhookServer

            self._webhook_server = WebhookServer(self, host, port)
        return (self._webhook_server.host, self._webhook_server.port)

    def stop_webhook_server(self) -> None:
        if self._webhook_server is not None:
            self._webhook_server.close()
            self._webhook_server = None

    # ---- pgwire front door ------------------------------------------
    def start_pg_server(self, host: str = "127.0.0.1", port: int = 0,
                        user: str = "root", password: str = "",
                        auth: str = "trust", tls: bool = False):
        """Start the Postgres-wire front door (reference
        `src/utils/pgwire/src/pg_server.rs` — the frontend's primary
        UX is psql over the v3 protocol). Any PG client connects and
        every statement routes through `Engine.sql` (pg_catalog compat
        included, so `\\d`-style introspection works). port=0 binds an
        ephemeral port; returns (host, port). auth: trust | password |
        md5 | scram-sha-256 | scram-sha-256-plus (the -plus mode needs
        tls=True: genuine TLS with a self-signed session cert, channel
        binding per RFC 5929 tls-server-end-point)."""
        if self._pg_server is None:
            from risingwave_spark.pgserver import PgWireServer

            self._pg_server = PgWireServer(
                self, host, port, user=user, password=password,
                auth=auth, tls=tls,
            ).start()
        return (self._pg_server.host, self._pg_server.port)

    def stop_pg_server(self) -> None:
        if self._pg_server is not None:
            self._pg_server.stop()
            self._pg_server = None

    # ---- queries ---------------------------------------------------
    def sql(self, text: str) -> DataFrame:
        """The reference's front door, as SQL text (handler dispatch
        `src/frontend/src/handler/mod.rs:248-260`): CREATE TABLE /
        CREATE MATERIALIZED VIEW ... AS SELECT / DROP / INSERT / UPDATE /
        DELETE route into this engine's runtime (frontend.py); everything
        else is ad-hoc batch SQL delegated to Catalyst, with PG-flavored
        spellings (:: casts, ~, now(), string_agg, ...) rewritten first
        so reference query text runs unchanged (functions/pgsql.py)."""
        from risingwave_spark import frontend

        return frontend.execute(self, text)
