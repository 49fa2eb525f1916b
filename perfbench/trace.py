"""Spans around the engine's layer entry points, for the traced run.

The tracer wraps functions from outside the engine (no engine file
changes): each call records one span — name, start, end, parent span and
statement id — in memory; `dump` writes them out when the run ends.
A statement id is the index of the root span (one pgwire query); nested
spans inherit it. A layer's self time is its span's duration minus the
durations of its direct children (children nest within their parent on
the same thread, so they never overlap).

Every Engine.sql call also sets a Spark job group named after its
statement, so Spark's status tracker attributes jobs, stages and tasks to
statement kinds.
"""

from __future__ import annotations

import functools
import json
import statistics
import threading
import time

DML = ("insert", "update", "delete")
KINDS = DML + ("select",)
JOB_GROUP = "perfbench-{}"


def verb(sql: str) -> str:
    head = sql.lstrip().split(None, 1)
    return head[0].lower() if head else ""


class _TimedLock:
    """Stand-in for the pgwire server's statement lock that records each
    acquire as a `pgserver.lock_wait` span."""

    def __init__(self, tracer: "Tracer", lock):
        self._tracer, self._lock = tracer, lock

    def acquire(self, *a, **k):
        idx = self._tracer.begin("pgserver.lock_wait")
        try:
            return self._lock.acquire(*a, **k)
        finally:
            self._tracer.end(idx)

    def release(self) -> None:
        self._lock.release()

    def __enter__(self):
        return self.acquire()

    def __exit__(self, *exc) -> None:
        self._lock.release()


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        # [name, start_ns, end_ns, parent index, statement id, attrs]
        self.spans: list[list] = []
        self.kind_of: dict[int, str] = {}  # statement id -> SQL verb
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._undo: list[tuple] = []

    # ---------------------------------------------------------- spans
    def begin(self, name: str, **attrs) -> int:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        with self._lock:
            idx = len(self.spans)
            parent = stack[-1] if stack else -1
            stmt = self.spans[parent][4] if parent >= 0 else idx
            self.spans.append([name, time.perf_counter_ns(), 0, parent, stmt, attrs])
        stack.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx][2] = time.perf_counter_ns()
        self._tls.stack.pop()

    def wrap(self, owner, attr: str, name: str, attrs=None, enter=None) -> None:
        """Replace owner.attr by a wrapper recording a `name` span per call;
        `attrs(*args)` adds span attributes, `enter(span_index, *args)`
        runs inside the span before the call."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **k):
            idx = tracer.begin(name, **(attrs(*a, **k) if attrs else {}))
            try:
                if enter is not None:
                    enter(idx, *a, **k)
                return orig(*a, **k)
            finally:
                tracer.end(idx)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    # ------------------------------------------------- instrumentation
    def install(self, eng) -> None:
        """Wrap the layer entry points the benchmark's metrics name."""
        from risingwave_spark import api, frontend, sqlparse
        from risingwave_spark.functions import pgsql
        from risingwave_spark.streaming import join, mv

        sc = self.spark.sparkContext

        def sql_enter(idx, _eng, text, *a, **k):
            stmt = self.spans[idx][4]
            if stmt not in self.kind_of:
                self.kind_of[stmt] = verb(text)
                sc.setJobGroup(JOB_GROUP.format(stmt), self.kind_of[stmt])

        srv = eng._pg_server
        self.wrap(srv._srv.RequestHandlerClass, "_simple_query", "pgserver.query")
        self._undo.append((srv, "_lock", srv._lock))
        srv._lock = _TimedLock(self, srv._lock)
        self.wrap(api.Engine, "sql", "frontend", enter=sql_enter)
        for m in ("insert", "update", "delete"):
            self.wrap(api.Engine, m, "api.dml")
        self.wrap(sqlparse, "classify_ast", "sqlparse.classify")
        # frontend binds pg_to_spark_sql at import; api imports it per call
        rewrite = pgsql.pg_to_spark_sql
        self.wrap(pgsql, "pg_to_spark_sql", "pgsql.rewrite")
        frontend.pg_to_spark_sql = pgsql.pg_to_spark_sql
        self._undo.append((frontend, "pg_to_spark_sql", rewrite))
        self.wrap(mv.ChunkedState, "fold", "mv.fold")
        self.wrap(mv.ChunkedState, "read", "mv.read")
        self.wrap(mv.ChunkedState, "compact", "mv.compact")
        self.wrap(mv._BucketedMvTable, "read", "mv.read")
        self.wrap(
            mv._BucketedMvTable, "overwrite_buckets", "mv.overwrite",
            attrs=lambda t, df, touched, *a, **k: {
                "ratio": 1.0 if touched is None else len(touched) / max(t.n_buckets, 1)
            },
        )
        self.wrap(mv._RetractableView, "apply_batch", "mv.apply")
        self.wrap(api.TopNReadMv, "apply_batch", "mv.apply")
        self.wrap(join.RetractableStreamJoin, "apply", "join.apply")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # ----------------------------------------------------------- output
    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, s, e, parent, stmt, attrs) in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": name, "start_ns": s, "end_ns": e,
                                    "parent": parent, "stmt": stmt, **attrs}) + "\n")

    def _spark_counts(self) -> dict[str, float]:
        st = self.spark.sparkContext.statusTracker()
        per_kind: dict[str, list[tuple[int, int, int]]] = {k: [] for k in KINDS}
        for stmt, kind in self.kind_of.items():
            if kind not in per_kind:
                continue
            jobs = st.getJobIdsForGroup(JOB_GROUP.format(stmt))
            stages: set[int] = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for s in stages:
                info = st.getStageInfo(s)
                if info is not None:
                    tasks += info.numTasks
            per_kind[kind].append((len(jobs), len(stages), tasks))
        out = {}
        for kind, rows in per_kind.items():
            for i, what in enumerate(("jobs", "stages", "tasks")):
                out[f"spark.{what}_per_stmt.{kind}"] = (
                    statistics.fmean(r[i] for r in rows) if rows else 0.0)
        return out

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer figures from the recorded spans. Times are self time
        in ms per statement; the write-path layers (api, mv apply, fold,
        overwrite, compact, join) divide by DML statements only."""
        spans = [s for s in self.spans if s[2]]
        child = [0] * len(self.spans)
        for name, s, e, parent, _stmt, _a in spans:
            if parent >= 0:
                child[parent] += e - s
        self_ms: dict[str, float] = {}
        calls: dict[str, int] = {}
        lock_waits: list[float] = []
        ratios: list[float] = []
        for i, (name, s, e, _p, _stmt, attrs) in enumerate(self.spans):
            if not e:
                continue
            self_ms[name] = self_ms.get(name, 0.0) + (e - s - child[i]) / 1e6
            calls[name] = calls.get(name, 0) + 1
            if name == "pgserver.lock_wait":
                lock_waits.append((e - s) / 1e6)
            if "ratio" in attrs:
                ratios.append(attrs["ratio"])
        n_stmt = max(calls.get("pgserver.query", 0), 1)
        n_dml = max(sum(1 for k in self.kind_of.values() if k in DML), 1)

        def per(name: str, n: int) -> float:
            return self_ms.get(name, 0.0) / n

        q = statistics.quantiles(lock_waits, n=10) if len(lock_waits) > 1 else [0.0] * 9
        out = {
            "pgserver.lock_wait_ms_p50": statistics.median(lock_waits) if lock_waits else 0.0,
            "pgserver.lock_wait_ms_p90": q[8],
            "pgserver.self_ms": per("pgserver.query", n_stmt),
            "sqlparse.classify_ms": per("sqlparse.classify", n_stmt),
            "sqlparse.calls": calls.get("sqlparse.classify", 0) / n_stmt,
            "frontend.self_ms": per("frontend", n_stmt),
            "pgsql.rewrite_ms": per("pgsql.rewrite", n_stmt),
            "pgsql.calls": calls.get("pgsql.rewrite", 0) / n_stmt,
            "api.dml_self_ms": per("api.dml", n_dml),
            "mv.fold_ms": per("mv.fold", n_dml),
            "mv.fold_calls": calls.get("mv.fold", 0) / n_dml,
            "mv.read_ms": per("mv.read", n_stmt),
            "mv.apply_ms": per("mv.apply", n_dml),
            "mv.overwrite_ms": per("mv.overwrite", n_dml),
            "mv.buckets_touched_ratio": statistics.fmean(ratios) if ratios else 0.0,
            "mv.compact_ms": per("mv.compact", n_dml),
            "mv.compact_calls": calls.get("mv.compact", 0) / n_dml,
            "join.apply_ms": per("join.apply", n_dml),
            "join.apply_calls": calls.get("join.apply", 0) / n_dml,
            "trace.spans": float(len(spans)),
        }
        out.update(self._spark_counts())
        return out
