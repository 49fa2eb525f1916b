"""Delta-folded MVs (`ValueAggMv`, `ProjectMv`): count/sum aggregates and
projections over an MV fold each batch into the MV itself and keep no
copy of their input. These tests pin redelivery (the applied pointer in
the MANIFEST), reopening a warehouse written without a state kind, that
the hidden per-group columns never leak, the fold count of the write
path, and what EXPLAIN prints."""

from __future__ import annotations

import json
import os

import pytest

from risingwave_spark import frontend
from risingwave_spark.api import Edge, Engine
from risingwave_spark.streaming.mv import (
    ChunkedState,
    MaterializedView,
    ProjectMv,
    ValueAggMv,
    _BucketedMvTable,
    with_ops,
)

AGG = "SELECT k, count(*) AS n, count(v) AS nv, sum(v) AS s FROM t GROUP BY k"


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def _new_engine(spark, tmp_path) -> Engine:
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE TABLE t (id int8 PRIMARY KEY, k int8, v int8)")
    eng.sql("INSERT INTO t VALUES " + ",".join(f"({i},{i % 4},{i % 7})" for i in range(40)))
    return eng


def _manifest(wh, mv_dir: str) -> dict:
    with open(os.path.join(wh, mv_dir, "mv", "MANIFEST")) as f:
        return json.load(f)


def _crash_before_flip(monkeypatch, at: int) -> list:
    """Make the `at`-th MV write raise inside its `before_flip`: the epoch
    is written, the manifest does not flip."""
    calls: list = []
    orig = _BucketedMvTable.overwrite_buckets

    def crashing(self, df, touched, before_flip=None, applied=None):
        calls.append(applied)
        if len(calls) == at:

            def boom(_rows):
                raise RuntimeError("crash before flip")

            before_flip = boom
        return orig(self, df, touched, before_flip=before_flip, applied=applied)

    monkeypatch.setattr(_BucketedMvTable, "overwrite_buckets", crashing)
    return calls


def test_value_agg_redelivery_applies_a_batch_once(spark, tmp_path, monkeypatch):
    """A delta is not idempotent: a batch whose write crashed before the
    manifest flip is applied on redelivery, and a batch whose flip
    committed is skipped by the MANIFEST's applied pointer."""
    eng = _new_engine(spark, tmp_path)
    eng.sql(f"CREATE MATERIALIZED VIEW a AS {AGG}")
    view = eng.mv_handles["a"].view
    assert isinstance(view, ValueAggMv)
    extra = [(100, 1, 5), (101, 1, None), (102, 9, 3)]
    batch = with_ops(spark.createDataFrame(extra, "id long, k long, v long"), 1)
    spark.createDataFrame(extra, "id long, k long, v long").createOrReplaceTempView("extra")
    expect = _rows(eng.sql(
        "SELECT k, count(*) AS n, count(v) AS nv, sum(v) AS s "
        "FROM (SELECT * FROM t UNION ALL SELECT * FROM extra) GROUP BY k"
    ))
    before = _rows(view.result())
    _crash_before_flip(monkeypatch, at=1)
    with pytest.raises(RuntimeError, match="crash before flip"):
        view.apply_batch(batch, batch_id=7, batch_ns="src")
    assert _rows(view.result()) == before
    monkeypatch.undo()
    view.apply_batch(batch, batch_id=7, batch_ns="src")
    assert _rows(view.result()) == expect
    assert _manifest(tmp_path / "wh", "mv_a")["applied"] == {"src": 7}
    view.apply_batch(batch, batch_id=7, batch_ns="src")  # committed: skipped
    view.apply_batch(batch, batch_id=6, batch_ns="src")
    assert _rows(view.result()) == expect
    # the pointer survives a reopen
    reopened = Engine.open(spark, str(tmp_path / "wh"))
    reopened.mv_handles["a"].view.apply_batch(batch, batch_id=7, batch_ns="src")
    assert _rows(reopened.sql("SELECT * FROM a")) == expect


def test_value_agg_backfill_crash_mid_slice_resumes(spark, tmp_path, monkeypatch):
    """`SET rw.backfill_chunks = 3`: a crash inside slice 1's write leaves
    slice 0 committed; the re-issued CREATE on a reopened engine applies
    slices 1 and 2 once each, and a redelivered committed slice changes
    nothing."""
    wh = str(tmp_path / "wh")
    eng = _new_engine(spark, tmp_path)
    ddl = f"CREATE MATERIALIZED VIEW a AS {AGG}"
    try:
        eng.sql("SET rw.backfill_chunks = 3")
        calls = _crash_before_flip(monkeypatch, at=2)
        with pytest.raises(RuntimeError, match="crash before flip"):
            eng.sql(ddl)
        assert calls == [("__backfill", 0), ("__backfill", 1)]
        assert _manifest(wh, "mv_a")["applied"] == {"__backfill": 0}
        monkeypatch.undo()
        eng = Engine.open(spark, wh)
        eng.sql(ddl)
    finally:
        eng.sql("SET rw.backfill_chunks = 1")
    view = eng.mv_handles["a"].view
    assert isinstance(view, ValueAggMv)
    assert _manifest(wh, "mv_a")["applied"] == {"__backfill": 2}
    expect = _rows(eng.sql(AGG))
    assert _rows(eng.sql("SELECT * FROM a")) == expect
    snap = eng.tables["t"].snapshot()
    view.apply_batch(with_ops(snap, 1), batch_id=1, batch_ns="__backfill")
    assert _rows(eng.sql("SELECT * FROM a")) == expect
    eng.sql("DELETE FROM t WHERE k = 1")
    assert _rows(eng.sql("SELECT * FROM a")) == _rows(eng.sql(AGG))


def test_mv_written_without_a_state_kind_stays_materialized(spark, tmp_path, monkeypatch):
    """An agg MV written on the materialized-input path (a MANIFEST
    without a kind, as older builds write it) reopens on that path and
    stays correct under DML."""
    wh = str(tmp_path / "wh")
    eng = _new_engine(spark, tmp_path)
    monkeypatch.setattr(frontend, "_mv_state_kind", lambda *a, **k: ("materialized", []))
    eng.sql(f"CREATE MATERIALIZED VIEW a AS {AGG}")
    eng.sql("INSERT INTO t VALUES (100, 1, 5)")
    assert isinstance(eng.mv_handles["a"].view, MaterializedView)
    assert "kind" not in _manifest(wh, "mv_a")
    monkeypatch.undo()
    eng = Engine.open(spark, wh)
    view = eng.mv_handles["a"].view
    assert isinstance(view, MaterializedView) and view.state is not None
    eng.sql("INSERT INTO t VALUES (101, 2, NULL), (102, 5, 1)")
    eng.sql("UPDATE t SET v = v + 1 WHERE k = 1")
    eng.sql("DELETE FROM t WHERE k = 3")
    assert _rows(eng.sql("SELECT * FROM a")) == _rows(eng.sql(AGG))
    assert "kind" not in _manifest(wh, "mv_a")


def test_hidden_state_columns_never_leak(spark, tmp_path):
    """`__rw_*` columns stay inside the materialization: SELECT *,
    information_schema.columns, a subscription's changelog chunk and a
    downstream MV's input show only the visible columns."""
    eng = _new_engine(spark, tmp_path)
    eng.sql(f"CREATE MATERIALIZED VIEW a AS {AGG}")
    eng.sql("CREATE MATERIALIZED VIEW a2 AS SELECT * FROM a WHERE n > 5")
    assert isinstance(eng.mv_handles["a2"].view, ProjectMv)
    visible = ["k", "n", "nv", "s"]
    got: list = []
    eng._producer("a").downstream.append(Edge(None, lambda b, i, ns: got.append(b.columns)))
    sub = eng.create_subscription("s", "a")
    eng.sql("INSERT INTO t VALUES (100, 1, 5), (101, 9, NULL)")
    assert got == [[*visible, "__op"]]
    df, _token = sub.fetch()
    assert [c for c in df.columns if c.startswith("__rw")] == []
    assert eng.sql("SELECT * FROM a").columns == visible
    assert eng.sql("SELECT * FROM a2").columns == visible
    cols = eng.sql(
        "SELECT column_name FROM information_schema.columns WHERE table_name = 'a'"
    ).collect()
    assert sorted(r[0] for r in cols) == sorted(visible)
    assert _rows(eng.sql("SELECT * FROM a2")) == _rows(
        eng.sql(f"SELECT * FROM ({AGG}) WHERE n > 5")
    )


# the benchmark's DDL (perfbench/workload.py), copied so this test pins
# the engine and not the benchmark
BENCH_DDL = [
    "CREATE TABLE events (event_id int8 PRIMARY KEY, user_id int8, "
    "event_type int8, amount int8)",
    "CREATE TABLE orders (o_id int8 PRIMARY KEY, o_user int8, o_status int8)",
    "CREATE TABLE lineitem (l_id int8 PRIMARY KEY, l_oid int8, l_qty int8, "
    "l_price int8)",
]
BENCH_MVS = {
    "mv_user": "SELECT user_id, count(*) AS n, sum(amount) AS total FROM events "
    "GROUP BY user_id",
    "mv_type": "SELECT event_type, count(*) AS n, sum(amount) AS total FROM events "
    "GROUP BY event_type",
    "top_users": "SELECT user_id, total FROM mv_user ORDER BY total DESC, user_id "
    "LIMIT 10",
    "mv_order_rev": "SELECT o.o_status AS o_status, count(*) AS n, "
    "sum(l.l_qty * l.l_price) AS rev FROM orders o JOIN lineitem l "
    "ON o.o_id = l.l_oid GROUP BY o.o_status",
}


def test_benchmark_dml_folds_only_tables_and_join_sides(spark, tmp_path, monkeypatch):
    """With the benchmark's four MVs, a DML statement on `events` runs one
    ChunkedState.fold (the table's) and an INSERT into `lineitem` two
    (the table's and the join side's). No delta MV has a state dir."""
    wh = str(tmp_path / "wh")
    eng = Engine(spark, wh)
    for s in BENCH_DDL:
        eng.sql(s)
    eng.sql("INSERT INTO events VALUES " + ",".join(
        f"({i},{i % 13},{i % 5},{i % 17})" for i in range(60)))
    eng.sql("INSERT INTO orders VALUES " + ",".join(f"({i},{i % 7},{i % 3})" for i in range(10)))
    eng.sql("INSERT INTO lineitem VALUES " + ",".join(
        f"({i},{i % 10},{i % 4},{i % 9})" for i in range(30)))
    for name, body in BENCH_MVS.items():
        eng.sql(f"CREATE MATERIALIZED VIEW {name} AS {body}")
    folds: list = []
    orig = ChunkedState.fold

    def counting(self, *a, **k):
        folds.append(self.base)
        return orig(self, *a, **k)

    monkeypatch.setattr(ChunkedState, "fold", counting)
    for stmt, n in (
        ("INSERT INTO events VALUES (100, 1, 2, 30), (101, 14, 0, 4)", 1),
        ("DELETE FROM events WHERE user_id = 3", 1),
        ("UPDATE events SET amount = amount + 1 WHERE event_type = 2", 1),
        ("INSERT INTO lineitem VALUES (100, 3, 2, 2)", 2),
    ):
        folds.clear()
        eng.sql(stmt)
        assert len(folds) == n, (stmt, folds)
    for d in ("mv_mv_user", "mv_mv_type", "mv_top_users", os.path.join("jmv_mv_order_rev", "agg")):
        assert os.path.isdir(os.path.join(wh, d))
        assert not os.path.exists(os.path.join(wh, d, "state")), d
    for name, body in BENCH_MVS.items():
        assert _rows(eng.sql(f"SELECT * FROM {name}")) == _rows(eng.sql(body)), name


def test_explain_names_the_state_kind(spark, tmp_path):
    """EXPLAIN prints the state kind the classifier gives: value state
    for the count/sum aggregates, stateless for the projection over an
    MV, materialized input for min/max."""
    eng = Engine(spark, str(tmp_path / "wh"))
    for s in BENCH_DDL:
        eng.sql(s)
    eng.sql(f"CREATE MATERIALIZED VIEW mv_user AS {BENCH_MVS['mv_user']}")

    def plan(name: str, body: str) -> str:
        return "\n".join(
            r.plan for r in eng.sql(f"EXPLAIN CREATE MATERIALIZED VIEW {name} AS {body}").collect()
        )

    for name in ("mv_user", "mv_type", "mv_order_rev"):
        p = plan(name + "_x", BENCH_MVS[name])
        assert "HashAgg { value state }" in p and "MaterializedGroupAgg" not in p, p
    p = plan("top_x", BENCH_MVS["top_users"])
    assert "Project { stateless }" in p and "RetractableRowView" not in p, p
    p = plan("mm", "SELECT user_id, min(amount) AS lo, max(amount) AS hi FROM events GROUP BY user_id")
    assert "MaterializedGroupAgg { affected-group recompute, bucketed state }" in p, p
