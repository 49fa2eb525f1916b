"""One DML statement folds the independent MV branches of its table at
the same time (`Engine._fan_out`), and each MV computes its new rows once
(`_RetractableView._splice`). These tests pin the grouping rule, that
every shape still matches a from-scratch evaluation, the shared-session
guarantees (ANSI flag, shuffle partitions, job group), error handling,
the changelog a consumer sees, and the job counts the write path pays."""

from __future__ import annotations

import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from risingwave_spark.api import Edge, Engine
from risingwave_spark.session import spark_jobs


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _dml_rounds(eng: Engine) -> None:
    """INSERT, UPDATE and DELETE that each touch several groups."""
    eng.sql("INSERT INTO t VALUES " + ",".join(f"({i},{i % 4},{i * 3 % 11})" for i in range(40, 70)))
    eng.sql("UPDATE t SET v = v + 5 WHERE id % 3 = 0")
    eng.sql("DELETE FROM t WHERE k = 2 AND id < 50")


def _new_engine(spark, tmp_path) -> Engine:
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE TABLE t (id int8 PRIMARY KEY, k int8, v int8)")
    eng.sql("INSERT INTO t VALUES " + ",".join(f"({i},{i % 4},{i % 7})" for i in range(40)))
    return eng


def _owners(groups) -> list[list[str]]:
    return [[e.owner for e in g] for g in groups]


def _record_threads(eng: Engine, table: str) -> dict[str, set]:
    """Wrap `table`'s edges to record the thread each owner folds on."""
    seen: dict[str, set] = {}
    for e in eng.tables[table].downstream:
        fold = e._fold

        def traced(b, i, ns, fold=fold, owner=e.owner):
            seen.setdefault(owner, set()).add(threading.get_ident())
            fold(b, i, ns)

        e._fold = traced
    return seen


def test_diamond_folds_beside_an_independent_branch(spark, tmp_path):
    """Diamond: t → a, t → b, (a ⋈ b) → c. The a and b edges reach c
    both, so they form one group in downstream order; d shares nothing
    and folds on another thread. Every view matches a from-scratch
    evaluation after each DML verb."""
    eng = _new_engine(spark, tmp_path)
    eng.sql("CREATE MATERIALIZED VIEW a AS SELECT k AS ka, count(*) AS n FROM t GROUP BY ka")
    eng.sql("CREATE MATERIALIZED VIEW b AS SELECT k AS kb, sum(v) AS s FROM t GROUP BY kb")
    eng.sql(
        "CREATE MATERIALIZED VIEW c AS SELECT ka, sum(n) AS n, sum(s) AS s "
        "FROM a JOIN b ON ka = kb GROUP BY ka"
    )
    eng.sql("CREATE MATERIALIZED VIEW d AS SELECT k, max(v) AS mx FROM t GROUP BY k")
    edges = eng.tables["t"].downstream
    assert _owners(eng._edge_groups(edges)) == [["a", "b"], ["d"]]
    seen = _record_threads(eng, "t")
    _dml_rounds(eng)
    assert seen["a"] == seen["b"]
    assert seen["a"].isdisjoint(seen["d"])
    expect = {
        "a": "SELECT k, count(*) AS n FROM t GROUP BY k",
        "b": "SELECT k, sum(v) AS s FROM t GROUP BY k",
        "c": "SELECT k, count(*) AS n, sum(v) AS s FROM t GROUP BY k",
        "d": "SELECT k, max(v) AS mx FROM t GROUP BY k",
    }
    for mv, body in expect.items():
        assert _rows(eng.sql(f"SELECT * FROM {mv}")) == _rows(eng.sql(body)), mv


def test_self_join_and_union_arms_stay_in_one_group(spark, tmp_path):
    """Two edges owned by one MV — a self-join's two roles, a union's
    two arms over one table — always fold together, in order."""
    eng = _new_engine(spark, tmp_path)
    eng.sql(
        "CREATE MATERIALIZED VIEW sj AS SELECT t1.k AS k1, count(*) AS n "
        "FROM t t1 JOIN t t2 ON t1.k = t2.k GROUP BY k1"
    )
    eng.sql(
        "CREATE MATERIALIZED VIEW un AS SELECT id, v FROM t WHERE k = 0 "
        "UNION ALL SELECT id, v FROM t WHERE k = 1"
    )
    eng.sql("CREATE MATERIALIZED VIEW mx AS SELECT k, max(v) AS mx FROM t GROUP BY k")
    groups = _owners(eng._edge_groups(eng.tables["t"].downstream))
    assert groups == [["sj", "sj"], ["un", "un"], ["mx"]]
    _dml_rounds(eng)
    assert _rows(eng.sql("SELECT * FROM sj")) == _rows(
        eng.sql(
            "SELECT t1.k AS k, count(*) AS n FROM t t1 JOIN t t2 ON t1.k = t2.k GROUP BY t1.k"
        )
    )
    assert _rows(eng.sql("SELECT * FROM un")) == _rows(
        eng.sql("SELECT id, v FROM t WHERE k IN (0, 1)")
    )
    assert _rows(eng.sql("SELECT * FROM mx")) == _rows(
        eng.sql("SELECT k, max(v) AS mx FROM t GROUP BY k")
    )


def test_edge_groups_merge_transitively_and_on_unknown_owner(spark, tmp_path):
    eng = _new_engine(spark, tmp_path)
    eng.sql("CREATE MATERIALIZED VIEW a AS SELECT k, count(*) AS n FROM t GROUP BY k")
    eng.sql("CREATE MATERIALIZED VIEW b AS SELECT k, sum(v) AS s FROM t GROUP BY k")
    eng.sql("CREATE MATERIALIZED VIEW x AS SELECT k, n FROM a")
    ea, eb = eng.tables["t"].downstream
    ex = Edge("x", None)  # reaches x only; x is also reached from a
    probe = Edge(None, None)
    assert _owners(eng._edge_groups([ea, eb, ex])) == [["a", "x"], ["b"]]
    assert _owners(eng._edge_groups([eb, probe, ea])) == [["b", None, "a"]]


def test_concurrent_folds_restore_ansi_and_batch_stays_strict(spark, tmp_path):
    """Six non-strict MVs (more than the cores) fold on concurrent
    threads under a short switch interval: each pads NULL for its
    division by zero, the session's ANSI value is what it was, and an
    ad-hoc division by zero still raises."""
    eng = _new_engine(spark, tmp_path)
    for i in range(6):
        eng.sql(
            f"CREATE MATERIALIZED VIEW z{i} AS SELECT k, sum(v / (v - v) + {i}) AS bad, "
            "count(*) AS n FROM t GROUP BY k"
        )
    before = spark.conf.get("spark.sql.ansi.enabled")
    assert len(eng._edge_groups(eng.tables["t"].downstream)) == 6
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        _dml_rounds(eng)
    finally:
        sys.setswitchinterval(switch)
    assert spark.conf.get("spark.sql.ansi.enabled") == before
    for i in range(6):
        assert _rows(eng.sql(f"SELECT k, bad, n FROM z{i}")) == _rows(
            eng.sql("SELECT k, CAST(NULL AS DOUBLE) AS bad, count(*) AS n FROM t GROUP BY k")
        )
    with pytest.raises(Exception, match="(?i)divide|division"):
        eng.sql("SELECT 1/0 AS x").collect()


def test_streaming_plans_are_non_strict_whatever_the_thread_timing(spark, tmp_path):
    """A union arm and a join's pushed-down ON filter divide by zero
    beside four non-strict MVs folding on other threads, under a short
    switch interval. The arm pads NULL and the filter drops the row at
    backfill and after every statement, and every branch thread sees
    ANSI off while the batch propagates: no plan's strictness depends on
    whether another thread's non-strict span happened to be open."""
    eng = _new_engine(spark, tmp_path)
    eng.sql("CREATE TABLE s (sk int8 PRIMARY KEY, w int8)")
    eng.sql("INSERT INTO s VALUES (0, 1), (1, 1), (2, 1), (3, 1), (9, 1)")
    for i in range(4):
        eng.sql(
            f"CREATE MATERIALIZED VIEW z{i} AS SELECT k, sum(v / (v - v) + {i}) AS bad "
            "FROM t GROUP BY k"
        )
    # rows with v = 3 divide by zero (already at backfill: id 24 has k 0, v 3)
    eng.sql(
        "CREATE MATERIALIZED VIEW un AS SELECT id, 10 / (v - 3) AS q FROM t WHERE k = 0 "
        "UNION ALL SELECT id, CAST(v AS double) AS q FROM t WHERE k = 1"
    )
    eng.sql(
        "CREATE MATERIALIZED VIEW jf AS SELECT s.sk AS sk, count(*) AS n "
        "FROM s JOIN t ON s.sk = t.k AND 10 / (t.v - 3) > 0 GROUP BY s.sk"
    )
    ansi: list = []

    def probe(b, i, ns):
        ansi.append(spark.conf.get("spark.sql.ansi.enabled"))

    eng.tables["t"].downstream += [Edge(f"p{i}", probe) for i in range(2)]
    assert len(eng._edge_groups(eng.tables["t"].downstream)) == 8
    expect = {
        "un": "SELECT id, CASE WHEN v <> 3 THEN 10 / (v - 3) END AS q FROM t WHERE k = 0 "
        "UNION ALL SELECT id, CAST(v AS double) AS q FROM t WHERE k = 1",
        "jf": "SELECT s.sk AS sk, count(*) AS n FROM s JOIN t ON s.sk = t.k AND t.v > 3 "
        "GROUP BY s.sk",
    }

    def check(when: str) -> None:
        for mv, body in expect.items():
            assert _rows(eng.sql(f"SELECT * FROM {mv}")) == _rows(eng.sql(body)), (mv, when)

    check("backfill")
    before = spark.conf.get("spark.sql.ansi.enabled")
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for stmt in (
            "INSERT INTO t VALUES " + ",".join(f"({i},{i % 4},{i * 3 % 11})" for i in range(40, 70)),
            "UPDATE t SET v = 3 WHERE id % 5 = 0",
            "DELETE FROM t WHERE k = 1 AND id < 30",
        ):
            eng.sql(stmt)
            check(stmt)
    finally:
        sys.setswitchinterval(switch)
    assert ansi == ["false"] * 6
    assert spark.conf.get("spark.sql.ansi.enabled") == before
    with pytest.raises(Exception, match="(?i)divide|division"):
        eng.sql("SELECT 1/0 AS x").collect()


def test_branch_error_is_raised_after_every_branch_finished(spark, tmp_path):
    """The first failing group's error surfaces only once every other
    group has finished its fold."""
    eng = _new_engine(spark, tmp_path)
    finished = []

    def boom(b, i, ns):
        raise RuntimeError("branch failed")

    def slow(b, i, ns):
        time.sleep(1.0)
        finished.append(threading.get_ident())

    eng.tables["t"].downstream += [Edge("fails", boom), Edge("slow", slow)]
    with pytest.raises(RuntimeError, match="branch failed"):
        eng.sql("INSERT INTO t VALUES (100, 1, 1)")
    assert len(finished) == 1 and finished[0] != threading.get_ident()
    # the table fold landed before the fan-out
    assert eng.sql("SELECT count(*) FROM t WHERE id = 100").first()[0] == 1


def test_branch_threads_carry_the_statement_job_group(spark, tmp_path):
    eng = _new_engine(spark, tmp_path)
    sc = spark.sparkContext
    groups: list = []
    seen: list = []

    def probe(b, i, ns):
        groups.append(sc.getLocalProperty("spark.jobGroup.id"))
        seen.append(threading.get_ident())

    eng.tables["t"].downstream += [Edge("p1", probe), Edge("p2", probe)]
    with spark_jobs(spark) as ids:
        group = sc.getLocalProperty("spark.jobGroup.id")
        eng.sql("INSERT INTO t VALUES (100, 1, 1)")
    assert groups == [group, group] and len(set(seen)) == 2
    assert ids  # the table fold's chunk write


def test_parallelism_mv_folds_alone_and_restores_shuffle_partitions(spark, tmp_path):
    """An MV with its own PARALLELISM folds under its partition count
    while no other branch runs; the concurrent MVs see the session's
    value, and the session keeps it afterwards."""
    eng = _new_engine(spark, tmp_path)
    eng.sql("CREATE MATERIALIZED VIEW p AS SELECT k, count(*) AS n FROM t GROUP BY k")
    eng.sql("ALTER MATERIALIZED VIEW p SET PARALLELISM = 7")
    eng.sql("CREATE MATERIALIZED VIEW q AS SELECT k, sum(v) AS s FROM t GROUP BY k")
    eng.sql("CREATE MATERIALIZED VIEW r AS SELECT k, max(v) AS mx FROM t GROUP BY k")
    session = spark.conf.get("spark.sql.shuffle.partitions")
    assert session != "7"
    seen: dict[str, list] = {}
    for name in ("p", "q", "r"):
        view = eng.mv_handles[name].view
        fn = view._fn

        def observed(rows, fn=fn, name=name):
            seen.setdefault(name, []).append(spark.conf.get("spark.sql.shuffle.partitions"))
            return fn(rows)

        view._fn = observed
    _dml_rounds(eng)
    assert set(seen["p"]) == {"7"}
    assert set(seen["q"]) == set(seen["r"]) == {session}
    assert spark.conf.get("spark.sql.shuffle.partitions") == session
    assert _rows(eng.sql("SELECT * FROM p")) == _rows(
        eng.sql("SELECT k, count(*) AS n FROM t GROUP BY k")
    )


# ------------------------------------------------------------ changelog
def _capture(eng: Engine, mv: str) -> list:
    got: list = []
    eng._producer(mv).downstream.append(
        Edge(None, lambda b, i, ns: got.append(_rows(b.select("k", "n", "__op"))))
    )
    return got


def test_mv_on_mv_and_subscription_see_the_update_pair(spark, tmp_path):
    """The changelog an MV forwards and logs is −1 the affected groups'
    old rows, +1 their new rows — read back from the MV's epochs."""
    eng = _new_engine(spark, tmp_path)
    eng.sql("CREATE MATERIALIZED VIEW a AS SELECT k, count(*) AS n FROM t GROUP BY k")
    eng.sql("CREATE MATERIALIZED VIEW a2 AS SELECT k, n FROM a WHERE n > 5")
    sub = eng.create_subscription("s", "a")
    got = _capture(eng, "a")
    eng.sql("INSERT INTO t VALUES (100, 1, 0), (101, 1, 0), (102, 3, 0)")
    assert got == [[(1, 10, -1), (1, 12, 1), (3, 10, -1), (3, 11, 1)]]
    df, token = sub.fetch()
    assert _rows(df.select("k", "n", "__op")) == got[0]
    sub.ack(token)
    eng.sql("DELETE FROM t WHERE k = 3")
    assert got[1] == [(3, 11, -1)]
    assert _rows(sub.fetch()[0].select("k", "n", "__op")) == got[1]
    assert _rows(eng.sql("SELECT * FROM a2")) == [(0, 10), (1, 12), (2, 10)]


def test_changelog_is_logged_before_the_manifest_flips(spark, tmp_path):
    """A crash between the log write and the flip leaves the chunk on
    disk and the MV at its old epoch (redelivery then overwrites the
    chunk)."""
    eng = _new_engine(spark, tmp_path)
    eng.sql("CREATE MATERIALIZED VIEW a AS SELECT k, count(*) AS n FROM t GROUP BY k")
    sub = eng.create_subscription("s", "a")
    view = eng.mv_handles["a"].view
    before = _rows(view.result())

    def crash():
        raise OSError("crash before flip")

    view.mv._flip_manifest = crash
    with pytest.raises(OSError, match="crash before flip"):
        eng.sql("INSERT INTO t VALUES (100, 1, 0)")
    reopened = Engine.open(spark, str(tmp_path / "wh"))
    assert _rows(reopened.sql("SELECT * FROM a")) == before
    df, _token = sub.fetch()
    assert _rows(df.select("k", "n", "__op")) == [(1, 10, -1), (1, 11, 1)]


def test_fold_with_a_consumer_runs_the_recompute_once(spark, tmp_path):
    """With a downstream MV and a subscription on it, an MV's recompute
    runs once per fold: the MV epoch write. The changelog reads it back
    from files."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(n):
        acc.add(1)
        return n

    def per_k(rows):
        return rows.groupBy("k").agg(F.count(F.lit(1)).alias("n")).withColumn("n", counted("n"))

    eng = Engine(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame([(i, i % 4) for i in range(40)], "id long, k long")
    eng.create_table("t", base, pk="id")
    eng.create_materialized_view("a", "t", ["k"], per_k)
    eng.create_materialized_view("a2", "a", ["k"], lambda r: r.select("k", "n"))
    eng.create_subscription("s", "a")
    before = acc.value
    eng.insert("t", spark.createDataFrame([(100, 1), (101, 2)], "id long, k long"))
    assert acc.value - before == 2  # groups 1 and 2, once each
    assert _rows(eng.sql("SELECT * FROM a2")) == [(0, 10), (1, 11), (2, 11), (3, 10)]


# ------------------------------------------------------------ job counts
def test_spark_jobs_counts_the_block_and_its_threads(spark):
    from pyspark import InheritableThread

    outer = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
    with spark_jobs(spark) as ids:
        spark.range(10).repartition(2).collect()
    assert len(ids) >= 1
    with spark_jobs(spark) as none:
        spark.range(3)  # lazy: no job
    assert none == []
    with spark_jobs(spark) as threaded:
        th = InheritableThread(target=lambda: spark.range(5).repartition(2).collect())
        th.start()
        th.join(timeout=120)
        assert not th.is_alive()
    assert len(threaded) >= 1
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") == outer


def test_spark_jobs_never_passes_off_a_partial_count(spark, monkeypatch):
    """If the status tracker never reports the fence job, the count
    raises instead of returning the ids seen so far; an error inside the
    block propagates as itself. The caller's job group is restored
    either way."""
    import risingwave_spark.session as session

    sc = spark.sparkContext
    outer = sc.getLocalProperty("spark.jobGroup.id")

    class Blind:
        def getJobIdsForGroup(self, group):
            return []

    monkeypatch.setattr(session, "_FENCE_WAIT_S", 0.2)
    monkeypatch.setattr(sc, "statusTracker", lambda: Blind())
    with pytest.raises(TimeoutError):
        with spark_jobs(spark):
            spark.range(3).collect()
    assert sc.getLocalProperty("spark.jobGroup.id") == outer
    with pytest.raises(ZeroDivisionError):
        with spark_jobs(spark):
            1 / 0
    assert sc.getLocalProperty("spark.jobGroup.id") == outer


def test_command_tag_costs_no_spark_job(spark, tmp_path):
    """DDL/DML results reach the pgwire server as a tag string: reading
    it runs no Spark job, and the status frame still reads back."""
    from risingwave_spark.frontend import command_tag

    eng = Engine(spark, str(tmp_path / "wh"))
    with spark_jobs(spark) as ids:
        tags = [command_tag(eng.sql(s)) for s in
                ("SET rw_test_knob = 1", "BEGIN", "COMMIT", "CREATE VIEW v AS SELECT 1 AS x")]
    assert ids == []
    assert tags == ["SET_VARIABLE", "START_TRANSACTION", "COMMIT", "CREATE_VIEW"]
    with spark_jobs(spark) as ids:
        assert eng.sql("SET rw_test_knob = 2").first().status == "SET_VARIABLE"
    assert ids == []
    assert command_tag(eng.sql("SELECT 1 AS status")) is None


def test_plain_insert_counts_rows_from_the_fold(spark, tmp_path, monkeypatch):
    """A plain-table INSERT takes its row count from the fold's parquet
    footers, not a count() job; hidden row ids stay unique across
    statements; an ON CONFLICT table still counts its input rows."""
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE TABLE p (id int8 PRIMARY KEY, v int8)")
    eng.sql("CREATE TABLE h (v int8)")
    eng.sql("CREATE TABLE oc (id int8 PRIMARY KEY, v int8) ON CONFLICT DO UPDATE FULL")
    frame = type(eng.sql("SELECT 1"))
    counted = []
    real_count = frame.count
    monkeypatch.setattr(frame, "count", lambda self: counted.append(1) or real_count(self))
    assert eng.sql("INSERT INTO p VALUES (1, 1), (2, 2), (3, 3)").first().status == "INSERT 0 3"
    assert eng.sql("INSERT INTO h VALUES (1), (2), (3)").first().status == "INSERT 0 3"
    assert eng.sql("INSERT INTO h VALUES (4), (5)").first().status == "INSERT 0 2"
    assert counted == []
    assert eng.sql("INSERT INTO oc VALUES (1, 1), (1, 2)").first().status == "INSERT 0 2"
    assert counted == [1]
    monkeypatch.undo()
    assert eng.sql("SELECT count(DISTINCT _row_id), count(*) FROM h").first() == (5, 5)
    assert _rows(eng.sql("SELECT id, v FROM oc")) == [(1, 2)]


def test_plain_insert_consumes_row_ids_even_when_a_branch_fails(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.sql("CREATE TABLE h (v int8)")
    eng.sql("INSERT INTO h VALUES (1), (2)")

    def boom(b, i, ns):
        raise RuntimeError("branch failed")

    eng.tables["h"].downstream.append(Edge("fails", boom))
    with pytest.raises(RuntimeError):
        eng.sql("INSERT INTO h VALUES (3), (4)")
    eng.tables["h"].downstream.clear()
    eng.sql("INSERT INTO h VALUES (5)")
    assert eng.sql("SELECT count(DISTINCT _row_id), count(*) FROM h").first() == (5, 5)

