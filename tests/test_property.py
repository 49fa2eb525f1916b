"""Property-based differential fuzzing — the reference's SqlSmith analog
(`src/tests/sqlsmith/README.md:1-5`): hypothesis generates random
valid-by-construction filter/group/aggregate queries from a tiny AST; each
is rendered BOTH as a Spark DataFrame plan and as DuckDB SQL and the
results must match exactly (same harness as the driver's oracle gate).

Determinism: numeric constants are drawn on a coarse grid, double sums use
the exact-cents pattern, and count/min/max are order-independent.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_matches_oracle

NUM_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
STR_COLS = {"l_returnflag": ["A", "N", "R"], "l_linestatus": ["F", "O"]}
OPS = ["<", "<=", ">", ">="]

predicates = st.lists(
    st.one_of(
        st.tuples(
            st.just("num"),
            st.sampled_from(NUM_COLS),
            st.sampled_from(OPS),
            st.integers(min_value=0, max_value=50),
        ),
        st.tuples(
            st.just("str"),
            st.sampled_from(sorted(STR_COLS)),
            st.just("="),
            st.integers(min_value=0, max_value=2),
        ),
    ),
    min_size=0,
    max_size=3,
)

group_keys = st.sampled_from(
    [[], ["l_returnflag"], ["l_linestatus"], ["l_returnflag", "l_linestatus"]]
)
agg_col = st.sampled_from(NUM_COLS)


def _render(preds, keys, vcol):
    """One AST → (spark_builder, duckdb_sql)."""
    sql_conds, spark_cond = [], F.lit(True)
    for kind, col, op, k in preds:
        if kind == "num":
            # grid constant keeps comparisons away from representation noise
            c = k / 10.0 if col in ("l_discount", "l_tax") else float(k * 100)
            sql_conds.append(f"{col} {op} {c!r}")
            spark_c = F.col(col)
            cmp = {
                "<": spark_c < c,
                "<=": spark_c <= c,
                ">": spark_c > c,
                ">=": spark_c >= c,
            }[op]
            spark_cond = spark_cond & cmp
        else:
            vals = STR_COLS[col]
            v = vals[k % len(vals)]
            sql_conds.append(f"{col} = '{v}'")
            spark_cond = spark_cond & (F.col(col) == v)
    where = (" WHERE " + " AND ".join(sql_conds)) if sql_conds else ""
    gb = ", ".join(keys)
    sel_keys = (gb + ", ") if keys else ""
    sql = (
        f"SELECT {sel_keys}count(*) AS n, "
        f"(CAST(sum(CAST(round({vcol}*100,0) AS BIGINT)) AS BIGINT)/100.0) AS s, "
        f"min({vcol}) AS mn, max({vcol}) AS mx "
        f"FROM lineitem{where}"
        + (f" GROUP BY {gb}" if keys else "")
    )

    def build(spark):
        df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").filter(spark_cond)
        aggs = [
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col(vcol) * 100, 0).cast("long")) / 100.0).alias("s"),
            F.min(vcol).alias("mn"),
            F.max(vcol).alias("mx"),
        ]
        return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)

    return build, sql


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(preds=predicates, keys=group_keys, vcol=agg_col)
def test_random_filter_agg_matches_duckdb(spark, ddb, preds, keys, vcol):
    build, sql = _render(preds, keys, vcol)
    assert_matches_oracle(build(spark), ddb, sql, name=sql[:120])


join_filter = st.tuples(
    st.sampled_from(["o_totalprice", "o_orderkey"]),
    st.sampled_from(OPS),
    st.integers(min_value=0, max_value=40),
)
join_group = st.sampled_from([["o_orderstatus"], ["o_orderpriority"], ["l_returnflag"]])


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(jf=join_filter, keys=join_group, how=st.sampled_from(["inner", "left_semi", "left_anti"]))
def test_random_join_matches_duckdb(spark, ddb, jf, keys, how):
    """Random equi-join shapes (inner / semi / anti) with a filtered build
    side — the join-planning analog of the reference's SqlSmith runs."""
    col, op, k = jf
    c = float(k * 5000) if col == "o_totalprice" else k * 100
    sqlop = {"inner": "JOIN", "left_semi": "SEMI JOIN", "left_anti": "ANTI JOIN"}[how]
    key = keys[0]
    if key == "l_returnflag":
        sel, grp = "l.l_returnflag", "l.l_returnflag"
    else:
        sel, grp = f"o.{key}", f"o.{key}"
    sql = (
        f"SELECT {sel} AS g, count(*) AS n FROM lineitem l "
        f"{sqlop} (SELECT * FROM orders WHERE {col} {op} {c!r}) o "
        f"ON l.l_orderkey = o.o_orderkey "
        + ("" if how != "inner" else "")
        + f"GROUP BY {grp} ORDER BY g"
    )
    if how != "inner" and key != "l_returnflag":
        # semi/anti joins expose only the left side's columns
        sql = (
            f"SELECT l.l_returnflag AS g, count(*) AS n FROM lineitem l "
            f"{sqlop} (SELECT * FROM orders WHERE {col} {op} {c!r}) o "
            f"ON l.l_orderkey = o.o_orderkey GROUP BY l.l_returnflag ORDER BY g"
        )
        key = "l_returnflag"

    import pyspark.sql.functions as SF

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cond = {
        "<": SF.col(col) < c, "<=": SF.col(col) <= c,
        ">": SF.col(col) > c, ">=": SF.col(col) >= c,
    }[op]
    o = orders.filter(cond)
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"], how)
    gcol = j[key] if key == "l_returnflag" or how == "inner" else li[key]
    out = j.groupBy(gcol.alias("g")).agg(SF.count(SF.lit(1)).alias("n"))
    assert_matches_oracle(out, ddb, sql, name=sql[:110])


# ---- pgsql-shim differential fuzz (cast/operator rewrites) -------------
_CAST_TYPES = {
    # pg spelling → duckdb spelling (values chosen to round-trip exactly)
    "int8": "BIGINT",
    "int4": "INTEGER",
    "float8": "DOUBLE",
    "text": "VARCHAR",
}


@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    n=st.integers(min_value=-999999, max_value=999999),
    t=st.sampled_from(sorted(_CAST_TYPES)),
    vn=st.integers(min_value=1, max_value=8),
)
def test_pgsql_cast_shim_matches_duckdb(spark, ddb, n, t, vn):
    """Random `literal::type` casts (incl. varchar(n) truncation) through
    the shim must scalar-match DuckDB evaluating the PG spelling."""
    from risingwave_spark.functions.pgsql import pg_to_spark_sql

    pg = f"SELECT ({n})::{t} AS a, ('v' || {abs(n)}::text)::varchar({vn}) AS b"
    got = spark.sql(pg_to_spark_sql(pg)).first()
    want = ddb.execute(
        f"SELECT CAST(({n}) AS {_CAST_TYPES[t]}) AS a, "
        f"substr('v' || CAST({abs(n)} AS VARCHAR), 1, {vn}) AS b"
    ).fetchone()
    assert str(got.a) == str(want[0]), (pg, got, want)
    assert got.b == want[1], (pg, got, want)


# ---------------------------------------------------------------- grammar
_IDENTS = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
_TYPES = st.sampled_from(["int4", "int8", "float8", "text", "varchar(12)", "timestamp"])
_LITS = st.sampled_from(
    ["'x'", "'a;b'", "'it''s'", "'WHERE'", "'CREATE TABLE t'", "42", "1.5", "NULL"]
)
_WS = st.sampled_from([" ", "  ", "\n", "\t "])


@st.composite
def _create_table_stmt(draw):
    name = draw(_IDENTS)
    ncols = draw(st.integers(1, 4))
    cols = []
    for i in range(ncols):
        c = f"{draw(_IDENTS)}_{i}"
        t = draw(_TYPES)
        extra = draw(st.sampled_from(["", " PRIMARY KEY", " NOT NULL", f" DEFAULT {draw(_LITS)}"]))
        cols.append(f"{c} {t}{extra}")
    ws = draw(_WS)
    return f"CREATE{ws}TABLE {name}{ws}({', '.join(cols)})"


@st.composite
def _insert_stmt(draw):
    name = draw(_IDENTS)
    vals = ", ".join(draw(_LITS) for _ in range(draw(st.integers(1, 3))))
    return f"INSERT INTO {name} VALUES ({vals})"


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(stmt=st.one_of(_create_table_stmt(), _insert_stmt()))
def test_grammar_classifies_generated_engine_statements(stmt):
    """Generated engine-owned statements — with keyword-bearing string
    literals, odd whitespace, quoted apostrophes — must classify to their
    kind AND be accepted by the matching dispatch extractor: the grammar
    never silently routes an engine-owned statement to Catalyst, and
    never accepts a shape its handler can't extract (the 'internal
    error' path in frontend._execute_one stays unreachable)."""
    from risingwave_spark import frontend
    from risingwave_spark.sqlparse import classify_ast

    kind, ast = classify_ast(stmt)
    assert kind in ("create_table", "insert")
    # shared-AST path: the handler consumes the grammar's own parse, so
    # grammar/extractor agreement is structural — assert the fields the
    # handler reads are present and sane instead
    assert kind in frontend._AST_DISPATCH
    assert ast["table"], f"grammar captured no table for: {stmt!r}"
    if kind == "insert":
        assert ast["body"].upper().startswith(("VALUES", "SELECT", "WITH", "TABLE", "(")), ast
    else:
        assert ast["coldefs"], f"grammar captured no coldefs for: {stmt!r}"


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    body=st.sampled_from(
        [
            "SELECT k, count(*) AS n FROM {t} GROUP BY k",
            "SELECT k FROM {t} WHERE s = 'GROUP BY'",
            "SELECT a.k, b.v FROM {t} a JOIN u b ON a.k = b.k",
            "SELECT k, sum(v) AS s FROM {t} WHERE v > 0 GROUP BY k HAVING count(*) > 1",
        ]
    ),
    name=_IDENTS,
    ws=_WS,
)
def test_grammar_accepts_supported_mv_bodies(body, name, ws):
    from risingwave_spark.sqlparse import classify

    stmt = f"CREATE{ws}MATERIALIZED{ws}VIEW {name} AS {body.format(t=name + '_src')}"
    assert classify(stmt) == "create_mv"


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    bad=st.sampled_from(
        [
            "CREATE MATERIALIZED VIEW {n} AS SELECT k FROM (SELECT k FROM t) s",
            "CREATE MATERIALIZED VIEW {n} AS SELECT k FROM t LIMIT 5",
            # UNION/INTERSECT/EXCEPT are supported since round 5; the
            # ALL variants of intersect/except and CORRESPONDING remain
            # parse-time rejections
            "CREATE MATERIALIZED VIEW {n} AS SELECT k FROM t INTERSECT ALL SELECT k FROM u",
            "CREATE MATERIALIZED VIEW {n} AS SELECT k FROM t UNION CORRESPONDING SELECT k FROM u",
            "CREATE MATERIALIZED VIEW {n} AS SELECT k FROM t JOIN u USING ()",
            "CREATE TABLE {n} (k int4 PRIMARY KEY,)",
            "INSERT INTO {n} SET k = 1",
            "ALTER TABLE {n} RENAME x",  # missing TO
            "ALTER INDEX {n} RENAME TO x",  # no indexes in this engine
            "DELETE {n} WHERE k = 1",
        ]
    ),
    name=_IDENTS,
)
def test_grammar_rejects_unsupported_shapes(bad, name):
    import pytest as _pt

    from risingwave_spark.sqlparse import SqlParseError, classify

    with _pt.raises(SqlParseError):
        classify(bad.format(n=name))


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 3),       # partition key
            st.integers(0, 120),     # order value
            st.integers(-50, 50),    # payload
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda r: (r[0], r[1]),
    ),
    gap=st.integers(3, 25),
    split=st.integers(1, 5),
    del_mod=st.integers(2, 6),
)
def test_session_frame_mv_matches_batch_random(spark, rows, gap, split, del_mod):
    """Property: for ANY insert interleaving and delete subset, a SESSION
    over-frame MV equals one-shot batch sessionization of the survivors
    (reference session.rs semantics under merge/split/renumber)."""
    import tempfile

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from risingwave_spark.streaming.mv import with_ops
    from risingwave_spark.streaming.over_window import MaterializedOverWindowDelta

    data = [(i, k, o, v) for i, (k, o, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "rid long, k long, o long, v long")
    funcs = {"ss": ("session_sum", "v", float(gap)),
             "sc": ("session_count", "v", float(gap))}
    with tempfile.TemporaryDirectory() as d:
        ow = MaterializedOverWindowDelta(spark, d, ["k"], ["o"], "rid", funcs, ["v"])
        for i in range(split):
            b = df.filter(F.col("rid") % split == i)
            if b.count():
                ow.apply_batch(with_ops(b, 1))
        dels = df.filter(F.col("rid") % del_mod == 0)
        if dels.count():
            ow.apply_batch(with_ops(dels, -1))
        got = sorted(map(tuple, ow.result().select("k", "o", "ss", "sc").collect()))
    surv = df.filter(F.col("rid") % del_mod != 0)
    w = W.partitionBy("k").orderBy("o")
    sid = F.sum(
        F.when(F.col("o") - F.lag("o").over(w) <= gap, F.lit(0)).otherwise(F.lit(1))
    ).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    sw = W.partitionBy("k", "__sid")
    exp = sorted(map(tuple, surv.withColumn("__sid", sid).select(
        "k", "o",
        F.sum("v").over(sw).alias("ss"),
        F.count("v").over(sw).alias("sc"),
    ).collect()))
    assert got == exp


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ops=st.lists(
        st.tuples(st.integers(1, 8), st.integers(0, 99)),  # (key, value)
        min_size=2,
        max_size=12,
    ),
    cut=st.integers(1, 11),
)
def test_time_travel_matches_prefix_replay_random(spark, tmp_path_factory, ops, cut):
    """Property: FOR SYSTEM_TIME AS OF any inter-batch instant equals
    replaying only the DML prefix up to it (upsert semantics per key:
    each op deletes the key's current row if present, then inserts)."""
    import datetime as dt

    from risingwave_spark.api import Engine

    wh = str(tmp_path_factory.mktemp("tt"))
    eng = Engine(spark, wh)
    t0 = dt.datetime(2024, 1, 1)
    eng.now_override = t0
    eng.sql("CREATE TABLE ttp (k int PRIMARY KEY, v int)")
    state: dict[int, int] = {}
    snapshots = []
    for i, (k, v) in enumerate(ops):
        eng.now_override = t0 + dt.timedelta(minutes=i + 1)
        if k in state:
            eng.sql(f"UPDATE ttp SET v = {v} WHERE k = {k}")
        else:
            eng.sql(f"INSERT INTO ttp VALUES ({k}, {v})")
        state[k] = v
        snapshots.append(dict(state))
    cut = min(cut, len(ops)) - 1
    import calendar

    # instant just after op `cut` committed
    ts = calendar.timegm((t0 + dt.timedelta(minutes=cut + 1, seconds=30)).timetuple())
    got = sorted(
        tuple(r) for r in eng.sql(
            f"SELECT k, v FROM ttp FOR SYSTEM_TIME AS OF {ts}"
        ).collect()
    )
    assert got == sorted(snapshots[cut].items())


@st.composite
def _create_function_stmt(draw):
    name = draw(_IDENTS)
    lang = draw(st.sampled_from(["sql", "python"]))
    nargs = draw(st.integers(0, 3))
    named = draw(st.booleans())
    params = ", ".join(
        (f"p{i} INT" if named else "INT") for i in range(nargs)
    )
    dollar = draw(st.booleans())
    if lang == "sql":
        body_txt = "select " + (" + ".join(
            [f"${i+1}" if not named else f"p{i}" for i in range(nargs)] or ["1"]
        ))
    else:
        body_txt = f"def {name}(*a):\n    return 1"
    body = f"$${body_txt}$$" if dollar else "'" + body_txt.replace("'", "''") + "'"
    ws = draw(_WS)
    return (
        f"CREATE{ws}FUNCTION {name}({params}) RETURNS int "
        f"LANGUAGE {lang}{ws}AS {body}"
    )


@st.composite
def _misc_new_stmt(draw):
    kind = draw(st.sampled_from(["secret", "comment", "dropfn"]))
    name = draw(_IDENTS)
    if kind == "secret":
        # reference sqlparser ast/statement.rs:858 — the AS clause is
        # optional (credential defaults to Null) and accepts any literal.
        as_clause = draw(st.sampled_from(["with_as", "no_as"]))
        suffix = " AS " + draw(_LITS) if as_clause == "with_as" else ""
        return (
            f"CREATE SECRET {name} WITH (backend = 'meta'){suffix}",
            "create_secret",
        )
    if kind == "comment":
        lit = draw(st.sampled_from(["'a comment'", "'it''s'", "NULL"]))
        return (f"COMMENT ON TABLE {name} IS {lit}", "comment")
    sig = draw(st.sampled_from(["", "(int)", "(int, varchar)"]))
    return (f"DROP FUNCTION IF EXISTS {name}{sig}", "drop_function")


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(stmt=_create_function_stmt())
def test_grammar_classifies_create_function(stmt):
    """Round-5 statements fuzz: CREATE FUNCTION shapes (dollar/quoted
    bodies, named/unnamed params, both languages) classify and extract."""
    from risingwave_spark import frontend
    from risingwave_spark.sqlparse import classify_ast

    kind, ast = classify_ast(stmt)
    assert kind == "create_function"
    # shared-AST path: assert the fields the handler reads are present
    assert kind in frontend._AST_DISPATCH
    assert ast["name"] and ast["language"] and ast["body"], (stmt, ast)


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(pair=_misc_new_stmt())
def test_grammar_classifies_new_round5_statements(pair):
    from risingwave_spark import frontend
    from risingwave_spark.sqlparse import classify_ast

    stmt, want = pair
    kind, ast = classify_ast(stmt)
    assert kind == want, (stmt, kind)
    # shared-AST path: every generated shape must carry the name field
    # its handler dispatches on
    assert kind in frontend._AST_DISPATCH
    assert ast.get("name") or ast.get("obj") or ast.get("cursor"), (stmt, ast)


@st.composite
def _session5_stmt(draw):
    """Round-7 session-5 grammar surface: CREATE MV WITH options,
    ALTER MATERIALIZED VIEW ... SET BACKFILL_RATE_LIMIT, CREATE TABLE
    webhook VALIDATE forms (trailing WITH comma included — the
    reference's own create_table.slt.part spelling)."""
    name = draw(st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True))
    kind = draw(st.sampled_from(["mv_with", "alter_rate", "webhook"]))
    if kind == "mv_with":
        rate = draw(st.integers(min_value=0, max_value=5000))
        return (
            f"CREATE MATERIALIZED VIEW {name} WITH ( backfill_rate_limit = {rate} ) "
            f"AS SELECT k FROM t",
            "create_mv",
        )
    if kind == "alter_rate":
        rate = draw(st.sampled_from(["0", "17", "2000", "DEFAULT"]))
        return (
            f"ALTER MATERIALIZED VIEW {name} SET BACKFILL_RATE_LIMIT = {rate}",
            "alter_mv_rate_limit",
        )
    header = draw(st.sampled_from(["authorization", "x-hub-signature"]))
    trailing = draw(st.sampled_from(["", ","]))
    secret = draw(st.sampled_from(["SECRET s1 ", ""]))
    cred = "s1" if secret else "'k'"
    return (
        f"create table {name} (data JSONB) WITH (connector = 'webhook'{trailing}) "
        f"VALIDATE {secret}AS secure_compare(headers->>'{header}', "
        f"'sha1=' || encode(hmac({cred}, data, 'sha1'), 'hex'))",
        "create_table",
    )


@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
@given(pair=_session5_stmt())
def test_grammar_classifies_session5_statements(pair):
    from risingwave_spark import frontend
    from risingwave_spark.sqlparse import classify_ast

    stmt, want = pair
    kind, ast = classify_ast(stmt)
    assert kind == want, (stmt, kind)
    assert kind in frontend._AST_DISPATCH
    if want == "create_mv":
        assert "backfill_rate_limit" in ast["with"]
    elif want == "alter_mv_rate_limit":
        assert ast["rate"]
    else:
        assert ast.get("validate_expr", "").startswith("secure_compare")


@st.composite
def _mv_composition(draw):
    """Round-7 MV-compile compositions (VERDICT r8 ask #6): comma joins,
    WHERE-subqueries, self-join roles and USING/NATURAL combined the way
    the reference's tpch views spell them (`views/q7.slt.part` comma
    text, apply_to_join_rule.rs subquery unnesting)."""
    frm = draw(st.sampled_from([
        "fz_a a, fz_b b WHERE a.k = b.k",
        "fz_a a JOIN fz_b b ON a.k = b.k",
        "fz_a x, fz_a y WHERE x.k = y.k",                 # self-join roles
        "fz_a a, fz_b b, fz_c c WHERE a.k = b.k AND b.k = c.k",
        "fz_a JOIN fz_b USING (k)",
        "fz_a NATURAL JOIN fz_b",
    ]))
    alias = "a" if " a" in frm.split("WHERE")[0] + frm.split("ON")[0] else "fz_a"
    sub = draw(st.sampled_from([
        "",
        "{a}.k IN (SELECT k FROM fz_c GROUP BY k HAVING sum(v) > 2)",
        "EXISTS (SELECT 1 FROM fz_c WHERE fz_c.k = {a}.k AND fz_c.v > 0)",
        "NOT EXISTS (SELECT 1 FROM fz_c WHERE fz_c.k = {a}.k)",
    ])).format(a="x" if " x, " in frm else alias)
    if sub:
        frm = frm + (" AND " if "WHERE" in frm else " WHERE ") + sub
    sel = draw(st.sampled_from([
        "count(*) AS n",
        "count(*) AS n, sum(1) AS s",
    ]))
    gb_col = "x.k" if " x, " in frm else (f"{alias}.k" if alias == "a" else "k")
    tail = draw(st.sampled_from(["", " ORDER BY n DESC, g LIMIT 3"]))
    return (
        f"SELECT {gb_col} AS g, {sel} FROM {frm} GROUP BY {gb_col}{tail}"
    )


@settings(max_examples=50, deadline=None, suppress_health_check=list(HealthCheck))
@given(body=_mv_composition(), name=_IDENTS)
def test_grammar_accepts_round7_mv_compositions(body, name):
    """Every comma-join x WHERE-subquery x self-join x USING composition
    the round-7 desugar paths compile must be grammar-ACCEPTED (the r6
    CREATE SECRET bug was caught by exactly this style of arm)."""
    from risingwave_spark.sqlparse import classify

    assert classify(f"CREATE MATERIALIZED VIEW {name} AS {body}") == "create_mv"


# --------------------------------------------------------------------------
# Round-9: connector-DDL option soup (VERDICT r8 #7). The r6 CREATE SECRET
# bug pattern says option parsing is where loud-vs-silent bugs hide: every
# generated CREATE TABLE/SINK WITH(...) must either succeed cleanly or
# raise a DELIBERATE error (ValueError / NotImplementedError with a real
# message) — never a deep traceback (KeyError/AttributeError/TypeError/
# IndexError), and never a silent half-created object.
_CONNECTORS = [
    "kafka", "kinesis", "mqtt", "nats", "google_pubsub", "posix_fs",
    "pulsar", "postgres-cdc", "mysql-cdc", "sqlserver-cdc",
    "mongodb-cdc", "citus-cdc", "bogus",
]
_FORMATS = [None, "PLAIN", "DEBEZIUM", "UPSERT", "AVRO", "NOISE"]
_ENCODES = [None, "JSON", "AVRO", "PROTOBUF", "CSV"]


@st.composite
def _connector_table_stmt(draw):
    conn = draw(st.sampled_from(_CONNECTORS))
    with_pk = draw(st.booleans())
    opts = [f"connector = '{conn}'"]
    # requireds, each independently droppable
    if draw(st.booleans()):
        opts.append("topic = 't_fuzz'")
    if draw(st.booleans()):
        # port 1: instantly-refused loopback — the attach paths must
        # treat an unreachable service as recoverable, not crash
        opts.append("properties.bootstrap.server = '127.0.0.1:1'")
    if draw(st.booleans()):
        opts.append("stream = 's_fuzz'")
    if draw(st.booleans()):
        opts.append("url = 'tcp://127.0.0.1:1'")
    if draw(st.booleans()):
        opts.append("service.url = 'pulsar://127.0.0.1:1'")
    if draw(st.booleans()):
        opts.append("server_url = 'nats://127.0.0.1:1'")
    if draw(st.booleans()):
        opts.append("subject = 'fz.subj'")
    if draw(st.booleans()):
        opts.append(f"connect_mode = '{draw(st.sampled_from(['plain', 'credential']))}'")
    if draw(st.booleans()):
        opts.append("endpoint = 'http://127.0.0.1:1'")
    if draw(st.booleans()):
        opts.append(
            f"pubsub.subscription = '{draw(st.sampled_from(['projects/p/subscriptions/s', 'badpath']))}'"
        )
    if draw(st.booleans()):
        opts.append("pubsub.emulator_host = '127.0.0.1:1'")
    if draw(st.booleans()):
        opts.append("hostname = '127.0.0.1'")
    if draw(st.booleans()):
        opts.append("port = '1'")
    if draw(st.booleans()):
        opts.append("username = 'fz'")
    if draw(st.booleans()):
        opts.append("database.name = 'fzdb'")
    if draw(st.booleans()):
        opts.append("table.name = 'fz_tbl'")
    if draw(st.booleans()):
        opts.append("collection.name = "
                    f"'{draw(st.sampled_from(['fzdb.fzcoll', 'noDot']))}'")
    if draw(st.booleans()):
        opts.append("schema.name = 'dbo'")
    if draw(st.booleans()):
        opts.append("database.servers = "
                    f"'{draw(st.sampled_from(['127.0.0.1:1', '127.0.0.1:1,127.0.0.1:1', 'junk']))}'")
    if draw(st.booleans()):
        opts.append("path = '/tmp/rw_fuzz_nonexistent'")
    if draw(st.booleans()):
        opts.append(f"max.poll.records = '{draw(st.sampled_from(['7', '0', '-3', 'x', '']))}'")
    if draw(st.booleans()):
        opts.append("schema.registry = '/tmp/rw_fuzz_reg'")
    fmt = draw(st.sampled_from(_FORMATS))
    enc = draw(st.sampled_from(_ENCODES))
    pk = "id int8 PRIMARY KEY, v int8" if with_pk else "id int8, v int8"
    stmt = f"CREATE TABLE {{name}} ({pk}) WITH ({', '.join(opts)})"
    if fmt:
        stmt += f" FORMAT {fmt}"
        if enc:
            stmt += f" ENCODE {enc}"
    return stmt


@st.composite
def _connector_sink_stmt(draw):
    conn = draw(st.sampled_from(
        _CONNECTORS + ["jdbc", "elasticsearch", "opensearch", "iceberg",
                       "bigquery", "snowflake", "sqlserver", "mongodb",
                       "clickhouse", "doris", "starrocks", "deltalake"]
    ))
    opts = [f"connector = '{conn}'"]
    for opt in (
        "topic = 't_fuzz'",
        "properties.bootstrap.server = '127.0.0.1:1'",
        "stream = 's_fuzz'",
        "url = 'tcp://127.0.0.1:1'",
        "service.url = 'pulsar://127.0.0.1:1'",
        "server_url = 'nats://127.0.0.1:1'",
        "subject = 'fz.out'",
        "pubsub.project_id = 'p'",
        "pubsub.topic = 'fz_out'",
        "pubsub.emulator_host = '127.0.0.1:1'",
        "endpoint = 'http://127.0.0.1:1'",
        "path = '/tmp/rw_fuzz_sink'",
        "primary_key = 'id'",
        "force_append_only = 'true'",
        "schema.registry = '/tmp/rw_fuzz_reg'",
        "index = 'fz_ix'",
        "jdbc.url = 'jdbc:postgresql://127.0.0.1:1/db'",
        "jdbc.url = 'jdbc:mysql://127.0.0.1:1/db'",
        "table.name = 'fz_tbl'",
        "warehouse.path = '/tmp/rw_fuzz_wh'",
        "database.name = 'fzdb'",
        "catalog.type = 'rest'",
        "catalog.type = 'glue'",
        "catalog.type = 'hive'",
        "catalog.type = 'jdbc'",
        "catalog.uri = 'http://127.0.0.1:1'",
        "bigquery.project = 'p'",
        "bigquery.dataset = 'd'",
        "bigquery.table = 'fz_t'",
        "bigquery.credentials = 'not json'",
        "snowflake.s3_bucket = 'fz_stage'",
        "s3.endpoint_url = 'http://127.0.0.1:1'",
        "sqlserver.host = '127.0.0.1'",
        "sqlserver.port = '1'",
        "sqlserver.table = 'fz_t'",
        "mongodb.url = 'mongodb://127.0.0.1:1'",
        "collection.name = 'fzdb.fzc'",
        "collection.name = 'nodot'",
        "clickhouse.url = 'http://127.0.0.1:1'",
        "clickhouse.database = 'fzdb'",
        "clickhouse.table = 'fz_t'",
        "doris.url = 'http://127.0.0.1:1'",
        "doris.database = 'fzdb'",
        "doris.table = 'fz_t'",
        "starrocks.url = 'http://127.0.0.1:1'",
        "starrocks.database = 'fzdb'",
        "starrocks.table = 'fz_t'",
        "location = '/tmp/rw_fuzz_delta'",
    ):
        if draw(st.booleans()):
            opts.append(opt)
    fmt = draw(st.sampled_from(_FORMATS))
    enc = draw(st.sampled_from(_ENCODES))
    stmt = f"CREATE SINK {{name}} FROM fuzz_mv WITH ({', '.join(opts)})"
    if fmt:
        stmt += f" FORMAT {fmt}"
        if enc:
            stmt += f" ENCODE {enc}"
    return stmt


_fuzz_eng = {}


def _get_fuzz_engine(spark):
    if "e" not in _fuzz_eng:
        import tempfile

        from risingwave_spark.api import Engine

        eng = Engine(spark, tempfile.mkdtemp(prefix="rw_ddlfuzz_"))
        eng.sql("CREATE TABLE fuzz_base (id int8 PRIMARY KEY, v int8)")
        eng.sql("CREATE MATERIALIZED VIEW fuzz_mv AS SELECT id, v FROM fuzz_base")
        _fuzz_eng["e"] = eng
    return _fuzz_eng["e"]


_ddl_counter = [0]


@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
@given(tmpl=st.one_of(_connector_table_stmt(), _connector_sink_stmt()))
def test_connector_ddl_option_soup_fails_loud(spark, tmpl):
    eng = _get_fuzz_engine(spark)
    _ddl_counter[0] += 1
    name = f"fz_{_ddl_counter[0]}"
    stmt = tmpl.format(name=name)
    try:
        eng.sql(stmt)
    except (ValueError, NotImplementedError) as e:
        assert str(e), f"empty error message for: {stmt}"
        # a failed CREATE must not leave a half-attached object behind
        assert name not in eng.sinks, f"failed sink left behind: {stmt}"
    except Exception as e:  # noqa: BLE001
        raise AssertionError(
            f"deep traceback {type(e).__name__} for: {stmt}\n{e}"
        ) from e


_DK = st.sampled_from([0, 1, 2, None])
_DV = st.one_of(st.none(), st.integers(-2, 4))
_delta_op = st.one_of(
    st.tuples(st.just("ins"), st.lists(st.tuples(_DK, _DV), min_size=1, max_size=4)),
    st.tuples(st.just("del"), _DK),
    st.tuples(st.just("upd_v"), _DK, _DV),
    st.tuples(st.just("upd_k"), st.integers(0, 2), _DK),
)


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(ops=st.lists(_delta_op, min_size=1, max_size=8))
def test_delta_mvs_match_scratch_random(spark, tmp_path_factory, ops):
    """Property: under random INSERT/UPDATE/DELETE sequences (NULL keys
    and values, groups that empty and refill), the value-state MVs and
    the projection over one equal their bodies run from scratch."""
    from tests.test_streaming import check_delta_mvs_match_scratch

    check_delta_mvs_match_scratch(spark, str(tmp_path_factory.mktemp("dmv")), ops)
