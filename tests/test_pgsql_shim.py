"""PG-SQL → Spark SQL shim tests: reference-flavored query text runs
unchanged through Engine.sql (functions/pgsql.py)."""

from __future__ import annotations

from risingwave_spark.functions.pgsql import pg_to_spark_sql


def test_cast_rewrites():
    assert pg_to_spark_sql("SELECT a::int8 FROM t") == "SELECT CAST(a AS BIGINT) FROM t"
    assert (
        pg_to_spark_sql("SELECT (a + b)::float8 FROM t")
        == "SELECT CAST((a + b) AS DOUBLE) FROM t"
    )
    assert (
        pg_to_spark_sql("SELECT f(x)::text::int4 FROM t")
        == "SELECT CAST(CAST(f(x) AS STRING) AS INT) FROM t"
    )
    assert (
        pg_to_spark_sql("SELECT a::decimal(10,2) FROM t")
        == "SELECT CAST(a AS DECIMAL(10,2)) FROM t"
    )


def test_literal_casts_and_parameterized_types():
    # string-literal operands (masked during rewrite) must still cast
    assert (
        pg_to_spark_sql("SELECT '1'::int8 AS x")
        == "SELECT CAST('1' AS BIGINT) AS x"
    )
    assert (
        pg_to_spark_sql("SELECT '2021-01-01'::timestamptz AS t")
        == "SELECT CAST('2021-01-01' AS TIMESTAMP) AS t"
    )
    # varchar(n): Spark CAST ignores the length, PG truncates — the shim
    # spells the PG semantics out explicitly
    assert pg_to_spark_sql("SELECT a::varchar(10) FROM t") == (
        "SELECT left(CAST(a AS STRING), 10) FROM t"
    )
    # char(n): PG truncates AND blank-pads
    assert pg_to_spark_sql("SELECT a::char(5) FROM t") == (
        "SELECT rpad(left(CAST(a AS STRING), 5), 5, ' ') FROM t"
    )
    # unparameterized varchar still maps to STRING
    assert pg_to_spark_sql("SELECT a::varchar FROM t") == (
        "SELECT CAST(a AS STRING) FROM t"
    )


def test_string_literals_untouched():
    q = "SELECT 'a::b' || x::text, 'don''t ~ match' FROM t"
    out = pg_to_spark_sql(q)
    assert "'a::b'" in out and "'don''t ~ match'" in out
    assert "CAST(x AS STRING)" in out


def test_operator_and_function_rewrites():
    assert pg_to_spark_sql("SELECT * FROM t WHERE s ~ '^ab'") == (
        "SELECT * FROM t WHERE s RLIKE '^ab'"
    )
    assert "NOT RLIKE" in pg_to_spark_sql("SELECT * FROM t WHERE s !~ 'x'")
    assert "current_timestamp()" in pg_to_spark_sql("SELECT now()")
    assert (
        pg_to_spark_sql("SELECT string_agg(name, ',') FROM t")
        == "SELECT array_join(sort_array(collect_list(name), true), ',') FROM t"
    )
    assert (
        pg_to_spark_sql("SELECT string_agg(name, ',' ORDER BY name DESC) FROM t")
        == "SELECT array_join(sort_array(collect_list(name), false), ',') FROM t"
    )
    assert pg_to_spark_sql("SELECT string_agg(name, ',' ORDER BY id) FROM t") == (
        "SELECT array_join(transform(array_sort(collect_list("
        "struct(id AS k, name AS v))), e -> e.v), ',') FROM t"
    )
    assert "every(" in pg_to_spark_sql("SELECT bool_and(f) FROM t")
    assert "instr(" in pg_to_spark_sql("SELECT strpos(s, x) FROM t")


def test_string_agg_paren_args():
    # function-call operands (one paren nesting level) now rewrite too
    assert pg_to_spark_sql("SELECT string_agg(lower(name), ',') FROM t") == (
        "SELECT array_join(sort_array(collect_list(lower(name)), true), ',') FROM t"
    )
    assert pg_to_spark_sql(
        "SELECT string_agg(coalesce(a, b), '|' ORDER BY f(id)) FROM t"
    ) == (
        "SELECT array_join(transform(array_sort(collect_list("
        "struct(f(id) AS k, coalesce(a, b) AS v))), e -> e.v), '|') FROM t"
    )
    # a form too deep for the rewrite must raise, never silently fall
    # through to Spark's partition-order-dependent native string_agg
    import pytest

    with pytest.raises(ValueError):
        pg_to_spark_sql("SELECT string_agg(f(g(h(x, ','))), ',') FROM t")


def test_executes_on_spark(spark):
    df = spark.createDataFrame([(1, "alpha"), (2, "beta")], "id int, s string")
    df.createOrReplaceTempView("pg_t")
    from risingwave_spark.functions.pgsql import pg_to_spark_sql as tr

    got = spark.sql(
        tr("SELECT id::int8 AS i, s FROM pg_t WHERE s ~ '^a' AND now() > TIMESTAMP '2000-01-01'")
    ).collect()
    assert [(r.i, r.s) for r in got] == [(1, "alpha")]
    agg = spark.sql(tr("SELECT string_agg(s, '|') AS j FROM pg_t")).first().j
    assert set(agg.split("|")) == {"alpha", "beta"}


def test_tumble_hop_tvf_batch_rewrite(spark):
    """Ad-hoc batch TUMBLE/HOP TVFs (reference window_table_function.rs)
    rewrite to derived tables attaching window_start/window_end."""
    import datetime

    from risingwave_spark.functions.pgsql import pg_to_spark_sql

    rows = [(i, datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=20 * i)) for i in range(6)]
    spark.createDataFrame(rows, "id long, ts timestamp").createOrReplaceTempView("tvf_t")
    out = spark.sql(pg_to_spark_sql(
        "SELECT window_start, count(*) AS n "
        "FROM TUMBLE(tvf_t, ts, INTERVAL '1 hour') GROUP BY window_start "
        "ORDER BY window_start"
    )).collect()
    assert [(r.window_start.hour, r.n) for r in out] == [(0, 3), (1, 3)]
    out = spark.sql(pg_to_spark_sql(
        "SELECT window_start, count(*) AS n "
        "FROM HOP(tvf_t, ts, INTERVAL '30 minutes', INTERVAL '1 hour') "
        "GROUP BY window_start ORDER BY window_start"
    )).collect()
    # each row covers 2 windows; 6 rows over [0:00, 1:40] → windows at
    # 23:30, 0:00, 0:30, 1:00, 1:30
    assert sum(r.n for r in out) == 12
    assert len(out) == 5


def test_debezium_envelope_matches_reference_golden():
    """The Debezium sink formatter reproduces the reference's OWN golden
    (`src/connector/src/sink/formatter/debezium_json.rs` test constant
    SCHEMA_JSON_RESULT, compared as parsed JSON like the reference test
    does) — schema block, key block, and the create/delete/update event
    payloads including the update-pair collapse and the delete
    tombstone."""
    import json

    from risingwave_spark.sources.sink_format import (
        debezium_events,
        key_schema_to_json,
        schema_to_json,
    )

    golden = json.loads(
        '{"fields":[{"field":"before","fields":[{"field":"v1","optional":true,'
        '"type":"int32"},{"field":"v2","optional":true,"type":"float"},'
        '{"field":"v3","optional":true,"type":"string"}],'
        '"name":"RisingWave.test_db.test_table.Key","optional":true,"type":"struct"},'
        '{"field":"after","fields":[{"field":"v1","optional":true,"type":"int32"},'
        '{"field":"v2","optional":true,"type":"float"},{"field":"v3","optional":true,'
        '"type":"string"}],"name":"RisingWave.test_db.test_table.Key","optional":true,'
        '"type":"struct"},{"field":"source","fields":[{"field":"db","optional":false,'
        '"type":"string"},{"field":"table","optional":true,"type":"string"},'
        '{"field":"ts_ms","optional":false,"type":"int64"}],'
        '"name":"RisingWave.test_db.test_table.Source","optional":false,"type":"struct"},'
        '{"field":"op","optional":false,"type":"string"},'
        '{"field":"ts_ms","optional":false,"type":"int64"}],'
        '"name":"RisingWave.test_db.test_table.Envelope","optional":false,"type":"struct"}'
    )
    fields = [("v1", "int4"), ("v2", "float4"), ("v3", "struct")]
    assert schema_to_json(fields, "test_db", "test_table") == golden

    ks = key_schema_to_json(fields, ["v1"], "test_db", "test_table")
    assert ks["fields"] == [{"field": "v1", "optional": True, "type": "int32"}]
    assert ks["name"] == "RisingWave.test_db.test_table.Key"
    assert ks["optional"] is False

    rows = [
        (1, {"v1": 0, "v2": 0.0, "v3": "x"}),   # insert → op c
        (-1, {"v1": 0, "v2": 0.0, "v3": "x"}),  # }
        (1, {"v1": 0, "v2": 1.0, "v3": "y"}),   # } same-pk pair → op u
        (-1, {"v1": 9, "v2": 2.0, "v3": "z"}),  # delete → op d + tombstone
    ]
    ev = debezium_events(rows, fields, ["v1"], "test_db", "test_table", ts_ms=42)
    ops = [v["payload"]["op"] if v else None for _k, v in ev]
    # the same-pk −/+ pair collapses to ONE 'u' event (the reference's
    # UpdateDelete/UpdateInsert branches emit nothing for the delete half)
    assert ops == ["c", "u", "d", None]
    c = ev[0][1]["payload"]
    assert c["before"] is None and c["after"] == {"v1": 0, "v2": 0.0, "v3": "x"}
    assert c["source"] == {"db": "test_db", "table": "test_table", "ts_ms": 42}
    u = ev[1][1]["payload"]
    assert u["before"] == {"v1": 0, "v2": 0.0, "v3": "x"}
    assert u["after"] == {"v1": 0, "v2": 1.0, "v3": "y"}
    d = ev[2][1]["payload"]
    assert d["before"] == {"v1": 9, "v2": 2.0, "v3": "z"} and d["after"] is None
    assert ev[3][1] is None  # compacted-topic tombstone
    assert ev[2][0]["payload"] == {"v1": 9}


def test_upsert_formatter_matches_reference_ops():
    """The upsert sink formatter mirrors `sink/formatter/upsert.rs`
    exactly: key always present, Insert/UpdateInsert → full-row value,
    Delete → None value (tombstone), UpdateDelete → no event at all."""
    from risingwave_spark.sources.sink_format import upsert_events

    rows = [
        (1, {"id": 1, "v": "a"}),   # Insert
        (-1, {"id": 1, "v": "a"}),  # UpdateDelete (paired) → skipped
        (1, {"id": 1, "v": "b"}),   # UpdateInsert → value event
        (-1, {"id": 2, "v": "z"}),  # true Delete → tombstone
    ]
    ev = upsert_events(rows, ["id"])
    assert ev == [
        ({"id": 1}, {"id": 1, "v": "a"}),
        ({"id": 1}, {"id": 1, "v": "b"}),
        ({"id": 2}, None),
    ]


def test_insert_values_rewrite_is_linear(monkeypatch):
    """`pg_to_spark_sql` on an `INSERT … VALUES` text grows linearly with
    its rows (an unanchored operand token in the `~` operator passes
    backtracks quadratically over long runs of non-space text). A text
    without `~` never reaches those passes; 4× the rows takes < 6× the
    time, best of five runs at each size."""
    import re
    import time

    import risingwave_spark.functions.pgsql as pgsql

    def insert(n: int) -> str:
        rows = ",".join(f"({i},{i * 7 % 1000},{i % 13},{i * 0.25:.2f})" for i in range(n))
        return "INSERT INTO lineitem (l_id, l_oid, l_qty, l_price) VALUES " + rows

    patterns: list[str] = []

    class Recording:
        def __getattr__(self, name):
            return getattr(re, name)

        @staticmethod
        def sub(pattern, *args, **kwargs):
            patterns.append(getattr(pattern, "pattern", pattern))
            return re.sub(pattern, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(pgsql, "re", Recording())
        pg_to_spark_sql(insert(50))
        assert patterns and not [p for p in patterns if "~" in p]
        pg_to_spark_sql("SELECT a ~ 'x' FROM t")
        assert [p for p in patterns if "~" in p]

    def best(text: str) -> float:
        out = float("inf")
        for _ in range(5):
            t0 = time.perf_counter()
            pg_to_spark_sql(text)
            out = min(out, time.perf_counter() - t0)
        return out

    small, large = best(insert(1000)), best(insert(4000))
    assert large < 6 * small, (small, large)
    # the operators themselves still rewrite
    assert pg_to_spark_sql("SELECT a ~ 'x', b !~ 'y', c !~~ 'z' FROM t") == (
        "SELECT a RLIKE 'x', b NOT RLIKE 'y', c !~~ 'z' FROM t"
    )
