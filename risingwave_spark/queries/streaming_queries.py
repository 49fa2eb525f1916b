"""Real Structured-Streaming queries declared to the driver: each one runs
a genuine streaming job (readStream → stateful transform → memory sink or
MV runtime) and returns the final result DataFrame, oracle-checked against
the equivalent one-shot batch SQL — the reference's batch-vs-streaming
snapshot-equivalence gate (`e2e_test/streaming/nexmark_snapshot.slt`).
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import functions as F

from risingwave_spark.queries.registry import register
from risingwave_spark.queries.util import EVENTS_US, footer_bounds, o_msum, tables
from risingwave_spark.streaming.mv import run_changelog, with_ops


def _event_stream(spark, sf_dir):
    path = os.path.join(sf_dir, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # legacy TIMESTAMP(NANOS) testdata arrives as ns-since-epoch longs;
    # current testdata is TIMESTAMP(MICROS) → NTZ, cast to LTZ (UTC
    # session: same instants; watermarks demand the TIMESTAMP type)
    ts_t = dict(sdf.dtypes).get("ts")
    if ts_t == "bigint":
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_t == "timestamp_ntz":
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


def _run_to_memory(stream_df, mode: str, state_partitions: int = 8):
    """Run a bounded stream to completion into a memory sink.

    State-store instances = shuffle partitions, and each one pays a
    per-commit file-write cost — at bench scale (≤1M rows) 32 of them is
    pure overhead (measured 3×). On a real cluster you size this to
    sustained throughput per core, not to a constant; it binds at query
    start, so set it here and restore after.
    """
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # No-data micro-batches only exist to advance the watermark so
    # watermark-GATED output (append-mode aggregation) can emit; every
    # consumer here is complete-mode or an eagerly-emitting join, so the
    # extra empty batch is a full planning+execution round (measured
    # ~1.2 s: addBatch 841 ms + queryPlanning 209 ms at sf0.1) that
    # produces zero rows. Off for the bounded replay; a live deployment
    # with append-mode windows needs it on.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    name = "q" + uuid.uuid4().hex[:12]
    try:
        q = stream_df.writeStream.outputMode(mode).format("memory").queryName(name).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev_ndb)
    return name


@register(
    "stream_tumble_agg",
    oracle=f"""
SELECT date_trunc('hour', ts) AS ws, event_type,
       count(*) AS n, {o_msum('value', 10000)} AS total
FROM {EVENTS_US} e
GROUP BY ws, event_type ORDER BY ws, event_type
""",
)
def stream_tumble_agg(spark, sf_dir):
    """Streaming tumbling-window agg (reference streaming HashAgg over
    tumble windows) run to completion, hash-compared with batch SQL."""
    sdf = _event_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 10000, 0).cast("long")) / 10000.0).alias("total"),
        )
    )
    name = _run_to_memory(agg, "complete")
    return spark.sql(f"SELECT w.start AS ws, event_type, n, total FROM {name}")


@register(
    "stream_dedup_agg",
    oracle=f"""
SELECT event_type, count(*) AS n FROM (
  SELECT DISTINCT ON (event_id) event_id, event_type FROM {EVENTS_US} e ORDER BY event_id
) d GROUP BY event_type ORDER BY event_type
""",
)
def stream_dedup_agg(spark, sf_dir):
    """Streaming dropDuplicates (reference AppendOnlyDedup
    `dedup/append_only_dedup.rs:27`) feeding a streaming agg."""
    sdf = _event_stream(spark, sf_dir)
    agg = (
        sdf.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = _run_to_memory(agg, "complete")
    return spark.sql(f"SELECT event_type, n FROM {name}")


@register(
    "stream_mv_incremental",
    oracle=f"""
SELECT user_id, count(*) AS cnt,
       {o_msum('value', 10000)} AS total,
       min(value) AS vmin, max(value) AS vmax
FROM {EVENTS_US} e
GROUP BY user_id ORDER BY user_id
""",
)
def stream_mv_incremental(spark, sf_dir):
    """The MV runtime end-to-end: events split into 4 changelog chunks,
    folded incrementally through MaterializedGroupAgg (values-state +
    affected-group re-agg, `risingwave_spark/streaming/mv.py`); final MV
    must equal the one-shot batch aggregate."""
    ev = tables(spark, sf_dir)["events"]
    chunks = [with_ops(ev.where(f"event_id % 4 = {i}"), 1) for i in range(4)]
    state_dir = tempfile.mkdtemp(prefix="rw_mv_")
    return run_changelog(spark, state_dir, chunks, ["user_id"], "event_id", "value")


@register(
    "stream_hop_agg",
    oracle=f"""
SELECT ws, event_type, count(*) AS n
FROM (
  SELECT e.*, w.ws
  FROM {EVENTS_US} e,
       unnest([time_bucket(INTERVAL '5 minutes', e.ts),
               time_bucket(INTERVAL '5 minutes', e.ts) - INTERVAL '5 minutes']) w(ws)
  WHERE e.ts >= w.ws AND e.ts < w.ws + INTERVAL '10 minutes'
) h
GROUP BY ws, event_type ORDER BY ws, event_type
""",
)
def stream_hop_agg(spark, sf_dir):
    """Streaming hopping-window agg (reference streaming HopWindow,
    `hop_window.rs:25`): window(10m, 5m) on a live stream, complete mode,
    hash-compared with the batch hop expansion."""
    sdf = _event_stream(spark, sf_dir)
    agg = sdf.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    name = _run_to_memory(agg, "complete")
    return spark.sql(
        f"SELECT w.start AS ws, event_type, n FROM {name} ORDER BY ws, event_type"
    )


@register(
    "stream_session_agg",
    oracle=f"""
WITH gaps AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      >= INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM {EVENTS_US} e
)
SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
FROM gaps GROUP BY user_id ORDER BY user_id
""",
)
def stream_session_agg(spark, sf_dir):
    """Streaming session windows (reference SESSION frames `session.rs:42`
    → Spark session_window()): gap = 30 min; sessions merge while the gap
    to the previous event is < 30 min (next window start < previous window
    end), so the batch oracle opens a new session at gap >= 30 min."""
    sdf = _event_stream(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    name = _run_to_memory(agg, "complete")
    return spark.sql(
        f"""SELECT user_id, count(*) AS n_sessions, CAST(sum(n) AS BIGINT) AS n_events
            FROM {name} GROUP BY user_id ORDER BY user_id"""
    )


@register(
    "stream_stream_join",
    oracle=f"""
SELECT a.user_id, count(*) AS n_pairs
FROM {EVENTS_US} a JOIN {EVENTS_US} b
  ON a.user_id = b.user_id
 AND a.event_type = 'click' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '10 minutes'
GROUP BY a.user_id ORDER BY a.user_id
""",
)
def stream_stream_join(spark, sf_dir):
    """Stream-stream interval join (reference streaming HashJoin,
    `hash_join.rs:129`, append-only fast path): clicks ⋈ purchases within
    10 minutes, both sides watermarked — Spark's native stream-stream
    inner join with event-time bounds (state pruned by watermark)."""
    sdf = _event_stream(spark, sf_dir)  # ONE source; both sides filter it
    a = (
        sdf.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("a_user"), F.col("ts").alias("a_ts")
        )
        .withWatermark("a_ts", "1 hour")
    )
    b = (
        sdf.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user"), F.col("ts").alias("b_ts")
        )
        .withWatermark("b_ts", "1 hour")
    )
    j = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    name = _run_to_memory(j, "append")
    return spark.sql(
        f"SELECT a_user AS user_id, count(*) AS n_pairs FROM {name} GROUP BY a_user ORDER BY a_user"
    )


@register(
    "stream_group_topn",
    oracle=f"""
SELECT event_type, rk, event_id, value FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk
  FROM {EVENTS_US} e
) t WHERE rk <= 3 ORDER BY event_type, rk
""",
)
def stream_group_topn(spark, sf_dir):
    """Incremental per-group top-k over an append-only changelog
    (reference AppendOnlyGroupTopN, `top_n/group_top_n.rs:64`): events
    arrive in 4 chunks; state stays bounded at k rows per group; the final
    top-3 per event_type must equal the one-shot batch rank."""
    from risingwave_spark.streaming.mv import AppendOnlyGroupTopN

    ev = tables(spark, sf_dir)["events"]
    topn = AppendOnlyGroupTopN(
        spark, tempfile.mkdtemp(prefix="rw_topn_"), ["event_type"], "value", "event_id", 3
    )
    for i in range(4):
        topn.apply_batch(ev.filter(F.col("event_id") % 4 == i))
    return (
        topn.result()
        .select("event_type", "rk", "event_id", "value")
        .orderBy("event_type", "rk")
    )


@register(
    "stream_changelog_agg",
    oracle=f"""
SELECT user_id, count(*) AS cnt,
       {o_msum('value', 10000)} AS total,
       min(value) AS vmin, max(value) AS vmax
FROM {EVENTS_US} e
WHERE event_id % 10 <> 0
GROUP BY user_id ORDER BY user_id
""",
)
def stream_changelog_agg(spark, sf_dir):
    """Retraction end-to-end (reference changelog Ops, StreamChunk
    `stream_chunk.rs:45-50`): two insert chunks load all events, a third
    chunk DELETES every 10th event; the MV must converge to the aggregate
    over the surviving rows — exercises the delete path of
    MaterializedGroupAgg (values-state anti-join + group re-agg)."""
    ev = tables(spark, sf_dir)["events"]
    chunks = [
        with_ops(ev.filter(F.col("event_id") % 2 == 0), 1),
        with_ops(ev.filter(F.col("event_id") % 2 == 1), 1),
        with_ops(ev.filter(F.col("event_id") % 10 == 0), -1),
    ]
    state_dir = tempfile.mkdtemp(prefix="rw_mv_")
    return run_changelog(spark, state_dir, chunks, ["user_id"], "event_id", "value")


@register(
    "stream_eowc_tumble",
    oracle=f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, count(*) AS n
FROM {EVENTS_US} e
WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
      <= (SELECT max(ts) - INTERVAL '10 minutes' FROM {EVENTS_US} e2)
GROUP BY ws ORDER BY ws
""",
)
def stream_eowc_tumble(spark, sf_dir):
    """Emit-on-window-close tumbling agg (reference EMIT ON WINDOW CLOSE,
    EOWC sort buffer `sort.rs:20`): events arrive in 4 event-time-ordered
    chunks plus a LATE 5th chunk (a replay of early rows) that must be
    dropped by the watermark filter; output contains exactly the windows
    closed by the final watermark (max ts − 10 min), emitted once each."""
    import datetime

    from risingwave_spark.streaming.mv import EowcTumbleAgg

    ev = tables(spark, sf_dir)["events"]
    # events min/max ts from the parquet footer statistics — value-
    # identical to the agg, zero Spark jobs (util.footer_bounds)
    lo, hi = footer_bounds(spark, sf_dir)
    span = (hi - lo) / 4
    eowc = EowcTumbleAgg(
        spark, tempfile.mkdtemp(prefix="rw_eowc_"), "ts", "1 hour", delay_seconds=600
    )
    for i in range(4):
        a = lo + i * span
        b = (lo + (i + 1) * span) if i < 3 else (hi + datetime.timedelta(seconds=1))
        eowc.feed(ev.filter((F.col("ts") >= F.lit(a)) & (F.col("ts") < F.lit(b))))
    # late replay: first-quartile rows behind the watermark → dropped
    eowc.feed(ev.filter(F.col("ts") < F.lit(lo + span)).limit(500))
    return eowc.result().orderBy("ws")


@register(
    "stream_over_window",
    oracle=f"""
SELECT user_id, event_id, value,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
       lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
FROM {EVENTS_US} e
WHERE event_id % 7 <> 0
ORDER BY user_id, rn
""",
)
def stream_over_window(spark, sf_dir):
    """Retractable over-window MV (reference OverWindow general executor,
    `over_window/general.rs:48`): events arrive in 4 INTERLEAVED insert
    chunks (every batch dirties every order position — the recompute-all
    worst case, where partition-grain recompute is optimal), then a chunk
    DELETES every 7th event; the final MV equals the batch window over
    the survivors. The frame-delta variant for ordered arrival is
    `stream_over_window_delta`."""
    from risingwave_spark.streaming.mv import MaterializedOverWindow

    ev = tables(spark, sf_dir)["events"]

    # window Columns built once per WindowSpec, not per fold (r13 §B:
    # Column construction is py4j round trips; the spec is cached by
    # MaterializedOverWindow._recompute so this memo hits every fold).
    # Keyed by the spec itself (identity hash): the memo holds it alive,
    # so a recycled id() can never hand back another spec's columns.
    cols_by_spec: dict = {}

    def project(rows, w):
        if w not in cols_by_spec:
            cols_by_spec[w] = [
                F.row_number().over(w).alias("rn"),
                F.lag("value").over(w).alias("prev_value"),
            ]
        return rows.select("user_id", "event_id", "value", *cols_by_spec[w])

    mvw = MaterializedOverWindow(
        spark,
        tempfile.mkdtemp(prefix="rw_ow_"),
        ["user_id"],
        ["ts", "event_id"],
        "event_id",
        project,
    )
    for i in range(4):
        mvw.apply_batch(with_ops(ev.filter(F.col("event_id") % 4 == i), 1))
    mvw.apply_batch(with_ops(ev.filter(F.col("event_id") % 7 == 0), -1))
    return mvw.result().orderBy("user_id", "rn")


@register(
    "stream_over_window_delta",
    oracle=f"""
SELECT user_id, event_id, value,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
       lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
FROM {EVENTS_US} e
WHERE event_id % 7 <> 0
ORDER BY user_id, rn
""",
)
def stream_over_window_delta(spark, sf_dir):
    """FRAME-DELTA over-window MV (reference over_window/general.rs:48 +
    frame_finder.rs): events arrive in EVENT-TIME ORDER (4 quartile
    chunks — the realistic streaming shape), so each batch recomputes
    only the per-partition suffix from its earliest touched position,
    seeded from the MV's stored prefix; a final chunk DELETES every 7th
    event (mid-stream boundaries → partial recompute). Equals the batch
    window over the survivors."""
    from risingwave_spark.streaming.over_window import MaterializedOverWindowDelta

    ev = tables(spark, sf_dir)["events"]
    # events min/max ts from the parquet footer statistics — value-
    # identical to the agg, zero Spark jobs (util.footer_bounds)
    lo, hi = footer_bounds(spark, sf_dir)
    span = (hi - lo) / 4
    mvw = MaterializedOverWindowDelta(
        spark,
        tempfile.mkdtemp(prefix="rw_owd_"),
        ["user_id"],
        ["ts", "event_id"],
        "event_id",
        funcs={"rn": ("row_number",), "prev_value": ("lag", "value")},
        payload_cols=["value"],
    )
    import datetime

    for i in range(4):
        a = lo + i * span
        b = (lo + (i + 1) * span) if i < 3 else (hi + datetime.timedelta(seconds=1))
        mvw.apply_batch(
            with_ops(ev.filter((F.col("ts") >= F.lit(a)) & (F.col("ts") < F.lit(b))), 1)
        )
    mvw.apply_batch(with_ops(ev.filter(F.col("event_id") % 7 == 0), -1))
    return (
        mvw.result()
        .select("user_id", "event_id", "value", "rn", "prev_value")
        .orderBy("user_id", "rn")
    )


@register(
    "stream_group_topn_retract",
    oracle=f"""
SELECT event_type, rk, event_id, value FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk
  FROM {EVENTS_US} e WHERE event_id % 5 <> 0
) t WHERE rk <= 3 ORDER BY event_type, rk
""",
)
def stream_group_topn_retract(spark, sf_dir):
    """Retractable group top-n (reference TopN with deletes,
    `top_n/top_n_plain.rs:79`): after loading all events, a delete chunk
    retracts every 5th event — including current top rows — and the MV
    must surface the next-best rows from state (exactly why the
    non-append-only TopN keeps all rows, not just k)."""
    from pyspark.sql import Window as W

    from risingwave_spark.streaming.mv import MaterializedOverWindow

    ev = tables(spark, sf_dir)["events"]

    def project(rows, _w):
        # rank is value-DESC — build the spec here (the `_w` default is
        # ascending order_cols; project may use any spec over `keys`)
        w = W.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
        return (
            rows.select(
                "event_type", "event_id", "value", F.row_number().over(w).alias("rk")
            )
            .filter(F.col("rk") <= 3)
        )

    mvw = MaterializedOverWindow(
        spark,
        tempfile.mkdtemp(prefix="rw_tn_"),
        ["event_type"],
        [],
        "event_id",
        project,
    )
    for i in range(2):
        mvw.apply_batch(with_ops(ev.filter(F.col("event_id") % 2 == i), 1))
    mvw.apply_batch(with_ops(ev.filter(F.col("event_id") % 5 == 0), -1))
    return mvw.result().select("event_type", "rk", "event_id", "value").orderBy(
        "event_type", "rk"
    )


@register(
    "stream_temporal_join",
    oracle=f"""
SELECT e.event_type, count(*) AS n, count(c.c_custkey) AS n_matched
FROM {EVENTS_US} e
LEFT JOIN customer c ON e.user_id + 1 = c.c_custkey AND c.c_mktsegment = 'BUILDING'
GROUP BY e.event_type ORDER BY e.event_type
""",
)
def stream_temporal_join(spark, sf_dir):
    """Stream ⋈ latest table snapshot (reference TemporalJoin
    `temporal_join.rs:44`, `FOR SYSTEM_TIME AS OF PROCTIME()`): Spark's
    native stream-static join re-reads the static side per micro-batch —
    the same 'join the current version' semantics. Left outer, so
    unmatched stream rows pass through (append-only output)."""
    sdf = _event_stream(spark, sf_dir)
    cust = tables(spark, sf_dir)["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    j = sdf.join(
        cust, sdf["user_id"] + 1 == cust["c_custkey"], "left_outer"
    ).select("event_type", "c_custkey")
    name = _run_to_memory(j, "append")
    return spark.sql(
        f"""SELECT event_type, count(*) AS n, count(c_custkey) AS n_matched
            FROM {name} GROUP BY event_type ORDER BY event_type"""
    )


@register(
    "stream_distinct_retract",
    oracle=f"""
SELECT event_type,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n
FROM {EVENTS_US} e WHERE event_id % 3 <> 0
GROUP BY event_type ORDER BY event_type
""",
)
def stream_distinct_retract(spark, sf_dir):
    """Updatable distinct-count (reference approx_count_distinct with
    deletes, `aggregate/approx_count_distinct/mod.rs:36-44` — the
    registers-based sketch supports retraction; here the EXACT updatable
    variant over ChunkedState): a delete chunk retracts every 3rd event
    and the per-type distinct user count must adjust."""
    from risingwave_spark.streaming.mv import MaterializedView, with_ops as _wo

    ev = tables(spark, sf_dir)["events"]

    def recompute(rows):
        return rows.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n"),
        )

    mv = MaterializedView(
        spark, tempfile.mkdtemp(prefix="rw_dc_"), ["event_type"], "event_id", recompute
    )
    for i in range(2):
        mv.apply_batch(_wo(ev.filter(F.col("event_id") % 2 == i), 1))
    mv.apply_batch(_wo(ev.filter(F.col("event_id") % 3 == 0), -1))
    return mv.result().orderBy("event_type")


@register(
    "engine_dml_mv",
    oracle=f"""
SELECT o_orderstatus,
       count(*) AS n,
       {o_msum('o_totalprice')} AS total
FROM orders WHERE o_orderkey % 7 <> 0
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def engine_dml_mv(spark, sf_dir):
    """The full DDL/DML surface end-to-end (reference §3.1-3.3 handlers:
    CREATE TABLE, CREATE MATERIALIZED VIEW, INSERT, DELETE): a table is
    created from half of `orders`, an MV per status defined on it, the
    other half INSERTed, every 7th order DELETEd — the MV read through
    ad-hoc SQL must equal the one-shot batch aggregate."""
    from risingwave_spark.api import Engine

    orders = tables(spark, sf_dir)["orders"]

    def recompute(rows):
        return rows.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")) / 100.0).alias(
                "total"
            ),
        )

    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_eng_"))
    eng.create_table("rw_orders_t", orders.filter(F.col("o_orderkey") % 2 == 0), pk="o_orderkey")
    eng.create_materialized_view("rw_orders_mv", "rw_orders_t", ["o_orderstatus"], recompute)
    eng.insert("rw_orders_t", orders.filter(F.col("o_orderkey") % 2 == 1))
    eng.delete("rw_orders_t", F.col("o_orderkey") % 7 == 0)
    return eng.sql("SELECT * FROM rw_orders_mv ORDER BY o_orderstatus")


@register(
    "stream_join_retract",
    oracle="""
SELECT c_mktsegment, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderkey % 5 <> 0 AND c.c_custkey % 3 <> 0
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)
def stream_join_retract(spark, sf_dir):
    """General retractable stream-stream join (reference streaming
    HashJoin with deletes on BOTH sides, `hash_join.rs:129`): orders and
    customers each arrive in two insert chunks, then one chunk DELETES
    every 5th order while another DELETES every 3rd customer — the join
    MV must converge to the batch join of the survivors."""
    from risingwave_spark.streaming.join import RetractableStreamJoin

    t = tables(spark, sf_dir)
    o = t["orders"].select("o_orderkey", "o_custkey", "o_totalprice")
    c = t["customer"].select("c_custkey", "c_mktsegment")
    jv = RetractableStreamJoin(
        spark,
        tempfile.mkdtemp(prefix="rw_join_"),
        left_on=["o_custkey"],
        right_on=["c_custkey"],
        row_id_l="o_orderkey",
        row_id_r="c_custkey",
        how="inner",
    )
    jv.apply(with_ops(o.filter(F.col("o_orderkey") % 2 == 0), 1),
             with_ops(c.filter(F.col("c_custkey") % 2 == 0), 1))
    jv.apply(with_ops(o.filter(F.col("o_orderkey") % 2 == 1), 1),
             with_ops(c.filter(F.col("c_custkey") % 2 == 1), 1))
    jv.apply(with_ops(o.filter(F.col("o_orderkey") % 5 == 0), -1),
             with_ops(c.filter(F.col("c_custkey") % 3 == 0), -1))
    return (
        jv.result()
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("cents"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "stream_join_retract_outer",
    oracle="""
SELECT o_orderstatus, count(*) AS n, count(c.c_custkey) AS n_matched
FROM orders o
LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 3 <> 0
             AND c_mktsegment = 'BUILDING') c
  ON o.o_custkey = c.c_custkey
WHERE o.o_orderkey % 5 <> 0
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def stream_join_retract_outer(spark, sf_dir):
    """Left-outer retractable join (reference hash_join.rs degree-table
    bookkeeping for outer types): deleting a customer must FLIP its
    orders' rows back to null-padded, deleting orders must drop rows —
    final MV equals the batch left join of the survivors."""
    from risingwave_spark.streaming.join import RetractableStreamJoin

    t = tables(spark, sf_dir)
    o = t["orders"].select("o_orderkey", "o_custkey", "o_orderstatus")
    c = (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey", "c_name")
    )
    jv = RetractableStreamJoin(
        spark,
        tempfile.mkdtemp(prefix="rw_joinl_"),
        left_on=["o_custkey"],
        right_on=["c_custkey"],
        row_id_l="o_orderkey",
        row_id_r="c_custkey",
        how="left",
    )
    jv.apply(with_ops(o, 1), with_ops(c, 1))
    jv.apply(with_ops(o.filter(F.col("o_orderkey") % 5 == 0), -1), None)
    jv.apply(None, with_ops(c.filter(F.col("c_custkey") % 3 == 0), -1))
    return (
        jv.result()
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.count("c_custkey").alias("n_matched"))
        .orderBy("o_orderstatus")
    )


@register(
    "stream_asof_join",
    oracle=f"""
SELECT p.event_id, p.user_id, p.ts, c.click_id
FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT user_id AS c_user, CAST(ts AS TIMESTAMP) AS c_ts,
                  max(event_id) AS click_id
           FROM events WHERE event_type = 'click'
           GROUP BY user_id, CAST(ts AS TIMESTAMP)
           HAVING max(event_id) % 2 = 1) c
  ON p.user_id = c.c_user AND p.ts >= c.c_ts
ORDER BY p.event_id
""",
)
def stream_asof_join(spark, sf_dir):
    """Streaming as-of join (reference `asof_join.rs:110`): ALL purchases
    arrive before any click (maximal out-of-order — every match forms
    late), clicks then arrive in two shuffled chunks, and a final chunk
    DELETES every even click — purchases must re-resolve to the latest
    surviving click at-or-before them. Final MV equals DuckDB's batch
    ASOF JOIN over the survivors."""
    from risingwave_spark.streaming.join import RetractableAsOfJoin

    ev = tables(spark, sf_dir)["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .agg(F.max("event_id").alias("click_id"))
    )
    jv = RetractableAsOfJoin(
        spark,
        tempfile.mkdtemp(prefix="rw_asof_"),
        key_l="user_id",
        key_r="c_user",
        ts_l="ts",
        ts_r="c_ts",
        payload_cols=["click_id"],
        row_id_l="event_id",
        row_id_r="click_id",
        how="inner",
    )
    # right side starts EMPTY (its first chunk establishes the schema);
    # every purchase therefore arrives before any click it will match
    jv.apply(with_ops(purchases, 1), with_ops(clicks.limit(0), 1))
    jv.apply(None, with_ops(clicks.filter(F.col("click_id") % 3 == 0), 1))
    jv.apply(None, with_ops(clicks.filter(F.col("click_id") % 3 != 0), 1))
    jv.apply(None, with_ops(clicks.filter(F.col("click_id") % 2 == 0), -1))
    return jv.result().select("event_id", "user_id", "ts", "click_id").orderBy(
        "event_id"
    )


@register(
    "stream_approx_distinct_retract",
    oracle=f"""
SELECT event_type, true AS within_2pct
FROM {EVENTS_US} e WHERE event_id % 3 <> 0
GROUP BY event_type ORDER BY event_type
""",
)
def stream_approx_distinct_retract(spark, sf_dir):
    """Sketch-based RETRACTABLE approx_count_distinct (reference
    updatable register bank, `approx_count_distinct/mod.rs:36-44`):
    events arrive in two insert chunks, a third chunk DELETES every 3rd
    event, and the per-type estimate must land within 2% of the exact
    distinct user count over the SURVIVORS — state is O(registers) per
    group, not O(distinct values)."""
    from risingwave_spark.streaming.approx_distinct import ApproxDistinctRetractable

    ev = tables(spark, sf_dir)["events"]
    acd = ApproxDistinctRetractable(
        spark, tempfile.mkdtemp(prefix="rw_acd_"), ["event_type"], "user_id"
    )
    for i in range(2):
        acd.apply_batch(with_ops(ev.filter(F.col("event_id") % 2 == i), 1))
    acd.apply_batch(with_ops(ev.filter(F.col("event_id") % 3 == 0), -1))
    exact = (
        ev.filter(F.col("event_id") % 3 != 0)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_cnt"))
    )
    return (
        acd.result()
        .join(exact, "event_type")
        .select(
            "event_type",
            (
                F.abs(F.col("approx_cnt") - F.col("exact_cnt")) / F.col("exact_cnt")
                <= 0.02
            ).alias("within_2pct"),
        )
        .orderBy("event_type")
    )


@register(
    "stream_eowc_over_window",
    oracle=f"""
SELECT user_id, event_id, value,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
       lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
FROM {EVENTS_US} e
WHERE ts <= (SELECT max(ts) - INTERVAL '10 minutes' FROM {EVENTS_US} e2)
ORDER BY user_id, rn
""",
)
def stream_eowc_over_window(spark, sf_dir):
    """EOWC over-window (reference EowcOverWindowExecutor,
    `over_window/eowc.rs:88`): rows buffer until the watermark passes
    them, then emit exactly once with row_number/lag attached,
    per-partition functions continuing from carried seeds; a late replay
    chunk is dropped. Output = the batch window over every row at/before
    the final watermark."""
    import datetime

    from risingwave_spark.streaming.over_window import EowcOverWindow

    ev = tables(spark, sf_dir)["events"]
    # events min/max ts from the parquet footer statistics — value-
    # identical to the agg, zero Spark jobs (util.footer_bounds)
    lo, hi = footer_bounds(spark, sf_dir)
    span = (hi - lo) / 4
    eowc = EowcOverWindow(
        spark,
        tempfile.mkdtemp(prefix="rw_eowcw_"),
        ["user_id"],
        "ts",
        ["ts", "event_id"],
        "event_id",
        funcs={"rn": ("row_number",), "prev_value": ("lag", "value")},
        payload_cols=["value", "event_id"],
        delay_seconds=600,
    )
    for i in range(4):
        a = lo + i * span
        b = (lo + (i + 1) * span) if i < 3 else (hi + datetime.timedelta(seconds=1))
        eowc.feed(ev.filter((F.col("ts") >= F.lit(a)) & (F.col("ts") < F.lit(b))))
    # late replay of early rows: already emitted -> dropped, never duplicated
    eowc.feed(ev.filter(F.col("ts") < F.lit(lo + span)).limit(500))
    return (
        eowc.result()
        .select("user_id", "event_id", "value", "rn", "prev_value")
        .orderBy("user_id", "rn")
    )


@register(
    "stream_over_window_delta2",
    oracle=f"""
SELECT user_id, event_id,
       rank()       OVER w AS rk,
       dense_rank() OVER w AS drk,
       min(vc)  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vmin,
       max(vc)  OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vmax,
       CAST(sum(vc) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / count(vc) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vavg,
       count(vc) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vcnt,
       lead(vc)    OVER w AS nxt,
       lead(vc, 3) OVER w AS nxt3
FROM (SELECT user_id, event_id, ts,
             CAST(round(value*10000,0) AS BIGINT) AS vc
      FROM {EVENTS_US} WHERE event_id % 7 <> 0) e
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY user_id, rk
""",
)
def stream_over_window_delta2(spark, sf_dir):
    """Frame-delta over-window MV with the WIDENED function set (VERDICT
    r3 ask #5; reference frame_finder.rs computes affected ranges in both
    directions): rank / dense_rank / running min-max-avg-count continue
    across the prefix boundary via carried seeds (+ hidden cumulative
    __aux columns for rank/avg), and the forward-looking lead() functions
    extend the recompute range BACKWARD by their frame reach. Event-time
    ordered batches then a mid-stream DELETE; equals the batch window
    over the survivors. Values use the exact-scaled-int pattern so the
    running avg's single division is bit-identical cross-engine."""
    import datetime

    from risingwave_spark.streaming.over_window import MaterializedOverWindowDelta

    ev = tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 10000, 0).cast("long").alias("vc"),
    )
    # events min/max ts from the parquet footer statistics — value-
    # identical to the agg, zero Spark jobs (util.footer_bounds)
    lo, hi = footer_bounds(spark, sf_dir)
    span = (hi - lo) / 4
    mvw = MaterializedOverWindowDelta(
        spark,
        tempfile.mkdtemp(prefix="rw_owd2_"),
        ["user_id"],
        ["ts", "event_id"],
        "event_id",
        funcs={
            "rk": ("rank",),
            "drk": ("dense_rank",),
            "vmin": ("min", "vc"),
            "vmax": ("max", "vc"),
            "vavg": ("avg", "vc"),
            "vcnt": ("count", "vc"),
            "nxt": ("lead", "vc"),
            "nxt3": ("lead", "vc", 3),
        },
        payload_cols=["vc"],
    )
    for i in range(4):
        a = lo + i * span
        b = (lo + (i + 1) * span) if i < 3 else (hi + datetime.timedelta(seconds=1))
        mvw.apply_batch(
            with_ops(ev.filter((F.col("ts") >= F.lit(a)) & (F.col("ts") < F.lit(b))), 1)
        )
    mvw.apply_batch(with_ops(ev.filter(F.col("event_id") % 7 == 0), -1))
    return (
        mvw.result()
        .select("user_id", "event_id", "rk", "drk", "vmin", "vmax", "vavg", "vcnt", "nxt", "nxt3")
        .orderBy("user_id", "rk")
    )


@register(
    "stream_eowc_over_window_lead",
    oracle=f"""
WITH base AS (
  SELECT user_id, event_id, ts, CAST(round(value*10000,0) AS BIGINT) AS vc
  FROM {EVENTS_US}
), wm AS (SELECT max(ts) - INTERVAL 600 SECOND AS w FROM base),
wo AS (
  SELECT user_id, event_id, ts, vc,
         rank()   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rk,
         lead(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM base
), closed AS (
  SELECT wo.*,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS dr
  FROM wo, wm WHERE wo.ts <= wm.w
)
SELECT user_id, event_id, vc, rk, nxt FROM closed WHERE dr > 1
ORDER BY user_id, rk
""",
)
def stream_eowc_over_window_lead(spark, sf_dir):
    """EOWC over-window with a FORWARD-looking function (VERDICT r3 ask
    #5): lead() delays emission by its frame reach — a closed row emits
    only once `reach` closed rows exist behind it (the reference's
    frame-reach emission delay in eowc.rs), so every emitted lead value
    is final. Equals the batch window restricted to the emittable set."""
    import datetime

    from risingwave_spark.streaming.over_window import EowcOverWindow

    ev = tables(spark, sf_dir)["events"].select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 10000, 0).cast("long").alias("vc"),
    )
    # events min/max ts from the parquet footer statistics — value-
    # identical to the agg, zero Spark jobs (util.footer_bounds)
    lo, hi = footer_bounds(spark, sf_dir)
    span = (hi - lo) / 4
    eowc = EowcOverWindow(
        spark,
        tempfile.mkdtemp(prefix="rw_eowcl_"),
        ["user_id"],
        "ts",
        ["ts", "event_id"],
        "event_id",
        funcs={"rk": ("rank",), "nxt": ("lead", "vc")},
        payload_cols=["vc"],
        delay_seconds=600,
    )
    for i in range(4):
        a = lo + i * span
        b = (lo + (i + 1) * span) if i < 3 else (hi + datetime.timedelta(seconds=1))
        eowc.feed(ev.filter((F.col("ts") >= F.lit(a)) & (F.col("ts") < F.lit(b))))
    return (
        eowc.result()
        .select("user_id", "event_id", "vc", "rk", "nxt")
        .orderBy("user_id", "rk")
    )


@register(
    "engine_sql_ddl_mv",
    oracle=f"""
SELECT o_orderstatus, count(*) AS n,
       (CAST(sum(CAST(round((o_totalprice
              + CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END)*100,0)
            AS BIGINT)) AS BIGINT)/100.0) AS total
FROM orders WHERE o_orderkey % 7 <> 0
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def engine_sql_ddl_mv(spark, sf_dir):
    """The reference's front-door workflow as pure SQL TEXT (handler
    dispatch `src/frontend/src/handler/mod.rs:248-260`, `create_table.rs`,
    `create_mv.rs:87`): CREATE TABLE, CREATE MATERIALIZED VIEW ... AS
    SELECT (created BEFORE any data so every row arrives incrementally),
    INSERT ... SELECT ×2, DELETE, UPDATE — the MV read back through SQL
    must equal the one-shot batch aggregate over the surviving rows."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)  # registers `orders` as a temp view
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_sqleng_"))
    eng.sql(
        """
        CREATE TABLE rw_sql_orders (
            o_orderkey int8 PRIMARY KEY,
            o_orderstatus text,
            o_totalprice float8
        );
        CREATE MATERIALIZED VIEW rw_sql_mv AS
        SELECT o_orderstatus, count(*) AS n,
               sum(CAST(round(o_totalprice*100, 0) AS BIGINT))/100.0D AS total
        FROM rw_sql_orders GROUP BY o_orderstatus
        """
    )
    eng.sql(
        "INSERT INTO rw_sql_orders SELECT o_orderkey, o_orderstatus, o_totalprice "
        "FROM orders WHERE o_orderkey % 2 = 0"
    )
    eng.sql(
        "INSERT INTO rw_sql_orders SELECT o_orderkey, o_orderstatus, o_totalprice "
        "FROM orders WHERE o_orderkey % 2 = 1"
    )
    eng.sql("DELETE FROM rw_sql_orders WHERE o_orderkey % 7 = 0")
    eng.sql("UPDATE rw_sql_orders SET o_totalprice = o_totalprice + 1 WHERE o_orderkey % 11 = 0")
    return eng.sql("SELECT o_orderstatus, n, total FROM rw_sql_mv ORDER BY o_orderstatus")


@register(
    "engine_sql_mv_join",
    oracle="""
SELECT o_orderstatus, count(*) AS n, count(c_name) AS n_matched
FROM (SELECT * FROM orders WHERE o_orderkey % 3 <> 0) o
LEFT JOIN customer c
  ON o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def engine_sql_mv_join(spark, sf_dir):
    """MV over a dimension join as SQL text (reference create_mv.rs over
    joins; here with TemporalJoin 'current version' semantics — the MV is
    maintained w.r.t. the fact table's changelog, the dimension read
    fresh per recompute): inserts in two rounds then a DELETE; the MV
    equals the batch left join over the survivors."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)  # registers `orders` + `customer` temp views
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_mvj_"))
    eng.sql(
        """
        CREATE TABLE rw_mvj_orders (
            o_orderkey int8 PRIMARY KEY, o_custkey int8, o_orderstatus text
        );
        CREATE MATERIALIZED VIEW rw_mvj AS
        SELECT o_orderstatus, count(*) AS n, count(c_name) AS n_matched
        FROM rw_mvj_orders o
        LEFT JOIN customer c
          ON o.o_custkey = c.c_custkey AND c.c_mktsegment = 'BUILDING'
        GROUP BY o_orderstatus
        """
    )
    eng.sql(
        "INSERT INTO rw_mvj_orders SELECT o_orderkey, o_custkey, o_orderstatus "
        "FROM orders WHERE o_orderkey % 2 = 0"
    )
    eng.sql(
        "INSERT INTO rw_mvj_orders SELECT o_orderkey, o_custkey, o_orderstatus "
        "FROM orders WHERE o_orderkey % 2 = 1"
    )
    eng.sql("DELETE FROM rw_mvj_orders WHERE o_orderkey % 3 = 0")
    return eng.sql("SELECT o_orderstatus, n, n_matched FROM rw_mvj ORDER BY o_orderstatus")


@register(
    "engine_sql_self_join_mv",
    oracle="""
WITH nat AS (SELECT * FROM nation WHERE n_nationkey % 9 <> 0),
     sup AS (SELECT * FROM supplier WHERE s_suppkey % 3 <> 0)
SELECT n2.n_name AS peer_nation, count(*) AS n_sup
FROM sup s
JOIN nat n1 ON s.s_nationkey = n1.n_nationkey
JOIN nat n2 ON n1.n_regionkey = n2.n_regionkey
GROUP BY peer_nation ORDER BY peer_nation
""",
)
def engine_sql_self_join_mv(spark, sf_dir):
    """Self-join MV through the SQL front door in the reference's
    `nation n1, nation n2` spelling (reference `views/q7.slt.part`;
    binder alias disambiguation): the chain compiler renames each
    duplicated-table role's columns per alias, DML on the shared table
    folds into BOTH roles, and a delete retracts through every role at
    once. Suppliers count against each nation sharing their region."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)  # registers `nation` + `supplier` temp views
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_sj_"))
    eng.sql(
        """
        CREATE TABLE rw_sj_supplier (
            s_suppkey int8 PRIMARY KEY, s_nationkey int8
        );
        CREATE TABLE rw_sj_nation (
            n_nationkey int8 PRIMARY KEY, n_name text, n_regionkey int8
        );
        CREATE MATERIALIZED VIEW rw_sj AS
        SELECT n2.n_name AS peer_nation, count(*) AS n_sup
        FROM rw_sj_supplier, rw_sj_nation n1, rw_sj_nation n2
        WHERE s_nationkey = n1.n_nationkey
          AND n1.n_regionkey = n2.n_regionkey
        GROUP BY peer_nation
        """
    )
    eng.sql("INSERT INTO rw_sj_nation SELECT n_nationkey, n_name, n_regionkey FROM nation")
    eng.sql(
        "INSERT INTO rw_sj_supplier SELECT s_suppkey, s_nationkey "
        "FROM supplier WHERE s_suppkey % 2 = 0"
    )
    eng.sql(
        "INSERT INTO rw_sj_supplier SELECT s_suppkey, s_nationkey "
        "FROM supplier WHERE s_suppkey % 2 = 1"
    )
    eng.sql("DELETE FROM rw_sj_supplier WHERE s_suppkey % 3 = 0")
    # delete on the SELF-JOINED table retracts through both roles
    eng.sql("DELETE FROM rw_sj_nation WHERE n_nationkey % 9 = 0")
    return eng.sql("SELECT peer_nation, n_sup FROM rw_sj ORDER BY peer_nation")


@register(
    "engine_sql_view",
    oracle="""
SELECT o_orderstatus, count(*) AS n
FROM (SELECT * FROM orders WHERE o_orderkey % 4 <> 0) o
WHERE o_totalprice > 1000
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def engine_sql_view(spark, sf_dir):
    """CREATE VIEW through the SQL front door (reference
    `handler/create_view.rs`): late-bound — the view body re-resolves
    against the table's CURRENT snapshot after every DML batch, so the
    final read reflects inserts and deletes issued after creation."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_vw_"))
    eng.sql(
        """
        CREATE TABLE vw_orders (
            o_orderkey int8 PRIMARY KEY, o_orderstatus text, o_totalprice float8
        );
        CREATE VIEW vw_big AS
        SELECT o_orderkey, o_orderstatus FROM vw_orders WHERE o_totalprice > 1000
        """
    )
    eng.sql(
        "INSERT INTO vw_orders SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders"
    )
    eng.sql("DELETE FROM vw_orders WHERE o_orderkey % 4 = 0")
    return eng.sql(
        "SELECT o_orderstatus, count(*) AS n FROM vw_big "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )


@register(
    "engine_sql_mv_join2",
    oracle="""
SELECT c_name, count(*) AS n,
       CAST(sum(CAST(round((o_totalprice
              + CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END)*100,0)
            AS BIGINT)) AS BIGINT) AS cents
FROM (SELECT * FROM orders WHERE o_orderkey % 7 <> 0) o
JOIN (SELECT * FROM customer WHERE c_custkey % 5 <> 0) c
  ON o.o_custkey = c.c_custkey
GROUP BY c_name ORDER BY c_name
""",
)
def engine_sql_mv_join2(spark, sf_dir):
    """Stream-STREAM join MV through the SQL front door (reference
    `create_mv.rs:87` planning a `stream_hash_join.rs` node — both FROM
    inputs are engine tables, i.e. changelogs; every
    `e2e_test/streaming/tpch/` MV has this shape): CREATE MV over
    `a JOIN b`, then inserts in two rounds per side, DELETEs on BOTH
    sides, and an UPDATE — the incrementally-maintained aggregate must
    equal the batch join over the surviving rows."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)  # registers `orders` + `customer` temp views
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_ssj_"))
    eng.sql(
        """
        CREATE TABLE ssj_o (
            o_orderkey int8 PRIMARY KEY, o_custkey int8, o_totalprice float8
        );
        CREATE TABLE ssj_c (c_custkey int8 PRIMARY KEY, c_name text);
        CREATE MATERIALIZED VIEW ssj_mv AS
        SELECT c.c_name, count(*) AS n,
               sum(CAST(round(o.o_totalprice*100,0) AS BIGINT)) AS cents
        FROM ssj_o o JOIN ssj_c c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_name
        """
    )
    eng.sql(
        "INSERT INTO ssj_o SELECT o_orderkey, o_custkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 2 = 0"
    )
    eng.sql("INSERT INTO ssj_c SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 0")
    eng.sql(
        "INSERT INTO ssj_o SELECT o_orderkey, o_custkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 2 = 1"
    )
    eng.sql("INSERT INTO ssj_c SELECT c_custkey, c_name FROM customer WHERE c_custkey % 2 = 1")
    eng.sql("DELETE FROM ssj_o WHERE o_orderkey % 7 = 0")
    eng.sql("DELETE FROM ssj_c WHERE c_custkey % 5 = 0")
    eng.sql("UPDATE ssj_o SET o_totalprice = o_totalprice + 1 WHERE o_orderkey % 11 = 0")
    return eng.sql("SELECT c_name, n, cents FROM ssj_mv ORDER BY c_name")


@register(
    "engine_sql_mv_join3",
    oracle="""
SELECT c_mktsegment, count(*) AS n,
       CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS cents
FROM (SELECT * FROM customer WHERE c_custkey % 5 <> 0) c
JOIN (SELECT * FROM orders WHERE o_orderkey % 7 <> 0) o ON c.c_custkey = o.o_custkey
JOIN (SELECT * FROM lineitem WHERE l_linenumber <> 2) l ON o.o_orderkey = l.l_orderkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)
def engine_sql_mv_join3(spark, sf_dir):
    """THREE-way stream-stream join MV through SQL (reference
    `create_mv.rs:87` planning a TREE of `stream_hash_join.rs` nodes —
    the `e2e_test/streaming/tpch/q3`-class shape, customer ⋈ orders ⋈
    lineitem): compiled onto a left-deep RetractableStreamJoin cascade
    whose per-level changelogs feed the next level; deletes on ALL THREE
    tables (including the middle one) keep the aggregate exact."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_ssj3_"))
    eng.sql(
        """
        CREATE TABLE sj3_c (c_custkey int8 PRIMARY KEY, c_mktsegment text);
        CREATE TABLE sj3_o (o_orderkey int8 PRIMARY KEY, o_custkey int8);
        CREATE TABLE sj3_l (
            l_orderkey int8, l_linenumber int4, l_extendedprice float8,
            PRIMARY KEY (l_orderkey, l_linenumber)
        );
        CREATE MATERIALIZED VIEW sj3_mv AS
        SELECT c.c_mktsegment, count(*) AS n,
               sum(CAST(round(l.l_extendedprice*100,0) AS BIGINT)) AS cents
        FROM sj3_c c JOIN sj3_o o ON c.c_custkey = o.o_custkey
                     JOIN sj3_l l ON o.o_orderkey = l.l_orderkey
        GROUP BY c.c_mktsegment
        """
    )
    eng.sql("INSERT INTO sj3_c SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 0")
    eng.sql("INSERT INTO sj3_o SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 0")
    eng.sql(
        "INSERT INTO sj3_l SELECT l_orderkey, l_linenumber, l_extendedprice "
        "FROM lineitem WHERE l_orderkey % 2 = 0"
    )
    eng.sql("INSERT INTO sj3_c SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 2 = 1")
    eng.sql("INSERT INTO sj3_o SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 2 = 1")
    eng.sql(
        "INSERT INTO sj3_l SELECT l_orderkey, l_linenumber, l_extendedprice "
        "FROM lineitem WHERE l_orderkey % 2 = 1"
    )
    eng.sql("DELETE FROM sj3_l WHERE l_linenumber = 2")
    eng.sql("DELETE FROM sj3_o WHERE o_orderkey % 7 = 0")
    eng.sql("DELETE FROM sj3_c WHERE c_custkey % 5 = 0")
    return eng.sql("SELECT c_mktsegment, n, cents FROM sj3_mv ORDER BY c_mktsegment")


@register(
    "engine_sql_mv_join_outer",
    oracle="""
SELECT o_orderkey, o_totalprice, c_name
FROM (SELECT * FROM orders WHERE o_orderkey % 13 <> 0) o
LEFT JOIN (SELECT * FROM customer WHERE c_custkey % 2 <> 0 AND c_custkey % 3 = 0) c
  ON o.o_custkey = c.c_custkey
ORDER BY o_orderkey
""",
)
def engine_sql_mv_join_outer(spark, sf_dir):
    """Row-grain OUTER stream-stream join MV via SQL: deletes on the
    RIGHT side must flip matched rows back to null-padded (the
    reference's degree-table bookkeeping, `hash_join.rs`; here the
    affected keys' recompute re-derives padding declaratively)."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_ssjo_"))
    eng.sql(
        """
        CREATE TABLE ssjo_o (
            o_orderkey int8 PRIMARY KEY, o_custkey int8, o_totalprice float8
        );
        CREATE TABLE ssjo_c (c_custkey int8 PRIMARY KEY, c_name text);
        CREATE MATERIALIZED VIEW ssjo_mv AS
        SELECT o.o_orderkey, o.o_totalprice, c.c_name
        FROM ssjo_o o LEFT JOIN ssjo_c c ON o.o_custkey = c.c_custkey
        """
    )
    eng.sql("INSERT INTO ssjo_o SELECT o_orderkey, o_custkey, o_totalprice FROM orders")
    eng.sql("INSERT INTO ssjo_c SELECT c_custkey, c_name FROM customer WHERE c_custkey % 3 = 0")
    # right-side deletes: previously-matched orders fall back to NULL pad
    eng.sql("DELETE FROM ssjo_c WHERE c_custkey % 2 = 0")
    eng.sql("DELETE FROM ssjo_o WHERE o_orderkey % 13 = 0")
    return eng.sql("SELECT o_orderkey, o_totalprice, c_name FROM ssjo_mv ORDER BY o_orderkey")


@register(
    "stream_dynamic_filter",
    oracle=f"""
SELECT user_id, count(*) AS n_above
FROM {EVENTS_US} e
WHERE value > (SELECT CAST(sum(CAST(round(value*10000,0) AS BIGINT)) AS BIGINT)/10000.0
                      / count(*) FROM {EVENTS_US} e2)
GROUP BY user_id ORDER BY user_id
""",
)
def stream_dynamic_filter(spark, sf_dir):
    """DynamicFilter (reference `dynamic_filter.rs:39`): `value > (scalar
    subquery)` where the RHS is a 1-row stream — every batch the global
    exact-cents average moves, and the retained LHS state is RE-FILTERED
    against the new threshold (the reference re-scans state on RHS
    movement; here the refilter is a full declarative pass over
    ChunkedState). Final MV == one-shot batch with the scalar subquery."""
    import tempfile as _tf

    from risingwave_spark.streaming.mv import ChunkedState

    ev = tables(spark, sf_dir)["events"].select("event_id", "user_id", "value")
    state = ChunkedState(spark, _tf.mkdtemp(prefix="rw_dyn_"), "event_id")
    result = None
    for i in range(3):
        state.fold(ev.filter(F.col("event_id") % 3 == i), ev.limit(0))
        rows = state.read()
        thr = rows.agg(
            (
                (F.sum(F.round(F.col("value") * 10000, 0).cast("long")) / 10000.0)
                / F.count(F.lit(1))
            ).alias("thr")
        )
        result = (
            rows.join(F.broadcast(thr))
            .filter(F.col("value") > F.col("thr"))
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n_above"))
        )
    return result.orderBy("user_id")


@register(
    "engine_sql_eowc",
    oracle=f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, count(*) AS n,
       {o_msum('value', 10000)} AS total
FROM {EVENTS_US} e
WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
      <= (SELECT max(ts) - INTERVAL '10 minutes' FROM {EVENTS_US} e2)
GROUP BY ws ORDER BY ws
""",
)
def engine_sql_eowc(spark, sf_dir):
    """EMIT ON WINDOW CLOSE through the SQL front door (reference:
    `WATERMARK FOR` binding `binder/relation/watermark.rs`, EOWC plan
    enforcement `optimizer/mod.rs:474-630`, sort buffer `sort.rs:20`):
    CREATE TABLE declares the watermark, CREATE MV declares
    TUMBLE + EMIT ON WINDOW CLOSE; events arrive as 4 event-time-ordered
    INSERT batches plus a LATE 5th batch (fresh ids, first-quartile
    timestamps — all behind the final watermark) that must be dropped;
    the MV holds exactly the windows closed by max(ts) − 10 min, each
    emitted once."""
    from risingwave_spark.api import Engine

    ev = tables(spark, sf_dir)["events"]
    # events min/max ts from the parquet footer statistics — value-
    # identical to the agg, zero Spark jobs (util.footer_bounds)
    lo, hi = footer_bounds(spark, sf_dir)
    span = (hi - lo) / 4
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_eowc_sql_"))
    eng.sql(
        """
        CREATE TABLE eowc_ev (
            event_id int8 PRIMARY KEY, user_id int8, value float8,
            ts timestamp,
            WATERMARK FOR ts AS ts - INTERVAL '10 minutes'
        ) APPEND ONLY;
        CREATE MATERIALIZED VIEW eowc_mv AS
        SELECT window_start AS ws, count(*) AS n,
               sum(CAST(round(value*10000, 0) AS BIGINT))/10000.0D AS total
        FROM TUMBLE(eowc_ev, ts, INTERVAL '1 hour')
        GROUP BY window_start
        EMIT ON WINDOW CLOSE
        """
    )
    bounds = [lo + i * span for i in range(4)] + [None]
    for i in range(4):
        a, b = bounds[i], bounds[i + 1]
        pred = f"ts >= TIMESTAMP '{a}'" + (f" AND ts < TIMESTAMP '{b}'" if b else "")
        eng.sql(
            "INSERT INTO eowc_ev SELECT event_id, user_id, value, ts "
            f"FROM events WHERE {pred}"
        )
    # late batch: NEW ids, OLD timestamps (entirely behind the watermark)
    eng.sql(
        "INSERT INTO eowc_ev SELECT event_id + 10000000, user_id, value, ts "
        f"FROM events WHERE ts < TIMESTAMP '{lo + span}' LIMIT 500"
    )
    return eng.sql("SELECT ws, n, total FROM eowc_mv ORDER BY ws")


@register(
    "engine_sql_temporal_join",
    oracle="""
SELECT o_orderkey AS fid, o_totalprice AS price,
       CASE WHEN o_orderkey % 2 = 1 AND c_custkey % 3 = 0
            THEN 'X_' || c_mktsegment ELSE c_mktsegment END AS seg
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey % 4 = 0 OR o_orderkey % 2 = 1
ORDER BY fid
""",
)
def engine_sql_temporal_join(spark, sf_dir):
    """Temporal join in SQL (reference `stream_temporal_join.rs`,
    `JOIN dim FOR SYSTEM_TIME AS OF PROCTIME() ON ...`): each fact row
    joins the dimension version current AT ITS ARRIVAL — facts inserted
    before the dimension UPDATE keep the old attribute, facts inserted
    after see the new one; a dimension-side change alone never rewrites
    existing MV rows. The oracle reconstructs both versions by batch
    membership."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_tjsql_"))
    eng.sql(
        """
        CREATE TABLE ttj_dim (k int8 PRIMARY KEY, seg text);
        CREATE TABLE ttj_fact (fid int8 PRIMARY KEY, k int8, price float8);
        CREATE MATERIALIZED VIEW ttj_mv AS
        SELECT fid, price, seg
        FROM ttj_fact f
        JOIN ttj_dim FOR SYSTEM_TIME AS OF PROCTIME() d ON f.k = d.k
        """
    )
    eng.sql("INSERT INTO ttj_dim SELECT c_custkey, c_mktsegment FROM customer")
    eng.sql(
        "INSERT INTO ttj_fact SELECT o_orderkey, o_custkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 4 = 0"
    )
    eng.sql("UPDATE ttj_dim SET seg = 'X_' || seg WHERE k % 3 = 0")
    eng.sql(
        "INSERT INTO ttj_fact SELECT o_orderkey, o_custkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 2 = 1"
    )
    return eng.sql("SELECT fid, price, seg FROM ttj_mv ORDER BY fid")


@register(
    "engine_sql_cdc_source",
    oracle=f"""
SELECT o_orderstatus AS status, count(*) AS n,
       {o_msum("o_totalprice + CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END")} AS total
FROM orders
WHERE o_orderkey % 2 = 0
  AND NOT (o_orderkey % 5 = 0 AND o_orderkey % 7 <> 0)
GROUP BY status ORDER BY status
""",
)
def engine_sql_cdc_source(spark, sf_dir):
    """File-based CDC ingestion end-to-end (reference
    `src/connector/src/source/cdc/` + Debezium parser
    `parser/debezium/debezium_parser.rs`): a directory of Debezium-JSON
    segment files — inserts, then an update segment (−before/+after
    pairs), then a delete segment — feeds `CREATE TABLE ... WITH
    (connector='posix_fs') FORMAT DEBEZIUM`; the third segment arrives
    AFTER creation and is folded by `Engine.poll_sources()`. A
    downstream group-agg MV stays exact across all three envelope ops."""
    import shutil as _sh

    from risingwave_spark.api import Engine

    t = tables(spark, sf_dir)
    orders = t["orders"].filter(F.col("o_orderkey") % 2 == 0)
    cdc_dir = tempfile.mkdtemp(prefix="rw_cdcdir_")

    def write_seg(name: str, env_df) -> None:
        tmp = os.path.join(cdc_dir, "__stage")
        env_df.select(F.to_json(F.struct(*env_df.columns)).alias("v")).coalesce(
            1
        ).write.mode("overwrite").text(tmp)
        part = next(
            p for p in os.listdir(tmp) if p.startswith("part-") and p.endswith(".txt")
        )
        _sh.move(os.path.join(tmp, part), os.path.join(cdc_dir, name))
        _sh.rmtree(tmp, ignore_errors=True)

    payload = F.struct(
        F.col("o_orderkey").alias("fid"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    write_seg(
        "seg000.json",
        orders.select(payload.alias("after"), F.lit("c").alias("op")),
    )
    upd = orders.filter(F.col("o_orderkey") % 7 == 0)
    write_seg(
        "seg001.json",
        upd.select(
            payload.alias("before"),
            F.struct(
                F.col("o_orderkey").alias("fid"),
                F.col("o_orderstatus").alias("status"),
                (F.col("o_totalprice") + 1).alias("price"),
            ).alias("after"),
            F.lit("u").alias("op"),
        ),
    )
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_cdcsql_"))
    eng.sql(
        f"""
        CREATE TABLE cdc_orders (
            fid int8 PRIMARY KEY, status text, price float8
        ) WITH (connector = 'posix_fs', path = '{cdc_dir}') FORMAT DEBEZIUM;
        CREATE MATERIALIZED VIEW cdc_mv AS
        SELECT status, count(*) AS n,
               sum(CAST(round(price*100, 0) AS BIGINT))/100.0D AS total
        FROM cdc_orders GROUP BY status
        """
    )
    # a delete segment lands AFTER table creation → poll picks it up
    dele = orders.filter(
        (F.col("o_orderkey") % 5 == 0) & (F.col("o_orderkey") % 7 != 0)
    )
    write_seg(
        "seg002.json",
        dele.select(payload.alias("before"), F.lit("d").alias("op")),
    )
    eng.poll_sources()
    return eng.sql("SELECT status, n, total FROM cdc_mv ORDER BY status")


@register(
    "stream_over_window_frames",
    oracle=f"""
SELECT user_id, event_id, iv, fv, lv, s3, c21, m40 FROM (
  SELECT user_id, event_id, event_id % 97 AS iv,
         first_value(event_id % 97) OVER w AS fv,
         event_id % 97 AS lv,
         CAST(sum(event_id % 97) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT) AS s3,
         count(*) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS c21,
         max(event_id % 97) OVER (PARTITION BY user_id ORDER BY event_id
             RANGE BETWEEN 40 PRECEDING AND CURRENT ROW) AS m40
  FROM events WHERE event_id % 7 <> 0
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
) t ORDER BY user_id, event_id
""",
)
def stream_over_window_frames(spark, sf_dir):
    """Incrementally-maintained BOUNDED-FRAME over-window MV (reference
    `over_window/frame_finder.rs` — ROWS and RANGE frames, both
    directions): first_value/last_value plus sum over ROWS 3 PRECEDING,
    count over ROWS 2 PRECEDING..1 FOLLOWING (emit reach extends the
    recompute BACKWARD one stored row), max over RANGE 40 PRECEDING
    (input reach measured in order-value units). Ordered arrival then a
    delete chunk; equals the batch window over survivors."""
    from risingwave_spark.streaming.over_window import MaterializedOverWindowDelta

    ev = (
        tables(spark, sf_dir)["events"]
        .select("user_id", "event_id", (F.col("event_id") % 97).cast("long").alias("iv"))
    )
    mvw = MaterializedOverWindowDelta(
        spark,
        tempfile.mkdtemp(prefix="rw_owf_"),
        ["user_id"],
        ["event_id"],
        "event_id",
        funcs={
            "fv": ("first_value", "iv"),
            "lv": ("last_value", "iv"),
            "s3": ("sum", "iv", {"rows": (3, 0)}),
            "c21": ("count", "iv", {"rows": (2, 1)}),
            "m40": ("max", "iv", {"range": (40, 0)}),
        },
        payload_cols=["iv"],
    )
    n = footer_bounds(spark, sf_dir, col="event_id")[1] + 1
    for i in range(4):
        mvw.apply_batch(
            with_ops(
                ev.filter(
                    (F.col("event_id") >= i * n / 4) & (F.col("event_id") < (i + 1) * n / 4)
                ),
                1,
            )
        )
    mvw.apply_batch(with_ops(ev.filter(F.col("event_id") % 7 == 0), -1))
    return (
        mvw.result()
        .select("user_id", "event_id", "iv", "fv", "lv", "s3", "c21", "m40")
        .orderBy("user_id", "event_id")
    )


@register(
    "stream_over_window_ranked",
    oracle=f"""
SELECT user_id, event_id,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd,
       ntile(4) OVER w AS nt
FROM events WHERE event_id % 7 <> 0
WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
ORDER BY user_id, event_id
""",
)
def stream_over_window_ranked(spark, sf_dir):
    """Whole-partition over-window kinds under incremental maintenance
    (reference `over_window/general.rs` — percent_rank/cume_dist/ntile
    depend on the partition's TOTAL row count, so frame-delta recompute
    degenerates to full-touched-partition recompute, still O(touched
    partitions) per batch): interleaved arrival + deletes; equals the
    batch window over survivors."""
    from risingwave_spark.streaming.over_window import MaterializedOverWindowDelta

    ev = tables(spark, sf_dir)["events"].select("user_id", "event_id")
    mvw = MaterializedOverWindowDelta(
        spark,
        tempfile.mkdtemp(prefix="rw_owr_"),
        ["user_id"],
        ["event_id"],
        "event_id",
        funcs={"pr": ("percent_rank",), "cd": ("cume_dist",), "nt": ("ntile", 4)},
        payload_cols=[],
    )
    for i in range(3):
        mvw.apply_batch(with_ops(ev.filter(F.col("event_id") % 3 == i), 1))
    mvw.apply_batch(with_ops(ev.filter(F.col("event_id") % 7 == 0), -1))
    return (
        mvw.result()
        .select("user_id", "event_id", "pr", "cd", "nt")
        .orderBy("user_id", "event_id")
    )


@register(
    "engine_sql_hop_mv",
    oracle=f"""
SELECT ws, event_type, count(*) AS n FROM (
  SELECT e.*, w.ws
  FROM (SELECT * FROM {EVENTS_US} e0 WHERE event_id % 6 <> 0) e,
       unnest([time_bucket(INTERVAL '5 minutes', e.ts),
               time_bucket(INTERVAL '5 minutes', e.ts) - INTERVAL '5 minutes']) w(ws)
  WHERE e.ts >= w.ws AND e.ts < w.ws + INTERVAL '10 minutes'
) h
GROUP BY ws, event_type ORDER BY ws, event_type
""",
)
def engine_sql_hop_mv(spark, sf_dir):
    """HOP TVF MV through the SQL front door (reference
    `binder/relation/window_table_function.rs` + `hop_window.rs:25`):
    CREATE MV ... FROM HOP(t, ts, INTERVAL '5 minutes', INTERVAL
    '10 minutes') GROUP BY window_start, event_type — each row feeds
    every covering window; two insert batches then a DELETE retract
    exercise the per-window splice; equals the batch hop expansion over
    survivors."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_hopmv_"))
    eng.sql(
        """
        CREATE TABLE hop_ev (
            event_id int8 PRIMARY KEY, event_type text, ts timestamp
        );
        CREATE MATERIALIZED VIEW hop_mv AS
        SELECT window_start AS ws, event_type, count(*) AS n
        FROM HOP(hop_ev, ts, INTERVAL '5 minutes', INTERVAL '10 minutes')
        GROUP BY window_start, event_type
        """
    )
    eng.sql(
        "INSERT INTO hop_ev SELECT event_id, event_type, ts FROM events "
        "WHERE event_id % 2 = 0"
    )
    eng.sql(
        "INSERT INTO hop_ev SELECT event_id, event_type, ts FROM events "
        "WHERE event_id % 2 = 1"
    )
    eng.sql("DELETE FROM hop_ev WHERE event_id % 6 = 0")
    return eng.sql("SELECT ws, event_type, n FROM hop_mv ORDER BY ws, event_type")


@register(
    "engine_sql_alter_table",
    oracle=f"""
SELECT o_orderkey AS k, o_orderstatus AS status, 7 AS tier,
       {o_msum('o_totalprice')} AS total
FROM orders WHERE o_orderkey % 9 = 0
GROUP BY k, status, tier ORDER BY k
""",
)
def engine_sql_alter_table(spark, sf_dir):
    """ALTER TABLE ADD/DROP COLUMN through the SQL front door (reference
    `handler/alter_table_column.rs` versioned-schema rewrite): rows
    inserted BEFORE the ADD take the DEFAULT; a later DROP removes a
    populated column in one compaction pass; inserts continue against
    the evolved schema."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_altq_"))
    eng.sql(
        "CREATE TABLE alt_orders (k int8 PRIMARY KEY, status text, "
        "priority text, price float8)"
    )
    eng.sql(
        "INSERT INTO alt_orders SELECT o_orderkey, o_orderstatus, o_orderpriority, "
        "o_totalprice FROM orders WHERE o_orderkey % 9 = 0 AND o_orderkey % 2 = 0"
    )
    eng.sql("ALTER TABLE alt_orders ADD COLUMN tier int4 DEFAULT 7")
    eng.sql("ALTER TABLE alt_orders DROP COLUMN priority")
    eng.sql(
        "INSERT INTO alt_orders SELECT o_orderkey, o_orderstatus, "
        "o_totalprice, 7 FROM orders WHERE o_orderkey % 9 = 0 AND o_orderkey % 2 = 1"
    )
    return eng.sql(
        "SELECT k, status, tier, "
        "sum(CAST(round(price*100, 0) AS BIGINT))/100.0D AS total "
        "FROM alt_orders GROUP BY k, status, tier ORDER BY k"
    )


@register(
    "engine_sql_mv_on_windowed_mv",
    oracle=f"""
WITH hop AS (
  SELECT e.user_id, w.ws
  FROM (SELECT * FROM {EVENTS_US} e0 WHERE event_id % 5 <> 0) e,
       unnest([time_bucket(INTERVAL '5 minutes', e.ts),
               time_bucket(INTERVAL '5 minutes', e.ts) - INTERVAL '5 minutes']) w(ws)
  WHERE e.ts >= w.ws AND e.ts < w.ws + INTERVAL '10 minutes'
),
counts AS (SELECT ws, user_id, count(*) AS n FROM hop GROUP BY ws, user_id)
SELECT ws, max(n) AS max_bids, count(*) AS n_bidders
FROM counts GROUP BY ws ORDER BY ws
""",
)
def engine_sql_mv_on_windowed_mv(spark, sf_dir):
    """Nexmark-q5-shaped MV-on-MV pipeline entirely in SQL (reference
    `e2e_test/streaming/nexmark/views/q5.slt.part` stacks MVs the same
    way): level 1 = HOP-windowed per-bidder counts, level 2 = an MV OVER
    that MV (per-window max + bidder count) fed by level 1's changelog.
    Two insert batches then a DELETE retract — both levels stay exact
    through the cascade (mv-on-mv.md)."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_mvmv_"))
    eng.sql(
        """
        CREATE TABLE wb (event_id int8 PRIMARY KEY, user_id int8, ts timestamp);
        CREATE MATERIALIZED VIEW wb_counts AS
        SELECT window_start AS ws, user_id, count(*) AS n
        FROM HOP(wb, ts, INTERVAL '5 minutes', INTERVAL '10 minutes')
        GROUP BY window_start, user_id;
        CREATE MATERIALIZED VIEW wb_hot AS
        SELECT ws, max(n) AS max_bids, count(*) AS n_bidders
        FROM wb_counts GROUP BY ws
        """
    )
    eng.sql(
        "INSERT INTO wb SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 0"
    )
    eng.sql(
        "INSERT INTO wb SELECT event_id, user_id, ts FROM events WHERE event_id % 2 = 1"
    )
    eng.sql("DELETE FROM wb WHERE event_id % 5 = 0")
    return eng.sql("SELECT ws, max_bids, n_bidders FROM wb_hot ORDER BY ws")


@register(
    "engine_sql_over_window_mv",
    oracle=f"""
SELECT user_id, event_id, iv, rn, rsum, prev, m2 FROM (
  SELECT user_id, event_id, event_id % 83 AS iv,
         row_number() OVER w AS rn,
         CAST(sum(event_id % 83) OVER w AS BIGINT) AS rsum,
         lag(event_id % 83) OVER w AS prev,
         max(event_id % 83) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS m2
  FROM events WHERE event_id % 6 <> 0
  WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
) t ORDER BY user_id, event_id
""",
)
def engine_sql_over_window_mv(spark, sf_dir):
    """Over-window MV through the SQL front door (reference
    `stream_over_window.rs` planning `SELECT ..., fn() OVER (...)` MVs):
    four window kinds — row_number, running sum, lag, bounded-frame max
    — share one PARTITION BY/ORDER BY spec and compile onto
    MaterializedOverWindowDelta; three insert batches then a DELETE
    retract; equals the batch window over survivors."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_owsql_"))
    eng.sql(
        """
        CREATE TABLE ow_ev (event_id int8 PRIMARY KEY, user_id int8, iv int8);
        CREATE MATERIALIZED VIEW ow_mv AS
        SELECT user_id, event_id, iv,
               row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn,
               sum(iv) OVER (PARTITION BY user_id ORDER BY event_id) AS rsum,
               lag(iv) OVER (PARTITION BY user_id ORDER BY event_id) AS prev,
               max(iv) OVER (PARTITION BY user_id ORDER BY event_id
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS m2
        FROM ow_ev
        """
    )
    for i in range(3):
        eng.sql(
            "INSERT INTO ow_ev SELECT event_id, user_id, event_id % 83 "
            f"FROM events WHERE event_id % 3 = {i}"
        )
    eng.sql("DELETE FROM ow_ev WHERE event_id % 6 = 0")
    return eng.sql(
        "SELECT user_id, event_id, iv, rn, rsum, prev, m2 FROM ow_mv "
        "ORDER BY user_id, event_id"
    )


@register(
    "engine_sql_eowc_keyed",
    oracle=f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, user_id, count(*) AS n
FROM {EVENTS_US} e
WHERE user_id % 7 = 0
  AND time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
      <= (SELECT max(ts) - INTERVAL '10 minutes' FROM {EVENTS_US} e2)
GROUP BY ws, user_id ORDER BY ws, user_id
""",
)
def engine_sql_eowc_keyed(spark, sf_dir):
    """EMIT ON WINDOW CLOSE with a COMPOSITE group key (window_start +
    user_id — the reference's common q4/q6 EOWC shape): all groups of a
    window emit together when the watermark passes the window end, each
    exactly once; WHERE pre-filters the stream before buffering."""
    from risingwave_spark.api import Engine

    ev = tables(spark, sf_dir)["events"]
    # events min/max ts from the parquet footer statistics — value-
    # identical to the agg, zero Spark jobs (util.footer_bounds)
    lo, hi = footer_bounds(spark, sf_dir)
    span = (hi - lo) / 3
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_eowck_"))
    eng.sql(
        """
        CREATE TABLE eowck_ev (
            event_id int8 PRIMARY KEY, user_id int8, ts timestamp,
            WATERMARK FOR ts AS ts - INTERVAL '10 minutes'
        ) APPEND ONLY;
        CREATE MATERIALIZED VIEW eowck_mv AS
        SELECT window_start AS ws, user_id, count(*) AS n
        FROM TUMBLE(eowck_ev, ts, INTERVAL '1 hour')
        WHERE user_id % 7 = 0
        GROUP BY window_start, user_id
        EMIT ON WINDOW CLOSE
        """
    )
    bounds = [lo + i * span for i in range(3)] + [None]
    for i in range(3):
        a, b = bounds[i], bounds[i + 1]
        pred = f"ts >= TIMESTAMP '{a}'" + (f" AND ts < TIMESTAMP '{b}'" if b else "")
        eng.sql(
            f"INSERT INTO eowck_ev SELECT event_id, user_id, ts FROM events WHERE {pred}"
        )
    return eng.sql("SELECT ws, user_id, n FROM eowck_mv ORDER BY ws, user_id")


@register(
    "engine_sql_mv_union",
    oracle="""
SELECT k, status FROM (
  SELECT o_orderkey AS k, o_orderstatus AS status FROM orders
  WHERE o_orderkey % 2 = 0 AND o_orderkey % 6 <> 0 AND o_totalprice > 1000
  UNION ALL
  SELECT o_orderkey, o_orderstatus FROM orders
  WHERE o_orderkey % 2 = 1
    AND (o_totalprice + CASE WHEN o_orderkey % 5 = 0 THEN 10000 ELSE 0 END)
        > 150000
) u ORDER BY k
""",
)
def engine_sql_mv_union(spark, sf_dir):
    """CREATE MV over UNION ALL through the SQL surface (reference
    stream Union executor `src/stream/src/executor/union.rs`,
    `e2e_test/streaming/union.slt`): two changelog tables merged with
    per-arm WHERE filters; a DELETE on one arm and an UPDATE that moves
    rows ACROSS the other arm's filter boundary both keep the merged
    view exact."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_umv_"))
    eng.sql(
        """
        CREATE TABLE rw_u_even (
            o_orderkey int8 PRIMARY KEY, o_orderstatus text, o_totalprice float8
        );
        CREATE TABLE rw_u_odd (
            o_orderkey int8 PRIMARY KEY, o_orderstatus text, o_totalprice float8
        );
        CREATE MATERIALIZED VIEW rw_umv AS
        SELECT o_orderkey AS k, o_orderstatus AS status
        FROM rw_u_even WHERE o_totalprice > 1000
        UNION ALL
        SELECT o_orderkey AS k, o_orderstatus AS status
        FROM rw_u_odd WHERE o_totalprice > 150000
        """
    )
    eng.sql(
        "INSERT INTO rw_u_even SELECT o_orderkey, o_orderstatus, o_totalprice "
        "FROM orders WHERE o_orderkey % 2 = 0"
    )
    eng.sql(
        "INSERT INTO rw_u_odd SELECT o_orderkey, o_orderstatus, o_totalprice "
        "FROM orders WHERE o_orderkey % 2 = 1"
    )
    eng.sql("DELETE FROM rw_u_even WHERE o_orderkey % 6 = 0")
    # moves some odd rows ACROSS the arm's 150000 filter boundary
    eng.sql(
        "UPDATE rw_u_odd SET o_totalprice = o_totalprice + 10000 "
        "WHERE o_orderkey % 5 = 0"
    )
    return eng.sql("SELECT k, status FROM rw_umv ORDER BY k")


@register(
    "engine_sql_mv_union_distinct",
    oracle="""
SELECT seg FROM (
  SELECT c_mktsegment || '#' || CAST(c_custkey % 50 AS VARCHAR) AS seg
  FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 7 <> 0
  UNION
  SELECT c_mktsegment || '#' || CAST(c_custkey % 50 AS VARCHAR) AS seg
  FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 11 <> 0
) u ORDER BY seg
""",
)
def engine_sql_mv_union_distinct(spark, sf_dir):
    """UNION (distinct) MV: a value survives while ANY arm still holds
    it, disappears when its multiplicity across all arms hits zero
    (reference plans union-distinct as union-all + distinct agg,
    `binder/set_expr.rs`). Deletes on both arms exercise the
    cross-arm multiplicity accounting."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_udmv_"))
    eng.sql(
        """
        CREATE TABLE rw_ud_a (c_custkey int8 PRIMARY KEY, c_mktsegment text);
        CREATE TABLE rw_ud_b (c_custkey int8 PRIMARY KEY, c_mktsegment text);
        CREATE MATERIALIZED VIEW rw_udmv AS
        SELECT c_mktsegment || '#' || CAST(c_custkey % 50 AS varchar) AS seg
        FROM rw_ud_a
        UNION
        SELECT c_mktsegment || '#' || CAST(c_custkey % 50 AS varchar) AS seg
        FROM rw_ud_b
        """
    )
    eng.sql(
        "INSERT INTO rw_ud_a SELECT c_custkey, c_mktsegment FROM customer "
        "WHERE c_custkey % 2 = 0"
    )
    eng.sql(
        "INSERT INTO rw_ud_b SELECT c_custkey, c_mktsegment FROM customer "
        "WHERE c_custkey % 3 = 0"
    )
    eng.sql("DELETE FROM rw_ud_a WHERE c_custkey % 7 = 0")
    eng.sql("DELETE FROM rw_ud_b WHERE c_custkey % 11 = 0")
    return eng.sql("SELECT seg FROM rw_udmv ORDER BY seg")


@register(
    "engine_sql_on_conflict",
    oracle="""
WITH upserted AS (
  SELECT o_orderkey AS k, o_orderstatus AS status,
         CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 5
              ELSE o_totalprice END AS price
  FROM orders
)
SELECT status, count(*) AS n,
       (CAST(sum(CAST(round(price*100, 0) AS BIGINT)) AS BIGINT)/100.0) AS total
FROM upserted GROUP BY status ORDER BY status
""",
)
def engine_sql_on_conflict(spark, sf_dir):
    """CREATE TABLE ... ON CONFLICT OVERWRITE (reference
    `parser.rs parse_on_conflict` + `materialize.rs:193-290` conflict
    handling; e2e_test/streaming/on_conflict.slt): the second INSERT
    UPSERTS a third of the rows — the conflict changelog (−1 old / +1
    new) keeps the downstream agg MV exact without any DELETE issued."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_oc_"))
    eng.sql(
        """
        CREATE TABLE rw_oc (
            k int8 PRIMARY KEY, status text, price float8
        ) ON CONFLICT OVERWRITE;
        CREATE MATERIALIZED VIEW rw_oc_mv AS
        SELECT status, count(*) AS n,
               sum(CAST(round(price*100, 0) AS BIGINT))/100.0D AS total
        FROM rw_oc GROUP BY status
        """
    )
    eng.sql(
        "INSERT INTO rw_oc SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders"
    )
    eng.sql(
        "INSERT INTO rw_oc SELECT o_orderkey, o_orderstatus, o_totalprice + 5 "
        "FROM orders WHERE o_orderkey % 3 = 0"
    )
    return eng.sql("SELECT status, n, total FROM rw_oc_mv ORDER BY status")


@register(
    "engine_sql_distinct_on",
    oracle="""
SELECT o_custkey AS cust, o_orderkey AS k, price FROM (
  SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey,
         CAST(round(o_totalprice*100, 0) AS BIGINT) AS price
  FROM orders WHERE o_orderkey % 5 <> 0
  ORDER BY o_custkey, o_totalprice DESC, o_orderkey
) d ORDER BY cust
""",
)
def engine_sql_distinct_on(spark, sf_dir):
    """SELECT DISTINCT ON as a maintained MV (reference
    `binder/select.rs` DistinctOn, `e2e_test/streaming/distinct_on.slt`):
    each customer's highest-price order, re-elected when a DELETE
    removes the current winner; DuckDB's native DISTINCT ON is the
    oracle."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_don_"))
    eng.sql(
        """
        CREATE TABLE rw_don (
            o_orderkey int8 PRIMARY KEY, o_custkey int8, o_totalprice float8
        )
        """
    )
    eng.sql(
        """
        CREATE MATERIALIZED VIEW rw_don_mv AS
        SELECT DISTINCT ON (o_custkey) o_custkey AS cust, o_orderkey AS k,
               CAST(round(o_totalprice*100, 0) AS int8) AS price
        FROM rw_don
        ORDER BY o_custkey, o_totalprice DESC, o_orderkey
        """
    )
    eng.sql(
        "INSERT INTO rw_don SELECT o_orderkey, o_custkey, o_totalprice FROM orders"
    )
    eng.sql("DELETE FROM rw_don WHERE o_orderkey % 5 = 0")
    return eng.sql("SELECT cust, k, price FROM rw_don_mv ORDER BY cust")


@register(
    "engine_sql_temporal_filter",
    oracle="""
SELECT o_orderstatus AS status, count(*) AS n FROM (
  SELECT o_orderstatus,
         now()::timestamp - INTERVAL 1 HOUR * (o_orderkey % 200) AS ts
  FROM orders WHERE o_orderkey % 3 <> 0
) t WHERE ts > now()::timestamp - INTERVAL 100 HOUR
GROUP BY status ORDER BY status
""",
)
def engine_sql_temporal_filter(spark, sf_dir):
    """Temporal-filter MV (reference Now executor
    `src/stream/src/executor/now.rs`,
    e2e_test/streaming/temporal_filter.slt): rows timestamped relative
    to now() at INSERT; the MV keeps a moving 100-hour window, a DELETE
    retracts inside it, and a tick() advances the barrier (hour-wide
    margins keep the oracle deterministic — DuckDB evaluates the same
    offsets against its own now())."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_tfq_"))
    eng.sql(
        """
        CREATE TABLE rw_tf (k int8 PRIMARY KEY, status text, ts timestamp);
        CREATE MATERIALIZED VIEW rw_tf_mv AS
        SELECT status, count(*) AS n FROM rw_tf
        WHERE ts > now() - INTERVAL '100' HOUR GROUP BY status
        """
    )
    eng.sql(
        "INSERT INTO rw_tf SELECT o_orderkey, o_orderstatus, "
        "now() - INTERVAL '1' HOUR * CAST(o_orderkey % 200 AS int) "
        "FROM orders"
    )
    eng.sql("DELETE FROM rw_tf WHERE k % 3 = 0")
    eng.tick()  # time barrier advances by the test's runtime — no
    # hour boundary moves, the splice is exercised
    return eng.sql("SELECT status, n FROM rw_tf_mv ORDER BY status")


@register(
    "stream_approx_percentile_retract",
    oracle=f"""
SELECT event_type, true AS within_1pct
FROM {EVENTS_US} e WHERE event_id % 3 <> 0
GROUP BY event_type ORDER BY event_type
""",
)
def stream_approx_percentile_retract(spark, sf_dir):
    """Retractable approx_percentile (reference two-stage log-bucket
    histogram, `approx_percentile/local.rs` + `global_state.rs`):
    events arrive in two insert chunks, a third chunk DELETES every 3rd
    event, and the per-type p90 estimate must land within the declared
    1% relative error of the exact percentile over the SURVIVORS —
    state is O(buckets) per group, not O(rows)."""
    from risingwave_spark.streaming.approx_percentile import (
        ApproxPercentileRetractable,
    )

    ev = tables(spark, sf_dir)["events"]
    ap = ApproxPercentileRetractable(
        spark,
        tempfile.mkdtemp(prefix="rw_apr_"),
        ["event_type"],
        "value",
        quantile=0.9,
        relative_error=0.01,
    )
    for i in range(2):
        ap.apply_batch(with_ops(ev.filter(F.col("event_id") % 2 == i), 1))
    ap.apply_batch(with_ops(ev.filter(F.col("event_id") % 3 == 0), -1))
    exact = (
        ev.filter(F.col("event_id") % 3 != 0)
        .groupBy("event_type")
        .agg(F.expr("percentile_cont(0.9) WITHIN GROUP (ORDER BY value)").alias("exact_p"))
    )
    return (
        ap.result()
        .join(exact, "event_type")
        .select(
            "event_type",
            (
                F.abs(F.col("approx_percentile") - F.col("exact_p"))
                / F.greatest(F.abs(F.col("exact_p")), F.lit(1e-9))
                <= 0.011
            ).alias("within_1pct"),
        )
        .orderBy("event_type")
    )


@register(
    "engine_sql_generated_cols",
    oracle="""
SELECT bucket, count(*) AS n,
       (CAST(sum(CAST(round(price_tax*100, 0) AS BIGINT)) AS BIGINT)/100.0) AS taxed
FROM (
  SELECT o_orderkey % 10 AS bucket, o_totalprice * 1.1 AS price_tax
  FROM orders WHERE o_orderkey % 4 <> 0
) g GROUP BY bucket ORDER BY bucket
""",
)
def engine_sql_generated_cols(spark, sf_dir):
    """Generated columns (reference `bind_sql_columns` generated-column
    binding, e2e_test/ddl/table/generated_columns.slt.part): `AS expr`
    columns compute on ingest and flow through DML — inserts, a DELETE,
    and a downstream agg MV grouped BY a generated column stay exact."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_gc_"))
    eng.sql(
        """
        CREATE TABLE rw_gc (
            o_orderkey int8 PRIMARY KEY,
            o_totalprice float8,
            bucket int8 AS o_orderkey % 10,
            price_tax float8 AS o_totalprice * 1.1
        );
        CREATE MATERIALIZED VIEW rw_gc_mv AS
        SELECT bucket, count(*) AS n,
               sum(CAST(round(price_tax*100, 0) AS int8))/100.0D AS taxed
        FROM rw_gc GROUP BY bucket
        """
    )
    eng.sql(
        "INSERT INTO rw_gc SELECT o_orderkey, o_totalprice FROM orders"
    )
    eng.sql("DELETE FROM rw_gc WHERE o_orderkey % 4 = 0")
    return eng.sql("SELECT bucket, n, taxed FROM rw_gc_mv ORDER BY bucket")


@register(
    "engine_sql_grouping_sets_mv",
    oracle="""
SELECT o_orderstatus AS status, o_orderpriority AS prio, count(*) AS n,
       (CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT)/100.0) AS total
FROM orders WHERE o_orderkey % 5 <> 0
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
ORDER BY status NULLS FIRST, prio NULLS FIRST
""",
)
def engine_sql_grouping_sets_mv(spark, sf_dir):
    """GROUPING SETS as a maintained MV (reference stream Expand
    executor `src/stream/src/executor/expand.rs` feeding HashAgg —
    e2e batch twin `e2e_test/batch/grouping_sets/`): three grouping
    sets maintained at once; the DELETE round retracts from every set
    it touches."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_gs_"))
    eng.sql(
        """
        CREATE TABLE rw_gs (
            o_orderkey int8 PRIMARY KEY, status text, prio text,
            o_totalprice float8
        );
        CREATE MATERIALIZED VIEW rw_gs_mv AS
        SELECT status, prio, count(*) AS n,
               sum(CAST(round(o_totalprice*100, 0) AS int8))/100.0D AS total
        FROM rw_gs GROUP BY GROUPING SETS ((status, prio), (status), ())
        """
    )
    eng.sql(
        "INSERT INTO rw_gs SELECT o_orderkey, o_orderstatus, o_orderpriority, "
        "o_totalprice FROM orders"
    )
    eng.sql("DELETE FROM rw_gs WHERE o_orderkey % 5 = 0")
    return eng.sql(
        "SELECT status, prio, n, total FROM rw_gs_mv "
        "ORDER BY status NULLS FIRST, prio NULLS FIRST"
    )


@register(
    "engine_sql_mv_intersect",
    oracle="""
SELECT seg FROM (
  SELECT c_mktsegment || '#' || CAST(c_custkey % 40 AS VARCHAR) AS seg
  FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 7 <> 0
  INTERSECT
  SELECT c_mktsegment || '#' || CAST(c_custkey % 40 AS VARCHAR) AS seg
  FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 11 <> 0
) u ORDER BY seg
""",
)
def engine_sql_mv_intersect(spark, sf_dir):
    """Streaming INTERSECT MV (reference
    e2e_test/streaming/intersect.slt.part): set-semantic presence in
    BOTH changelog arms, maintained under deletes on each side."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_imv_"))
    eng.sql(
        """
        CREATE TABLE rw_ia (c_custkey int8 PRIMARY KEY, c_mktsegment text);
        CREATE TABLE rw_ib (c_custkey int8 PRIMARY KEY, c_mktsegment text);
        CREATE MATERIALIZED VIEW rw_imv AS
        SELECT c_mktsegment || '#' || CAST(c_custkey % 40 AS varchar) AS seg
        FROM rw_ia
        INTERSECT
        SELECT c_mktsegment || '#' || CAST(c_custkey % 40 AS varchar) AS seg
        FROM rw_ib
        """
    )
    eng.sql(
        "INSERT INTO rw_ia SELECT c_custkey, c_mktsegment FROM customer "
        "WHERE c_custkey % 2 = 0"
    )
    eng.sql(
        "INSERT INTO rw_ib SELECT c_custkey, c_mktsegment FROM customer "
        "WHERE c_custkey % 3 = 0"
    )
    eng.sql("DELETE FROM rw_ia WHERE c_custkey % 7 = 0")
    eng.sql("DELETE FROM rw_ib WHERE c_custkey % 11 = 0")
    return eng.sql("SELECT seg FROM rw_imv ORDER BY seg")


@register(
    "engine_sql_mv_except",
    oracle="""
SELECT seg FROM (
  SELECT c_mktsegment || '#' || CAST(c_custkey % 40 AS VARCHAR) AS seg
  FROM customer WHERE c_custkey % 2 = 0 AND c_custkey % 7 <> 0
  EXCEPT
  SELECT c_mktsegment || '#' || CAST(c_custkey % 40 AS VARCHAR) AS seg
  FROM customer WHERE c_custkey % 3 = 0 AND c_custkey % 11 <> 0
) u ORDER BY seg
""",
)
def engine_sql_mv_except(spark, sf_dir):
    """Streaming EXCEPT MV (reference
    e2e_test/streaming/except.slt.part): tuples present in arm 0 and
    absent from arm 1, re-evaluated as deletes land on either arm —
    a delete on arm 1 can make a tuple APPEAR."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_emv_"))
    eng.sql(
        """
        CREATE TABLE rw_ea (c_custkey int8 PRIMARY KEY, c_mktsegment text);
        CREATE TABLE rw_eb (c_custkey int8 PRIMARY KEY, c_mktsegment text);
        CREATE MATERIALIZED VIEW rw_emv AS
        SELECT c_mktsegment || '#' || CAST(c_custkey % 40 AS varchar) AS seg
        FROM rw_ea
        EXCEPT
        SELECT c_mktsegment || '#' || CAST(c_custkey % 40 AS varchar) AS seg
        FROM rw_eb
        """
    )
    eng.sql(
        "INSERT INTO rw_ea SELECT c_custkey, c_mktsegment FROM customer "
        "WHERE c_custkey % 2 = 0"
    )
    eng.sql(
        "INSERT INTO rw_eb SELECT c_custkey, c_mktsegment FROM customer "
        "WHERE c_custkey % 3 = 0"
    )
    eng.sql("DELETE FROM rw_ea WHERE c_custkey % 7 = 0")
    eng.sql("DELETE FROM rw_eb WHERE c_custkey % 11 = 0")
    return eng.sql("SELECT seg FROM rw_emv ORDER BY seg")


@register(
    "engine_sql_topn_mv",
    oracle=f"""
SELECT event_type, rk, value FROM (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id) AS rk
  FROM {EVENTS_US} e WHERE event_id % 5 <> 0
) t WHERE rk <= 3 ORDER BY event_type, rk
""",
)
def engine_sql_topn_mv(spark, sf_dir):
    """Group TopN through the SQL surface (reference `logical_top_n.rs`
    converting the rank-filtered subquery into StreamGroupTopN,
    `top_n/group_top_n.rs`): per-type top-3 by value; the DELETE round
    retracts current top rows and the MV surfaces the next-best from
    state. event_id rides in ORDER BY as the deterministic tie-break."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_tnmv_"))
    eng.sql(
        """
        CREATE TABLE rw_tn (
            event_id int8 PRIMARY KEY, event_type text, value float8
        );
        CREATE MATERIALIZED VIEW rw_tn_mv AS
        SELECT event_type, value, rk FROM (
          SELECT event_type, value, event_id,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY value DESC, event_id) AS rk
          FROM rw_tn
        ) WHERE rk <= 3
        """
    )
    eng.sql(
        "INSERT INTO rw_tn SELECT event_id, event_type, "
        "CAST(value AS double) FROM events"
    )
    eng.sql("DELETE FROM rw_tn WHERE event_id % 5 = 0")
    return eng.sql(
        "SELECT event_type, rk, value FROM rw_tn_mv ORDER BY event_type, rk"
    )


@register(
    "engine_sql_mv_on_topn",
    oracle="""
SELECT event_type, count(*) AS n, round(sum(value), 3) AS sv FROM (
  SELECT event_type, value FROM events WHERE event_id % 5 <> 0
  ORDER BY value DESC, event_id LIMIT 50
) t GROUP BY event_type ORDER BY event_type
""",
)
def engine_sql_mv_on_topn(spark, sf_dir):
    """Agg MV chained over a TopN (ORDER BY ... LIMIT) MV — the
    reference's TopN executor emits top-k MEMBERSHIP deltas
    (`src/stream/src/executor/top_n/top_n_plain.rs:79`: a row entering
    the top-k is an Insert, one leaving is a Delete), so any MV can
    consume a TopN MV (`e2e_test/streaming/top_n.slt` shapes). The
    DELETE round evicts current top rows; replacements surface from
    state and flow to the downstream agg as membership deltas."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_mvtn_"))
    eng.sql(
        """
        CREATE TABLE rw_tk (
            event_id int8 PRIMARY KEY, event_type text, value float8
        );
        CREATE MATERIALIZED VIEW rw_tk_top AS
        SELECT event_id, event_type, value FROM rw_tk
        ORDER BY value DESC, event_id LIMIT 50;
        CREATE MATERIALIZED VIEW rw_tk_agg AS
        SELECT event_type, count(*) AS n, round(sum(value), 3) AS sv
        FROM rw_tk_top GROUP BY event_type
        """
    )
    eng.sql(
        "INSERT INTO rw_tk SELECT event_id, event_type, "
        "CAST(value AS double) FROM events"
    )
    eng.sql("DELETE FROM rw_tk WHERE event_id % 5 = 0")
    return eng.sql(
        "SELECT event_type, n, sv FROM rw_tk_agg ORDER BY event_type"
    )


@register(
    "engine_sql_project_set_mv",
    oracle="""
SELECT o_orderkey AS id, unnest([o_orderstatus, o_orderpriority]) AS tag
FROM orders WHERE o_orderkey % 6 <> 0 AND o_orderkey % 2 = 0
ORDER BY id, tag
""",
)
def engine_sql_project_set_mv(spark, sf_dir):
    """ProjectSet MV (reference streaming `project_set.rs`,
    e2e_test/streaming/project_set.slt): unnest fans each source row
    into N MV rows under its pk group; the DELETE round retracts whole
    fan-outs."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_ps_"))
    eng.sql(
        """
        CREATE TABLE rw_ps (id int8 PRIMARY KEY, tags text[]);
        CREATE MATERIALIZED VIEW rw_ps_mv AS
        SELECT id, unnest(tags) AS tag FROM rw_ps
        """
    )
    eng.sql(
        "INSERT INTO rw_ps SELECT o_orderkey, "
        "array(o_orderstatus, o_orderpriority) FROM orders WHERE o_orderkey % 2 = 0"
    )
    eng.sql("DELETE FROM rw_ps WHERE id % 6 = 0")
    return eng.sql("SELECT id, tag FROM rw_ps_mv ORDER BY id, tag")


@register(
    "engine_sql_udf",
    oracle="""
SELECT o_orderstatus,
       CAST(sum((o_orderkey * 3 + o_custkey * 7) % 97) AS BIGINT) AS mix,
       count(*) AS n
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def engine_sql_udf(spark, sf_dir):
    """CREATE FUNCTION through the SQL surface (reference
    `handler/create_sql_function.rs` + `udf/python.rs`;
    e2e_test/udf/sql_udf.slt, python_udf.slt): a LANGUAGE sql function
    (compiled onto Spark's native SQL UDF — Catalyst inlines it, so the
    plan is identical to writing the expression inline) and a LANGUAGE
    python function (Arrow-batched pandas UDF) compose in one query over
    the orders table; the SQL one calls positional $1/$2 params.
    """
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_udf_"))
    eng.sql("DROP FUNCTION IF EXISTS mix3")
    eng.sql("DROP FUNCTION IF EXISTS pymod97")
    eng.sql(
        "CREATE FUNCTION mix3(int8, int8) RETURNS int8 LANGUAGE sql "
        "AS $$select $1 * 3 + $2 * 7$$"
    )
    eng.sql(
        "CREATE FUNCTION pymod97(x int8) RETURNS int8 LANGUAGE python AS $$\n"
        "def pymod97(x):\n"
        "    return x % 97\n"
        "$$"
    )
    return eng.sql(
        "SELECT o_orderstatus, sum(pymod97(mix3(o_orderkey, o_custkey))) AS mix, "
        "count(*) AS n FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )


@register(
    "engine_sql_create_aggregate",
    oracle="""
SELECT l_returnflag,
       CAST(sum(l_linenumber * (l_orderkey % 5 + 1)) AS DOUBLE)
         / sum(l_orderkey % 5 + 1) AS wavg
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
)
def engine_sql_create_aggregate(spark, sf_dir):
    """CREATE AGGREGATE ... LANGUAGE python (reference
    `handler/create_aggregate.rs`; python_udf.slt weighted_avg): the
    create_state/accumulate/finish contract folded per group as a
    grouped-agg pandas UDF, registered for SQL GROUP BY use. Integer
    state with one final float division, so the result is bit-identical
    to the relational spelling."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_udaf_"))
    eng.sql("DROP AGGREGATE IF EXISTS wavg2")
    eng.sql(
        "CREATE AGGREGATE wavg2(value int8, weight int8) RETURNS float8 "
        "LANGUAGE python AS $$\n"
        "def create_state():\n"
        "    return (0, 0)\n"
        "def accumulate(state, value, weight):\n"
        "    if value is None or weight is None:\n"
        "        return state\n"
        "    return (state[0] + value * weight, state[1] + weight)\n"
        "def retract(state, value, weight):\n"
        "    return (state[0] - value * weight, state[1] - weight)\n"
        "def finish(state):\n"
        "    return None if state[1] == 0 else state[0] / state[1]\n"
        "$$"
    )
    return eng.sql(
        "SELECT l_returnflag, wavg2(l_linenumber, l_orderkey % 5 + 1) AS wavg "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    )


@register(
    "engine_sql_ttl",
    oracle="""
SELECT o_orderstatus, count(*) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS keysum
FROM orders WHERE o_orderkey % 2 = 1
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def engine_sql_ttl(spark, sf_dir):
    """TTL via retention_seconds (reference e2e_test/ttl/ttl.slt,
    Hummock compaction TTL): an APPEND ONLY table with retention 60s
    ingests even-key orders at T0 and odd-key orders at T0+120s; a read
    at T0+150s sees only the odd batch — the expired chunk is skipped at
    FILE level (the scan shrinks with the data, the 100 TB posture).
    now_override drives the barrier clock deterministically."""
    import datetime as dt

    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_ttl_"))
    eng.now_override = dt.datetime(2024, 1, 1, 0, 0, 0)
    eng.sql(
        "CREATE TABLE ttl_orders (o_orderkey int8, o_orderstatus text) "
        "APPEND ONLY WITH (retention_seconds = 60)"
    )
    eng.sql(
        "INSERT INTO ttl_orders SELECT o_orderkey, o_orderstatus "
        "FROM orders WHERE o_orderkey % 2 = 0"
    )
    eng.now_override = dt.datetime(2024, 1, 1, 0, 2, 0)
    eng.sql(
        "INSERT INTO ttl_orders SELECT o_orderkey, o_orderstatus "
        "FROM orders WHERE o_orderkey % 2 = 1"
    )
    eng.now_override = dt.datetime(2024, 1, 1, 0, 2, 30)
    return eng.sql(
        "SELECT o_orderstatus, count(*) AS n, sum(o_orderkey) AS keysum "
        "FROM ttl_orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )


@register(
    "engine_sql_time_travel",
    oracle="""
SELECT o_orderstatus, count(*) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS keysum
FROM orders WHERE o_orderkey % 2 = 0
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def engine_sql_time_travel(spark, sf_dir):
    """FOR SYSTEM_TIME AS OF (reference e2e_test/time_travel/basic.slt;
    Hummock GetVersionByEpoch): even-key orders land at T0; at T1 some
    are deleted and odd keys added; the AS-OF read at the midpoint
    reconstructs the T0 state purely by chunk/tombstone file pruning —
    no data copied, no snapshot materialized."""
    import calendar
    import datetime as dt

    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_tt_"))
    eng.now_override = dt.datetime(2024, 1, 1, 0, 0, 0)
    eng.sql("CREATE TABLE tt_orders (o_orderkey int8 PRIMARY KEY, o_orderstatus text)")
    eng.sql(
        "INSERT INTO tt_orders SELECT o_orderkey, o_orderstatus "
        "FROM orders WHERE o_orderkey % 2 = 0"
    )
    eng.now_override = dt.datetime(2024, 1, 1, 0, 1, 0)
    eng.sql("DELETE FROM tt_orders WHERE o_orderkey % 3 = 0")
    eng.sql(
        "INSERT INTO tt_orders SELECT o_orderkey, o_orderstatus "
        "FROM orders WHERE o_orderkey % 2 = 1"
    )
    mid = calendar.timegm((2024, 1, 1, 0, 0, 30, 0, 0, 0))
    return eng.sql(
        f"SELECT o_orderstatus, count(*) AS n, sum(o_orderkey) AS keysum "
        f"FROM tt_orders FOR SYSTEM_TIME AS OF {mid} "
        f"GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )


@register(
    "engine_sql_session_mv",
    oracle="""
WITH surv AS (
  SELECT user_id, event_id, CAST(round(value*100, 0) AS BIGINT) AS vc
  FROM events WHERE user_id < 30 AND event_id % 7 <> 0
), marks AS (
  SELECT user_id, event_id, vc,
         CASE WHEN event_id - lag(event_id) OVER w <= 100 THEN 0 ELSE 1 END AS ns
  FROM surv WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
), sess AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marks
)
SELECT user_id, event_id,
       CAST(sum(vc)   OVER (PARTITION BY user_id, sid) AS BIGINT) AS ss,
       CAST(count(vc) OVER (PARTITION BY user_id, sid) AS BIGINT) AS sn
FROM sess ORDER BY user_id, event_id
""",
)
def engine_sql_session_mv(spark, sf_dir):
    """SESSION over-frame MV through the SQL surface (reference
    session.rs SessionFrameBounds; parser.rs WindowFrameUnits::Session):
    `sum/count OVER (PARTITION BY user ORDER BY id SESSION WITH GAP
    100)` maintained under two insert batches and a delete — deletes
    split sessions, inserts merge them; the MV equals one-shot batch
    sessionization of the survivors."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_sess_"))
    eng.sql(
        "CREATE TABLE sess_ev (event_id int8 PRIMARY KEY, user_id int8, vc int8)"
    )
    eng.sql(
        "CREATE MATERIALIZED VIEW sess_mv AS SELECT user_id, event_id, "
        "sum(vc) OVER (PARTITION BY user_id ORDER BY event_id "
        "SESSION WITH GAP 100) AS ss, "
        "count(vc) OVER (PARTITION BY user_id ORDER BY event_id "
        "SESSION WITH GAP 100) AS sn "
        "FROM sess_ev"
    )
    eng.sql(
        "INSERT INTO sess_ev SELECT event_id, user_id, "
        "CAST(round(value*100, 0) AS BIGINT) FROM events "
        "WHERE user_id < 30 AND event_id % 2 = 0"
    )
    eng.sql(
        "INSERT INTO sess_ev SELECT event_id, user_id, "
        "CAST(round(value*100, 0) AS BIGINT) FROM events "
        "WHERE user_id < 30 AND event_id % 2 = 1"
    )
    eng.sql("DELETE FROM sess_ev WHERE event_id % 7 = 0")
    return eng.sql(
        "SELECT user_id, event_id, ss, sn FROM sess_mv "
        "ORDER BY user_id, event_id"
    )


@register(
    "engine_sql_background_ddl",
    oracle="""
SELECT o_orderstatus, count(*) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS keysum
FROM orders WHERE o_orderkey % 3 <> 0
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def engine_sql_background_ddl(spark, sf_dir):
    """Background DDL + resumable chunked backfill end-to-end (reference
    e2e_test/background_ddl/basic.slt + executor/backfill/): the MV is
    created with SET BACKGROUND_DDL=true over a pre-loaded table, its
    snapshot backfill runs in 4 pk-hash slices on a worker thread, WAIT
    joins it, and post-WAIT DML keeps maintaining — the result equals
    the one-shot aggregate over the survivors."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_bg_"))
    eng.sql("CREATE TABLE bg_orders (o_orderkey int8 PRIMARY KEY, o_orderstatus text)")
    eng.sql(
        "INSERT INTO bg_orders SELECT o_orderkey, o_orderstatus FROM orders"
    )
    try:
        eng.sql("SET BACKGROUND_DDL = true")
        eng.sql("SET rw.backfill_chunks = 4")
        eng.sql(
            "CREATE MATERIALIZED VIEW bg_mv AS SELECT o_orderstatus, "
            "count(*) AS n, sum(o_orderkey) AS keysum "
            "FROM bg_orders GROUP BY o_orderstatus"
        )
        eng.sql("WAIT")
    finally:
        eng.sql("SET BACKGROUND_DDL = false")
        eng.sql("SET rw.backfill_chunks = 1")
    eng.sql("DELETE FROM bg_orders WHERE o_orderkey % 3 = 0")
    return eng.sql(
        "SELECT o_orderstatus, n, keysum FROM bg_mv ORDER BY o_orderstatus"
    )


@register(
    "engine_sql_eowc_over_window",
    oracle=f"""
WITH surv AS (
  SELECT user_id, event_id, ts, CAST(round(value*100,0) AS BIGINT) AS vc
  FROM events WHERE user_id < 40
), wm AS (
  SELECT max(ts) - INTERVAL 10 MINUTE AS w FROM surv
)
SELECT user_id, event_id,
       CAST(rn AS BIGINT) AS rn, CAST(s2 AS BIGINT) AS s2
FROM (
  SELECT user_id, event_id, ts,
         row_number() OVER w2 AS rn,
         sum(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s2
  FROM surv WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
) x, wm WHERE x.ts <= wm.w
ORDER BY user_id, rn
""",
)
def engine_sql_eowc_over_window(spark, sf_dir):
    """EOWC over-window through the SQL surface (reference eowc.rs +
    the optimizer's EOWC planning; WATERMARK DDL from
    binder/relation/watermark.rs): an APPEND ONLY watermarked table
    feeds `row_number + bounded-frame sum OVER (...) EMIT ON WINDOW
    CLOSE` in two insert batches; emitted rows equal the batch window
    restricted to ts <= final watermark, with frames that cross the
    emission boundary served by the retained tail."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_eowcow_"))
    eng.sql(
        "CREATE TABLE eow_ev (event_id int8 PRIMARY KEY, user_id int8, "
        "vc int8, ts timestamp, "
        "WATERMARK FOR ts AS ts - INTERVAL '10 minutes') APPEND ONLY"
    )
    eng.sql(
        "CREATE MATERIALIZED VIEW eow_mv AS SELECT user_id, ts, event_id, "
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn, "
        "sum(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS s2 "
        "FROM eow_ev EMIT ON WINDOW CLOSE"
    )
    sel = (
        "SELECT event_id, user_id, CAST(round(value*100,0) AS BIGINT), ts "
        "FROM events WHERE user_id < 40"
    )
    half = "SELECT percentile_approx(unix_micros(ts), 0.5) FROM events"
    cut = spark.sql(half).first()[0]
    eng.sql(f"INSERT INTO eow_ev {sel} AND unix_micros(ts) <= {cut}")
    eng.sql(f"INSERT INTO eow_ev {sel} AND unix_micros(ts) > {cut}")
    return eng.sql(
        "SELECT user_id, event_id, rn, s2 FROM eow_mv ORDER BY user_id, rn"
    )


@register(
    "engine_sql_read_only_txn",
    oracle="""
SELECT o_orderstatus, count(*) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS keysum
FROM orders WHERE o_orderkey % 2 = 0
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def engine_sql_read_only_txn(spark, sf_dir):
    """START TRANSACTION READ ONLY isolation end-to-end (reference
    `handler/transaction.rs`, e2e_test/batch/transaction/
    read_only_multi_conn.slt): even-key orders land, a read-only
    transaction pins the snapshot, a SECOND engine on the same warehouse
    inserts the odd keys — the in-transaction aggregate still sees only
    the pinned chunk-seq horizon (the evens), which is what this query
    returns before COMMIT releases it."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    wh = tempfile.mkdtemp(prefix="rw_txn_")
    eng = Engine(spark, wh)
    eng.sql("CREATE TABLE txn_orders (o_orderkey int8 PRIMARY KEY, o_orderstatus text)")
    eng.sql(
        "INSERT INTO txn_orders SELECT o_orderkey, o_orderstatus "
        "FROM orders WHERE o_orderkey % 2 = 0"
    )
    eng.sql("START TRANSACTION READ ONLY")
    other = Engine.open(spark, wh)  # the concurrent writer connection
    other.sql(
        "INSERT INTO txn_orders SELECT o_orderkey, o_orderstatus "
        "FROM orders WHERE o_orderkey % 2 = 1"
    )
    pinned = eng.sql(
        "SELECT o_orderstatus, count(*) AS n, sum(o_orderkey) AS keysum "
        "FROM txn_orders GROUP BY o_orderstatus ORDER BY o_orderstatus"
    ).localCheckpoint(eager=True)
    eng.sql("COMMIT")
    return pinned


@register(
    "engine_sql_schema_and_prepare",
    oracle="""
SELECT o_orderstatus, count(*) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS keysum
FROM orders WHERE o_orderkey % 4 = 1 OR o_orderkey IN (7, 11)
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
)
def engine_sql_schema_and_prepare(spark, sf_dir):
    """Schemas + prepared statements end-to-end (reference
    e2e_test/ddl/schema.slt + extended_handle.rs): a table under a
    created schema is populated through a prepared INSERT...SELECT with a
    $1 parameter (executed twice) plus two single-row EXECUTEs of a
    prepared VALUES insert; a prepared parameterized SELECT reads the
    aggregate back through the schema-qualified name."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_schp_"))
    eng.sql("CREATE SCHEMA mix")
    eng.sql(
        "CREATE TABLE mix.orders_s (o_orderkey int8 PRIMARY KEY, "
        "o_orderstatus text) ON CONFLICT IGNORE"
    )
    eng.sql(
        "PREPARE load AS INSERT INTO mix.orders_s "
        "SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 4 = $1"
    )
    eng.sql("EXECUTE load(1)")
    eng.sql("EXECUTE load(1)")  # duplicate run: ON CONFLICT IGNORE drops it
    ins_one = eng.sql("SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey = 7").first()
    eng.sql("PREPARE one AS INSERT INTO mix.orders_s VALUES ($1, $2)")
    eng.sql(f"EXECUTE one(7, '{ins_one.o_orderstatus}')")
    row11 = eng.sql("SELECT o_orderstatus FROM orders WHERE o_orderkey = 11").first()
    eng.sql(f"EXECUTE one(11, '{row11.o_orderstatus}')")
    eng.sql(
        "PREPARE q AS SELECT o_orderstatus, count(*) AS n, "
        "sum(o_orderkey) AS keysum FROM mix.orders_s WHERE o_orderkey % 4 = $1 "
        "OR o_orderkey IN (7, 11) GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )
    return eng.sql("EXECUTE q(1)")


@register(
    "engine_sql_mv_using_join",
    oracle="""
SELECT c_nationkey, count(*) AS n,
       CAST(sum(CAST(round(c_acctbal*100,0) AS BIGINT)) AS BIGINT) AS bal_cents
FROM (SELECT * FROM customer WHERE c_custkey % 6 <> 0) c
JOIN nation ON c_nationkey = n_nationkey
GROUP BY c_nationkey ORDER BY c_nationkey
""",
)
def engine_sql_mv_using_join(spark, sf_dir):
    """JOIN ... USING in an MV body (reference
    `e2e_test/streaming/natural_and_cross_join.slt` — the shared-column
    join spelling): compiled via the dimension path, Catalyst binds the
    USING columns natively in the per-batch recompute; the customer
    stream's deletes retract."""
    import tempfile

    from risingwave_spark.api import Engine

    t = tables(spark, sf_dir)
    t["nation"].select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    ).createOrReplaceTempView("nat_using")
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_usingmv_"))
    eng.sql(
        """
        CREATE TABLE cust_u (
            c_custkey int8 PRIMARY KEY, c_nationkey int8, c_acctbal float8
        );
        CREATE MATERIALIZED VIEW using_mv AS
        SELECT c_nationkey, count(*) AS n,
               sum(CAST(round(c_acctbal*100,0) AS BIGINT)) AS bal_cents
        FROM cust_u JOIN nat_using USING (c_nationkey)
        GROUP BY c_nationkey
        """
    )
    eng.sql(
        "INSERT INTO cust_u SELECT c_custkey, c_nationkey, c_acctbal "
        "FROM customer WHERE c_custkey % 2 = 0"
    )
    eng.sql(
        "INSERT INTO cust_u SELECT c_custkey, c_nationkey, c_acctbal "
        "FROM customer WHERE c_custkey % 2 = 1"
    )
    eng.sql("DELETE FROM cust_u WHERE c_custkey % 6 = 0")
    return eng.sql(
        "SELECT c_nationkey, n, bal_cents FROM using_mv ORDER BY c_nationkey"
    )


@register(
    "engine_sql_mv_natural_join",
    oracle="""
SELECT c_nationkey, max(n_name) AS nation_name, count(*) AS n
FROM (SELECT * FROM customer WHERE c_custkey % 6 <> 0) c
JOIN nation ON c_nationkey = n_nationkey
GROUP BY c_nationkey ORDER BY c_nationkey
""",
)
def engine_sql_mv_natural_join(spark, sf_dir):
    """NATURAL JOIN in an MV body (reference
    `e2e_test/streaming/natural_and_cross_join.slt`): the implicit
    shared-column condition binds in the recompute; group keys stay on
    the maintained table (the dimension-path surface)."""
    import tempfile

    from risingwave_spark.api import Engine

    t = tables(spark, sf_dir)
    t["nation"].select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    ).createOrReplaceTempView("nat_natural")
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_natmv_"))
    eng.sql(
        """
        CREATE TABLE cust_n (
            c_custkey int8 PRIMARY KEY, c_nationkey int8, c_acctbal float8
        );
        CREATE MATERIALIZED VIEW natural_mv AS
        SELECT c_nationkey, max(n_name) AS nation_name, count(*) AS n
        FROM cust_n NATURAL JOIN nat_natural
        GROUP BY c_nationkey
        """
    )
    eng.sql(
        "INSERT INTO cust_n SELECT c_custkey, c_nationkey, c_acctbal "
        "FROM customer WHERE c_custkey % 2 = 0"
    )
    eng.sql(
        "INSERT INTO cust_n SELECT c_custkey, c_nationkey, c_acctbal "
        "FROM customer WHERE c_custkey % 2 = 1"
    )
    eng.sql("DELETE FROM cust_n WHERE c_custkey % 6 = 0")
    return eng.sql(
        "SELECT c_nationkey, nation_name, n FROM natural_mv ORDER BY c_nationkey"
    )


@register(
    "engine_sql_simple_agg_mv",
    oracle="""
SELECT count(*) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS keysum,
       (CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT)/100.0) AS total,
       CAST(max(o_orderkey) AS BIGINT) AS mx
FROM orders WHERE o_orderkey % 5 <> 0
""",
)
def engine_sql_simple_agg_mv(spark, sf_dir):
    """GLOBAL-aggregate MV in the reference's no-GROUP-BY spelling
    (SimpleAgg executor, `src/stream/src/executor/simple_agg.rs`;
    `e2e_test/streaming/tpch/views/q6.slt.part` uses exactly this
    shape): one always-present row riding the grouped machinery on a
    hidden constant key; the DELETE round folds every aggregate back
    down, and the batch twin over survivors must hash-match."""
    from risingwave_spark.api import Engine

    tables(spark, sf_dir)
    eng = Engine(spark, tempfile.mkdtemp(prefix="rw_saggmv_"))
    eng.sql(
        """
        CREATE TABLE sagg_orders (
            o_orderkey int8 PRIMARY KEY,
            o_totalprice float8
        );
        CREATE MATERIALIZED VIEW sagg_mv AS
        SELECT count(*) AS n,
               sum(o_orderkey) AS keysum,
               sum(CAST(round(o_totalprice*100, 0) AS BIGINT))/100.0D AS total,
               max(o_orderkey) AS mx
        FROM sagg_orders
        """
    )
    eng.sql(
        "INSERT INTO sagg_orders SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 2 = 0"
    )
    eng.sql(
        "INSERT INTO sagg_orders SELECT o_orderkey, o_totalprice "
        "FROM orders WHERE o_orderkey % 2 = 1"
    )
    eng.sql("DELETE FROM sagg_orders WHERE o_orderkey % 5 = 0")
    return eng.sql("SELECT n, keysum, total, mx FROM sagg_mv")
