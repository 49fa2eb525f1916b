"""Streaming runtime tests: MV incremental maintenance (snapshot
equivalence, the reference's `nexmark_snapshot.slt` pattern), retractions,
and real Structured Streaming (tumble window, dedup, session window,
watermark append mode)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from risingwave_spark.queries.util import tables
from risingwave_spark.streaming.mv import MaterializedGroupAgg, run_changelog, with_ops
from tests.conftest import SF_DIR


@pytest.fixture()
def events(spark):
    return tables(spark, SF_DIR)["events"]


def _batch_expected(ev):
    v = F.col("value")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        (F.sum(F.round(v * 10000, 0).cast("long")) / 10000.0).alias("total"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_mv_snapshot_equivalence(spark, events):
    """Incremental (3 chunks) == one-shot batch (reference
    e2e_test/streaming/nexmark_snapshot.slt pattern)."""
    chunks = [
        with_ops(events.filter(F.col("event_id") % 3 == i), 1) for i in range(3)
    ]
    with tempfile.TemporaryDirectory() as d:
        got = run_changelog(spark, d, chunks, ["user_id"], "event_id", "value")
        assert _rows(got) == _rows(_batch_expected(events))


def test_mv_retraction(spark, events):
    """Deletes retract correctly, including min/max (MaterializedInput
    aggs) and group disappearance on count→0."""
    ins = with_ops(events, 1)
    # delete all 'error' events and ALL rows of user 7 (group must vanish)
    to_delete = events.filter((F.col("event_type") == "error") | (F.col("user_id") == 7))
    dels = with_ops(to_delete, -1)
    remaining = events.join(
        to_delete.select("event_id"), on="event_id", how="left_anti"
    )
    with tempfile.TemporaryDirectory() as d:
        got = run_changelog(spark, d, [ins, dels], ["user_id"], "event_id", "value")
        assert _rows(got) == _rows(_batch_expected(remaining))
        assert got.filter(F.col("user_id") == 7).count() == 0


def test_mv_update_pair(spark, events):
    """UpdateDelete/UpdateInsert pair: moving a row between groups."""
    row = events.filter(F.col("event_id") == 1)
    upd_del = with_ops(row, -1)
    upd_ins = with_ops(row.withColumn("user_id", F.lit(999).cast("long")), 1)
    with tempfile.TemporaryDirectory() as d:
        got = run_changelog(
            spark, d,
            [with_ops(events, 1), upd_del.unionByName(upd_ins)],
            ["user_id"], "event_id", "value",
        )
        moved = events.withColumn(
            "user_id",
            F.when(F.col("event_id") == 1, F.lit(999).cast("long")).otherwise(F.col("user_id")),
        )
        assert _rows(got) == _rows(_batch_expected(moved))
        assert got.filter(F.col("user_id") == 999).count() == 1


def _event_stream(spark):
    """events as a bounded streaming source (schema from the batch read;
    ts arrives as ns-longs per the catalog convention)."""
    path = os.path.join(SF_DIR, "events.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(path).schema
    # file streaming source wants a directory: point at sf_dir, glob one file
    sdf = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_DIR)
    )
    ts_t = dict(sdf.dtypes).get("ts")
    if ts_t == "bigint":  # legacy TIMESTAMP(NANOS) data
        sdf = sdf.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_t == "timestamp_ntz":  # current µs data; watermarks need LTZ
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
    return sdf


def test_stream_tumble_complete(spark, events):
    """Structured Streaming hourly tumble agg (complete mode) == batch."""
    sdf = _event_stream(spark)
    agg = sdf.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_tumble")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT w.start AS ws, event_type, n FROM t_tumble")
    exp = events.groupBy(
        F.date_trunc("hour", "ts").alias("ws"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    assert _rows(got) == _rows(exp)


def test_stream_dedup(spark, events):
    """Streaming dropDuplicates (reference AppendOnlyDedup)."""
    sdf = _event_stream(spark)
    q = (
        sdf.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_dedup")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT event_type, n FROM t_dedup")
    exp = events.dropDuplicates(["event_id"]).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    assert _rows(got) == _rows(exp)


def test_stream_eowc_append(spark, events):
    """Emit-on-window-close: append mode + watermark emits only closed
    windows (reference EOWC, `over_window/eowc.rs:88`, sort.rs). With a
    bounded source the final windows stay open → append emits a strict
    subset of the complete-mode result."""
    sdf = _event_stream(spark)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_eowc")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = spark.sql("SELECT w.start AS ws, n FROM t_eowc")
    full = events.groupBy(F.date_trunc("hour", "ts").alias("ws")).agg(
        F.count(F.lit(1)).alias("n")
    )
    em = {r.ws: r.n for r in emitted.collect()}
    fl = {r.ws: r.n for r in full.collect()}
    # every emitted window is final and matches the batch count
    assert all(fl[k] == v for k, v in em.items())
    # the last (unclosed) window must NOT have been emitted
    assert len(em) < len(fl)


def test_stream_session_window(spark, events):
    """session_window grouping (reference SESSION frames, session.rs:42)."""
    sdf = _event_stream(spark)
    agg = (
        sdf.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_sess")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT user_id, count(*) AS n_sessions, sum(n) AS n_events FROM t_sess GROUP BY user_id")
    # cross-check session count against the batch lag/gap sessionization
    from risingwave_spark.queries import QUERIES

    exp = QUERIES["ev_session_agg"](spark, SF_DIR)
    assert _rows(got.select("user_id", "n_sessions", "n_events")) == _rows(
        exp.select("user_id", "n_sessions", F.col("n_events").cast("long"))
    )


def test_chunked_state_compaction(spark, events):
    """Compaction rewrites chunks minus tombstones; reads are identical
    before/after and the tombstone set resets (Hummock-compactor role)."""
    import tempfile

    from risingwave_spark.streaming.mv import ChunkedState

    with tempfile.TemporaryDirectory() as d:
        st = ChunkedState(spark, d, "event_id")
        ev = events.select("event_id", "user_id", "value")
        st.fold(ev.filter(F.col("event_id") % 2 == 0), ev.limit(0))
        st.fold(
            ev.filter(F.col("event_id") % 2 == 1),
            ev.filter(F.col("event_id") % 5 == 0),
        )
        before = sorted(r.event_id for r in st.read().collect())
        assert st._has_tombs
        st.compact()
        after = sorted(r.event_id for r in st.read().collect())
        assert before == after
        assert not st._has_tombs
        # folds keep working after compaction (delete an old survivor)
        st.fold(ev.limit(0), ev.filter(F.col("event_id") == before[0]))
        remaining = sorted(r.event_id for r in st.read().collect())
        assert remaining == before[1:]


def test_stream_to_mv_foreachbatch(spark, events):
    """readStream → foreachBatch → MaterializedGroupAgg: the Structured
    Streaming attachment path of the MV runtime (reference §3.2 — the MV
    as a continuously-maintained streaming job)."""
    import tempfile

    from risingwave_spark.streaming.mv import MaterializedGroupAgg, stream_to_mv

    sdf = _event_stream(spark)
    with tempfile.TemporaryDirectory() as d:
        mv = MaterializedGroupAgg(
            spark, d + "/state", ["event_type"], "event_id", "value"
        )
        q = stream_to_mv(sdf, mv, d + "/ckpt", "t_mv_stream")
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = {r.event_type: (r.cnt,) for r in mv.result().collect()}
        exp = {
            r.event_type: (r.cnt,)
            for r in events.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        assert got == exp


def test_mv_state_recovery(spark, events):
    """Failover semantics (reference epoch-consistent checkpoints,
    `docs checkpoint.md`): a NEW MaterializedGroupAgg instance opened on
    the same state dir resumes — sequence numbers continue, tombstones
    persist, and folding more batches yields the same result as one
    uninterrupted run."""
    import tempfile

    from risingwave_spark.streaming.mv import MaterializedGroupAgg, with_ops

    ev = events.select("event_id", "user_id", "value")
    with tempfile.TemporaryDirectory() as d:
        mv1 = MaterializedGroupAgg(spark, d, ["user_id"], "event_id", "value")
        mv1.apply_batch(with_ops(ev.filter(F.col("event_id") % 2 == 0), 1))
        mv1.apply_batch(with_ops(ev.filter(F.col("event_id") % 10 == 0), -1))
        del mv1

        # "crash" + reopen: state dirs drive full recovery
        mv2 = MaterializedGroupAgg(spark, d, ["user_id"], "event_id", "value")
        assert mv2.state._seq == 2  # resumed past both folded batches
        mv2.apply_batch(with_ops(ev.filter(F.col("event_id") % 2 == 1), 1))

        surviving = ev.filter(
            (F.col("event_id") % 10 != 0) | (F.col("event_id") % 2 == 1)
        )
        exp = {
            r.user_id: r.cnt
            for r in surviving.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        got = {r.user_id: r.cnt for r in mv2.result().collect()}
        assert got == exp


def test_mv_auto_compaction_preserves_results(spark, events):
    """With compact_every=2, many alternating insert/delete batches keep
    the MV correct while state chunks get periodically rewritten."""
    import tempfile

    from risingwave_spark.streaming.mv import MaterializedGroupAgg, with_ops

    ev = events.select("event_id", "user_id", "value").filter(F.col("event_id") < 400)
    with tempfile.TemporaryDirectory() as d:
        mv = MaterializedGroupAgg(spark, d, ["user_id"], "event_id", "value")
        mv.compact_every = 2
        for i in range(4):
            mv.apply_batch(with_ops(ev.filter(F.col("event_id") % 4 == i), 1))
            mv.apply_batch(
                with_ops(ev.filter((F.col("event_id") % 4 == i) & (F.col("event_id") % 3 == 0)), -1)
            )
        surviving = ev.filter(F.col("event_id") % 3 != 0)
        exp = {
            r.user_id: r.cnt
            for r in surviving.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        got = {r.user_id: r.cnt for r in mv.result().collect()}
        assert got == exp


def test_mv_batch_redelivery_is_exactly_once(spark, events):
    """foreachBatch redelivery (same batch_id twice) must not double-count
    — the LAST_BATCH pointer skips the state fold and the idempotent
    recompute leaves the MV unchanged."""
    import tempfile

    from risingwave_spark.streaming.mv import MaterializedGroupAgg, with_ops

    ev = events.select("event_id", "user_id", "value").filter(F.col("event_id") < 300)
    with tempfile.TemporaryDirectory() as d:
        mv = MaterializedGroupAgg(spark, d, ["user_id"], "event_id", "value")
        b0 = with_ops(ev.filter(F.col("event_id") % 2 == 0), 1)
        b1 = with_ops(ev.filter(F.col("event_id") % 2 == 1), 1)
        mv.apply_batch(b0, batch_id=0)
        mv.apply_batch(b1, batch_id=1)
        once = sorted(map(tuple, mv.result().collect()))
        # redeliver batch 1 (the foreachBatch crash-recovery path)
        mv.apply_batch(b1, batch_id=1)
        assert sorted(map(tuple, mv.result().collect())) == once
        # a recovered instance also refuses the replay
        mv2 = MaterializedGroupAgg(spark, d, ["user_id"], "event_id", "value")
        mv2.apply_batch(b1, batch_id=1)
        assert sorted(map(tuple, mv2.result().collect())) == once


def test_native_watermark_advances_across_batches(spark, events):
    """Native append-mode EOWC with a REAL multi-batch run: events are
    split into 4 ts-ordered files streamed one per micro-batch
    (maxFilesPerTrigger=1), so the watermark advances between batches and
    append mode emits exactly the windows closed by the final watermark."""
    import os as _os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        src = _os.path.join(d, "src")
        ev = events.select("event_id", "ts", "user_id", "value")
        lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
        span = (hi - lo) / 4
        # sequential writes → file mod-time order == event-time order
        for i in range(4):
            a = lo + i * span
            import datetime

            b = (lo + (i + 1) * span) if i < 3 else (hi + datetime.timedelta(seconds=1))
            (
                ev.filter((F.col("ts") >= F.lit(a)) & (F.col("ts") < F.lit(b)))
                .coalesce(1)
                .write.mode("append")
                .parquet(src)
            )
        schema = spark.read.parquet(src).schema
        sdf = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        agg = (
            sdf.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("memory")
            .queryName("t_multibatch")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        emitted = {
            r.ws: r.n
            for r in spark.sql("SELECT w.start AS ws, n FROM t_multibatch").collect()
        }
        assert emitted, "multi-batch run must emit closed windows"
        full = {
            r.ws: r.n
            for r in ev.groupBy(F.date_trunc("hour", "ts").alias("ws"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        # every emitted window is final (exactly the batch count) and the
        # tail window (still open at end-of-stream) is never emitted
        assert all(full[ws] == n for ws, n in emitted.items())
        assert len(emitted) < len(full)


def test_mv_soak_many_batches(spark, events):
    """Soak: 20 alternating insert/delete batches through the MV runtime
    (compaction cadence crossing twice) stays correct — the sustained
    continuous-operation property the reference's MVs guarantee."""
    import tempfile

    from risingwave_spark.streaming.mv import MaterializedGroupAgg, with_ops

    ev = events.select("event_id", "user_id", "value").filter(F.col("event_id") < 600)
    with tempfile.TemporaryDirectory() as d:
        mv = MaterializedGroupAgg(spark, d, ["user_id"], "event_id", "value")
        mv.compact_every = 6
        for i in range(10):
            mv.apply_batch(with_ops(ev.filter(F.col("event_id") % 10 == i), 1), batch_id=2 * i)
            mv.apply_batch(
                with_ops(
                    ev.filter((F.col("event_id") % 10 == i) & (F.col("event_id") % 4 == 1)), -1
                ),
                batch_id=2 * i + 1,
            )
        surviving = ev.filter(F.col("event_id") % 4 != 1)
        exp = {
            (r.user_id): (r.cnt, r.vmin, r.vmax)
            for r in surviving.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("cnt"), F.min("value").alias("vmin"), F.max("value").alias("vmax"))
            .collect()
        }
        got = {r.user_id: (r.cnt, r.vmin, r.vmax) for r in mv.result().collect()}
        assert got == exp


def test_bucket_hash_agrees_spark_vs_python(spark, tmp_path):
    """KeySet.buckets (zlib.crc32 driver-side) must assign every key the
    SAME bucket as _BucketedMvTable.bucket_expr (Spark crc32) — a
    disagreement silently leaves stale MV rows in un-rewritten buckets."""
    import zlib

    from pyspark.sql import functions as F

    from risingwave_spark.streaming.mv import ChunkedState, KeySet, _BucketedMvTable

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "x"), (-5, "héllo"), (2**40, ""), (None, None)],
        "k1 long, k2 string",
    )
    t = _BucketedMvTable.__new__(_BucketedMvTable)
    t.keys, t.n_buckets = ["k1", "k2"], 16
    got = df.withColumn("b", t.bucket_expr()).collect()
    for r in got:
        parts = []
        if r.k1 is not None:
            parts.append(str(int(r.k1)).encode())
        if r.k2 is not None:
            parts.append(r.k2.encode())
        expect = zlib.crc32(b"\x1f".join(parts)) % 16
        assert r.b == expect, f"key=({r.k1},{r.k2}): spark={r.b} python={expect}"
    # the key set of a fold of these rows names exactly the Spark buckets,
    # for each single key (the literal path) and for the composite key
    st = ChunkedState(spark, str(tmp_path / "st"), "k1")
    st.fold(df, df.limit(0))
    for keys in (["k1"], ["k2"], ["k1", "k2"]):
        t.keys, t._bucket_col = keys, None
        spark_buckets = {r.b for r in df.select(t.bucket_expr().alias("b")).collect()}
        ks = KeySet.of_fold(st, keys)
        assert ks.buckets == sorted(spark_buckets), (keys, ks.buckets, spark_buckets)


def test_retractable_join_types_and_cond(spark, tmp_path):
    """Full-outer / semi / anti + residual non-equi condition, with
    deletes on both sides, vs the equivalent batch join each step."""
    from risingwave_spark.streaming.join import RetractableStreamJoin
    from risingwave_spark.streaming.mv import with_ops

    L = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, 1.0), (3, 20, 2.0), (4, 30, 9.0), (5, None, 1.0)],
        "lid int, lk int, lv double",
    )
    R = spark.createDataFrame(
        [(101, 10, 2.0), (102, 20, 8.0), (103, 40, 3.0), (104, None, 4.0)],
        "rid int, rk int, rv double",
    )

    def batch_equiv(l_df, r_df, how, cond):
        on = l_df["lk"] == r_df["rk"]
        if cond:
            on = on & F.expr(cond)
        return l_df.join(r_df, on, how)

    for how, cond in [
        ("full", None),
        ("inner", "lv <= rv"),
        ("left_semi", None),
        ("left_anti", None),
    ]:
        jv = RetractableStreamJoin(
            spark,
            str(tmp_path / f"j_{how}_{bool(cond)}"),
            ["lk"],
            ["rk"],
            "lid",
            "rid",
            how=how,
            cond=cond,
        )
        jv.apply(with_ops(L.filter(F.col("lid") <= 3), 1), with_ops(R, 1))
        jv.apply(with_ops(L.filter(F.col("lid") > 3), 1), None)
        # delete: one left row and one right row
        jv.apply(
            with_ops(L.filter(F.col("lid") == 2), -1),
            with_ops(R.filter(F.col("rid") == 102), -1),
        )
        surv_l = L.filter(F.col("lid") != 2)
        surv_r = R.filter(F.col("rid") != 102)
        proj = ["lid", "lv"] if how in ("left_semi", "left_anti") else ["lid", "rid"]
        got = sorted(repr(tuple(r)) for r in jv.result().select(*proj).collect())
        want = sorted(
            repr(tuple(r))
            for r in batch_equiv(surv_l, surv_r, how, cond).select(*proj).collect()
        )
        assert got == want, f"{how} cond={cond}: {got} != {want}"


def test_approx_distinct_registers_state_bound(spark, tmp_path):
    """Retractable ACD: deletes decrement rank counters (estimate recovers
    the pre-insert value), and state is O(registers) per group — far below
    the number of distinct values for large groups."""
    from risingwave_spark.streaming.approx_distinct import ApproxDistinctRetractable
    from risingwave_spark.streaming.mv import with_ops

    m = 1024
    acd = ApproxDistinctRetractable(spark, str(tmp_path / "acd"), ["g"], "v", m=m)
    a = spark.range(0, 30000).select(F.lit("x").alias("g"), F.col("id").alias("v"))
    b = spark.range(30000, 60000).select(F.lit("x").alias("g"), F.col("id").alias("v"))
    acd.apply_batch(with_ops(a, 1))
    est_a = acd.result().first().approx_cnt
    acd.apply_batch(with_ops(b, 1))
    est_ab = acd.result().first().approx_cnt
    acd.apply_batch(with_ops(b, -1))  # retract ALL of b
    est_after = acd.result().first().approx_cnt
    # counting registers make retraction exact: state returns to the
    # post-a sketch, so the estimate is IDENTICAL, not merely close
    assert est_after == est_a, (est_a, est_ab, est_after)
    assert abs(est_ab - 60000) / 60000 < 0.10
    assert abs(est_a - 30000) / 30000 < 0.10
    # O(registers): state rows are (register, live rank) pairs — hard
    # bound m × rank-levels, independent of distinct count; with 60k
    # distinct inserted it must sit far below exact-distinct state
    n_state = acd.state_rows()
    assert n_state < m * 50
    assert n_state < 60000 / 4, n_state


def test_retractable_join_redelivery_is_exactly_once(spark):
    """VERDICT r3 #4/#3: RetractableStreamJoin.apply threads batch_id —
    a replayed foreachBatch chunk must not double-fold either side."""
    import tempfile

    from risingwave_spark.streaming.join import RetractableStreamJoin
    from risingwave_spark.streaming.mv import with_ops

    L = spark.createDataFrame([(1, 1, "l1"), (2, 1, "l2"), (3, 2, "l3")], "lid int, k int, lv string")
    R = spark.createDataFrame([(10, 1, "r1"), (11, 2, "r2")], "rid int, k2 int, rv string")
    with tempfile.TemporaryDirectory() as d:
        j = RetractableStreamJoin(spark, d, ["k"], ["k2"], "lid", "rid", how="inner")
        j.apply(left=with_ops(L, 1), right=with_ops(R, 1), batch_id=0)
        j.apply(left=with_ops(L.filter("lid = 3"), -1), batch_id=1)
        once = sorted(map(tuple, j.result().collect()))
        # redeliver batch 1 → the -1 fold must be skipped, result stable
        j.apply(left=with_ops(L.filter("lid = 3"), -1), batch_id=1)
        assert sorted(map(tuple, j.result().collect())) == once
        # recovered instance also refuses the replay
        j2 = RetractableStreamJoin(spark, d, ["k"], ["k2"], "lid", "rid", how="inner")
        j2.apply(left=with_ops(L.filter("lid = 3"), -1), batch_id=1)
        assert sorted(map(tuple, j2.result().collect())) == once


def test_over_window_delta_redelivery_is_exactly_once(spark, events):
    """MaterializedOverWindowDelta.apply_batch threads batch_id (same
    exactly-once contract as the group-agg MV path)."""
    import tempfile

    from risingwave_spark.streaming.mv import with_ops
    from risingwave_spark.streaming.over_window import MaterializedOverWindowDelta

    ev = events.select("event_id", "user_id", "value").filter(F.col("event_id") < 400)
    with tempfile.TemporaryDirectory() as d:
        ow = MaterializedOverWindowDelta(
            spark, d, ["user_id"], ["event_id"], "event_id",
            {"rn": ("row_number",), "rsum": ("sum", "value")},
            ["value"],
        )
        b0 = with_ops(ev.filter(F.col("event_id") % 2 == 0), 1)
        b1 = with_ops(ev.filter(F.col("event_id") % 2 == 1), 1)
        ow.apply_batch(b0, batch_id=0)
        ow.apply_batch(b1, batch_id=1)
        once = sorted(map(tuple, ow.result().collect()))
        ow.apply_batch(b1, batch_id=1)  # redelivery
        assert sorted(map(tuple, ow.result().collect())) == once


def test_join_sides_with_independent_batch_id_sequences(spark):
    """ADVICE r4 #5: a join MV's two sides may be driven by independent
    foreachBatch streams with unrelated batch-id sequences; the
    downstream agg's redelivery pointer is per (stream, side), so one
    stream's high ids must not make the other stream's folds skip."""
    import tempfile

    from risingwave_spark.api import StreamJoinChainMv
    from risingwave_spark.streaming.mv import with_ops

    def recompute(rows):
        return rows.groupBy("k").agg(F.sum("rv").alias("total"))

    with tempfile.TemporaryDirectory() as d:
        jmv = StreamJoinChainMv(
            spark, d, [{"left_on": ["k"], "right_on": ["k2"], "how": "inner"}],
            ["lid", "rid"], keys=["k"], recompute=recompute,
        )
        join = jmv.joins[0]
        join.downstream.append(jmv.agg)  # the engine wires the agg after backfill
        L0 = spark.createDataFrame([(1, 1)], "lid int, k int")
        L1 = spark.createDataFrame([(2, 2)], "lid int, k int")
        R0 = spark.createDataFrame([(10, 1, 5)], "rid int, k2 int, rv int")
        R1 = spark.createDataFrame([(11, 2, 7)], "rid int, k2 int, rv int")
        # backfill both sides (the create-time bootstrap, no batch id)
        join.apply(left=with_ops(L0, 1), right=with_ops(R0, 1))
        # left stream is far ahead in its own id sequence
        join.apply(left=with_ops(L1, 1), batch_id=100)
        # right stream's ids TRAIL the left stream's
        join.apply(right=with_ops(R1, 1), batch_id=1)
        assert sorted(map(tuple, jmv.result().collect())) == [(1, 5), (2, 7)]
        # replay of each stream's last batch is still skipped per-stream
        join.apply(right=with_ops(R1, 1), batch_id=1)
        join.apply(left=with_ops(L1, 1), batch_id=100)
        assert sorted(map(tuple, jmv.result().collect())) == [(1, 5), (2, 7)]


def test_join_compaction_fires_once_per_generation(spark):
    """ADVICE r4 #4: a join side that receives no batches while sitting
    at a seq multiple of compact_every must not re-compact on every
    apply; batch_id-skipped replays must not retrigger it either."""
    import tempfile

    from risingwave_spark.streaming.join import RetractableStreamJoin
    from risingwave_spark.streaming.mv import with_ops

    L = spark.createDataFrame([(1, 1, "a")], "lid int, k int, lv string")
    R = spark.createDataFrame([(10, 1, "r")], "rid int, k2 int, rv string")
    with tempfile.TemporaryDirectory() as d:
        j = RetractableStreamJoin(spark, d, ["k"], ["k2"], "lid", "rid")
        j.compact_every = 2
        j.apply(left=with_ops(L, 1), right=with_ops(R, 1))
        # drive ONLY the left side past several compaction points; the
        # right side sits at its seq multiple the whole time
        for i in range(4):
            j.apply(left=with_ops(L.withColumn("lid", F.lit(100 + i)), 1))
        gen_r = j.state_r._gen
        # idle right side never re-compacted beyond its own single pass
        j.apply(left=with_ops(L.withColumn("lid", F.lit(999)), 1))
        assert j.state_r._gen == gen_r
        # a skipped replay doesn't compact either side
        gl, gr = j.state_l._gen, j.state_r._gen
        j.apply(left=with_ops(L.withColumn("lid", F.lit(999)), 1), batch_id=0)
        j.apply(left=with_ops(L.withColumn("lid", F.lit(999)), 1), batch_id=0)
        assert (j.state_l._gen, j.state_r._gen)[1] == gr


def test_eowc_lead_duplicate_order_values_emit_once(spark):
    """ADVICE r4 #3: with duplicate (partition, order) tuples, a HELD row
    (within lead's frame reach) must not value-collide with an emittable
    row — emission filtering is by row identity, so every row id emits
    exactly once with its final lead value."""
    import datetime
    import tempfile

    from risingwave_spark.streaming.over_window import EowcOverWindow

    t0 = datetime.datetime(2024, 1, 1)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    with tempfile.TemporaryDirectory() as d:
        eowc = EowcOverWindow(
            spark, d, ["k"], "ts", ["ts"], "rid",
            {"nxt": ("lead", "v")}, ["v"], delay_seconds=5,
        )
        # batch 1: DUPLICATE timestamps (two rows per ts); watermark =
        # 20-5 = 15 closes ts 0 and 10 — the last `reach` closed rows are
        # held, and they share their ts value with emittable rows
        b1 = spark.createDataFrame(
            [(1, 1, ts(0), 10), (2, 1, ts(0), 11), (3, 1, ts(10), 12),
             (4, 1, ts(10), 13), (5, 1, ts(20), 14)],
            "rid int, k int, ts timestamp, v int",
        )
        eowc.feed(b1)
        b2 = spark.createDataFrame(
            [(6, 1, ts(40), 15)], "rid int, k int, ts timestamp, v int"
        )
        eowc.feed(b2)
        rids = [r.rid for r in spark.read.parquet(eowc.out_path).collect()]
        assert len(rids) == len(set(rids)), f"duplicate emissions: {sorted(rids)}"


def _drive_ow_delta(spark, d, base, funcs):
    """Ordered thirds (minus %5 rows) → delete %7 → late mid-stream
    insert of the %5 rows: exercises suffix recompute, mid-partition
    boundaries, and the input/emit reach extensions."""
    from risingwave_spark.streaming.over_window import MaterializedOverWindowDelta

    ow = MaterializedOverWindowDelta(
        spark, d, ["user_id"], ["event_id"], "event_id", funcs, ["iv"]
    )
    first = base.filter(F.col("event_id") % 5 != 0)
    for i in range(3):
        ow.apply_batch(
            with_ops(
                first.filter(
                    (F.col("event_id") >= i * 200) & (F.col("event_id") < (i + 1) * 200)
                ),
                1,
            )
        )
    ow.apply_batch(with_ops(first.filter(F.col("event_id") % 7 == 0), -1))
    # mid-stream inserts dirty interior order positions of every partition
    ow.apply_batch(with_ops(base.filter(F.col("event_id") % 5 == 0), 1))
    return ow


def _ow_survivors(base):
    return base.filter(
        ~((F.col("event_id") % 7 == 0) & (F.col("event_id") % 5 != 0))
    )


def test_over_window_new_seeded_kinds_and_frames_match_batch(spark, events):
    """first_value / last_value and bounded ROWS/RANGE frames in the
    frame-delta path (reference frame_finder.rs both-direction extents):
    integer values so seeded continuation vs one-shot is exact."""
    import tempfile

    from pyspark.sql import Window as W

    base = (
        events.filter(F.col("event_id") < 600)
        .select("user_id", "event_id", (F.col("event_id") % 97).cast("long").alias("iv"))
    )
    funcs = {
        "fv": ("first_value", "iv"),
        "lv": ("last_value", "iv"),
        "s3": ("sum", "iv", {"rows": (3, 0)}),
        "c21": ("count", "iv", {"rows": (2, 1)}),
        "m40": ("max", "iv", {"range": (40.0, 0.0)}),
    }
    with tempfile.TemporaryDirectory() as d:
        ow = _drive_ow_delta(spark, d, base, funcs)
        got = sorted(map(tuple, ow.result().select(
            "user_id", "event_id", "iv", "fv", "lv", "s3", "c21", "m40"
        ).collect()))
    surv = _ow_survivors(base)
    w = W.partitionBy("user_id").orderBy("event_id")
    wr = W.partitionBy("user_id").orderBy(F.col("event_id"))
    exp = sorted(map(tuple, surv.select(
        "user_id", "event_id", "iv",
        F.first("iv").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("fv"),
        F.col("iv").alias("lv"),
        F.sum("iv").over(w.rowsBetween(-3, 0)).alias("s3"),
        F.count("iv").over(w.rowsBetween(-2, 1)).alias("c21"),
        F.max("iv").over(wr.rangeBetween(-40, 0)).alias("m40"),
    ).collect()))
    assert got == exp


def test_over_window_full_partition_kinds_match_batch(spark, events):
    """percent_rank / cume_dist / ntile: whole-partition kinds — the
    affected range is the full touched partition (an insert moves every
    row's value), recomputed per batch and spliced."""
    import tempfile

    from pyspark.sql import Window as W

    base = (
        events.filter(F.col("event_id") < 600)
        .select("user_id", "event_id", (F.col("event_id") % 97).cast("long").alias("iv"))
    )
    funcs = {"pr": ("percent_rank",), "cd": ("cume_dist",), "nt": ("ntile", 4)}
    with tempfile.TemporaryDirectory() as d:
        ow = _drive_ow_delta(spark, d, base, funcs)
        got = sorted(map(tuple, ow.result().select(
            "user_id", "event_id", "pr", "cd", "nt"
        ).collect()))
    surv = _ow_survivors(base)
    w = W.partitionBy("user_id").orderBy("event_id")
    exp = sorted(map(tuple, surv.select(
        "user_id", "event_id",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.ntile(4).over(w).alias("nt"),
    ).collect()))
    assert got == exp


def test_eowc_over_window_first_last_value(spark):
    """first_value carries across EOWC emissions via its seed marker;
    last_value is the row's own value (default frame)."""
    import datetime
    import tempfile

    from risingwave_spark.streaming.over_window import EowcOverWindow

    t0 = datetime.datetime(2024, 1, 1)
    rows = [(i, 1, 10 + i, t0 + datetime.timedelta(minutes=10 * i)) for i in range(12)]
    df = spark.createDataFrame(rows, "rid long, k long, v long, ts timestamp")
    with tempfile.TemporaryDirectory() as d:
        ew = EowcOverWindow(
            spark, d, ["k"], "ts", ["ts"], "rid",
            {"fv": ("first_value", "v"), "lv": ("last_value", "v")},
            ["v", "rid"], delay_seconds=600,
        )
        ew.feed(df.filter("rid < 6"))
        ew.feed(df.filter("rid >= 6"))
        got = sorted(map(tuple, ew.result().select("rid", "fv", "lv").collect()))
    # watermark after 2nd feed = 110min - 10min = 100min => ts<=wm: rows 0..10
    assert got == [(i, 10, 10 + i) for i in range(11)]


def test_over_window_rejects_bad_frame_specs(spark):
    import tempfile

    import pytest as _pt

    from risingwave_spark.streaming.over_window import (
        EowcOverWindow,
        MaterializedOverWindowDelta,
    )

    with tempfile.TemporaryDirectory() as d:
        with _pt.raises(ValueError, match="does not accept a frame"):
            MaterializedOverWindowDelta(
                spark, d, ["k"], ["o"], "rid",
                {"x": ("row_number", {"rows": (1, 0)})}, [],
            )
        with _pt.raises(ValueError, match="exactly one"):
            MaterializedOverWindowDelta(
                spark, d, ["k"], ["o1", "o2"], "rid",
                {"x": ("sum", "v", {"range": (1.0, 0.0)})}, ["v"],
            )
        with _pt.raises(ValueError, match="window close"):
            EowcOverWindow(
                spark, d, ["k"], "ts", ["ts"], "rid",
                {"x": ("percent_rank",)}, [], 60,
            )
        # bounded ROWS frames are supported in EOWC as of round 5
        # (test_eowc_over_window_bounded_rows_frames); RANGE still raises
        with _pt.raises(ValueError, match="RANGE frames"):
            EowcOverWindow(
                spark, d, ["k"], "ts", ["ts"], "rid",
                {"x": ("sum", "v", {"range": (3.0, 0.0)})}, ["v"], 60,
            )


def test_approx_percentile_bucket_state_bound(spark, tmp_path):
    """Retractable approx_percentile (reference log-bucket histogram,
    approx_percentile/local.rs + global_state.rs): deletes decrement
    bucket counts so retraction is EXACT (estimate returns to the
    pre-insert value); estimates stay within the declared relative
    error; state is O(buckets), far below row count; negative values
    and zeros take the sign-separated path."""
    from risingwave_spark.streaming.approx_percentile import (
        ApproxPercentileRetractable,
    )
    from risingwave_spark.streaming.mv import with_ops

    ap = ApproxPercentileRetractable(
        spark, str(tmp_path / "ap"), ["g"], "v", quantile=0.5, relative_error=0.01
    )
    a = spark.range(1, 20001).select(F.lit("x").alias("g"), F.col("id").cast("double").alias("v"))
    b = spark.range(1, 20001).select(
        F.lit("x").alias("g"), (F.col("id") + 100000).cast("double").alias("v")
    )
    ap.apply_batch(with_ops(a, 1))
    est_a = ap.result().first().approx_percentile
    assert abs(est_a - 10000) / 10000 < 0.011, est_a
    ap.apply_batch(with_ops(b, 1))
    est_ab = ap.result().first().approx_percentile
    ap.apply_batch(with_ops(b, -1))  # retract ALL of b
    est_after = ap.result().first().approx_percentile
    assert est_after == est_a, (est_a, est_ab, est_after)
    # state is O(buckets): 20k rows collapse to ~ log-many buckets
    assert ap.state_rows() < 1200, ap.state_rows()
    # negative + zero values: median of {-100..-1, 0, 1..100} is 0
    mix = spark.range(-100, 101).select(
        F.lit("y").alias("g"), F.col("id").cast("double").alias("v")
    )
    ap.apply_batch(with_ops(mix, 1))
    est_mix = ap.result().filter(F.col("g") == "y").first().approx_percentile
    assert est_mix == 0.0, est_mix
    # p10 of group y lands in the negative range within 1%
    ap2 = ApproxPercentileRetractable(
        spark, str(tmp_path / "ap2"), ["g"], "v", quantile=0.1, relative_error=0.01
    )
    ap2.apply_batch(with_ops(mix, 1))
    est_p10 = ap2.result().first().approx_percentile
    assert abs(est_p10 - (-80)) / 80 < 0.03, est_p10


def test_over_window_session_frame_matches_batch(spark, events):
    """SESSION over-frames in the MV runtime (reference
    `window_function/session.rs` SessionFrameBounds): each row's frame is
    its gap-delimited session; inserts/deletes can merge, split, and
    renumber sessions, so the kind recomputes the full touched partition
    (frame_finder's whole-partition case) — the maintained MV must equal
    the one-shot batch sessionization over the survivors."""
    import tempfile

    from pyspark.sql import Window as W

    base = (
        events.filter(F.col("event_id") < 600)
        .select("user_id", "event_id", (F.col("event_id") % 97).cast("long").alias("iv"))
    )
    funcs = {
        "ss": ("session_sum", "iv", 50.0),
        "sc": ("session_count", "iv", 50.0),
        "sm": ("session_max", "iv", 50.0),
    }
    with tempfile.TemporaryDirectory() as d:
        ow = _drive_ow_delta(spark, d, base, funcs)
        got = sorted(map(tuple, ow.result().select(
            "user_id", "event_id", "ss", "sc", "sm"
        ).collect()))
    surv = _ow_survivors(base)
    w = W.partitionBy("user_id").orderBy("event_id")
    sid = F.sum(
        F.when(F.col("event_id") - F.lag("event_id").over(w) <= 50, F.lit(0))
        .otherwise(F.lit(1))
    ).over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
    sess = surv.withColumn("__sid", sid)
    sw = W.partitionBy("user_id", "__sid")
    exp = sorted(map(tuple, sess.select(
        "user_id", "event_id",
        F.sum("iv").over(sw).alias("ss"),
        F.count("iv").over(sw).alias("sc"),
        F.max("iv").over(sw).alias("sm"),
    ).collect()))
    assert got == exp


def test_eowc_over_window_bounded_rows_frames(spark):
    """Bounded ROWS frames in the EOWC path (reference frame_finder.rs
    extents applied to eowc.rs): FOLLOWING ends delay emission like
    lead; PRECEDING sizes read the retained tail of already-emitted
    rows, so frames spanning an emission boundary stay complete."""
    import datetime
    import tempfile

    from risingwave_spark.streaming.over_window import EowcOverWindow

    t0 = datetime.datetime(2024, 1, 1)
    rows = [(i, 1, i, t0 + datetime.timedelta(minutes=10 * i)) for i in range(12)]
    df = spark.createDataFrame(rows, "rid long, k long, v long, ts timestamp")
    funcs = {
        "s3": ("sum", "v", {"rows": (2, 0)}),    # 2 PRECEDING .. CURRENT
        "m11": ("max", "v", {"rows": (1, 1)}),   # 1 PRECEDING .. 1 FOLLOWING
    }
    with tempfile.TemporaryDirectory() as d:
        ew = EowcOverWindow(
            spark, d, ["k"], "ts", ["ts"], "rid", funcs, ["v", "rid"],
            delay_seconds=600,
        )
        ew.feed(df.filter("rid < 6"))
        ew.feed(df.filter("rid >= 6"))
        got = sorted(map(tuple, ew.result().select("rid", "s3", "m11").collect()))
    # emitted: closed (ts <= 100min) minus the 1-row forward reach → rids 0..9
    exp = [
        (i, sum(range(max(0, i - 2), i + 1)), min(i + 1, 11))
        for i in range(10)
    ]
    assert got == exp


def test_eowc_chunk_buffer_restart_and_gc(spark, tmp_path):
    """Round-12 EOWC chunk buffer: the append-only buffer GCs fully
    emitted chunks (file-level retention), a RESTART over the same state
    dir adopts the surviving chunks and resumes chunk numbering (no
    overwrite of live buffer files), and emissions never duplicate."""
    import datetime

    from risingwave_spark.streaming.mv import EowcTumbleAgg

    sd = str(tmp_path / "eowc_state")
    t0 = datetime.datetime(2024, 1, 1, 0, 10)

    def batch(*minutes):
        return spark.createDataFrame(
            [(i, t0 + datetime.timedelta(minutes=m)) for i, m in enumerate(minutes)],
            "id long, ts timestamp",
        )

    e1 = EowcTumbleAgg(spark, sd, "ts", "1 hour", delay_seconds=600)
    e1.feed(batch(0, 20, 70))          # wm 01:20-10m=01:10 -> hour 0 closes
    assert {(r.ws.hour, r.n) for r in e1.result().collect()} == {(0, 2)}
    # hour-0 rows emitted; the chunk still holds an open hour-1 row -> kept
    assert len(e1._chunk_stats) == 1
    n_before = e1._n

    # restart over the same dir: surviving chunk adopted, numbering resumes
    e2 = EowcTumbleAgg(spark, sd, "ts", "1 hour", delay_seconds=600)
    assert len(e2._chunk_stats) == 1 and e2._n == n_before
    e2._watermark = e1._watermark        # class keeps wm in memory only
    e2._emit_horizon = e1._emit_horizon
    e2.feed(batch(130, 190))             # wm 03:10-10m=03:00 -> hours 1+2 close
    got = sorted((r.ws.hour, r.n) for r in e2.result().collect())
    assert got == [(0, 2), (1, 1), (2, 1)]
    # everything emitted except the open hour-3 row's chunk
    assert len(e2._chunk_stats) == 1


def test_eowc_agg_mv_emission_index_skips_gaps(spark, tmp_path):
    """Round-12 fix: the emission index resumes at max(e{N})+1 — a gap
    left by a GC'd zero-row emission must not make a restart overwrite a
    live emission dir."""
    import os

    from risingwave_spark.streaming.mv import EowcAggMv, _next_seq_index

    out = tmp_path / "out"
    (out / "e0").mkdir(parents=True)
    (out / "e2").mkdir()  # gap at e1 (zero-row emission was rmtree'd)
    assert _next_seq_index(str(out), "e") == 3

    sd = str(tmp_path / "st")
    os.makedirs(os.path.join(sd, "out", "e0"))
    os.makedirs(os.path.join(sd, "out", "e2"))
    mv = EowcAggMv(
        spark, sd, "ts", "1 hour", 600,
        recompute=lambda rows: rows,
        empty_input=lambda: spark.createDataFrame([], "ts timestamp"),
    )
    assert mv._emit_n == 3


def test_mv_empty_batch_still_compacts_on_cadence(spark, events, tmp_path):
    """Round-12 fix: an empty batch landing exactly on the compaction
    cadence seq must still trigger the state compaction (generation
    bump), even though the splice is skipped."""
    mv = MaterializedGroupAgg(
        spark, str(tmp_path / "mvc"), ["user_id"], "event_id", "value"
    )
    mv.compact_every = 3
    small = events.filter(F.col("event_id") < 200)
    mv.apply_batch(with_ops(small.filter(F.col("event_id") % 2 == 0), 1))
    mv.apply_batch(with_ops(small.filter(F.col("event_id") % 2 == 1), 1))
    gen_before = mv.state._gen
    # 3rd fold (seq hits the cadence) is EMPTY: splice skipped, but the
    # compaction must still run
    mv.apply_batch(with_ops(small.filter(F.lit(False)), 1))
    assert mv.state._gen == gen_before + 1
    # and the MV still equals the batch aggregate
    assert _rows(mv.result()) == _rows(_batch_expected(small))


def test_eowc_over_window_chunk_buffer_gc_and_restart(spark, tmp_path):
    """Round-12 EowcOverWindow chunk buffer (emit reach 0): batches
    append as chunk files (no versioned-buffer rewrite), fully-emitted
    chunks are GC'd, a restart over the same state dir adopts surviving
    chunks + the durable watermark and never re-emits, and seeds carry
    row_number across emissions exactly as the buffered path did."""
    import datetime

    from risingwave_spark.streaming.over_window import EowcOverWindow

    sd = str(tmp_path / "eowcw")
    t0 = datetime.datetime(2024, 1, 1)

    def batch(*rows):  # (rid, k, v, minutes)
        return spark.createDataFrame(
            [(r, k, v, t0 + datetime.timedelta(minutes=m)) for r, k, v, m in rows],
            "rid long, k long, v long, ts timestamp",
        )

    ew = EowcOverWindow(
        spark, sd, ["k"], "ts", ["ts"], "rid",
        {"rn": ("row_number",), "prev": ("lag", "v")}, ["v", "rid"],
        delay_seconds=600,
    )
    assert ew._use_chunks  # backward-looking funcs take the chunk path
    ew.feed(batch((0, 1, 10, 0), (1, 1, 11, 20), (2, 1, 12, 40)))
    # wm = 40-10 = 30min: rids 0,1 emitted; chunk still holds rid 2 → kept
    assert len(ew._chunk_stats) == 1 and not ew.buffer.exists()
    got1 = _rows(ew.result().select("rid", "rn", "prev"))
    assert got1 == [(0, 1, None), (1, 2, 10)]

    # restart: surviving chunk + durable WM adopted; numbering resumes
    ew2 = EowcOverWindow(
        spark, sd, ["k"], "ts", ["ts"], "rid",
        {"rn": ("row_number",), "prev": ("lag", "v")}, ["v", "rid"],
        delay_seconds=600,
    )
    assert ew2._use_chunks and len(ew2._chunk_stats) == 1
    assert ew2._watermark == ew._watermark and ew2._chunk_n == ew._chunk_n
    # late replay of rid 0/1 (ts <= wm) must drop at the door; rid 2
    # closes once the watermark passes it; seeds continue rn at 3
    ew2.feed(batch((0, 1, 10, 0), (1, 1, 11, 20), (3, 1, 13, 70)))
    got2 = _rows(ew2.result().select("rid", "rn", "prev"))
    assert got2 == [(0, 1, None), (1, 2, 10), (2, 3, 11)]
    # the first chunk (rids 0-2) is now fully emitted → GC'd; only the
    # open rid-3 chunk survives
    assert len(ew2._chunk_stats) == 1

    # forward-looking reach (lead) keeps the versioned-buffer path
    ew3 = EowcOverWindow(
        spark, str(tmp_path / "lead"), ["k"], "ts", ["ts"], "rid",
        {"nxt": ("lead", "v")}, ["v"], delay_seconds=600,
    )
    assert not ew3._use_chunks


def test_footer_bounds_equals_agg(spark):
    """util.footer_bounds (parquet footer statistics, zero Spark jobs)
    must return byte-identical values to the min/max aggregation job it
    replaces — for the ts watermark bounds AND an integer column."""
    from risingwave_spark.queries.util import footer_bounds, tables

    ev = tables(spark, SF_DIR)["events"]
    assert footer_bounds(spark, SF_DIR) == tuple(
        ev.agg(F.min("ts"), F.max("ts")).first()
    )
    assert footer_bounds(spark, SF_DIR, col="event_id") == tuple(
        ev.agg(F.min("event_id"), F.max("event_id")).first()
    )
    # a column with no footer usability falls back to the agg (here: a
    # string column still has stats, so just assert the values agree)
    assert footer_bounds(spark, SF_DIR, table="orders", col="o_orderkey") == tuple(
        tables(spark, SF_DIR)["orders"].agg(
            F.min("o_orderkey"), F.max("o_orderkey")
        ).first()
    )


def test_literal_keyset_fallback_join_path(spark, tmp_path, monkeypatch):
    """VERDICT r12 item 6: the 100 TB fold path is the JOIN fallback (the
    literal-keyset caps exclude wide batches), but sf-scale folds always
    take the literal path — so force the fallback (KEYSET_MAX_DISTINCT=0)
    and pin that (a) the literal derivation declines, (b) the MV
    still converges to the batch aggregate, and (c) the fold costs stay
    in the r12 broadcast-join job shape (chunk write + affected-keys
    broadcast build + splice write per fold — bounded, no per-fold
    O(state) re-derivation jobs)."""
    from risingwave_spark.session import spark_jobs
    from risingwave_spark.streaming import mv as mv_mod
    from risingwave_spark.streaming.mv import KeySet, MaterializedGroupAgg

    monkeypatch.setattr(mv_mod, "KEYSET_MAX_DISTINCT", 0)
    df = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(200)], "event_id int, k int, value double"
    )
    mv = MaterializedGroupAgg(spark, str(tmp_path / "mv"), ["k"], "event_id", "value")
    jobs = []
    for i in range(4):
        mv.apply_batch(with_ops(df.filter(F.col("event_id") % 4 == i), 1))
        assert KeySet.of_fold(mv.state, mv.keys).vals is None
        with spark_jobs(spark) as ids:
            mv.apply_batch(with_ops(df.filter(F.col("event_id") % 4 == i).limit(0), 1))
        jobs.append(len(ids))
    # the join path per warm fold: chunk write + (empty batch detected
    # from footers, splice skipped) — an EMPTY fold must stay O(1) jobs
    # even on the fallback path (no take(1)/re-eval jobs)
    assert all(j <= 2 for j in jobs[1:]), jobs
    # non-empty folds on the join path: bounded small job count (chunk
    # write + broadcast build + splice shuffle/write + listing probes)
    with spark_jobs(spark) as ids:
        mv.apply_batch(with_ops(df.filter(F.col("event_id") % 4 == 0), 1))
    assert len(ids) <= 6, ids
    v = F.col("value")
    # slice 0 was folded twice (insert chunks don't dedup row ids), so
    # the expected aggregate is over the doubled slice-0 input
    doubled = df.unionByName(df.filter(F.col("event_id") % 4 == 0))
    expected = doubled.groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"),
        (F.sum(F.round(v * 10000, 0).cast("long")) / 10000.0).alias("total"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
    )
    assert sorted(map(tuple, mv.result().collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_key_bucket_sql_equals_expr(spark):
    """key_bucket_sql (the one-call parsed form used by hot read paths,
    r13) must agree row-for-row with key_bucket_expr — including NULL
    keys (concat_ws skips them), string keys, composite keys, and no
    keys at all (every row in bucket 0)."""
    from risingwave_spark.streaming.mv import key_bucket_expr, key_bucket_sql

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "b"), (None, None), (7, "x'y`z\\w")],
        "k1 int, k2 string",
    )
    assert {r[0] for r in df.select(F.expr(key_bucket_sql([], 16))).collect()} == {0}
    for keys in ([], ["k1"], ["k2"], ["k1", "k2"]):
        got = df.select(
            key_bucket_expr(keys, 16).alias("e"),
            F.expr(key_bucket_sql(keys, 16)).alias("s"),
        ).collect()
        assert all(r["e"] == r["s"] for r in got), (keys, got)


def test_splice_literal_keys_null_and_string(spark, tmp_path):
    """The literal key-set splice path (r12: affected-keys semi/anti joins
    replaced by a driver-side InSet filter when the batch's distinct keys
    fit) must match the batch aggregate exactly — including NULL group
    keys on BOTH sides of the splice (a NULL-key MV row must survive as
    'untouched' when the batch carries no null, and must recompute when
    it does) and string keys."""
    from risingwave_spark.streaming.mv import KeySet, MaterializedGroupAgg

    rows = [
        (1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0),
        (4, None, 4.0), (5, None, 5.0), (6, "c", 6.0), (7, "b", 7.0),
    ]
    df = spark.createDataFrame(rows, "event_id int, k string, value double")
    mv = MaterializedGroupAgg(spark, str(tmp_path / "mv"), ["k"], "event_id", "value")
    # batch 0: groups a,b + a NULL-key group (two null rows)
    mv.apply_batch(with_ops(df.filter(F.col("event_id") <= 5), 1))
    ks = KeySet.of_fold(mv.state, mv.keys)
    assert ks.vals is not None and ks.has_null is True and set(ks.vals) == {"a", "b"}
    # batch 1: NO null key -> the NULL-key MV row must survive the anti
    # filter (a bare ~isin() would null it out and drop the group)
    mv.apply_batch(with_ops(df.filter(F.col("event_id").isin(6, 7)), 1))
    ks = KeySet.of_fold(mv.state, mv.keys)
    assert ks.vals is not None and ks.has_null is False and set(ks.vals) == {"b", "c"}
    # batch 2: delete one null-key row (tombstone path carries the key)
    mv.apply_batch(with_ops(df.filter(F.col("event_id") == 4), -1))
    ks = KeySet.of_fold(mv.state, mv.keys)
    assert ks.vals is not None and ks.has_null is True and ks.vals == []
    survivors = df.filter(F.col("event_id") != 4)
    v = F.col("value")
    expected = survivors.groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"),
        (F.sum(F.round(v * 10000, 0).cast("long")) / 10000.0).alias("total"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
    )
    nullsafe = lambda df: sorted(  # noqa: E731 — None keys aren't orderable
        (tuple(r) for r in df.collect()), key=repr
    )
    assert nullsafe(mv.result()) == nullsafe(expected)


def test_keyset_literal_fallbacks(spark, tmp_path, monkeypatch):
    """KeySet.of_fold keeps no literal values (-> join fallback) on: no
    fresh fold, too many distinct keys, too many rows, unsupported dtype;
    and the splice falls back to the DataFrame path for composite keys."""
    from risingwave_spark.streaming import mv as mv_mod
    from risingwave_spark.streaming.mv import ChunkedState, KeySet, MaterializedGroupAgg

    df = spark.createDataFrame(
        [(i, float(i % 7), i * 1.0) for i in range(50)],
        "event_id int, fk double, value double",
    )
    st = ChunkedState(spark, str(tmp_path / "st"), "event_id")
    st.fold(df, df.limit(0))
    # unsupported dtype (double key) -> None
    assert KeySet.of_fold(st, ["fk"]).vals is None
    # int key works and caps on KEYSET_MAX_DISTINCT
    with monkeypatch.context() as m:
        m.setattr(mv_mod, "KEYSET_MAX_DISTINCT", 10)
        assert KeySet.of_fold(st, ["event_id"]).vals is None
    got = KeySet.of_fold(st, ["event_id"])
    assert got.vals is not None and got.has_null is False and len(got.vals) == 50
    # row-count bound -> None
    with monkeypatch.context() as m:
        m.setattr(mv_mod, "KEYSET_MAX_ROWS", 10)
        assert KeySet.of_fold(st, ["event_id"]).vals is None
    # replay (no fresh fold) -> None
    st.last_fold = None
    assert KeySet.of_fold(st, ["event_id"]).vals is None
    # composite keys: no literal values, apply_batch still OK
    mv = MaterializedGroupAgg(
        spark, str(tmp_path / "mv2"), ["k1", "k2"], "event_id", "value"
    )
    d2 = spark.createDataFrame(
        [(1, 1, "x", 2.0), (2, 1, "y", 3.0), (3, 2, "x", 4.0)],
        "event_id int, k1 int, k2 string, value double",
    )
    mv.apply_batch(with_ops(d2, 1))
    assert KeySet.of_fold(mv.state, mv.keys).vals is None
    assert mv.result().count() == 3


def test_join_literal_key_path_null_keys(spark, tmp_path):
    """RetractableStreamJoin's literal key-set path (r12): single-key
    joins with driver-side key values replace the affected-key semi/anti
    joins with InSet filters. A left-outer padded row with a NULL join
    key must survive later batches that carry no nulls (the anti filter
    must be null-safe), and a later null-key batch must recompute it."""
    from risingwave_spark.streaming.join import RetractableStreamJoin

    L0 = spark.createDataFrame(
        [(1, 10, "x"), (2, None, "y")], "lid int, lk int, lval string"
    )
    R0 = spark.createDataFrame([(1, 10, 5.0)], "rid int, rk int, rval double")
    jv = RetractableStreamJoin(
        spark, str(tmp_path / "j"), ["lk"], ["rk"], "lid", "rid", how="left"
    )
    jv.apply(with_ops(L0, 1), with_ops(R0, 1))
    # null-key left row is present, null-padded
    rows = {tuple(r) for r in jv.result().select("lid", "rval").collect()}
    assert rows == {(1, 5.0), (2, None)}
    # batch without nulls: null-jk MV row must stay
    L1 = spark.createDataFrame([(3, 10, "z")], "lid int, lk int, lval string")
    jv.apply(with_ops(L1, 1), None)
    rows = {tuple(r) for r in jv.result().select("lid", "rval").collect()}
    assert rows == {(1, 5.0), (2, None), (3, 5.0)}
    # delete the null-key row: its tombstone carries the null key
    jv.apply(with_ops(spark.createDataFrame([(2, None, "y")], L0.schema), -1), None)
    rows = {tuple(r) for r in jv.result().select("lid", "rval").collect()}
    assert rows == {(1, 5.0), (3, 5.0)}


def _agg_of(df):
    v = F.col("value")
    return df.groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"),
        (F.sum(F.round(v * 10000, 0).cast("long")) / 10000.0).alias("total"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
    )


def test_agg_redelivery_before_mv_epoch(spark, tmp_path):
    """A batch whose state fold committed but whose MV epoch was never
    written (a crash between the two) is redelivered under its batch id:
    the fold is skipped, so the key set has no chunk files to read — its
    key frame comes from the batch plan and its buckets from the Spark
    collect — and the MV must still equal the batch aggregate."""
    from risingwave_spark.streaming.mv import KeySet, MaterializedGroupAgg

    df = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(30)], "event_id int, k int, value double"
    )
    mv = MaterializedGroupAgg(spark, str(tmp_path / "mv"), ["k"], "event_id", "value")
    mv.apply_batch(with_ops(df.filter("event_id < 20"), 1), batch_id=0)
    b1 = with_ops(df.filter("event_id >= 20"), 1).unionByName(
        with_ops(df.filter("event_id < 5"), -1)
    )
    # the crash: batch 1 reaches the state, not the MV
    mv.state.fold(
        b1.where("__op > 0").drop("__op"), b1.where("__op < 0").drop("__op"),
        batch_id=1, tomb_extra_cols=["k"],
    )
    mv.apply_batch(b1, batch_id=1)
    assert mv.state.last_fold is None
    assert KeySet.of_fold(mv.state, mv.keys).buckets is None
    expected = _agg_of(df.filter("event_id >= 5"))
    assert sorted(map(tuple, mv.result().collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_join_redelivery_before_mv_epoch(spark, tmp_path):
    """The stream-join form of the redelivery above: the left side's
    fold committed, the join MV epoch did not; the redelivered apply
    re-joins the batch plan's keys and must equal the batch join."""
    from risingwave_spark.streaming.join import RetractableStreamJoin

    L = spark.createDataFrame(
        [(i, i % 5, float(i)) for i in range(20)], "lid int, lk int, lv double"
    )
    R = spark.createDataFrame([(j, j, f"r{j}") for j in range(5)], "rid int, rk int, rv string")
    jv = RetractableStreamJoin(spark, str(tmp_path / "j"), ["lk"], ["rk"], "lid", "rid")
    jv.apply(with_ops(L.filter("lid < 10"), 1), with_ops(R, 1), batch_id=0)
    b1 = with_ops(L.filter("lid >= 10"), 1).unionByName(
        with_ops(L.filter("lid < 3"), -1)
    )
    jv.state_l.fold(
        b1.where("__op > 0").drop("__op"), b1.where("__op < 0").drop("__op"),
        batch_id=1, tomb_extra_cols=["lk"],
    )
    jv.apply(b1, None, batch_id=1)
    assert jv.state_l.last_fold is None
    live = L.filter("lid >= 3")
    expected = live.join(R, live["lk"] == R["rk"]).select("lid", "rid", "lv", "rv")
    got = jv.result().select("lid", "rid", "lv", "rv")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))


def test_over_window_changelog_carries_commit_ts(spark, tmp_path):
    """Every MV kind writes its changelog chunks through one writer, so an
    over-window MV's chunk carries the _COMMIT_TS_MS marker a SINCE <ts>
    cursor bounds against (not the directory mtime)."""
    import os
    import time

    from risingwave_spark.streaming.over_window import MaterializedOverWindowDelta

    mvw = MaterializedOverWindowDelta(
        spark, str(tmp_path / "owd"), ["k"], ["eid"], "eid",
        funcs={"rn": ("row_number",)}, payload_cols=["v"],
    )
    mvw.emit_changelog = True
    df = spark.createDataFrame(
        [("a", i, float(i)) for i in range(4)], "k string, eid int, v double"
    )
    t0 = int(time.time() * 1000)
    mvw.apply_batch(with_ops(df.filter("eid < 2"), 1))
    mvw.apply_batch(with_ops(df.filter("eid >= 2"), 1))
    chunks = sorted(os.listdir(mvw.changelog_dir))
    assert len([c for c in chunks if c.startswith("c")]) == 2, chunks
    for c in chunks:
        if not c.startswith("c"):
            continue
        with open(os.path.join(mvw.changelog_dir, c, "_COMMIT_TS_MS")) as f:
            assert t0 <= int(f.read()) <= int(time.time() * 1000)


def test_chunk_boundaries_local_equals_agg(spark, tmp_path):
    """_chunk_boundaries_local (r12: driver-side pandas boundary min over
    the fold's chunk columns) must equal the Spark boundary agg row-for-row, and
    must decline (None) on NULL order values so the agg fallback keeps
    Spark's struct-min null ordering."""
    from risingwave_spark.streaming.over_window import MaterializedOverWindowDelta

    mvw = MaterializedOverWindowDelta(
        spark, str(tmp_path / "owd"), ["k"], ["ts", "eid"], "eid",
        funcs={"rn": ("row_number",)}, payload_cols=["v"],
    )
    import datetime

    t0 = datetime.datetime(2031, 1, 1, tzinfo=datetime.timezone.utc)
    rows = [
        ("a", t0 + datetime.timedelta(minutes=m), i, float(i))
        for i, m in enumerate([5, 3, 9])
    ] + [("b", t0, 99, 1.0)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, eid int, v double")
    mvw.apply_batch(with_ops(df, 1))
    local = mvw._chunk_boundaries_local(["__bk0"], ["__b0", "__b1"])
    assert local is not None
    agg = (
        df.groupBy("k")
        .agg(F.min(F.struct("ts", "eid")).alias("__b"))
        .select(
            F.col("k").alias("__bk0"),
            F.col("__b.ts").alias("__b0"),
            F.col("__b.eid").alias("__b1"),
            F.lit(1).alias("__aff"),
        )
    )
    key = lambda d: sorted(map(tuple, d.select("__bk0", "__b0", "__b1").collect()))
    assert key(local) == key(agg)
    # NULL order value -> decline
    df2 = spark.createDataFrame(
        [("a", None, 1, 1.0)], "k string, ts timestamp, eid int, v double"
    )
    mvw2 = MaterializedOverWindowDelta(
        spark, str(tmp_path / "owd2"), ["k"], ["ts", "eid"], "eid",
        funcs={"rn": ("row_number",)}, payload_cols=["v"],
    )
    mvw2.state.fold(df2, df2.limit(0))
    assert mvw2._chunk_boundaries_local(["__bk0"], ["__b0", "__b1"]) is None


def test_key_values_filter_sql_escaping(spark):
    """key_values_filter builds ONE parsed SQL IN list (isin() costs a
    py4j round trip per literal — measured 15.9 s for 1500 elements);
    string values with quotes/backslashes/newlines must survive the SQL
    literal round trip, and the null branch must stay 2-valued."""
    from risingwave_spark.streaming.mv import key_values_filter

    rows = [("it's",), ("back\\slash",), ("new\nline",), ("plain",), (None,)]
    df = spark.createDataFrame(rows, "k string")
    vals = ["it's", "back\\slash", "new\nline"]
    got = {r.k for r in df.filter(key_values_filter("k", vals, True)).collect()}
    assert got == {"it's", "back\\slash", "new\nline", None}
    kept = {r.k for r in df.filter(~key_values_filter("k", vals, False)).collect()}
    assert kept == {"plain", None}
    # weird column names quote through
    df2 = spark.createDataFrame([(1,), (2,)], "`select` int".replace("`", ""))
    assert df2.filter(key_values_filter("select", [1], False)).count() == 1


# ------------------------------------------------- delta-folded MVs
#: value-state MVs and a projection over one; each must equal its body
#: run from scratch over `dt` after every statement
DELTA_MVS = {
    "dagg": "SELECT k, count(*) AS n, count(v) AS nv, sum(v) AS s FROM dt GROUP BY k",
    "dkv": "SELECT k, v, count(*) AS n FROM dt WHERE v IS NULL OR v > 0 GROUP BY k, v",
    "dproj": "SELECT k, s, n FROM dagg WHERE n > 1",
}


def _sql_lit(x) -> str:
    return "NULL" if x is None else str(x)


def _key_pred(k) -> str:
    return "k IS NULL" if k is None else f"k = {k}"


def check_delta_mvs_match_scratch(spark, warehouse: str, ops: list) -> None:
    """Apply `ops` to table `dt` under the DELTA_MVS and compare every MV
    with its body evaluated from scratch after each statement. An op is
    ("ins", [(k, v), ...]), ("del", k), ("upd_v", k, v) or ("upd_k",
    id % 3, new k); k and v may be NULL."""
    from risingwave_spark.api import Engine
    from risingwave_spark.streaming.mv import ProjectMv, ValueAggMv

    eng = Engine(spark, warehouse)
    eng.sql("CREATE TABLE dt (id int8 PRIMARY KEY, k int8, v int8)")
    eng.sql("INSERT INTO dt VALUES (0, 0, 1), (1, 1, NULL), (2, NULL, 2), (3, 1, 3)")
    for name, body in DELTA_MVS.items():
        eng.sql(f"CREATE MATERIALIZED VIEW {name} AS {body}")
    assert isinstance(eng.mv_handles["dagg"].view, ValueAggMv)
    assert isinstance(eng.mv_handles["dkv"].view, ValueAggMv)
    assert isinstance(eng.mv_handles["dproj"].view, ProjectMv)
    scratch = dict(DELTA_MVS, dproj=f"SELECT k, s, n FROM ({DELTA_MVS['dagg']}) WHERE n > 1")
    next_id = 4
    for op in ops:
        if op[0] == "ins":
            vals = []
            for k, v in op[1]:
                vals.append(f"({next_id}, {_sql_lit(k)}, {_sql_lit(v)})")
                next_id += 1
            eng.sql("INSERT INTO dt VALUES " + ", ".join(vals))
        elif op[0] == "del":
            eng.sql(f"DELETE FROM dt WHERE {_key_pred(op[1])}")
        elif op[0] == "upd_v":
            eng.sql(f"UPDATE dt SET v = {_sql_lit(op[2])} WHERE {_key_pred(op[1])}")
        else:
            eng.sql(f"UPDATE dt SET k = {_sql_lit(op[2])} WHERE id % 3 = {op[1]}")
        for name, body in scratch.items():
            got = sorted(map(tuple, eng.sql(f"SELECT * FROM {name}").collect()), key=repr)
            want = sorted(map(tuple, eng.sql(body).collect()), key=repr)
            assert got == want, (op, name, got, want)


def test_delta_mvs_match_scratch_fixed_sequence(spark, tmp_path):
    """One fixed sequence of the property in test_property.py: NULL keys
    and values, a group that empties and refills, an all-NULL sum, rows
    moving between groups and in and out of the projection."""
    check_delta_mvs_match_scratch(spark, str(tmp_path / "wh"), [
        ("ins", [(1, 5), (None, None), (2, -1)]),
        ("del", 1),
        ("ins", [(1, None), (1, 4)]),
        ("upd_v", 1, None),
        ("upd_k", 0, None),
        ("del", None),
        ("upd_v", 2, 3),
        ("ins", [(0, 2), (0, 2)]),
    ])


def _write_versioned(spark, path, df, n):
    """Write `df` in the single-version state layout older warehouses
    used: `v{n}` (plus a stale `v{n-1}` copy, the retained prior version)
    and a `CURRENT` pointer naming n."""
    rows = spark.createDataFrame(df.collect(), df.schema)
    shutil.rmtree(path, ignore_errors=True)
    for v in (n - 1, n):
        rows.coalesce(2).write.parquet(os.path.join(path, f"v{v}"))
    with open(os.path.join(path, "CURRENT"), "w") as f:
        f.write(str(n))


def test_bucketed_table_reads_partitioned_epochs(spark, tmp_path):
    """A `_BucketedMvTable` directory in the older two-layout format (a
    flat backfill epoch, a partitioned `e1/__bucket=b` epoch the MANIFEST
    leaves out of its `flat` list, and one bucket emptied and popped)
    reads back exactly its rows with no `__bucket` column, and a narrow
    splice over it — including a key whose bucket was popped — and a full
    read afterwards are correct."""
    import json

    import pyarrow as pa

    from risingwave_spark.streaming.mv import KeySet, _BucketedMvTable, key_bucket_expr

    path = str(tmp_path / "mv")
    base = spark.createDataFrame([(k, k * 10) for k in range(40)], "k long, v long")
    bucket_of = {
        r.k: r.b for r in base.select("k", key_bucket_expr(["k"], 16).alias("b")).collect()
    }
    used = sorted(set(bucket_of.values()))
    moved, popped = used[:3], used[3]
    base.coalesce(1).write.parquet(os.path.join(path, "e0"))
    newer = (
        base.filter(F.col("k").isin([k for k, b in bucket_of.items() if b in moved]))
        .withColumn("v", F.col("v") + 1000)
    )
    (
        newer.withColumn("__bucket", key_bucket_expr(["k"], 16))
        .repartition(2, "__bucket")
        .write.partitionBy("__bucket")
        .parquet(os.path.join(path, "e1"))
    )
    buckets = {str(b): (1 if b in moved else 0) for b in range(16) if b != popped}
    with open(os.path.join(path, "MANIFEST"), "w") as f:
        json.dump({
            "epoch": 1, "buckets": buckets, "schema": json.dumps(base.schema.jsonValue()),
            "retired": [], "flat": [0],
        }, f)
    expect = {k: (v + 1000 if bucket_of[k] in moved else v)
              for k, v in ((k, k * 10) for k in range(40)) if bucket_of[k] != popped}

    t = _BucketedMvTable(spark, path, ["k"])
    got = t.read()
    assert got.columns == ["k", "v"]
    assert dict(map(tuple, got.collect())) == expect

    k_new = next(k for k, b in bucket_of.items() if b in moved)
    k_old = next(k for k, b in bucket_of.items() if b not in moved and b != popped)
    k_pop = next(k for k, b in bucket_of.items() if b == popped)
    keys = [k_new, k_old, k_pop]
    ks = KeySet.of_arrow(pa.table({"k": pa.array(keys, pa.int64())}), ["k"], 16)
    assert ks.buckets == sorted({bucket_of[k] for k in keys})
    recomputed = spark.createDataFrame([(k, -k) for k in keys], "k long, v long")
    log = t.splice(recomputed, ks, changelog=True)
    assert sorted(map(tuple, log.select("k", "v", "__op").collect())) == sorted(
        [(k, expect[k], -1) for k in (k_new, k_old)] + [(k, -k, 1) for k in keys]
    )
    expect.update({k: -k for k in keys})
    assert dict(map(tuple, t.read().collect())) == expect
    reopened = _BucketedMvTable(spark, path, ["k"])
    assert dict(map(tuple, reopened.read().collect())) == expect
    assert dict(map(tuple, reopened.read_buckets([bucket_of[k_pop]]).collect())) == {
        k: v for k, v in expect.items() if bucket_of[k] == bucket_of[k_pop]
    }
    assert "flat" not in reopened._manifest
    assert not [d for d in os.listdir(os.path.join(path, "e2")) if d.startswith("__bucket=")]


def test_versioned_operator_state_adopted_on_open(spark, tmp_path):
    """An `AppendOnlyGroupTopN` and an `EowcOverWindow` whose state was
    written in the older `CURRENT` + `v{n}` layout reopen with their
    rows: the top-k and the held/open rows and row-number seeds carry on
    exactly as in a run that never stopped."""
    import datetime

    from risingwave_spark.streaming.mv import AppendOnlyGroupTopN
    from risingwave_spark.streaming.over_window import EowcOverWindow

    ranked = spark.createDataFrame(
        [("a", 5, 1), ("a", 3, 2), ("b", 7, 3)], "g string, o long, id long"
    )
    sd = str(tmp_path / "topn")
    _write_versioned(spark, os.path.join(sd, "topn"), ranked, 3)
    topn = AppendOnlyGroupTopN(spark, sd, ["g"], "o", "id", 2)
    assert sorted(os.listdir(os.path.join(sd, "topn"))) == ["MANIFEST", "e3"]
    assert _rows(topn.result()) == sorted([("a", 5, 1, 1), ("a", 3, 2, 2), ("b", 7, 3, 1)])
    topn.apply_batch(spark.createDataFrame([("a", 4, 4), ("b", 1, 5)], ranked.schema))
    assert _rows(topn.result()) == sorted([
        ("a", 5, 1, 1), ("a", 4, 4, 2), ("b", 7, 3, 1), ("b", 1, 5, 2)
    ])

    t0 = datetime.datetime(2024, 1, 1)

    def batch(*rows):  # (rid, k, v, seconds)
        return spark.createDataFrame(
            [(r, k, v, t0 + datetime.timedelta(seconds=s)) for r, k, v, s in rows],
            "rid long, k long, v long, ts timestamp",
        )

    batches = [
        batch((1, 1, 10, 0), (2, 1, 11, 5), (3, 1, 12, 10), (4, 2, 13, 10), (5, 1, 14, 20)),
        batch((6, 1, 15, 40), (7, 2, 16, 45)),
        batch((8, 1, 17, 90), (9, 2, 18, 95)),
    ]

    def open_eowc(d):
        return EowcOverWindow(
            spark, d, ["k"], "ts", ["ts"], "rid",
            {"nxt": ("lead", "v"), "rn": ("row_number",)}, ["v", "rid"], delay_seconds=5,
        )

    ref = open_eowc(str(tmp_path / "ref"))
    for b in batches:
        ref.feed(b)
    d = str(tmp_path / "eowc")
    first = open_eowc(d)
    first.feed(batches[0])
    assert first.buffer.read().count() and first.seeds.read().count()
    for name in ("buffer", "seeds"):
        _write_versioned(spark, os.path.join(d, name), getattr(first, name).read(), 2)
    again = open_eowc(d)
    assert again.buffer.exists() and again.seeds.exists()
    for b in batches[1:]:
        again.feed(b)
    cols = ["rid", "k", "v", "nxt", "rn"]
    assert _rows(again.result().select(*cols)) == _rows(ref.result().select(*cols))
