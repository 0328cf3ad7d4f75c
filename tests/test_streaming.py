"""Streaming batch-equivalence layer (SURVEY.md §5.3 layer 3).

Each declared streaming key runs as a REAL file-source micro-batch
stream (5 ordered files, maxFilesPerTrigger=1, availableNow) and must
produce exactly the batch answer. Plus: watermark late-data dropping
and arbitrary stateful processing.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hadoop_tools_spark.streaming import ops
from hadoop_tools_spark.streaming.runner import (
    read_event_stream,
    run_to_completion,
    stage_stream_files,
)


@pytest.fixture(scope="module")
def staged(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("stream") / "events")
    stage_stream_files(spark, sf_dir, out, n_files=5)
    return out


def _canon(df_like) -> pd.DataFrame:
    pdf = df_like.toPandas() if not isinstance(df_like, pd.DataFrame) else df_like
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def assert_stream_equals_batch(spark, staged, batch_df, transform, mode):
    name = run_to_completion(transform(read_event_stream(spark, staged)), mode)
    got = _canon(spark.sql(f"SELECT * FROM {name}"))
    want = _canon(batch_df)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_stream_tumbling_equals_batch(spark, sf_dir, staged):
    def t(s):
        return (
            s.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.round(F.sum("value"), 4).alias("sum_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )

    # complete mode: final window values must equal batch
    assert_stream_equals_batch(
        spark, staged, ops.stream_tumbling(spark, sf_dir), t, "complete"
    )


def test_stream_sliding_equals_batch(spark, sf_dir, staged):
    def t(s):
        return (
            s.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "n_events")
        )

    # complete mode: every overlapping window's final count equals batch
    assert_stream_equals_batch(
        spark, staged, ops.stream_sliding(spark, sf_dir), t, "complete"
    )


def test_stream_session_equals_batch(spark, sf_dir, staged):
    def t(s):
        return (
            s.withWatermark("ts", "30 minutes")
            .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select(
                "user_id",
                F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"),
                "n_events",
            )
        )

    assert_stream_equals_batch(
        spark, staged, ops.stream_session(spark, sf_dir), t, "complete"
    )


def test_stream_dedup_equals_batch(spark, sf_dir, staged):
    def t(s):
        return s.dropDuplicates(["user_id", "event_type"]).select(
            "event_id", "user_id", "event_type", "ts"
        )

    # source files are time-ordered, so streaming first-seen ==
    # batch first-by-event-time
    assert_stream_equals_batch(
        spark, staged, ops.stream_dedup(spark, sf_dir), t, "append"
    )


def test_stream_enrich_equals_batch(spark, sf_dir, staged):
    from hadoop_tools_spark.io import load

    c = load(spark, sf_dir, "customer")

    def t(s):
        return s.join(F.broadcast(c), s.user_id == c.c_custkey).select(
            "event_id", "user_id", "c_mktsegment", "event_type"
        )

    assert_stream_equals_batch(
        spark, staged, ops.stream_enrich(spark, sf_dir), t, "append"
    )


def test_stateful_running_stats_converge_to_batch(spark, sf_dir, staged):
    from hadoop_tools_spark.streaming.stateful import running_user_stats

    name = run_to_completion(
        running_user_stats(read_event_stream(spark, staged)), "update"
    )
    # memory sink in update mode appends every emission; the LAST row
    # per user is the final state
    final = spark.sql(
        f"""
        SELECT user_id, n_events, ROUND(total_value, 4) AS total_value, last_ts
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY n_events DESC) rn
              FROM {name}) WHERE rn = 1
        """
    ).drop("rn")
    want = ops.stream_state_running(spark, sf_dir)
    pd.testing.assert_frame_equal(
        _canon(final), _canon(want), check_dtype=False
    )


def test_watermark_drops_late_rows(spark, sf_dir, tmp_path):
    """A row older than (max event time − watermark delay) arriving in
    a later micro-batch must not resurrect its window."""
    from hadoop_tools_spark.io import load

    ev = load(spark, sf_dir, "events")
    first_ts = ev.agg(F.min("ts")).collect()[0][0]
    late = spark.createDataFrame(
        [(999999999, first_ts, 0, "late", 1.0, "{}")],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    out = str(tmp_path / "late_events")
    stage_stream_files(spark, sf_dir, out, n_files=3, late_df=late)

    def t(s):
        return (
            s.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("window_start"), "n")
        )

    name = run_to_completion(t(read_event_stream(spark, out)), "append")
    got = {
        r["window_start"]: r["n"]
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    # batch count for the first hour WITHOUT the late row
    want_first = (
        ev.filter(F.date_trunc("hour", "ts") == F.date_trunc("hour", F.lit(first_ts)))
        .count()
    )
    first_window = got[min(got)]
    assert first_window == want_first, (first_window, want_first)


def test_transform_with_state_converges_to_batch(spark, sf_dir, staged):
    """The 4.x StatefulProcessor path must land on exactly the same
    final per-user state as applyInPandasWithState and the batch
    groupBy."""
    pytest.importorskip("pyspark.sql.streaming.stateful_processor")
    # transformWithState's Python state client speaks protobuf to the
    # JVM state server; without google.protobuf the driver worker
    # can't start (verified: ImportError in StateMessage_pb2)
    pytest.importorskip("google.protobuf.descriptor")
    from hadoop_tools_spark.streaming.stateful import running_user_stats_tws

    name = run_to_completion(
        running_user_stats_tws(read_event_stream(spark, staged)), "update"
    )
    final = spark.sql(
        f"""
        SELECT user_id, n_events, ROUND(total_value, 4) AS total_value, last_ts
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY n_events DESC) rn
              FROM {name}) WHERE rn = 1
        """
    ).drop("rn")
    want = ops.stream_state_running(spark, sf_dir)
    pd.testing.assert_frame_equal(
        _canon(final), _canon(want), check_dtype=False
    )


def test_foreach_batch_parquet_sink(spark, sf_dir, staged, tmp_path):
    """foreachBatch parquet append: union of per-batch writes equals
    the full input; batch ids are dense from 0 (one per staged file)."""
    from hadoop_tools_spark.streaming.runner import run_foreach_batch_parquet

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    run_foreach_batch_parquet(read_event_stream(spark, staged), out, ckpt)
    sunk = spark.read.parquet(out)
    batch = spark.read.parquet(staged)
    assert sunk.count() == batch.count()
    ids = sorted(
        r.batch_id for r in sunk.select("batch_id").distinct().collect()
    )
    assert ids == list(range(len(ids))) and len(ids) >= 2, ids
    # value-level equivalence, not just counts
    got = _canon(sunk.drop("batch_id"))
    want = _canon(batch)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_foreach_batch_restart_no_duplicates(spark, sf_dir, staged, tmp_path):
    """Restarting from the same checkpoint after completion replays
    nothing — committed batch ids are skipped, so the sink row count
    is unchanged (the exactly-once contract of checkpoint+idempotent
    writes)."""
    from hadoop_tools_spark.streaming.runner import run_foreach_batch_parquet

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    run_foreach_batch_parquet(read_event_stream(spark, staged), out, ckpt)
    n1 = spark.read.parquet(out).count()
    run_foreach_batch_parquet(read_event_stream(spark, staged), out, ckpt)
    n2 = spark.read.parquet(out).count()
    assert n1 == n2


def test_stream_stream_join_equals_batch(spark, sf_dir, staged):
    """Stream-stream inner join with watermarks on both sides produces
    exactly the batch join's rows once the stream drains."""
    from hadoop_tools_spark.streaming.ops import stream_stream_join

    def t(s):
        clicks = (
            s.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "30 minutes")
        )
        views = (
            s.filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id").alias("v_user_id"),
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "30 minutes")
        )
        return clicks.join(
            views,
            (F.col("user_id") == F.col("v_user_id"))
            & (
                F.col("view_ts")
                >= F.col("click_ts") - F.expr("INTERVAL 10 MINUTES")
            )
            & (F.col("view_ts") <= F.col("click_ts")),
        ).select("click_id", "view_id", "user_id", "click_ts", "view_ts")

    # append mode: inner stream-stream joins emit as matches arrive
    assert_stream_equals_batch(
        spark, staged, stream_stream_join(spark, sf_dir), t, "append"
    )


def test_stream_topk_equals_batch(spark, sf_dir, staged):
    """Windowed top-k as a stream: aggregate in the engine, rank the
    watermark-closed windows in foreachBatch — final result equals the
    batch key (complete-mode snapshot of the finite stream)."""
    def t(s):
        return (
            s.groupBy(F.window("ts", "6 hours").alias("w"), "user_id")
            .agg(F.round(F.sum("value"), 4).alias("sum_value"))
            .select(
                F.col("w.start").alias("window_start"), "user_id", "sum_value"
            )
        )

    name = run_to_completion(
        t(read_event_stream(spark, staged)), "complete"
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start").orderBy(
        F.col("sum_value").desc(), F.col("user_id")
    )
    got = _canon(
        spark.sql(f"SELECT * FROM {name}")
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter("rnk <= 3")
    )
    want = _canon(ops.stream_topk(spark, sf_dir))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_idempotent_sink_exactly_once(spark, sf_dir, staged, tmp_path):
    """IdempotentBatchSink: replaying a delivered micro-batch is a
    no-op; the table holds each batch exactly once and versions are
    manifest-consistent."""
    from hadoop_tools_spark.streaming.sinks import IdempotentBatchSink
    from hadoop_tools_spark.streaming.runner import read_event_stream

    sink = IdempotentBatchSink(str(tmp_path / "eo_table"))
    ckpt = str(tmp_path / "eo_ckpt")
    q = (
        read_event_stream(spark, staged)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n1 = sink.table.read(spark).count()
    assert n1 == spark.read.parquet(staged).count()
    batches = sink.committed_batches()
    assert len(batches) >= 2

    # simulate at-least-once redelivery: replay an already-committed
    # micro-batch directly
    replay_id = min(batches)
    sink(spark.read.parquet(staged).limit(50), replay_id)
    assert sink.table.read(spark).count() == n1
    assert sink.committed_batches() == batches

    # a genuinely new batch still commits
    sink(spark.read.parquet(staged).limit(7), max(batches) + 1)
    assert sink.table.read(spark).count() == n1 + 7


def test_idempotent_sink_keeps_pending_deletes(spark, sf_dir, tmp_path):
    """A sink batch carries the table's pending deletes forward: rows
    deleted before the batch stay deleted after it, so the row count
    grows by exactly the batch."""
    from hadoop_tools_spark.streaming.sinks import IdempotentBatchSink

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    sink = IdempotentBatchSink(str(tmp_path / "eo_deletes"))
    sink(orders, 0)
    n0 = sink.table.read(spark).count()
    sink.table.delete_where(
        orders.filter("o_orderkey % 2 = 0").select("o_orderkey")
    )
    n1 = sink.table.read(spark).count()
    assert 0 < n1 < n0
    sink(orders.limit(5), 1)
    assert sink.table.read(spark).count() == n1 + 5


def test_stateful_checkpoint_restart_recovers_state(
    spark, sf_dir, staged, tmp_path
):
    """Stop/resume with the SAME checkpoint: dedup state must be
    restored, so (user, type) pairs seen before the restart are still
    dropped after it. Without state recovery the resumed run would
    re-emit phase-1 keys and the sink would overcount."""
    import os
    import shutil
    import glob as _glob

    src = str(tmp_path / "src")
    os.makedirs(src)
    parts = sorted(_glob.glob(f"{staged}/part-*.parquet"))
    assert len(parts) >= 5
    for p in parts[:3]:
        shutil.copy(p, src)

    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def t(s):
        return s.select("user_id", "event_type").dropDuplicates(
            ["user_id", "event_type"]
        )

    from hadoop_tools_spark.streaming.runner import (
        read_event_stream,
        run_foreach_batch_parquet,
    )

    run_foreach_batch_parquet(t(read_event_stream(spark, src)), out, ckpt)
    n_offsets1 = len(os.listdir(f"{ckpt}/offsets"))

    # "restart": new files arrive, same checkpoint — only new batches run
    for p in parts[3:]:
        shutil.copy(p, src)
    run_foreach_batch_parquet(t(read_event_stream(spark, src)), out, ckpt)

    sunk = spark.read.parquet(out).drop("batch_id")
    want = (
        spark.read.parquet(staged)
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    # exactly-once across the restart: each pair emitted exactly once
    assert sunk.count() == want, (sunk.count(), want)
    assert sunk.distinct().count() == want
    # the resumed run really processed the new files as NEW batches
    # (they dedup to zero emitted rows, so check the offset log)
    n_offsets2 = len(os.listdir(f"{ckpt}/offsets"))
    assert n_offsets2 > n_offsets1, (n_offsets1, n_offsets2)


def test_inactivity_alerts_timer_fired(spark, sf_dir, staged):
    """Event-time timers: a user whose last event is >= gap seconds
    before the final watermark fires exactly one alert carrying their
    last-seen timestamp; recently-active users fire nothing."""
    from hadoop_tools_spark.streaming.stateful import inactivity_alerts

    gap_s = 6 * 3600
    name = run_to_completion(
        inactivity_alerts(read_event_stream(spark, staged), gap_s=gap_s),
        "append",
    )
    got = {
        r.user_id: r.last_ts
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }

    from hadoop_tools_spark.io import load

    last = {
        r.user_id: r.last_ts
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("ts").alias("last_ts"))
        .collect()
    }
    wm = max(last.values())
    expect = {
        u for u, t in last.items()
        if (wm - t).total_seconds() >= gap_s
    }
    assert set(got) == expect, (len(got), len(expect))
    for u in got:
        assert got[u] == last[u]
    # sanity: the fixture has both silent and active users
    assert expect and len(expect) < len(last)


def test_map_state_per_type_counts(spark, sf_dir, staged):
    """MapState: the final update-mode snapshot of per-(user, type)
    counts equals the batch groupBy — point updates per subkey across
    micro-batches accumulate correctly."""
    from hadoop_tools_spark.streaming.stateful import per_type_counts

    name = run_to_completion(
        per_type_counts(read_event_stream(spark, staged)), "update"
    )
    latest = spark.sql(
        f"""
        SELECT user_id, event_type, n FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id, event_type ORDER BY n DESC) AS rn
          FROM {name}
        ) WHERE rn = 1
        """
    )
    got = {
        (r.user_id, r.event_type): r.n for r in latest.collect()
    }
    from hadoop_tools_spark.io import load

    want = {
        (r.user_id, r.event_type): r.n
        for r in load(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_stream_outer_join_emits_nulls(spark, sf_dir, tmp_path):
    """LEFT-OUTER stream-stream join: unmatched clicks emit null view
    columns once the watermark proves no match can arrive. Two flush
    events staged after the real data advance the watermark past every
    pending click (the first raises the watermark, the second's batch
    evicts state and emits the nulls), so the streamed result equals
    the batch key exactly — including the null rows."""
    import datetime

    from hadoop_tools_spark.io import load
    from hadoop_tools_spark.streaming.ops import stream_outer_join
    from hadoop_tools_spark.streaming.runner import (
        read_event_stream,
        run_to_completion,
        stage_stream_files,
    )

    base = load(spark, sf_dir, "events")
    mx = base.agg(F.max("ts")).collect()[0][0]

    # flush rows must survive the click/view filters to reach BOTH
    # watermark operators (the global watermark is the min across
    # them); the sentinel user_id keeps them out of real matches and
    # the sentinel event_id range is excluded from the comparison
    def flush(eid, hours):
        ts = mx + datetime.timedelta(hours=hours)
        return spark.createDataFrame(
            [
                (eid, ts, -1, "click", 0.0, "{}"),
                (eid + 1, ts, -1, "view", 0.0, "{}"),
            ],
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string",
        )

    out = str(tmp_path / "events")
    stage_stream_files(spark, sf_dir, out, n_files=5, late_df=flush(10**9, 2))
    # second flush file (later mtime): its micro-batch runs under the
    # watermark the first flush advanced, triggering eviction + nulls
    flush(10**9 + 1, 3).coalesce(1).write.mode("append").parquet(out)

    def t(s):
        clicks = (
            s.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("click_ts"),
            )
            .withWatermark("click_ts", "30 minutes")
        )
        views = (
            s.filter(F.col("event_type") == "view")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id").alias("v_user_id"),
                F.col("ts").alias("view_ts"),
            )
            .withWatermark("view_ts", "30 minutes")
        )
        return clicks.join(
            views,
            (F.col("user_id") == F.col("v_user_id"))
            & (
                F.col("view_ts")
                >= F.col("click_ts") - F.expr("INTERVAL 10 MINUTES")
            )
            & (F.col("view_ts") <= F.col("click_ts")),
            "leftOuter",
        ).select("click_id", "view_id", "user_id", "click_ts", "view_ts")

    name = run_to_completion(t(read_event_stream(spark, out)), "append")
    raw = spark.sql(f"SELECT * FROM {name} WHERE click_id < 1000000000")
    got = _canon(raw)
    want = _canon(stream_outer_join(spark, sf_dir))
    assert (got["view_id"].isna()).any(), "expected null-padded rows"
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_stream_cdc_upsert_exactly_once(spark, sf_dir, staged, tmp_path):
    """Streaming CDC apply: foreachBatch MERGEs each micro-batch into
    the snapshot table (last-writer-wins per user), so the final table
    equals the batch 'latest event per user' — and a checkpoint
    restart or manual batch replay changes nothing (exactly-once)."""
    from hadoop_tools_spark.streaming.runner import (
        _await_or_stop,
        read_event_stream,
    )
    from hadoop_tools_spark.streaming.sinks import IdempotentUpsertSink

    path = str(tmp_path / "cdc_tbl")
    ckpt = str(tmp_path / "cdc_ckpt")

    def run():
        sink = IdempotentUpsertSink(
            path, ["user_id"], ["ts", "event_id"]
        )
        q = (
            read_event_stream(spark, staged)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        _await_or_stop(q)
        return sink

    sink = run()
    got = _canon(sink.table.read(spark))

    from pyspark.sql import Window

    ev = spark.read.parquet(staged)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = _canon(
        ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # one row per user, ever — upserts replaced, never appended
    n_users = ev.select("user_id").distinct().count()
    assert len(got) == n_users

    # restart from the same checkpoint: no new commits, same table
    v1 = sink.table.versions()
    sink2 = run()
    assert sink2.table.versions() == v1
    pd.testing.assert_frame_equal(
        _canon(sink2.table.read(spark)), got, check_dtype=False
    )

    # manual replay of an already-committed batch id: skipped before
    # staging (fresh sink instance, so the committed-set cache must
    # re-seed from the manifests, not session memory)
    replay = IdempotentUpsertSink(path, ["user_id"], ["ts", "event_id"])
    replay(ev.limit(50), 0)
    assert replay.table.versions() == v1


def test_upsert_sink_tied_order_cols_deterministic(spark, tmp_path):
    """Two same-key rows tying on EVERY order_col must commit the same
    winner no matter how the batch is partitioned or ordered — the
    stable-hash tie-break (r10 ADVICE fix) makes replays of a failed
    micro-batch reproduce one table, not an arbitrary row_number pick."""
    from hadoop_tools_spark.streaming.sinks import IdempotentUpsertSink

    rows = [
        ("u1", 5, "first"), ("u1", 5, "second"), ("u1", 5, "third"),
        ("u2", 1, "only"),
    ]
    cols = ["user_id", "ts", "payload"]
    winners = []
    for i, order in enumerate((rows, list(reversed(rows)))):
        path = str(tmp_path / f"tie_{i}")
        sink = IdempotentUpsertSink(path, ["user_id"], ["ts"])
        sink(spark.createDataFrame(order, cols).repartition(2 + i), 0)
        winners.append({
            r["user_id"]: r["payload"]
            for r in sink.table.read(spark).collect()
        })
    assert winners[0] == winners[1]
    assert set(winners[0]) == {"u1", "u2"}
