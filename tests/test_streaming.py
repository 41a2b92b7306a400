"""Streaming-runtime tests (SURVEY §5.3): op-chains, graph wiring,
fan-out, dead-letter, hot-swap boundary semantics (old-before /
new-after, ReadMe.org:64), nil-drop, event-time windows."""

import tempfile

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from dataworks_spark.session import load_table
from dataworks_spark.streaming.graph import Node, StreamGraph, tumbling_window_agg
from dataworks_spark.streaming.kafka import encode_json_value, kafka_source_options
from dataworks_spark.streaming.transforms import OpChain


@pytest.fixture
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


def test_opchain_map_filter_nil_drop(spark):
    """The ReadMe's canonical pipeline: (comp (map :value) (map inc))
    with implicit (filter some?) (ReadMe.org:44-45, stream.clj:47)."""
    df = spark.createDataFrame([(1,), (2,), (None,)], "value int")
    chain = OpChain().map(incremented=F.col("value") + 1).select("incremented")
    out = chain(df).collect()
    assert sorted(r.incremented for r in out) == [2, 3]  # nil dropped


def test_opchain_flatmap(spark):
    df = spark.createDataFrame([("a b",)], "text string")
    chain = OpChain().map(tokens=F.split("text", " ")).flatmap(F.col("tokens"), "token")
    assert sorted(r.token for r in chain(df).collect()) == ["a", "b"]


def test_graph_batch_twin_and_fanout(spark, events):
    """One source, two downstream nodes (mult/tap fan-out, I3)."""
    g = StreamGraph(spark)
    g.add_source("ingest", lambda: events)
    g.add_node(Node("errors", OpChain().filter(F.col("event_type") == "error"), ["ingest"]))
    g.add_node(Node("purchases", OpChain().filter(F.col("event_type") == "purchase"), ["ingest"]))
    n_err = g.build("errors").count()
    n_pur = g.build("purchases").count()
    total = events.count()
    assert 0 < n_err < total and 0 < n_pur < total


def test_graph_dead_letter(spark, events):
    """Error-handler quarantine (I5): bad rows diverted, not dropped."""
    g = StreamGraph(spark)
    g.add_source("ingest", lambda: events)
    g.add_node(
        Node(
            "clean",
            OpChain().select("event_id", "value"),
            ["ingest"],
            quarantine=F.col("value") < 0,
        )
    )
    ok = g.build("clean").count()
    dlq = g.dead_letter("clean")
    bad = dlq.count() if dlq is not None else 0
    assert ok + bad == events.count()


def test_graph_downstream_subgraph(spark):
    g = StreamGraph(spark)
    g.add_source("src", lambda: None)
    g.add_node(Node("a", OpChain(), ["src"]))
    g.add_node(Node("b", OpChain(), ["a"]))
    g.add_node(Node("c", OpChain(), ["b"]))
    g.add_node(Node("other", OpChain(), ["src"]))
    assert g.downstream_subgraph("a") == {"a", "b", "c"}


def test_graph_cycle_detection(spark):
    g = StreamGraph(spark)
    g.add_node(Node("x", OpChain(), ["y"]))
    g.add_node(Node("y", OpChain(), ["x"]))
    with pytest.raises(ValueError, match="cycle"):
        g.build("x")


def test_streaming_query_and_hot_swap(spark, events, tmp_path):
    """Run the graph as a real streaming query (file source), then
    hot-swap the node's chain and restart from checkpoint: messages
    before the boundary processed by old logic, after by new
    (ReadMe.org:64)."""
    src_dir = tmp_path / "stream_src"
    ckpt = tmp_path / "ckpt"
    first_half = events.filter(F.col("event_id") < 500)
    second_half = events.filter(F.col("event_id") >= 500)
    first_half.write.mode("overwrite").parquet(str(src_dir))

    schema = events.schema
    g = StreamGraph(spark)
    g.add_source(
        "ingest",
        lambda: spark.readStream.schema(schema).parquet(str(src_dir)),
    )
    g.add_node(Node("scored", OpChain().map(score=F.col("value") * 1), ["ingest"]))

    out_dir = tmp_path / "out"
    sink = dict(sink_format="parquet", checkpoint=str(ckpt / "scored"), path=str(out_dir))
    q = g.start("scored", query_name="scored_v1", **sink)
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    n_v1 = spark.read.parquet(str(out_dir)).count()
    assert n_v1 == first_half.count()

    # hot-swap: new logic doubles the score (I1/I7), restart from the
    # same checkpoint — resumes at the exact offset the old logic
    # stopped (exactly-once, an upgrade over at-least-once I6)
    epoch = g.swap_node("scored", OpChain().map(score=F.col("value") * 2))
    assert epoch == 1
    second_half.write.mode("append").parquet(str(src_dir))
    q2 = g.start("scored", query_name="scored_v2", **sink)
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination()

    vals = {r.event_id: r.value for r in events.collect()}
    got = {r.event_id: r.score for r in spark.read.parquet(str(out_dir)).collect()}
    assert len(got) == len(vals)  # every event exactly once across the swap
    first_ids = {r.event_id for r in first_half.select("event_id").collect()}
    for k, score in got.items():
        expected = vals[k] if k in first_ids else 2 * vals[k]  # old-before/new-after
        assert abs(score - expected) < 1e-9


def test_event_time_tumbling_window_stream(spark, events, tmp_path):
    """I10: watermarked tumbling window over a streaming source matches
    the batch twin (q_events_tumbling's shape)."""
    src_dir = tmp_path / "win_src"
    events.write.mode("overwrite").parquet(str(src_dir))
    schema = events.schema

    g = StreamGraph(spark)
    g.add_source("ev", lambda: spark.readStream.schema(schema).parquet(str(src_dir)))
    stage = tumbling_window_agg(
        "ts", "1 hour", ["event_type"], [F.count(F.lit(1)).alias("n")], watermark="1 hour"
    )
    g.add_node(Node("win", OpChain().then(stage), ["ev"]))
    q = g.start("win", output_mode="complete", query_name="win_out")
    q.processAllAvailable()
    got = {
        (r["win"]["start"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    q.stop()

    expect = {
        (r["win_start"], r["event_type"]): r["n"]
        for r in events.groupBy(
            F.date_trunc("hour", "ts").alias("win_start"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == expect


def test_event_time_session_window_stream(spark, events, tmp_path):
    """I10: session_window over a streaming source — session count per
    user matches the batch lag+cumsum sessionization (q_events_sessionize
    uses a 30-min gap; F.session_window uses the same gap semantics)."""
    src_dir = tmp_path / "sess_src"
    events.write.mode("overwrite").parquet(str(src_dir))
    stream = spark.readStream.schema(events.schema).parquet(str(src_dir))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    q.processAllAvailable()
    got = (
        spark.sql("SELECT user_id, count(*) AS n_sessions FROM sess_out GROUP BY user_id")
        .collect()
    )
    q.stop()

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = F.unix_millis(F.col("ts")) - F.unix_millis(F.lag("ts").over(w))
    is_new = F.when(gap_ms.isNull() | (gap_ms > 30 * 60 * 1000), 1).otherwise(0)
    expect = {
        r.user_id: r.n_sessions
        for r in events.withColumn("s", is_new)
        .groupBy("user_id")
        .agg(F.sum("s").alias("n_sessions"))
        .collect()
    }
    assert {r.user_id: r.n_sessions for r in got} == expect


def test_watermark_drops_late_data(spark, tmp_path):
    """I10 late-data semantics: an event older than the watermark is
    dropped from the windowed aggregate; the finalized window emits
    without it (the reference has no event-time handling at all —
    utils/kafka.clj:97-99 captures but ignores it)."""
    import datetime as dt

    src = tmp_path / "late_src"
    schema = "k string, ts timestamp"

    def write_batch(rows, mode):
        spark.createDataFrame(rows, schema).write.mode(mode).parquet(str(src))

    T = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    write_batch([("a", T(10, 15)), ("a", T(10, 45)), ("a", T(12, 0))], "overwrite")

    stream = spark.readStream.schema(schema).parquet(str(src))
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "k")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()  # watermark now 11:30
    # batch 2: one LATE row (10:30 < watermark) + one on-time row
    write_batch([("a", T(10, 30)), ("a", T(13, 0))], "append")
    q.processAllAvailable()
    write_batch([("a", T(15, 0))], "append")  # push watermark → finalize
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()

    out = {r["w"]["start"].hour: r["n"] for r in spark.sql("SELECT * FROM late_out").collect()}
    assert out[10] == 2  # the 10:30 late row was DROPPED (else 3)
    assert out[12] == 1


def test_stream_stream_interval_join(spark, events, tmp_path):
    """Stream-stream join with watermarks (beyond the reference's
    surface; the Spark-native form of correlating two live topics):
    each click joins purchases by the same user within the next hour."""
    src = tmp_path / "ss_src"
    events.write.mode("overwrite").parquet(str(src))

    def read():
        return spark.readStream.schema(events.schema).parquet(str(src))

    clicks = (
        read().filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"),
                F.col("event_id").alias("c_id"))
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        read().filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
                F.col("event_id").alias("p_id"))
        .withWatermark("p_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_out")
        .start()
    )
    q.processAllAvailable()
    got = spark.sql("SELECT c_id, p_id FROM ss_out").count()
    q.stop()

    ev_c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    ev_p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    expect = ev_c.join(
        ev_p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 1 HOUR")),
    ).count()
    assert got == expect


def test_kafka_builders():
    opts = kafka_source_options("clicks", "broker:9092")
    assert opts["kafka.group.id"] == "dataworks/clicks"  # utils/kafka.clj:81
    assert opts["startingOffsets"] == "latest"  # utils/kafka.clj:84-85
    assert encode_json_value({"a": 1}) == '{"a":1}'


def test_docstore_sink_idempotent_per_epoch(spark):
    """foreachBatch retries re-deliver the same epoch_id (at-least-once
    contract); the sink must apply each epoch exactly once or replays
    would duplicate document versions."""
    import datetime as dt

    from dataworks_spark.docs.sink import DocStoreSink
    from dataworks_spark.docs.store import DocumentStore

    empty = spark.createDataFrame(
        [],
        "id string, value double, valid_from timestamp, valid_to timestamp, "
        "tx_from timestamp, tx_to timestamp, deleted boolean",
    )
    sink = DocStoreSink(DocumentStore(empty), id_col="k", ts_col="ts")
    batch = spark.createDataFrame(
        [("a", 1.0, dt.datetime(2024, 1, 1))], "k string, value double, ts timestamp"
    )
    sink.foreach_batch(batch, epoch_id=7)
    sink.foreach_batch(batch, epoch_id=7)  # simulated retry of the same epoch
    assert sink.batches_applied == 1
    assert sink.store.versions.count() == 1  # no duplicate version rows
    later = spark.createDataFrame(
        [("a", 2.0, dt.datetime(2024, 1, 2))], "k string, value double, ts timestamp"
    )
    sink.foreach_batch(later, epoch_id=8)  # new epoch still applies
    assert {r.value for r in sink.store.latest().collect()} == {2.0}


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_docstore_sink_failed_write_leaves_epoch_unapplied(spark, aqe):
    """A batch whose write fails (a NULL event timestamp) raises inside
    foreach_batch, with or without AQE, and leaves its epoch unmarked
    and the store unchanged: Spark's retry of the epoch with good data
    applies instead of hitting the replay guard."""
    import datetime as dt

    from dataworks_spark.docs.sink import DocStoreSink
    from dataworks_spark.docs.store import DocumentStore

    empty = spark.createDataFrame(
        [],
        "id string, value double, valid_from timestamp, valid_to timestamp, "
        "tx_from timestamp, tx_to timestamp, deleted boolean",
    )
    sink = DocStoreSink(DocumentStore(empty), id_col="k", ts_col="ts")
    schema = "k string, value double, ts timestamp"
    bad = spark.createDataFrame([("a", 1.0, None)], schema)
    good = spark.createDataFrame([("a", 1.0, dt.datetime(2024, 1, 1))], schema)
    before = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try:
        with pytest.raises(Exception, match="NULL ts"):
            sink.foreach_batch(bad, epoch_id=3)
        assert sink.batches_applied == 0
        assert sink.store.versions.count() == 0
        sink.foreach_batch(good, epoch_id=3)  # the retry of the epoch
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before)
    assert sink.batches_applied == 1
    assert {r.value for r in sink.store.latest().collect()} == {1.0}


def test_docstore_sink_empty_batch_applies_nothing(spark):
    """An empty micro-batch writes no version and is NOT recorded as
    applied: the emptiness probe reads the batch's checkpointed rows
    (one scan of the source), and a later non-empty delivery of the
    same epoch still applies."""
    import datetime as dt

    from dataworks_spark.docs.sink import DocStoreSink
    from dataworks_spark.docs.store import DocumentStore

    schema = "k string, value double, ts timestamp"
    empty_store = spark.createDataFrame(
        [],
        "id string, value double, valid_from timestamp, valid_to timestamp, "
        "tx_from timestamp, tx_to timestamp, deleted boolean",
    )
    sink = DocStoreSink(DocumentStore(empty_store), id_col="k", ts_col="ts")
    before = sink.store
    sink.foreach_batch(spark.createDataFrame([], schema), epoch_id=3)
    assert sink.batches_applied == 0
    assert 3 not in sink._applied_epochs
    assert sink.store is before  # no write, not even an empty one
    batch = spark.createDataFrame([("a", 1.0, dt.datetime(2024, 1, 1))], schema)
    sink.foreach_batch(batch, epoch_id=3)
    assert sink.batches_applied == 1
    assert [r.value for r in sink.store.latest().collect()] == [1.0]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming-native exact dedup (L1 streaming twin, complementing
    the stateful seen_filter): dropDuplicatesWithinWatermark drops
    redelivered keys inside the watermark window with BOUNDED state —
    the state-expiry upgrade a 100 TB stream needs over unbounded
    dropDuplicates."""
    import datetime as dt

    src = tmp_path / "dedup_src"
    src.mkdir()
    t = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        {"k": "a", "ts": t.isoformat()},
        {"k": "a", "ts": (t + dt.timedelta(seconds=30)).isoformat()},  # dup redelivery
        {"k": "b", "ts": (t + dt.timedelta(minutes=1)).isoformat()},
    ]
    import json as _json

    (src / "batch.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = (
        spark.readStream.schema("k string, ts string")
        .json(str(src))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["k"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = spark.sql("SELECT k FROM dedup_out").collect()
    assert sorted(r.k for r in out) == ["a", "b"]  # the redelivery was dropped


def test_docstore_sink_durable_incremental(spark, tmp_path):
    """Durable sink mode: each durable point incrementally compacts to
    partitioned parquet; the durable store matches the in-memory one
    and untouched partitions are not rewritten between batches."""
    import datetime as dt
    import glob
    import os

    from dataworks_spark.docs.sink import DocStoreSink
    from dataworks_spark.docs.store import DocumentStore

    path = str(tmp_path / "durable")
    empty = spark.createDataFrame(
        [],
        "id string, value double, valid_from timestamp, valid_to timestamp, "
        "tx_from timestamp, tx_to timestamp, deleted boolean",
    )
    sink = DocStoreSink(
        DocumentStore(empty), id_col="k", ts_col="ts", durable_path=path
    )
    b1 = spark.createDataFrame(
        [("app/a", 1.0, dt.datetime(2024, 1, 1)), ("user/u", 5.0, dt.datetime(2024, 2, 1))],
        "k string, value double, ts timestamp",
    )
    sink.foreach_batch(b1, epoch_id=1)
    snap = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{path}/**/*.parquet", recursive=True)
    }
    assert snap, "durable compaction wrote nothing"

    # second batch touches only app/a (new valid date)
    b2 = spark.createDataFrame(
        [("app/a", 2.0, dt.datetime(2024, 3, 1))], "k string, value double, ts timestamp"
    )
    sink.foreach_batch(b2, epoch_id=2)

    # user/* partition untouched
    for f, mtime in snap.items():
        if "/namespace=user/" in f:
            assert os.path.exists(f) and os.path.getmtime(f) == mtime

    durable = DocumentStore.load(spark, path)
    assert {r.value for r in durable.latest().collect()} == {2.0, 5.0}
    cols = ["id", "value", "valid_from", "valid_to", "tx_from", "tx_to"]
    assert sorted(map(tuple, durable.versions.select(cols).collect())) == sorted(
        map(tuple, sink.store.versions.select(cols).collect())
    )


def test_docstore_sink_restart_recovers_durable_state(spark, tmp_path):
    """A fresh sink pointed at an existing durable_path must treat the
    durable dataset as the source of truth: without recovery, its
    first compaction would dynamic-overwrite partitions with delta-only
    content and silently destroy previously durable versions."""
    import datetime as dt

    from dataworks_spark.docs.sink import DocStoreSink
    from dataworks_spark.docs.store import DocumentStore

    path = str(tmp_path / "durable")
    empty_schema = (
        "id string, value double, valid_from timestamp, valid_to timestamp, "
        "tx_from timestamp, tx_to timestamp, deleted boolean"
    )
    sink1 = DocStoreSink(
        DocumentStore(spark.createDataFrame([], empty_schema)),
        id_col="k",
        ts_col="ts",
        durable_path=path,
    )
    b1 = spark.createDataFrame(
        [("app/a", 1.0, dt.datetime(2024, 1, 1))], "k string, value double, ts timestamp"
    )
    sink1.foreach_batch(b1, epoch_id=1)

    # process restart: new sink, fresh empty in-memory store, same path
    sink2 = DocStoreSink(
        DocumentStore(spark.createDataFrame([], empty_schema)),
        id_col="k",
        ts_col="ts",
        durable_path=path,
    )
    # recovery must have loaded the durable rows into the ref
    assert sink2.store.versions.count() == 1
    b2 = spark.createDataFrame(
        [("app/b", 2.0, dt.datetime(2024, 1, 1))], "k string, value double, ts timestamp"
    )
    sink2.foreach_batch(b2, epoch_id=1)  # epoch ids restart with the query

    durable = DocumentStore.load(spark, path)
    assert {r.value for r in durable.latest().collect()} == {1.0, 2.0}


def test_docstore_sink_restart_replay_is_a_noop(spark, tmp_path):
    """Spark replays an epoch whose commit a crash interrupted, and a
    restarted sink has lost its in-memory epoch set. The replay must
    leave the durable store as if the epoch had been applied once: the
    merge recognizes each replayed row as equal to its tx-current
    version and adds nothing (no zero-length corrections either)."""
    import datetime as dt

    from dataworks_spark.docs.sink import DocStoreSink
    from dataworks_spark.docs.store import DocumentStore
    from dataworks_spark.functions.timeops import NEVER

    path = str(tmp_path / "durable")
    empty_schema = (
        "id string, value double, valid_from timestamp, valid_to timestamp, "
        "tx_from timestamp, tx_to timestamp, deleted boolean"
    )

    def sink():
        return DocStoreSink(
            DocumentStore(spark.createDataFrame([], empty_schema)),
            id_col="k",
            ts_col="ts",
            durable_path=path,
        )

    batch = spark.createDataFrame(
        [("app/a", 1.0, dt.datetime(2024, 1, 1)), ("app/b", 2.0, dt.datetime(2024, 1, 2))],
        "k string, value double, ts timestamp",
    )
    sink().foreach_batch(batch, epoch_id=5)
    restarted = sink()
    restarted.foreach_batch(batch, epoch_id=5)  # the replay after the restart
    for versions in (restarted.store.versions, DocumentStore.load(spark, path).versions):
        assert versions.filter(F.col("tx_to") == F.lit(NEVER)).count() == 2
        assert versions.count() == 2
    assert {r.value for r in restarted.store.latest().collect()} == {1.0, 2.0}


def test_dedup_stream_within_watermark(spark, tmp_path):
    """Bounded-state streaming dedup: a content redelivery in a LATER
    micro-batch (within the horizon) is dropped; distinct content all
    survives; output columns pass through unchanged."""
    import datetime as dt

    from dataworks_spark.streaming.dedup import dedup_stream

    src = tmp_path / "dd_src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    schema = "doc_id long, text string, ts timestamp"
    # batch 1: two distinct docs + an in-batch dup
    spark.createDataFrame(
        [(1, "alpha", t0), (2, "beta", t0), (3, "alpha", t0)], schema
    ).coalesce(1).write.mode("append").parquet(str(src))
    # batch 2 (separate file → separate micro-batch with
    # maxFilesPerTrigger=1): redelivers beta inside the horizon, adds
    # gamma
    spark.createDataFrame(
        [(4, "beta", t0 + dt.timedelta(minutes=2)),
         (5, "gamma", t0 + dt.timedelta(minutes=2))], schema
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(src)
    )
    out = dedup_stream(stream, content_col="text", ts_col="ts", horizon="10 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dd_out")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT text FROM dd_out").collect()
    assert sorted(r.text for r in rows) == ["alpha", "beta", "gamma"]


def test_continuous_rollup_incremental_equals_full(spark, tmp_path):
    """Hypertable-style continuous aggregate: batched incremental
    updates — including a LATE batch re-touching an old bucket — land
    exactly where one full recompute would."""
    import datetime as dt

    from dataworks_spark.streaming.rollup import ContinuousRollup

    t0 = dt.datetime(2024, 3, 1, 0, 10, 0)
    schema = "event_id long, ts timestamp, user_id long, value double"
    rows1 = [(1, t0, 1, 10.0), (2, t0 + dt.timedelta(minutes=20), 2, 2.0),
             (3, t0 + dt.timedelta(hours=2), 1, 5.0)]
    rows2 = [(4, t0 + dt.timedelta(days=1), 2, 7.0),
             (5, t0 + dt.timedelta(minutes=5), 1, 1.0)]  # LATE: old bucket
    b1 = spark.createDataFrame(rows1, schema)
    b2 = spark.createDataFrame(rows2, schema)

    roll = ContinuousRollup(
        spark, str(tmp_path / "roll"), ts_col="ts", bucket="1 hour",
        keys=("user_id",),
        aggs={"n": ("count", None), "sum_v": ("sum", "value"),
              "max_v": ("max", "value")},
    )
    roll.update(b1)
    roll.update(b2)
    got = {
        (r.bucket_start, r.user_id): (r.n, r.sum_v, r.max_v)
        for r in roll.read().collect()
    }

    full = ContinuousRollup(
        spark, str(tmp_path / "roll_full"), ts_col="ts", bucket="1 hour",
        keys=("user_id",),
        aggs={"n": ("count", None), "sum_v": ("sum", "value"),
              "max_v": ("max", "value")},
    )
    full.update(b1.unionByName(b2))
    want = {
        (r.bucket_start, r.user_id): (r.n, r.sum_v, r.max_v)
        for r in full.read().collect()
    }
    assert got == want
    # the late row merged INTO the old bucket, not a new one
    assert got[(dt.datetime(2024, 3, 1, 0, 0, 0), 1)] == (2, 11.0, 10.0)
    # directory-partitioned by date → readers range-prune
    import glob as _glob

    dirs = _glob.glob(str(tmp_path / "roll" / "bucket_date=*"))
    assert len(dirs) == 2


def test_continuous_rollup_streaming_and_guards(spark, tmp_path):
    """foreachBatch adapter maintains the rollup across real epochs;
    non-mergeable aggregates are rejected at construction."""
    import datetime as dt

    import pytest as _pytest

    from dataworks_spark.streaming.rollup import ContinuousRollup

    with _pytest.raises(ValueError, match="mergeable"):
        ContinuousRollup(spark, str(tmp_path / "x"), aggs={"a": ("avg", "value")})

    src = tmp_path / "roll_src"
    src.mkdir()
    t0 = dt.datetime(2024, 3, 2, 12, 0, 0)
    schema = "event_id long, ts timestamp, value double"
    spark.createDataFrame([(1, t0, 1.0), (2, t0, 3.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    spark.createDataFrame([(3, t0, 5.0)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(str(src))
    roll = ContinuousRollup(
        spark, str(tmp_path / "roll_s"), ts_col="ts", bucket="1 hour",
        aggs={"n": ("count", None), "sum_v": ("sum", "value")},
    )
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(src)
    )
    q = (
        stream.writeStream.foreachBatch(roll.for_each_batch())
        .option("checkpointLocation", str(tmp_path / "roll_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = roll.read().collect()
    assert len(rows) == 1 and rows[0].n == 3 and rows[0].sum_v == 9.0


def test_continuous_rollup_approx_distinct_merges(spark, tmp_path):
    """Distinct users per bucket via mergeable HLL sketches: batched
    updates estimate the same as one full build, and at these
    cardinalities the estimate is exact."""
    import datetime as dt

    from dataworks_spark.streaming.rollup import ContinuousRollup

    t0 = dt.datetime(2024, 4, 1, 9, 0, 0)
    schema = "event_id long, ts timestamp, user_id long"
    b1 = spark.createDataFrame(
        [(1, t0, 1), (2, t0, 2), (3, t0, 1)], schema
    )
    b2 = spark.createDataFrame(
        [(4, t0, 2), (5, t0, 3), (6, t0 + dt.timedelta(hours=1), 9)], schema
    )

    def mk(p):
        return ContinuousRollup(
            spark, str(tmp_path / p), ts_col="ts", bucket="1 hour",
            aggs={"n": ("count", None), "u": ("approx_distinct", "user_id")},
        )

    inc = mk("inc"); inc.update(b1); inc.update(b2)
    full = mk("full"); full.update(b1.unionByName(b2))
    got = {r.bucket_start: (r.n, r.u) for r in inc.read().collect()}
    want = {r.bucket_start: (r.n, r.u) for r in full.read().collect()}
    assert got == want
    assert got[t0.replace(minute=0)] == (5, 3)  # users {1,2,3} across batches
    # raw sketches stay mergeable for downstream consumers
    raw = inc.read(estimated=False).collect()[0]
    assert isinstance(raw.u, (bytes, bytearray))


def test_create_missing_topics_idempotent_seam():
    """A3 topic auto-create (utils/kafka.clj:26-50): only absent topics
    are created, per-topic settings override the 6/3 defaults, and a
    second call with everything present is a no-op."""
    from dataworks_spark.streaming.kafka import create_missing_topics

    class FakeAdmin:
        def __init__(self, existing):
            self.existing = set(existing)
            self.created = []

        def list_topics(self):
            return sorted(self.existing)

        def create_topics(self, specs):
            self.created.extend(specs)
            self.existing.update(name for name, _, _ in specs)

    admin = FakeAdmin({"present"})
    made = create_missing_topics(
        admin, {"present": {}, "a": {}, "b": {"partitions": 2, "replication": 1}}
    )
    assert made == ["a", "b"]
    assert admin.created == [("a", 6, 3), ("b", 2, 1)]
    # list form + idempotence
    assert create_missing_topics(admin, ["a", "b", "present"]) == []
    assert len(admin.created) == 2


def test_create_missing_topics_tolerates_create_race():
    """Two drivers boot concurrently: both list, both try to create,
    one loses with TopicExists. Idempotence means the loser verifies
    the topics exist now and proceeds; a topic STILL missing re-raises
    the original error."""
    from dataworks_spark.streaming.kafka import create_missing_topics

    class RacingAdmin:
        """create_topics always loses the race: it raises, but a rival
        driver has already created the topics by the time it does."""

        def __init__(self):
            self.existing = set()

        def list_topics(self):
            return sorted(self.existing)

        def create_topics(self, specs):
            self.existing.update(name for name, _, _ in specs)  # the rival won
            raise RuntimeError("TopicExistsException")

    admin = RacingAdmin()
    assert create_missing_topics(admin, ["t1", "t2"]) == ["t1", "t2"]

    class BrokenAdmin(RacingAdmin):
        def create_topics(self, specs):
            raise RuntimeError("broker down")  # nothing got created

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="broker down"):
        create_missing_topics(BrokenAdmin(), ["t1"])


def test_cyclic_topology_raises_before_start(spark):
    """_microbatch_plan walks the subtree BEFORE build()'s cycle check
    runs; it must raise on a cycle like build() does, not recurse
    forever (found in r9 self-review)."""
    import pytest

    from dataworks_spark.streaming.graph import Node, StreamGraph, validate_buffer

    g = StreamGraph(spark)
    g.add_node(Node("a", upstreams=["b"]))  # bufferless cycle: the walk must terminate
    g.add_node(Node("b", upstreams=["a"]))
    with pytest.raises(ValueError, match="cycle"):
        g._has_lossy_buffer("a")
    with pytest.raises(ValueError, match="cycle"):
        g._subtree_sources("a")
    # a lossy buffer ON the cycle still short-circuits True before
    # the walk needs the guard — also fine
    g.add_node(Node("a", upstreams=["b"],
                    buffer=validate_buffer({"sliding-buffer": 2}, key_cols=["k"])))
    assert g._has_lossy_buffer("a") is True


def test_opchain_flatmap_spec_fluent_parity_and_nil_drop(spark):
    """r10 review: the spec path (F.expr) kept the flatmap source
    column while the fluent string path dropped it — same logical spec,
    different schema; and flatmap (the step that CREATES nulls) skipped
    the B3 implicit nil-drop. One rule now: a string naming an existing
    column is dropped and replaced by the alias, null elements vanish,
    and an alias colliding with an existing column wins without
    duplicate names."""
    df = spark.createDataFrame(
        [("d1", ["a", None, "b"])], "doc string, tags array<string>"
    )
    fluent = OpChain().flatmap("tags", "tag")(df)
    spec = OpChain.from_spec(
        {"steps": [{"op": "flatmap", "col": "tags", "alias": "tag"}]}
    )(df)
    assert fluent.columns == spec.columns == ["doc", "tag"]
    assert (
        sorted(r.tag for r in fluent.collect())
        == sorted(r.tag for r in spec.collect())
        == ["a", "b"]  # NULL element dropped (B3, stream.clj:47)
    )
    collide = OpChain.from_spec(
        {"steps": [{"op": "flatmap", "col": "tags", "alias": "doc"}]}
    )(df)
    assert collide.columns == ["doc"]  # alias wins; no duplicates


def test_rollup_epoch_replay_is_skipped(spark, tmp_path):
    """r10 review: foreachBatch is at-least-once — a replayed epoch
    (crash between the table write and the offset commit) must NOT
    re-merge already-merged partials. The applied-epoch ledger skips
    it; a NEW epoch still merges."""
    import datetime as dt

    from dataworks_spark.streaming.rollup import ContinuousRollup

    t0 = dt.datetime(2024, 3, 1, 0, 10, 0)
    schema = "event_id long, ts timestamp, user_id long, value double"
    b1 = spark.createDataFrame([(1, t0, 1, 10.0), (2, t0, 2, 2.0)], schema)
    b2 = spark.createDataFrame([(3, t0, 1, 5.0)], schema)
    roll = ContinuousRollup(
        spark, str(tmp_path / "roll_epoch"), ts_col="ts", bucket="1 hour",
        keys=("user_id",),
        aggs={"n": ("count", None), "sum_v": ("sum", "value")},
    )
    roll.update(b1, epoch_id=0)
    roll.update(b1, epoch_id=0)  # replay — must be a no-op
    roll.update(b2, epoch_id=1)
    got = {r.user_id: (r.n, r.sum_v) for r in roll.read().collect()}
    assert got == {1: (2, 15.0), 2: (1, 2.0)}


def test_continuous_rollup_refuses_tampered_path(spark, tmp_path):
    """r15 (r14 VERDICT #2): the rollup stamps its data fingerprint at
    every write; a reopen over files mutated OUTSIDE the engine refuses
    instead of merging over them (partial-merge algebra cannot detect a
    planted/edited part file — it would silently double-count). A
    legacy stampless table still reads."""
    import datetime as dt
    import glob

    import pytest

    from dataworks_spark.streaming.rollup import ContinuousRollup

    t0 = dt.datetime(2024, 3, 1, 0, 10, 0)
    schema = "event_id long, ts timestamp, value double"
    path = tmp_path / "roll"
    roll = ContinuousRollup(
        spark, str(path), ts_col="ts", bucket="1 hour",
        aggs={"n": ("count", None), "sum_v": ("sum", "value")},
    )
    roll.update(spark.createDataFrame([(1, t0, 10.0), (2, t0, 2.0)], schema))
    assert roll.read().count() == 1  # stamped write verifies

    # plant a foreign part file inside an existing date partition —
    # exactly the mutation a path-trusting reader would merge over
    part_dir = glob.glob(str(path / "bucket_date=*"))[0]
    real = glob.glob(f"{part_dir}/*.parquet")[0]
    with open(real, "rb") as f:
        payload = f.read()
    with open(f"{part_dir}/part-evil.parquet", "wb") as f:
        f.write(payload)
    with pytest.raises(RuntimeError, match="outside the engine"):
        roll.read()
    with pytest.raises(RuntimeError, match="outside the engine"):
        roll.update(spark.createDataFrame([(3, t0, 1.0)], schema))

    # the engine's own NEXT write re-baselines: remove the foreign file
    # (operator remediation) and the table serves again
    import os

    os.remove(f"{part_dir}/part-evil.parquet")
    roll.update(spark.createDataFrame([(3, t0, 1.0)], schema))
    got = roll.read().collect()
    assert [(r.n, r.sum_v) for r in got] == [(3, 13.0)]

    # legacy table (no stamp): reads fine — tamper evidence is absent,
    # not fabricated
    legacy = tmp_path / "legacy"
    spark.createDataFrame([(1, t0, 1.0)], schema).write.parquet(
        str(legacy / "ignored")  # ensure parent exists via a write
    )
    old = ContinuousRollup(spark, str(legacy / "old"), ts_col="ts",
                           aggs={"n": ("count", None)})
    old.update(spark.createDataFrame([(1, t0, 1.0)], schema))
    meta = legacy / "old" / "_dw_meta.json"
    meta.unlink()  # simulate a pre-r15 table
    assert old.read().count() == 1
