"""Bitemporal document-store tests (SURVEY §5.4): put / future-put /
match / cas / delete / as-of / latest semantics against a brute-force
timeline interpretation."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dataworks_spark.docs.store import DocumentStore, latest_snapshot, version_log
from dataworks_spark.functions.timeops import NEVER


def _store(spark, rows, now):
    """Fresh store whose clock we control."""
    df = spark.createDataFrame(rows, "id string, body string")
    clock = {"now": now}
    s = DocumentStore(
        version_log(df.withColumn("ts", F.lit(now).cast("timestamp")), "id", "ts"),
        now_fn=lambda: clock["now"],
    )
    return s, clock


T0 = dt.datetime(2024, 1, 1)
T1 = dt.datetime(2024, 2, 1)
T2 = dt.datetime(2024, 3, 1)
T3 = dt.datetime(2024, 4, 1)


def test_put_lww_and_asof(spark):
    """J1: a later put supersedes in latest view; as-of the past still
    sees the old version (db/app_db.clj:33-43)."""
    s, clock = _store(spark, [("user/alice", "v1")], T0)
    clock["now"] = T1
    docs = spark.createDataFrame([("user/alice", "v2")], "id string, body string")
    s2 = s.put(docs)
    assert s2.latest().select("body").collect()[0][0] == "v2"
    assert s2.as_of(T0).select("body").collect()[0][0] == "v1"
    assert s2.entity("user/alice").select("body").collect()[0][0] == "v2"


def test_future_dated_put(spark):
    """J2 (demo-app-1.org:125-127): a put with future valid-time is
    invisible until that time arrives."""
    s, clock = _store(spark, [("app/alert", "pending")], T0)
    clock["now"] = T1
    docs = spark.createDataFrame([("app/alert", "due!")], "id string, body string")
    s2 = s.put(docs, valid_time=T2)  # visible only from T2
    assert s2.as_of(T1).select("body").collect()[0][0] == "pending"
    assert s2.as_of(T2).select("body").collect()[0][0] == "due!"


def test_delete_tombstone(spark):
    """J5: delete hides from latest but history survives as-of."""
    s, clock = _store(spark, [("user/bob", "hello")], T0)
    clock["now"] = T1
    s2 = s.delete(spark.createDataFrame([("user/bob",)], "id string"))
    assert s2.latest().count() == 0
    assert s2.as_of(T0).select("body").collect()[0][0] == "hello"


def test_match_put_optimistic_concurrency(spark):
    """J3/J4: the put applies only where the current version matches
    the expected payload (alert claim race, utils/alert.clj:20-31)."""
    s, clock = _store(spark, [("a", "x"), ("b", "y")], T0)
    clock["now"] = T1
    new = spark.createDataFrame([("a", "x2"), ("b", "y2")], "id string, body string")
    expected = spark.createDataFrame([("a", "x"), ("b", "WRONG")], "id string, body string")
    s2 = s.match_put(new, expected, on_payload=["body"])
    latest = {r.id: r.body for r in s2.latest().collect()}
    assert latest == {"a": "x2", "b": "y"}  # b's match failed → untouched


def test_bitemporal_tx_vs_valid_time(spark):
    """J7: retroactive put — valid-time in the past, tx-time now. As-of
    (vt=T0, tt=T0) shows the original; (vt=T0, tt=now) shows the
    correction."""
    s, clock = _store(spark, [("doc", "original")], T0)
    clock["now"] = T2
    correction = spark.createDataFrame([("doc", "corrected")], "id string, body string")
    s2 = s.put(correction, valid_time=T0 + dt.timedelta(days=1))
    # at tx-time T0 the correction hadn't been transacted yet
    assert s2.as_of(T1, tx_time=T0).select("body").collect()[0][0] == "original"
    # at tx-time now, valid-time T1 sees the correction
    assert s2.as_of(T1, tx_time=T2).select("body").collect()[0][0] == "corrected"


def test_store_save_load_roundtrip(spark, tmp_path):
    """A5 persistence: the saved+reloaded store answers as-of queries
    identically (partitioned by namespace + valid date)."""
    s, clock = _store(spark, [("u/1", "v1"), ("u/2", "w1")], T0)
    clock["now"] = T1
    s2 = s.put(spark.createDataFrame([("u/1", "v2")], "id string, body string"))
    s2.save(str(tmp_path / "docs"))
    loaded = DocumentStore.load(spark, str(tmp_path / "docs"))
    assert {r.id: r.body for r in loaded.latest().collect()} == {"u/1": "v2", "u/2": "w1"}
    assert {r.id: r.body for r in loaded.as_of(T0).collect()} == {"u/1": "v1", "u/2": "w1"}


def test_durable_compaction_prunes_partitions(spark, tmp_path):
    """SURVEY §4 #3 executed (VERDICT r1 next-step 7): compact(path)
    rewrites the log partitioned by (namespace, date(valid_from)); an
    as-of read over the partitioned layout carries PartitionFilters on
    valid_date — pruning at the source, not a post-scan filter — and
    answers identically to the in-memory store. The latest view at a
    clock is the same read, so it prunes the same way."""
    from dataworks_spark.docs.store import as_of_snapshot

    s, clock = _store(spark, [("u/1", "v1"), ("app/9", "w1")], T0)
    clock["now"] = T1
    s2 = s.put(spark.createDataFrame([("u/1", "v2")], "id string, body string"))
    path = str(tmp_path / "compacted")
    s3 = s2.compact(path)  # durable rewrite; mutable facade keeps working
    assert {r.id: r.body for r in s3.latest().collect()} == {"u/1": "v2", "app/9": "w1"}

    from tests.test_plans import _partition_filters

    served = DocumentStore.open_partitioned(spark, path)
    for snap in (as_of_snapshot(served, T0), latest_snapshot(served, now=T0)):
        plan = snap._jdf.queryExecution().executedPlan().toString()
        # depth-aware bracket parse (r13): a bare substring check would
        # false-pass on `PartitionFilters: []` + valid_date in PushedFilters
        assert any(
            pf and "valid_date" in pf for pf in _partition_filters(plan)
        ), plan
        got = {r.id: r.body for r in snap.collect()}
        assert got == {r.id: r.body for r in s2.as_of(T0).collect()}
    # namespace is a partition column too: an entity-namespace filter
    # prunes as well
    ns = served.filter(F.col("namespace") == "app")
    nplan = ns._jdf.queryExecution().executedPlan().toString()
    assert any(
        pf and "namespace" in pf for pf in _partition_filters(nplan)
    ), nplan
    assert [r.id for r in ns.select("id").distinct().collect()] == ["app/9"]


def test_entity_history(spark):
    """Crux entity-history analog: ordered version trail, corrections
    visible only on request."""
    s, clock = _store(spark, [("doc", "v1")], T0)
    clock["now"] = T1
    s2 = s.put(spark.createDataFrame([("doc", "v2")], "id string, body string"))
    hist = s2.history("doc").collect()
    assert [r.body for r in hist] == ["v1", "v2"]
    assert hist[0].valid_to == T1  # closed by the v2 put
    full = s2.history("doc", with_corrections=True).collect()
    assert len(full) == 3  # retired original + corrected + new


def test_version_log_never_sentinel(spark):
    s, _ = _store(spark, [("x", "v")], T0)
    row = s.versions.collect()[0]
    assert row.valid_to == NEVER and row.tx_to == NEVER


def test_compact_incremental_rewrites_only_touched_partitions(spark, tmp_path):
    """compact_incremental must (a) produce a durable store identical to
    a full rewrite and (b) leave untouched partitions' files byte-for-
    byte alone (dynamic partition overwrite, delta-proportional IO)."""
    import glob as _glob
    import os as _os

    path = str(tmp_path / "store")
    # seed: two namespaces, two valid dates
    rows = [("app/1", "a0"), ("app/2", "b0"), ("user/9", "u0")]
    s, clock = _store(spark, rows, T0)
    clock["now"] = T1
    batch1 = spark.createDataFrame(
        [("app/1", "a1", T1), ("user/9", "u1", T1)], "id string, body string, ts timestamp"
    )
    s = s.put_log(batch1)
    s.save(path)
    snap = {
        f: (_os.path.getmtime(f), _os.path.getsize(f))
        for f in _glob.glob(f"{path}/**/*.parquet", recursive=True)
    }
    assert snap, "no parquet files written"

    # new batch touches ONLY app/2 (new version at T2 retires its T0 row)
    clock["now"] = T2
    batch2 = spark.createDataFrame(
        [("app/2", "b1", T2)], "id string, body string, ts timestamp"
    )
    s = s.put_log(batch2)
    s2 = s.compact_incremental(path, since=T2)

    # (a) durable content == in-memory content
    cols = ["id", "body", "valid_from", "valid_to", "tx_from", "tx_to"]
    durable = sorted(tuple(r) for r in s2.versions.select(cols).collect())
    memory = sorted(tuple(r) for r in s.versions.select(cols).collect())
    assert durable == memory

    # (b) only partitions of app/2's rows were rewritten: app/2 has
    # valid dates T0 (retired row) and T2 (new row), namespace 'app'.
    # user/* partitions and app dates not belonging to app/2's rows
    # must be untouched.
    changed_prefixes = (
        f"{path}/namespace=app/valid_date={T0:%Y-%m-%d}",
        f"{path}/namespace=app/valid_date={T2:%Y-%m-%d}",
    )
    for f, meta in snap.items():
        if f.startswith(changed_prefixes):
            continue
        assert _os.path.exists(f), f"untouched partition file deleted: {f}"
        assert (_os.path.getmtime(f), _os.path.getsize(f)) == meta, (
            f"untouched partition file rewritten: {f}"
        )
    # and the changed partitions WERE rewritten (old files replaced)
    assert any(
        not _os.path.exists(f) or _os.path.getmtime(f) != snap[f][0]
        for f in snap
        if f.startswith(changed_prefixes)
    ), "no changed partition was rewritten"

    # the compacted store serves reads correctly
    assert s2.entity("app/2").select("body").collect()[0][0] == "b1"
    assert s2.as_of(T1).filter(F.col("id") == "app/2").select("body").collect()[0][0] == "b0"


def test_schemaless_widening_put_log(spark):
    """Reference docs are schemaless (SURVEY §1.2): a later batch may
    carry new attributes (store widens, old rows read NULL) or omit
    known ones (NULL in new rows)."""
    s, clock = _store(spark, [("app/1", "a0")], T0)
    clock["now"] = T1
    batch = spark.createDataFrame(
        [("app/1", "a1", 7, T1)], "id string, body string, score int, ts timestamp"
    )
    s2 = s.put_log(batch)
    latest = {r.id: (r.body, r.score) for r in s2.latest().collect()}
    assert latest["app/1"] == ("a1", 7)
    # the T0 version still exists and reads NULL for the new attribute
    old = s2.as_of(T0).collect()[0]
    assert old.body == "a0" and old.score is None
    # a narrower later batch: omitted attribute is NULL in the new row
    clock["now"] = T2
    narrow = spark.createDataFrame([("app/1", T2)], "id string, ts timestamp")
    s3 = s2.put_log(narrow)
    top = s3.latest().collect()[0]
    assert top.body is None and top.score is None


def test_schemaless_widening_put_and_type_conflict(spark):
    s, clock = _store(spark, [("app/1", "a0")], T0)
    clock["now"] = T1
    wide = spark.createDataFrame([("app/1", "a1", 3.5)], "id string, body string, w double")
    s2 = s.put(wide)
    assert s2.latest().collect()[0].w == 3.5
    assert s2.as_of(T0).collect()[0].w is None
    clock["now"] = T2
    clash = spark.createDataFrame([("app/1", 9)], "id string, body int")
    with pytest.raises(ValueError, match="types conflict"):
        s2.put(clash)


def test_widening_survives_incremental_compaction(spark, tmp_path):
    """Untouched partitions keep old (narrower) parquet files after a
    widened batch's incremental compaction; mergeSchema must surface
    the widened column as NULL for them."""
    path = str(tmp_path / "wstore")
    s, clock = _store(spark, [("app/1", "a0"), ("user/9", "u0")], T0)
    s.save(path)
    clock["now"] = T1
    batch = spark.createDataFrame(
        [("app/1", "a1", 7, T1)], "id string, body string, score int, ts timestamp"
    )
    s2 = s.put_log(batch).compact_incremental(path, since=T1)
    rows = {r.id: r for r in s2.latest().collect()}
    assert rows["app/1"].score == 7
    assert rows["user/9"].score is None and rows["user/9"].body == "u0"


# ── r9 review regressions (store semantics beyond oracle coverage) ──


def test_latest_hides_future_scheduled_version(spark):
    """J2 through latest()/entity(): a future-dated put is invisible in
    the latest view until its valid-time arrives (r9 review: only
    as_of honored this; latest() leaked the scheduled version early)."""
    s, clock = _store(spark, [("app/alert", "pending")], T0)
    clock["now"] = T1
    docs = spark.createDataFrame([("app/alert", "due!")], "id string, body string")
    s2 = s.put(docs, valid_time=T2)
    # at T1 the scheduled T2 version must NOT surface
    assert s2.latest().select("body").collect()[0][0] == "pending"
    assert s2.entity("app/alert").select("body").collect()[0][0] == "pending"
    clock["now"] = T2 + dt.timedelta(days=1)
    assert s2.latest().select("body").collect()[0][0] == "due!"


def test_put_log_respects_future_scheduled_version(spark):
    """r9 review (live-verified corruption): put_log on a store holding
    a future-dated version must retire the version COVERING the batch
    timestamp — not the scheduled one — and cap the batch's last
    interval at the scheduled valid_from. Before the fix the scheduled
    version was destroyed (negative interval) AND the covering version
    stayed open, returning two rows per id."""
    s, clock = _store(spark, [("app/x", "v0")], T0)
    clock["now"] = T1
    future = spark.createDataFrame([("app/x", "future")], "id string, body string")
    s2 = s.put(future, valid_time=T2)

    t15 = dt.datetime(2024, 2, 15)
    clock["now"] = t15
    batch = spark.createDataFrame([("app/x", "stream", t15)], "id string, body string, ts timestamp")
    s3 = s2.put_log(batch)

    # the scheduled version survives and wins after T2
    after = s3.as_of(T2 + dt.timedelta(days=1)).collect()
    assert [(r.id, r.body) for r in after] == [("app/x", "future")]
    # the batch version is visible in [t15, T2) — and exactly ONE row
    mid = s3.as_of(dt.datetime(2024, 2, 20)).collect()
    assert [(r.id, r.body) for r in mid] == [("app/x", "stream")]
    # v0 covers [T0, t15)
    before = s3.as_of(dt.datetime(2024, 1, 15)).collect()
    assert [(r.id, r.body) for r in before] == [("app/x", "v0")]


def test_put_log_straddling_scheduled_version(spark):
    """r9 ADVICE (medium): a put_log batch whose timestamps STRADDLE a
    future-scheduled version (batch T1 < scheduled T2 < batch T3) must
    behave exactly like sequential puts — T1's version capped at T2,
    the scheduled version corrected to end at T3, T3's version open.
    Before the fix the T1 version overlapped [T2, T3) and the scheduled
    version stayed open alongside T3's: two current versions per id."""
    s, clock = _store(spark, [("app/x", "v0")], T0)
    clock["now"] = T1
    future = spark.createDataFrame([("app/x", "future")], "id string, body string")
    s2 = s.put(future, valid_time=T2)

    t1 = dt.datetime(2024, 2, 15)   # before scheduled T2 (Mar 1)
    t3 = dt.datetime(2024, 3, 15)   # after scheduled T2
    clock["now"] = dt.datetime(2024, 3, 20)
    batch = spark.createDataFrame(
        [("app/x", "s1", t1), ("app/x", "s3", t3)],
        "id string, body string, ts timestamp",
    )
    s3 = s2.put_log(batch)

    # exactly one visible version at every probe — sequential-put timeline:
    # v0 [T0,t1) | s1 [t1,T2) | future [T2,t3) | s3 [t3,NEVER)
    for probe, want in [
        (dt.datetime(2024, 1, 15), "v0"),
        (dt.datetime(2024, 2, 20), "s1"),
        (dt.datetime(2024, 3, 5), "future"),
        (dt.datetime(2024, 3, 25), "s3"),
    ]:
        got = s3.as_of(probe).collect()
        assert [(r.id, r.body) for r in got] == [("app/x", want)], probe
    # latest view holds exactly one row too
    assert [(r.id, r.body) for r in s3.latest().collect()] == [("app/x", "s3")]


def test_put_log_batch_past_two_scheduled_versions(spark):
    """Straddle generalization: TWO scheduled versions, batch timestamps
    landing around and between them — every tx-current interval a batch
    ts falls inside is corrected, every batch interval capped at the
    next known valid_from."""
    s, clock = _store(spark, [("app/x", "v0")], T0)
    clock["now"] = T1
    s2 = s.put(
        spark.createDataFrame([("app/x", "f2")], "id string, body string"),
        valid_time=T2,
    ).put(
        spark.createDataFrame([("app/x", "f3")], "id string, body string"),
        valid_time=T3,
    )
    tb1 = dt.datetime(2024, 3, 10)  # inside [T2, T3)
    tb2 = dt.datetime(2024, 4, 10)  # inside [T3, NEVER)
    clock["now"] = dt.datetime(2024, 4, 20)
    batch = spark.createDataFrame(
        [("app/x", "b1", tb1), ("app/x", "b2", tb2)],
        "id string, body string, ts timestamp",
    )
    s3 = s2.put_log(batch)
    # timeline: v0 | f2 [T2,tb1) | b1 [tb1,T3) | f3 [T3,tb2) | b2 [tb2,∞)
    for probe, want in [
        (dt.datetime(2024, 3, 5), "f2"),
        (dt.datetime(2024, 3, 20), "b1"),
        (dt.datetime(2024, 4, 5), "f3"),
        (dt.datetime(2024, 4, 15), "b2"),
    ]:
        got = s3.as_of(probe).collect()
        assert [(r.id, r.body) for r in got] == [("app/x", want)], probe


def test_version_log_map_payload(spark):
    """r9 ADVICE: the same-ts tiebreak hashes payload columns; xxhash64
    rejects MapType by default, so a schemaless doc batch carrying a map
    column must hash via to_json instead of failing AnalysisException."""
    df = spark.createDataFrame(
        [("u/1", {"k": "v"}, T0), ("u/1", {"k": "w"}, T1)],
        "id string, attrs map<string,string>, ts timestamp",
    )
    log = version_log(df, "id", "ts")
    rows = sorted(log.collect(), key=lambda r: r.valid_from)
    assert rows[0].valid_to == T1 and rows[1].valid_to == NEVER
    assert rows[1].attrs == {"k": "w"}


def test_match_put_null_payload_matches(spark):
    """r9 review: the match precondition must treat NULL = NULL on
    payload columns (the reference's match compares whole documents
    including nil; schemaless widening leaves NULLs everywhere)."""
    base = spark.createDataFrame(
        [("u/1", None)], "id string, val string"
    ).withColumn("ts", F.lit(T0).cast("timestamp"))
    clock = {"now": T0}
    s = DocumentStore(version_log(base, "id", "ts"), now_fn=lambda: clock["now"])
    clock["now"] = T1
    new = spark.createDataFrame([("u/1", "set")], "id string, val string")
    expected = spark.createDataFrame([("u/1", None)], "id string, val string")
    s2 = s.match_put(new, expected, on_payload=["val"])
    assert s2.latest().select("val").collect()[0][0] == "set"
    # and a NON-matching expectation still skips the put
    s3 = s.match_put(new, spark.createDataFrame([("u/1", "other")], "id string, val string"),
                     on_payload=["val"])
    assert s3.latest().select("val").collect()[0][0] is None


def test_version_log_same_ts_deterministic(spark):
    """r9 review: two events for one id at the same timestamp must pick
    a layout-independent survivor (payload-hash tiebreak), not whatever
    the partition order produced."""
    rows = [("u/1", "a", T0), ("u/1", "b", T0)]
    outs = set()
    for parts in (1, 7):
        df = spark.createDataFrame(rows, "id string, body string, ts timestamp").repartition(parts)
        log = version_log(df, "id", "ts")
        survivor = latest_snapshot(log).select("body").collect()[0][0]
        outs.add(survivor)
    assert len(outs) == 1  # same survivor under any layout


def test_put_same_id_twice_in_one_batch_deterministic(spark):
    """r10 review: two rows for one id in a single put() created two
    identical current intervals whose latest-view winner depended on
    partition order. The survivor is now a function of the data (max
    payload hash — version_log's mirrored tiebreak), layout-invariant,
    and exactly ONE visible current version exists."""
    outs = set()
    for parts in (1, 7):
        s, clock = _store(spark, [("u/1", "v0")], T0)
        clock["now"] = T1
        docs = spark.createDataFrame(
            [("u/1", "a"), ("u/1", "b")], "id string, body string"
        ).repartition(parts)
        s2 = s.put(docs)
        latest = s2.latest().collect()
        assert len(latest) == 1
        outs.add(latest[0].body)
        # put follows put_log's same-timestamp rule: the losing row is
        # kept with a zero-length interval
        zero = s2.versions.filter((F.col("valid_from") == T1) & (F.col("valid_to") == T1))
        assert [r.body for r in zero.collect()] == [b for b in "ab" if b != latest[0].body]
    assert len(outs) == 1, f"survivor depended on layout: {outs}"


def test_doc_store_sink_id_col_already_named_id(spark, tmp_path):
    """r10 review: id_col="id" dropped the just-normalized column
    (withColumn('id', ...).drop('id')) and every batch failed with
    UNRESOLVED_COLUMN in put_log."""
    from dataworks_spark.docs.sink import DocStoreSink

    empty = spark.createDataFrame(
        [], "id string, v double, valid_from timestamp, valid_to timestamp, "
        "tx_from timestamp, tx_to timestamp, deleted boolean"
    )
    sink = DocStoreSink(DocumentStore(empty), id_col="id", ts_col="ts")
    batch = spark.createDataFrame(
        [("u/1", 1.0, T0), ("u/2", 2.0, T0)], "id string, v double, ts timestamp"
    )
    sink.foreach_batch(batch, epoch_id=0)
    assert {r.id: r.v for r in sink.store.latest().collect()} == {"u/1": 1.0, "u/2": 2.0}


def test_store_refuses_tampered_version_log(spark, tmp_path):
    """r15 (r14 VERDICT #2): save/compact stamp the version log's data
    fingerprint; load/open_partitioned verify it — rewritten history
    (a planted or edited part file under the trusted path) refuses
    loudly instead of serving as bitemporal truth. Deleting the stamp
    re-baselines (legacy/foreign data stays readable)."""
    import glob

    import pytest

    s, _clock = _store(spark, [("u/1", "v1"), ("u/2", "w1")], T0)
    path = str(tmp_path / "docs")
    s.save(path)
    DocumentStore.load(spark, path)  # fresh stamp verifies

    part = glob.glob(f"{path}/namespace=*/valid_date=*/*.parquet")[0]
    with open(part, "rb") as f:
        payload = f.read()
    with open(f"{part}.twin.parquet", "wb") as f:
        f.write(payload)  # duplicated versions = rewritten history
    with pytest.raises(RuntimeError, match="outside the engine"):
        DocumentStore.load(spark, path)
    with pytest.raises(RuntimeError, match="outside the engine"):
        DocumentStore.open_partitioned(spark, path)

    # explicit operator re-baseline: drop the stamp, the files load
    (tmp_path / "docs" / "_dw_meta.json").unlink()
    loaded = DocumentStore.load(spark, path)
    assert loaded.latest().count() >= 2

    # incremental compaction re-stamps — the sink's recovery load after
    # a compact_incremental round-trip verifies
    s2 = s.compact_incremental(path, since=T0)
    assert s2.latest().count() == 2
    DocumentStore.load(spark, path)


@pytest.mark.parametrize("op", ["put", "put_log", "delete", "match_put"])
def test_each_write_leaves_one_checkpointed_leaf(spark, op):
    """Every write materializes once into a local checkpoint: the
    returned store's optimized ``versions`` plan is a single leaf with
    no Join, on the first write of a chain and on the second alike —
    so no read or later write re-executes an earlier write's joins."""
    s, clock = _store(spark, [("a", "x"), ("b", "y")], T0)
    for step, (now, doc_id) in enumerate(((T1, "a"), (T2, "b"))):
        clock["now"] = now
        if op == "put":
            s = s.put(spark.createDataFrame([(doc_id, f"p{step}")], "id string, body string"))
        elif op == "put_log":
            s = s.put_log(
                spark.createDataFrame(
                    [(doc_id, f"l{step}", now)], "id string, body string, ts timestamp"
                )
            )
        elif op == "delete":
            s = s.delete(spark.createDataFrame([(doc_id,)], "id string"))
        else:
            cur = s.latest().filter(F.col("id") == doc_id).select("id", "body")
            s = s.match_put(
                spark.createDataFrame([(doc_id, f"m{step}")], "id string, body string"),
                cur,
                on_payload=["body"],
            )
        plan = s.versions._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan, (op, step, plan)
    latest = {r.id: r.body for r in s.latest().collect()}
    want = {
        "put": {"a": "p0", "b": "p1"},
        "put_log": {"a": "l0", "b": "l1"},
        "delete": {},
        "match_put": {"a": "m0", "b": "m1"},
    }[op]
    assert latest == want


def test_put_log_replay_is_a_noop_by_value(spark):
    """A batch row equal to a tx-current version (id, valid_from,
    deleted flag, payload hash) adds nothing and retires nothing, so
    re-applying a put_log batch or a delete leaves the log as it was;
    a new row in a partly replayed batch still applies."""
    s, clock = _store(spark, [("a", "x"), ("b", "y")], T0)
    clock["now"] = T1
    batch = spark.createDataFrame(
        [("a", "x1", T1), ("b", "y1", T1), ("b", "y2", T2)], "id string, body string, ts timestamp"
    )
    s1 = s.put_log(batch)
    cols = ["id", "body", "valid_from", "valid_to", "tx_from", "tx_to", "deleted"]

    def rows(store):
        return sorted(map(repr, store.versions.select(cols).collect()))

    before = rows(s1)
    clock["now"] = T2
    s2 = s1.put_log(batch)
    assert rows(s2) == before
    gone = spark.createDataFrame([("a",)], "id string")
    s3 = s2.delete(gone, valid_time=T3)
    after_delete = rows(s3)
    clock["now"] = T3
    assert rows(s3.delete(gone, valid_time=T3)) == after_delete
    partly = spark.createDataFrame(
        [("b", "y2", T2), ("b", "y3", T3)], "id string, body string, ts timestamp"
    )
    s4 = s3.put_log(partly)
    assert [(r.id, r.body) for r in s4.as_of(T3).collect()] == [("b", "y3")]
    assert sorted((r.id, r.body) for r in s4.as_of(T2).collect()) == [("a", "x1"), ("b", "y2")]
    # one new row, one cut of y2's open interval (retired + corrected)
    assert s4.versions.count() == len(after_delete) + 2


def _merge_plan(spark, monkeypatch, write):
    """Executed plan of the relation one write hands to the checkpoint."""
    seen = []
    evolved = DocumentStore._evolved

    def spy(self, versions):
        seen.append(versions)
        return evolved(self, versions)

    monkeypatch.setattr(DocumentStore, "_evolved", spy)
    write().versions.count()
    return seen[-1]._jdf.queryExecution().executedPlan().toString()


def _shuffles_over_log_scan(plan: str) -> list[str]:
    """Shuffle exchanges whose input is the version-log scan itself,
    reached through nothing but projections and filters."""
    import re

    lines = plan.splitlines()
    bad = []
    for i, line in enumerate(lines):
        if not re.search(r"\bExchange (hash|range|RoundRobin|Single)", line):
            continue
        for nxt in lines[i + 1:]:
            op = re.sub(r"^[\s:+|-]*(\*\(\d+\) )?", "", nxt)
            if op.startswith(("Project", "Filter", "ColumnarToRow", "InputAdapter")):
                continue
            if op.startswith("Scan ExistingRDD") and "valid_to" in op:
                bad.append(line.strip())
            break
    return bad


@pytest.mark.parametrize("op", ["put_log", "delete"])
def test_write_never_shuffles_the_version_log(spark, monkeypatch, op):
    """The merge splits the log with a broadcast of the batch ids: the
    log is scanned, never exchanged. Only the batch ids' tx-current
    rows meet the batch in the one id-window. A put_log runs two Spark
    jobs (the id broadcast and the window's shuffle) and its count two
    more (measured on a warm session)."""
    s, clock = _store(spark, [(f"u/{i}", "v") for i in range(40)], T0)
    clock["now"] = T1
    s = s.put(spark.createDataFrame([("u/0", "w")], "id string, body string"))
    s.versions.count()
    clock["now"] = T2
    if op == "put_log":
        batch = spark.createDataFrame(
            [("u/1", "b1", T2), ("u/2", "b2", T1), ("u/2", "b3", T3)],
            "id string, body string, ts timestamp",
        )
        write = lambda: s.put_log(batch)  # noqa: E731
    else:
        gone = spark.createDataFrame([("u/1",), ("u/3",)], "id string")
        write = lambda: s.delete(gone)  # noqa: E731
    plan = _merge_plan(spark, monkeypatch, write)
    assert "Scan ExistingRDD" in plan and "BroadcastHashJoin" in plan, plan
    assert not _shuffles_over_log_scan(plan), plan
    if op == "put_log":
        sc = spark.sparkContext

        def jobs(group, fn):
            sc.setJobGroup(group, group)
            try:
                out = fn()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return out, len(sc.statusTracker().getJobIdsForGroup(group))

        out, write_jobs = jobs("put_log_pin_write", lambda: s.put_log(batch))
        _, count_jobs = jobs("put_log_pin_count", out.versions.count)
        assert write_jobs <= 2 and count_jobs <= 2, (write_jobs, count_jobs)


def test_entity_read_runs_no_window(spark):
    """A lookup on a write leaf is the as-of filter at the store clock:
    no Window node and no shuffle over the leaf scan."""
    s, clock = _store(spark, [(f"u/{i}", "v") for i in range(40)], T0)
    clock["now"] = T1
    s = s.put(spark.createDataFrame([("u/0", "w")], "id string, body string"))
    read = s.entity("u/0")
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan and "Window" not in plan, plan
    assert not _shuffles_over_log_scan(plan), plan
    assert [r.body for r in read.collect()] == ["w"]


def test_write_chain_leaf_stays_bounded(spark):
    """Over a chain of mixed writes the store's leaf carries no growing
    Catalyst constraints (a checkpoint keeps the constraints of the plan
    it replaced, and each write added a disjunct over ``deleted``) and
    no growing partition count (the pass-through rows keep the leaf's
    partitions, the window adds its own)."""
    s, clock = _store(spark, [(f"u/{i}", "v") for i in range(20)], T0)
    limit = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def constraints(store):
        return len(store.versions._jdf.queryExecution().optimizedPlan().constraints().toString())

    first = None
    for k in range(30):
        clock["now"] = T0 + dt.timedelta(hours=k + 1)
        i = f"u/{k % 20}"
        if k % 3 == 0:
            s = s.put_log(spark.createDataFrame(
                [(i, f"l{k}", clock["now"])], "id string, body string, ts timestamp"
            ))
        elif k % 3 == 1:
            s = s.delete(spark.createDataFrame([(i,)], "id string"))
        else:
            s = s.put(spark.createDataFrame([(i, f"p{k}")], "id string, body string"))
        first = constraints(s) if first is None else first
        assert s.versions.rdd.getNumPartitions() <= limit, k
    assert constraints(s) <= first
    # ids deleted last: u/10, u/13, u/16, u/19 (first pass), u/2, u/5, u/8
    assert s.latest().count() == 20 - 7


def _by_hash(spark, bodies, doc_id="a"):
    """``bodies`` of one document sorted by the merge's payload hash
    (over the log's non-interval columns, id then body): the last one
    wins a same-timestamp tie."""
    df = spark.createDataFrame([(doc_id, b) for b in bodies], "id string, body string")
    return [r.body for r in df.orderBy(F.xxhash64("id", "body")).collect()]


def test_reput_of_a_tie_loser_at_the_same_valid_time_wins(spark):
    """A version that lost its instant to a same-timestamp row keeps a
    zero-length interval. Writing it again at that valid time is a new
    transaction, not a replay: it must win, as the later transaction
    wins in the brute-force model."""
    lo, hi = _by_hash(spark, ["x", "w"])
    s, clock = _store(spark, [("a", "v0")], T0)
    clock["now"] = T1
    s = s.put_log(spark.createDataFrame(
        [("a", lo, T1), ("a", hi, T1)], "id string, body string, ts timestamp"
    ))
    assert [r.body for r in s.as_of(T1).collect()] == [hi]
    clock["now"] = T2
    s = s.put(spark.createDataFrame([("a", lo)], "id string, body string"), valid_time=T1)
    assert [r.body for r in s.as_of(T1).collect()] == [lo]
    assert [r.body for r in s.latest().collect()] == [lo]


def test_reclaim_at_the_same_now_applies(spark):
    """The alert scheduler's retry path: claim at ``now``, unclaim at
    the same ``now`` (a failed handler), then claim again at that
    ``now`` on the next poll. The re-claim equals the zero-length
    corrected claim row, but it must apply: the alert is claimed while
    its handler runs."""
    s, clock = _store(spark, [("alert/1", "free")], T0)
    clock["now"] = T1
    for body in ("claimed", "free", "claimed"):
        s = s.put(spark.createDataFrame([("alert/1", body)], "id string, body string"), valid_time=T1)
        assert [r.body for r in s.as_of(T1).collect()] == [body]
        assert [r.body for r in s.latest().collect()] == [body]


def test_partial_replay_with_a_new_row_at_the_replayed_timestamp(spark):
    """A batch that replays ``x@T1`` and adds ``y@T1`` is applied in
    (timestamp, hash) order: x still wins when y's hash is lower, y wins
    when it is higher. Re-applying a batch with both rows is a no-op."""
    lo, mid, hi = _by_hash(spark, ["x", "y", "z"])
    schema = "id string, body string, ts timestamp"
    for new, winner in ((lo, mid), (hi, hi)):
        s, clock = _store(spark, [("a", "v0")], T0)
        clock["now"] = T1
        s = s.put_log(spark.createDataFrame([("a", mid, T1)], schema))
        clock["now"] = T2
        s = s.put_log(spark.createDataFrame([("a", mid, T1), ("a", new, T1)], schema))
        assert [r.body for r in s.as_of(T1).collect()] == [winner], new
    both = spark.createDataFrame([("a", lo, T1), ("a", hi, T1)], schema)
    s, clock = _store(spark, [("a", "v0")], T0)
    clock["now"] = T1
    s = s.put_log(both)
    before = sorted(map(repr, s.versions.collect()))
    clock["now"] = T2
    assert sorted(map(repr, s.put_log(both).versions.collect())) == before


def test_leaf_without_statistics_still_broadcasts(spark):
    """The write leaf carries no origin statistics, so the planner never
    broadcasts it statically; AQE measures it at the shuffle and still
    turns a join of two small stores into a broadcast join."""
    a, clock = _store(spark, [(f"u/{i}", "v") for i in range(20)], T0)
    clock["now"] = T1
    a = a.put(spark.createDataFrame([("u/1", "w")], "id string, body string"))
    b = a.delete(spark.createDataFrame([("u/2",)], "id string"))
    j = a.versions.join(b.versions.select("id", F.col("body").alias("b2")), "id")
    assert len(j.collect()) > 0
    final = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, final
