"""Property-based bitemporal tests (SURVEY §5.4): random put/delete
sequences checked against a brute-force Python interpretation of the
document timeline (the reference's semantics per db/app_db.clj:33-43,
demo-app-1.org:125-127)."""

import datetime as dt

from hypothesis import HealthCheck, given, settings, strategies as st

_SETTINGS = dict(
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,  # deterministic examples: CI stability over novelty
)

from pyspark.sql import functions as F

from dataworks_spark.docs.store import DocumentStore, version_log

BASE = dt.datetime(2024, 1, 1)
IDS = ["a", "b", "c"]

# an op: (kind, id, body, valid_offset_days or None). put_log2 appends
# a TWO-ROW log batch at (tx, tx + offset days) — the second row is
# effectively a future-scheduled version written through the log path,
# so random interleavings exercise the straddle semantics (r9 ADVICE):
# put_log must equal sequential put() per event.
op_st = st.tuples(
    st.sampled_from(["put", "put_future", "delete", "put_log2"]),
    st.sampled_from(IDS),
    st.integers(min_value=0, max_value=99),
    st.integers(min_value=1, max_value=30),
)
ops_st = st.lists(op_st, min_size=1, max_size=6)


class BruteForce:
    """Reference interpreter: explicit (tx_time, valid_time, id, body,
    deleted) journal; visibility scan per query."""

    def __init__(self):
        self.journal = []  # (tx, vt, id, body, deleted)

    def apply(self, kind, doc_id, body, vt_off, tx):
        if kind == "put":
            self.journal.append((tx, tx, doc_id, body, False))
        elif kind == "put_future":
            self.journal.append((tx, tx + dt.timedelta(days=vt_off), doc_id, body, False))
        elif kind == "put_log2":
            # a log batch = one journal entry per row, same tx
            self.journal.append((tx, tx, doc_id, body, False))
            self.journal.append(
                (tx, tx + dt.timedelta(days=vt_off), doc_id, body + 100, False)
            )
        else:
            self.journal.append((tx, tx, doc_id, None, True))

    def as_of(self, vt, tt=None):
        out = {}
        for doc_id in IDS:
            # versions transacted by tt, ordered by valid time then tx
            vers = [
                (v, tx, body, deleted)
                for (tx, v, i, body, deleted) in self.journal
                if i == doc_id and (tt is None or tx <= tt) and v <= vt
            ]
            if not vers:
                continue
            vers.sort()  # latest valid_from wins; tx breaks ties
            v, tx, body, deleted = vers[-1]
            if not deleted:
                out[doc_id] = body
        return out


def _build_store(spark, ops):
    """Apply ops through the DocumentStore at strictly increasing tx
    times (one day apart)."""
    seed = spark.createDataFrame(
        [(i, -1, BASE - dt.timedelta(days=400)) for i in IDS],
        "id string, body int, ts timestamp",
    )
    clock = {"now": BASE - dt.timedelta(days=400)}
    store = DocumentStore(version_log(seed, "id", "ts"), now_fn=lambda: clock["now"])
    brute = BruteForce()
    brute.apply("put", "a", -1, 0, BASE - dt.timedelta(days=400))
    brute.apply("put", "b", -1, 0, BASE - dt.timedelta(days=400))
    brute.apply("put", "c", -1, 0, BASE - dt.timedelta(days=400))

    for i, (kind, doc_id, body, vt_off) in enumerate(ops):
        tx = BASE + dt.timedelta(days=i)
        clock["now"] = tx
        if kind == "put":
            docs = spark.createDataFrame([(doc_id, body)], "id string, body int")
            store = store.put(docs)
        elif kind == "put_future":
            docs = spark.createDataFrame([(doc_id, body)], "id string, body int")
            store = store.put(docs, valid_time=tx + dt.timedelta(days=vt_off))
        elif kind == "put_log2":
            batch = spark.createDataFrame(
                [
                    (doc_id, body, tx),
                    (doc_id, body + 100, tx + dt.timedelta(days=vt_off)),
                ],
                "id string, body int, ts timestamp",
            )
            store = store.put_log(batch)
        else:
            ids = spark.createDataFrame([(doc_id,)], "id string")
            store = store.delete(ids)
        brute.apply(kind, doc_id, body, vt_off, tx)
        # every write returns a store whose version relation is one
        # checkpointed leaf, so the chain's plan never grows with the
        # op count and no explicit compaction is needed
    return store, brute


@settings(max_examples=8, **_SETTINGS)
@given(
    ops=ops_st,
    probe_day=st.integers(min_value=0, max_value=40),
    tx_day=st.integers(min_value=0, max_value=10),
)
def test_asof_matches_bruteforce(spark_global, ops, probe_day, tx_day):
    """Valid-time and bitemporal as-of probes against the brute-force
    interpreter on ONE store build per example (r16: the former
    separate bitemporal test re-built the store for 5 more examples to
    probe the same relation — merged, keeping BOTH assertions on every
    example, 8 bitemporal probes where there were 5). ``latest()`` at a
    store clock of ``vt`` is the same valid-time read."""
    spark = spark_global
    store, brute = _build_store(spark, ops)
    vt = BASE + dt.timedelta(days=probe_day, hours=12)
    got = {r.id: r.body for r in store.as_of(vt).collect()}
    assert got == brute.as_of(vt)
    at_vt = DocumentStore(store.versions, now_fn=lambda: vt).latest()
    assert {r.id: r.body for r in at_vt.collect()} == brute.as_of(vt)
    tt = BASE + dt.timedelta(days=tx_day, hours=12)
    got_tt = {r.id: r.body for r in store.as_of(vt, tx_time=tt).collect()}
    assert got_tt == brute.as_of(vt, tt)


# writes that revisit a valid time: (id, body, valid day, delete?) with
# tiny domains, so later transactions often rewrite an instant an
# earlier one wrote — with the same body (a replay), or with a body that
# lost that instant before (a zero-length version)
revisit_st = st.lists(
    st.tuples(
        st.sampled_from(["a", "b"]),
        st.sampled_from([0, 1]),
        st.integers(min_value=0, max_value=2),
        st.booleans(),
    ),
    min_size=2,
    max_size=6,
)


@settings(max_examples=8, **_SETTINGS)
@given(ops=revisit_st)
def test_revisited_valid_times_match_bruteforce(spark_global, ops):
    """Every write at one valid time is a new transaction: the latest
    one holds the instant (the brute force's "tx breaks ties"), whether
    it repeats what is there, re-puts a version that lost the instant,
    or deletes."""
    spark = spark_global
    seed = spark.createDataFrame(
        [(i, -1, BASE - dt.timedelta(days=400)) for i in IDS],
        "id string, body int, ts timestamp",
    )
    clock = {"now": BASE}
    store = DocumentStore(version_log(seed, "id", "ts"), now_fn=lambda: clock["now"])
    brute = BruteForce()
    for i in IDS:
        brute.apply("put", i, -1, 0, BASE - dt.timedelta(days=400))
    for k, (doc_id, body, day, gone) in enumerate(ops):
        clock["now"] = tx = BASE + dt.timedelta(days=10 + k)
        vt = BASE + dt.timedelta(days=day)
        if gone:
            store = store.delete(spark.createDataFrame([(doc_id,)], "id string"), valid_time=vt)
            brute.journal.append((tx, vt, doc_id, None, True))
        else:
            docs = spark.createDataFrame([(doc_id, body)], "id string, body int")
            store = store.put(docs, valid_time=vt)
            brute.journal.append((tx, vt, doc_id, body, False))
    for day in range(3):
        vt = BASE + dt.timedelta(days=day, hours=12)
        assert {r.id: r.body for r in store.as_of(vt).collect()} == brute.as_of(vt), day
        tt = BASE + dt.timedelta(days=10 + len(ops) // 2, hours=12)
        got = {r.id: r.body for r in store.as_of(vt, tx_time=tt).collect()}
        assert got == brute.as_of(vt, tt), (day, "tt")


# hypothesis needs a non-function-scoped fixture workaround: reuse the
# session fixture through a module-level holder
import pytest  # noqa: E402


@pytest.fixture(scope="module")
def _spark_holder(spark):
    global _SPARK
    _SPARK = spark
    return spark


@pytest.fixture
def spark_global(_spark_holder):
    return _spark_holder


# -- incremental compaction ≡ full rewrite under random append workloads ----

batches_st = st.lists(
    st.lists(
        st.tuples(st.sampled_from(["app/x", "app/y", "user/z"]), st.integers(0, 99)),
        min_size=1,
        max_size=3,
    ),
    min_size=1,
    max_size=4,
)


@given(batches=batches_st)
@settings(max_examples=4, **_SETTINGS)
def test_compact_incremental_equals_full_rewrite(spark, tmp_path_factory, batches):
    """After any sequence of put_log batches with per-batch incremental
    compaction, the durable partitioned store must hold exactly the
    rows an INDEPENDENT store (same batches, no incremental compaction,
    one full save at the end) holds — the watermark predicate may
    re-cover rows (idempotent) but can never lose, duplicate, or leave
    stale rows in partially-rewritten partitions. The shadow store is
    the oracle; comparing the incremental store to a re-save of itself
    would be a tautology."""
    base = tmp_path_factory.mktemp("inc_store")
    inc_path, full_path = str(base / "inc"), str(base / "full")
    clock = {"now": BASE}
    inc_store = None
    shadow = None  # same batches, never incrementally compacted
    since = dt.datetime.min
    for i, batch in enumerate(batches):
        clock["now"] = BASE + dt.timedelta(days=i)
        rows = [
            (doc_id, float(v), BASE + dt.timedelta(days=i, minutes=j))
            for j, (doc_id, v) in enumerate(batch)
        ]
        df = spark.createDataFrame(rows, "id string, value double, ts timestamp")
        if inc_store is None:
            log = version_log(df, "id", "ts")
            inc_store = DocumentStore(log, now_fn=lambda: clock["now"])
            shadow = DocumentStore(log, now_fn=lambda: clock["now"])
        else:
            inc_store = inc_store.put_log(df)
            shadow = shadow.put_log(df)
        boundary = clock["now"]
        inc_store = inc_store.compact_incremental(inc_path, since=since)
        since = boundary
    shadow.save(full_path)
    cols = ["id", "value", "valid_from", "valid_to", "tx_from", "tx_to"]
    inc_rows = sorted(
        map(tuple, DocumentStore.load(spark, inc_path).versions.select(cols).collect())
    )
    full_rows = sorted(
        map(tuple, DocumentStore.load(spark, full_path).versions.select(cols).collect())
    )
    assert inc_rows == full_rows
