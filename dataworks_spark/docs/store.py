"""Bitemporal document store (SURVEY §2 J; reference Crux delegation).

The reference stores schemaless documents keyed by ``:crux.db/id`` with
two time axes — valid-time and transaction-time — and exposes
  put            (db/app_db.clj:102-105, utils/auth.clj:60-67)
  put @ future-t (doc/demo-app-1.org:125-127)
  match / cas    (db/app_db.clj:102-105, utils/auth.clj:139-146)
  delete         (utils/alert.clj:30-31)
  as-of reads    (db/app_db.clj:33-43: [q], [valid-time q], [vt tt q])
  entity lookup  (db/app_db.clj:45-48)

Spark model: a **version-log table** — one row per document version —
with interval columns::

    id string, payload …, valid_from ts, valid_to ts,
    tx_from ts, tx_to ts, deleted boolean

A version is visible at (vt, tt) iff
``valid_from <= vt < valid_to AND tx_from <= tt < tx_to``. Open ends use
the far-future sentinel (reference ``:never``, utils/time.clj:75).

Scale design (100 TB): the physical table is partitioned by entity
namespace and ``date(valid_from)`` so as-of reads prune partitions; the
latest view is the as-of read at now (one scan filter, no shuffle); every
write is one merge that shuffles only the batch and its ids' current
versions, never the log, and the log is compacted by a periodic
MERGE-style batch job — never in-place updates.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dataworks_spark.functions.timeops import NEVER


def _contains_map(dt) -> bool:
    """True if the type is, or nests, a MapType — the types xxhash64
    rejects by default (map hashing is order-sensitive, so Spark makes
    callers opt in explicitly)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _hash_safe(col: Column, dt) -> Column:
    """A column usable inside xxhash64 regardless of payload type:
    map-carrying columns serialize through to_json first (deterministic
    for a given physical value — all the tiebreak needs)."""
    return F.to_json(col) if _contains_map(dt) else col


_LOG_META = ("valid_from", "valid_to", "tx_from", "tx_to", "deleted")


def _payload_hash(df: DataFrame, payload_cols: list[str]) -> Column:
    """THE deterministic payload tiebreak — shared by version_log's
    same-ts ordering and the write merge's (same rule: max hash wins),
    which also compares it to recognize a replayed row; one definition
    so the rules cannot drift (r10 review)."""
    return F.xxhash64(
        *[_hash_safe(F.col(c), df.schema[c].dataType) for c in payload_cols]
    )


def _ts_guard(ts_col: str) -> Column:
    """NULL timestamps are rejected LOUDLY at execution: a NULL
    valid_from makes the version invisible to every read (latest,
    as_of, entity — all compare against valid_from) while the row stays
    in the log — silent ingest data loss (r10 review, confirmed live via
    the collector→sink path on a heartbeat missing its ts field). Same
    assert_true idiom as pipeline._hash_bucket; NULL when the check
    passes."""
    return F.assert_true(
        F.col(ts_col).isNotNull(),
        F.lit(
            f"version_log: NULL {ts_col} — the version would be invisible "
            "to every read; fix or filter the event upstream"
        ),
    )


def version_log(
    df: DataFrame,
    id_col: Column | str,
    ts_col: str,
    tombstone: Column | None = None,
) -> DataFrame:
    """Build a bitemporal version log from an append-only event stream.

    Each event is a `put` of a new document version valid from its
    timestamp until the next version of the same id (LWW semantics of
    the reference's log documents, doc/demo-app-1.org:99-104). In this
    fixture-derived log transaction time equals valid time (documents
    were transacted when they happened); `put` with a future valid-time
    (J2) makes the two differ. ``tombstone`` marks delete versions
    (J5): the doc disappears from the latest view while staying
    queryable as-of the past.

    Two events for one id at the SAME timestamp chain deterministically:
    the window breaks ts ties on a payload hash (layout-independent),
    so the survivor is a function of the data, never of partitioning —
    the earlier-hashed version gets a degenerate [ts, ts) interval
    (invisible to as_of/latest, same as Crux's same-valid-time
    supersede). Without the tiebreak a rerun of the same input could
    flip which document wins (r9 review finding).
    """
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    out = df.withColumn("id", idc)
    out = out.withColumn(ts_col, F.when(_ts_guard(ts_col).isNull(), F.col(ts_col)))
    payload_cols = [c for c in df.columns if c != ts_col]
    # xxhash64 rejects MapType (and any type containing one) by
    # default; a schemaless doc batch may legitimately carry map-typed
    # payload — hash those columns via to_json so the tiebreak never
    # narrows the accepted payload shapes (r9 ADVICE)
    w = Window.partitionBy("id").orderBy(
        F.col(ts_col).asc(), _payload_hash(df, payload_cols).asc()
    )
    out = (
        out.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.coalesce(F.lead(ts_col).over(w), F.lit(NEVER)))
        .withColumn("tx_from", F.col(ts_col))
        .withColumn("tx_to", F.lit(NEVER))
        .withColumn("deleted", tombstone if tombstone is not None else F.lit(False))
    )
    return out.drop(ts_col)  # superseded by valid_from/tx_from


def _payload_type_conflicts(store_df: DataFrame, new_df: DataFrame) -> dict:
    """Attributes shared by the store and an incoming batch that
    disagree on type — silently unioning an int batch column into a
    string store column would corrupt both."""
    store_t, new_t = dict(store_df.dtypes), dict(new_df.dtypes)
    return {
        c: (store_t[c], new_t[c])
        for c in store_t.keys() & new_t.keys()
        if store_t[c] != new_t[c]
    }


def _visible(vt: Column, tt: Column | None = None) -> Column:
    cond = (F.col("valid_from") <= vt) & (vt < F.col("valid_to"))
    if tt is not None:
        cond = cond & (F.col("tx_from") <= tt) & (tt < F.col("tx_to"))
    else:
        # no tx coordinate = current knowledge: only rows never
        # superseded by a later transaction
        cond = cond & (F.col("tx_to") == F.lit(NEVER))
    return cond


def as_of_snapshot(
    versions: DataFrame,
    valid_time: _dt.datetime | str,
    tx_time: _dt.datetime | str | None = None,
    include_deleted: bool = False,
) -> DataFrame:
    """As-of read (J7): the document version visible at the given
    bitemporal coordinates — reference query arities
    [valid-time q] / [valid-time tx-time q] (db/app_db.clj:37-43).

    Because the intervals produced by :func:`version_log` partition each
    id's timeline, interval containment alone yields ≤1 row per id — a
    filter Catalyst pushes to the scan, no window needed."""
    vt = F.lit(valid_time).cast("timestamp")
    tt = F.lit(tx_time).cast("timestamp") if tx_time is not None else None
    snap = versions.filter(_visible(vt, tt))
    if "valid_date" in versions.columns:
        # partitioned layout (save/compact): valid_from <= vt implies
        # date(valid_from) <= date(vt), and valid_date IS
        # date(valid_from) — a filter on the partition column, so the
        # scan prunes every partition after the as-of date
        # (plan-asserted in test_docs)
        snap = snap.filter(F.col("valid_date") <= F.to_date(vt))
    if not include_deleted:
        snap = snap.filter(~F.col("deleted"))
    return snap


def latest_snapshot(
    versions: DataFrame,
    include_deleted: bool = False,
    now: _dt.datetime | None = None,
) -> DataFrame:
    """Latest-per-id view (E4 / ReadMe.org:34 LWW). Crux's ``db``
    without an explicit valid-time is as-of *now*, not max-valid-time,
    so with ``now`` this is :func:`as_of_snapshot` at ``now`` with no tx
    coordinate: a version scheduled in the FUTURE (J2 put with future
    valid-time, demo-app-1.org:125-127) stays invisible until its time
    arrives, and a partitioned layout prunes every ``valid_date`` after
    ``now``. With ``now=None`` (for fixture-derived logs whose
    timestamps are all in the past) it is each id's open-ended
    tx-current version, ``valid_to = NEVER``.

    Either way it is one scan filter with no window, exact by the tiling
    invariant stated on :class:`DocumentStore`. A hand-built
    ``versions`` frame whose intervals leave gaps reads nothing inside a
    gap."""
    if now is not None:
        return as_of_snapshot(versions, now, include_deleted=include_deleted)
    snap = versions.filter(
        (F.col("tx_to") == F.lit(NEVER)) & (F.col("valid_to") == F.lit(NEVER))
    )
    return snap if include_deleted else snap.filter(~F.col("deleted"))


class StoreRef:
    """Thread-safe shared holder for an evolving :class:`DocumentStore`
    — streaming sinks swap in new store states per batch while readers
    (alert scheduler, query surfaces) always see the current one. The
    in-process stand-in for a table-format's commit log."""

    def __init__(self, store: "DocumentStore"):
        import threading

        self._store = store
        self._lock = threading.Lock()

    @property
    def store(self) -> "DocumentStore":
        with self._lock:
            return self._store

    def swap(self, fn) -> "DocumentStore":
        """Atomically replace the store with fn(current)."""
        with self._lock:
            self._store = fn(self._store)
            return self._store


class DocumentStore:
    """Mutable document-store facade over a version-log DataFrame.

    Write ops mirror the reference transaction vocabulary (SURVEY §2 J):
    ``put`` (J1/J2), ``match`` (J3), ``cas`` (J4), ``delete`` (J5), plus
    the bulk ``put_log``. Every write is ONE merge (:meth:`put_log`): a put
    is a batch at one timestamp, a delete a tombstone batch, match/cas a
    semi-join and then a put. Writes are **append-only**: the merge
    retires the version a write supersedes (tx_to = now, so the old
    belief stays queryable at earlier tx coordinates, J7), re-asserts it
    with shortened validity, and appends the new version; the rest of
    the log passes through untouched. ``await-tx`` (J6) is a no-op:
    Spark writes are synchronous.

    Every read is one visibility filter (:func:`as_of_snapshot`), with
    no window: :meth:`latest` and :meth:`entity` are the as-of read at
    the store's clock. That rests on one invariant of the log these
    writes build: an id's tx-current versions of non-zero length tile
    its valid timeline, with no overlap and no gap. The merge's rule 2
    gives no overlap, :func:`version_log` ends each version at the next
    one (``lead``), the last version is open-ended, and a delete is a
    tombstone version, not a gap. So at any valid time at most one
    tx-current version contains it, and it is the one with the largest
    ``valid_from`` at or before that time.

    Each write materializes ONCE, inside the write call, into a local
    checkpoint: the returned store's ``versions`` is a single
    checkpointed leaf, so reads and later writes plan against it and
    never re-execute an earlier write's joins.

    Fault tolerance: a local checkpoint's blocks live on the executors
    and have no lineage to recompute from. Losing an executor that
    holds them (failure, dynamic-allocation decommission) makes later
    reads of this in-process store fail, and each write's blocks stay
    pinned until the store object is garbage-collected. Durable state
    comes from :meth:`compact` (or :meth:`compact_incremental`), or from
    ``DocStoreSink(durable_path=...)``, which compacts every applied
    micro-batch to parquet and re-roots the store on the files.
    """

    def __init__(self, versions: DataFrame, now_fn=None):
        self.versions = versions
        self._now = now_fn or _dt.datetime.utcnow

    def _evolved(self, versions: DataFrame) -> "DocumentStore":
        """Successor store after one write, whose version log is ONE
        leaf, and whose write has run inside this call, so a failing
        write (a NULL-ts batch) raises here. Under AQE the leaf is marked
        ``localCheckpoint(eager=False)``: building its RDD already runs
        the write's shuffle stages, and the copy into the block manager
        is paid by the first reader. Without AQE nothing would run until
        that first read, so the checkpoint is taken eagerly.

        The leaf is then re-rooted on the checkpoint's RDD with no
        origin constraints. A checkpoint keeps the constraints Catalyst
        inferred for the plan it replaced, and each write adds a
        disjunct over ``deleted`` to them, so a chain of writes would
        carry a predicate set that grows with every write into every
        later plan (bounded in test_docs). The re-rooted leaf carries no
        origin statistics either: the planner sizes it at its default
        estimate, so it is never broadcast statically; AQE still
        broadcasts it at runtime once a shuffle has measured it (tested
        in test_docs). The re-root calls
        ``SparkSession.internalCreateDataFrame`` and ``parseDataType``,
        JVM methods that are ``private[sql]`` in Scala but public in
        bytecode (PySpark itself calls ``parseDataType``); checked on
        Spark 4.1 — a Spark upgrade must keep test_docs' leaf tests
        green."""
        spark = versions.sparkSession
        aqe = spark.conf.get("spark.sql.adaptive.enabled", "false").lower() == "true"
        ck = versions.localCheckpoint(eager=not aqe)
        jdf = spark._jsparkSession.internalCreateDataFrame(
            ck._jdf.queryExecution().toRdd(),
            spark._jsparkSession.parseDataType(ck.schema.json()),
            False,
        )
        return DocumentStore(DataFrame(jdf, spark), self._now)

    # -- reads ---------------------------------------------------------
    def as_of(self, valid_time, tx_time=None) -> DataFrame:
        return as_of_snapshot(self.versions, valid_time, tx_time)

    def latest(self) -> DataFrame:
        """Current documents: the as-of read at the store's clock, with
        no tx coordinate (current knowledge). A future-scheduled version
        (J2) stays invisible until its valid-time arrives."""
        return self.as_of(self._now())

    def entity(self, doc_id: str) -> DataFrame:
        """Point lookup (B8, db/app_db.clj:45-48)."""
        return self.latest().filter(F.col("id") == F.lit(doc_id))

    def history(self, doc_id: str, with_corrections: bool = False) -> DataFrame:
        """Entity history (Crux `entity-history` — the reference's
        bitemporal audit surface): every version of the doc ordered by
        valid_from then tx_from. By default only current knowledge
        (latest correction per valid interval); ``with_corrections``
        includes superseded tx rows for a full audit trail."""
        h = self.versions.filter(F.col("id") == F.lit(doc_id))
        if not with_corrections:
            h = h.filter(F.col("tx_to") == F.lit(NEVER))
        return h.orderBy(F.col("valid_from").asc(), F.col("tx_from").asc())

    # -- writes --------------------------------------------------------
    def put(self, docs: DataFrame, valid_time: _dt.datetime | None = None) -> "DocumentStore":
        """Upsert new versions (J1); a future ``valid_time`` schedules
        visibility (J2, demo-app-1.org:125-127). ``docs`` carries an
        ``id`` column plus payload columns; new attributes widen the
        store. A put is one :meth:`put_log` batch at one timestamp, so
        two rows for one id in one put follow put_log's same-timestamp
        rule: both rows are kept, the max payload-hash row holds the
        interval and the other gets a zero-length ``[vt, vt)`` interval
        that no read sees."""
        vt = F.lit(valid_time or self._now()).cast("timestamp")
        return self.put_log(docs.withColumn("__vt", vt), ts_col="__vt")

    def delete(self, ids: DataFrame, valid_time: _dt.datetime | None = None) -> "DocumentStore":
        """Bitemporal delete (J5): a tombstone batch at one timestamp;
        the doc vanishes from latest/as-of-after views but history
        remains."""
        vt = F.lit(valid_time or self._now()).cast("timestamp")
        tomb = ids.select("id", vt.alias("__vt"))
        # typed NULL payload: the batch has the log's columns, so the
        # schema-on-first-write probe in put_log never runs for a delete
        for c in self.versions.columns:
            if c not in ("id", *_LOG_META):
                tomb = tomb.withColumn(c, F.lit(None).cast(self.versions.schema[c].dataType))
        return self.put_log(tomb, ts_col="__vt", tombstone=True)

    def match_put(
        self,
        docs: DataFrame,
        expected: DataFrame,
        on_payload: list[str],
        valid_time: _dt.datetime | None = None,
    ) -> "DocumentStore":
        """Optimistic precondition (J3, utils/alert.clj:21-27): apply the
        put only for ids whose *current* version matches ``expected`` on
        the given payload columns — the reference's create-vs-update race
        detection and alert claim. Implemented as a semi-join of the put
        set against the matching current versions (no driver round-trip).
        Payload comparison is NULL-SAFE (``<=>``): the reference's match
        compares whole documents including nil, and a schemaless store
        legitimately holds NULL for absent/pre-widening attributes — a
        plain equi-join would silently never match them (r9 review fix)."""
        current = self.latest().select("id", *on_payload)
        exp = expected.select("id", *on_payload)
        cond = current["id"] == exp["id"]
        for c in on_payload:
            cond = cond & current[c].eqNullSafe(exp[c])
        ok_ids = current.join(exp, on=cond, how="left_semi")
        return self.put(docs.join(ok_ids.select("id"), on="id", how="left_semi"), valid_time)

    cas = match_put  # J4 compare-and-set (utils/auth.clj:139-146) — same mechanics

    def put_log(self, df: DataFrame, ts_col: str = "ts", tombstone: bool = False) -> "DocumentStore":
        """Bulk-append an event-log batch: one version per row at its
        own timestamp (the streaming-ingest write shape, §3.2). ``df``
        carries ``id`` + payload + ``ts_col``; ``tombstone`` writes every
        row as a delete version.

        Set-based and EQUIVALENT to applying the rows one at a time in
        (timestamp, payload hash) order at this one transaction time:

        1. every tx-current version whose interval contains a batch
           timestamp — the covering version AND any future-scheduled
           (J2) version the batch straddles — is retired (tx_to = now)
           and re-asserted closed at the earliest such timestamp;
        2. every batch version holds until the next batch timestamp of
           its id or the next tx-current valid_from, whichever is first,
           so no two current versions ever overlap (r9 ADVICE fix);
        3. the rows of one id at one timestamp are dropped together when
           their max-hash row (the one that would hold the interval)
           equals the tx-current version holding that instant: same
           deleted flag and payload hash, and a non-zero-length
           interval. Applying them would leave every visible answer as
           it is, so re-applying a batch is a no-op — the idempotence a
           sink needs when a stream replays an epoch after a restart. A
           zero-length version lost its instant to another write, so
           writing it again applies (the later transaction wins).

        Rows of one id at one timestamp chain by payload hash as in
        :func:`version_log`: the max-hash row holds the interval.

        Every store write is this one merge (the MERGE analog, expressed
        so the log is scanned but never shuffled). The batch's ids are
        broadcast and split the log in two: a conditioned semi-join
        picks the batch ids' tx-current rows, and the matching anti-join
        passes every other row through untouched. The broadcast assumes
        a batch whose ids fit in driver and executor memory — the write
        shapes here are a put, a delete or a streaming micro-batch; a
        bulk load of a large log goes through :func:`version_log`
        instead. Only the tx-current rows meet the batch, in one window
        per id ordered by (valid_from, kind, hash) — stored rows (kind
        0) sort before batch rows (kind 1) at an equal timestamp. From
        that window: the first batch timestamp at or after a stored
        row's valid_from (where the stored row is cut), the next batch
        timestamp after a batch row, and the next stored valid_from
        after it (the batch row ends at the earlier of the two)."""
        now = self._now()
        nowl = F.lit(now).cast("timestamp")
        never = F.lit(NEVER).cast("timestamp")
        # the batch is read twice (its ids, its rows): unless it already
        # is one materialized checkpoint (a sink's micro-batch), the
        # checkpoint's first reader materializes it, so the source is
        # scanned once and both readers see the same rows
        leaf = df._jdf.queryExecution().analyzed()
        if not (leaf.nodeName() == "LogicalRDD" and leaf.rdd().isCheckpointed()):
            df = df.localCheckpoint(eager=False)
        batch = df.withColumns({
            "valid_from": F.when(_ts_guard(ts_col).isNull(), F.col(ts_col)),
            "deleted": F.lit(tombstone),
        })
        if ts_col != "valid_from":
            batch = batch.drop(ts_col)
        log = self.versions
        conflicts = _payload_type_conflicts(log, batch)
        if (conflicts or set(batch.columns) | set(_LOG_META) != set(log.columns)) and log.isEmpty():
            # schema-on-first-write: a rowless store adopts the first
            # batch's payload shape (the reference is schemaless — docs
            # define their own attributes, SURVEY §1.2) whether the
            # declared schema differs in column SET or a column's type;
            # a non-empty store widens at the union below instead. The
            # cheap schema checks run first so the isEmpty job is paid
            # only when a difference exists.
            log = batch.withColumns(
                {"valid_to": never, "tx_from": never, "tx_to": never}
            ).limit(0)
            conflicts = {}
        if conflicts:
            raise ValueError(
                "batch column types conflict with the store schema: "
                + ", ".join(f"{c}: store={a} batch={b}" for c, (a, b) in sorted(conflicts.items()))
            )
        ids = F.broadcast(batch.select(F.col("id").alias("__bid")))
        current = (F.col("id") == F.col("__bid")) & (F.col("tx_to") == never)
        untouched = log.join(ids, current, "left_anti")
        rows = log.join(ids, current, "left_semi").withColumn("__kind", F.lit(0)).unionByName(
            batch.withColumn("__kind", F.lit(1)), allowMissingColumns=True
        )
        cols = [c for c in rows.columns if c != "__kind"]  # log's, then new
        rows = rows.withColumn(
            "__h", _payload_hash(rows, [c for c in cols if c not in _LOG_META])
        )
        # (3) replay: per (id, valid_from), the batch's max hash against
        # the hash of the non-zero-length tx-current row there. The frame
        # is the rows at one valid_from of the same id partition as the
        # merge window: a sort, not an exchange.
        at = Window.partitionBy("id").orderBy("valid_from").rangeBetween(
            Window.currentRow, Window.currentRow
        )
        live = (F.col("__kind") == 0) & (F.col("valid_from") < F.col("valid_to"))
        rows = rows.withColumns({
            "__top": F.max(F.when(F.col("__kind") == 1, F.col("__h"))).over(at),
            "__held": F.max(F.when(live & (F.col("deleted") == tombstone), F.col("__h"))).over(at),
        }).filter(
            (F.col("__kind") == 0) | ~F.coalesce(F.col("__top") == F.col("__held"), F.lit(False))
        )
        w = Window.partitionBy("id").orderBy("valid_from", "__kind", "__h")
        after = w.rowsBetween(1, Window.unboundedFollowing)
        bts = F.when(F.col("__kind") == 1, F.col("valid_from"))
        rows = rows.withColumns({
            "__cut": F.min(bts).over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)),
            "__next": F.least(
                F.min(bts).over(after),
                F.min(F.when(F.col("__kind") == 0, F.col("valid_from"))).over(after),
            ),
        })
        # (1) a cut stored row is emitted twice: retired, and corrected
        hit = (F.col("__kind") == 0) & (F.col("valid_to") > F.col("__cut"))
        rows = rows.withColumn(
            "__copy", F.explode(F.when(hit, F.array(F.lit(0), F.lit(1))).otherwise(F.array(F.lit(0))))
        )
        new = F.col("__kind") == 1
        fixed = F.col("__copy") == 1
        merged = rows.withColumns({
            "valid_to": F.when(new, F.coalesce(F.col("__next"), never))
            .when(fixed, F.col("__cut"))
            .otherwise(F.col("valid_to")),
            "tx_from": F.when(new | fixed, nowl).otherwise(F.col("tx_from")),
            "tx_to": F.when(new | fixed, never).when(hit, nowl).otherwise(F.col("tx_to")),
        }).select(*cols)
        n = int(log.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        return self._evolved(
            untouched.unionByName(merged, allowMissingColumns=True).coalesce(n)
        )

    def compact(self, path: str, spark=None) -> "DocumentStore":
        """Durable rewrite of the accumulated version log (the periodic
        MERGE/rewrite job, SURVEY §4 #3): the log is rewritten to parquet
        partitioned by (namespace, date(valid_from)) — the 100 TB layout
        — and the returned store reads from the rewritten files (lineage
        truncated to a scan). For the append/streaming workload prefer
        :meth:`compact_incremental`, which rewrites only the partitions
        the delta touched (IO proportional to the batch, not the
        corpus). With Delta/Iceberg jars both become row-level MERGE
        with snapshot isolation; without them (this image) these are
        the honest executable forms."""
        spark = spark or self.versions.sparkSession
        self.save(path)
        return DocumentStore.load(spark, path, self._now)

    def compact_incremental(
        self, path: str, since: _dt.datetime, spark=None
    ) -> "DocumentStore":
        """Partition-scoped incremental compaction: rewrite ONLY the
        (namespace, valid_date) partitions containing rows written or
        retired at-or-after ``since`` (the previous compaction's
        timestamp), leaving every other partition's files untouched.

        Exactness: every mutation in this store stamps the transaction
        clock — new/corrected rows carry ``tx_from = now``, retirements
        set ``tx_to = now`` — so "changed since the last compaction" is
        a precise predicate, not a heuristic, and the full current
        content of a changed partition is available in this store's
        version log. The write uses Spark's dynamic partition overwrite
        (``partitionOverwriteMode=dynamic``): ``mode("overwrite")``
        replaces only the partitions present in the written frame.

        This is the incremental form of :meth:`compact` for the
        append/streaming workload (§3.2 `put_log`): at 100 TB a nightly
        batch touches a bounded set of (namespace, date) partitions and
        pays IO proportional to the delta, not the corpus. With
        Delta/Iceberg jars the same job becomes a row-level MERGE with
        snapshot isolation; dynamic overwrite is the honest pure-parquet
        equivalent at partition granularity (readers see partition-level
        atomicity only).
        """
        spark = spark or self.versions.sparkSession
        sincel = F.lit(since).cast("timestamp")
        never = F.lit(NEVER).cast("timestamp")
        with_parts = self.versions.withColumn(
            "namespace", F.element_at(F.split("id", "/"), 1)
        ).withColumn("valid_date", F.to_date("valid_from"))
        changed_parts = (
            with_parts.filter(
                (F.col("tx_from") >= sincel)
                | ((F.col("tx_to") != never) & (F.col("tx_to") >= sincel))
            )
            .select("namespace", "valid_date")
            .dropDuplicates()
        )
        # full current content of every changed partition (broadcast
        # semi-join: the changed-partition list is bounded by the delta,
        # never by the corpus)
        to_write = with_parts.join(
            F.broadcast(changed_parts), on=["namespace", "valid_date"], how="left_semi"
        )
        # per-write option, NOT a session conf flip: a concurrent write
        # on the same SparkSession (plausible under streaming
        # foreachBatch alongside other jobs) must never plan under — or
        # have restored mid-flight — this write's overwrite mode
        to_write.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("namespace", "valid_date").parquet(path)
        from dataworks_spark.session import write_table_meta

        write_table_meta(spark, path, extra={"writer": "doc_store"})
        # re-root on the durable files with the EXPLICIT merged schema the
        # writer already holds — not mergeSchema, whose footer sweep over
        # every file in the dataset would make per-epoch read cost grow
        # with corpus size instead of the delta (mergeSchema remains the
        # cold-open path in load()/open_partitioned(), where no in-memory
        # schema exists). Older, narrower files in untouched partitions
        # surface the widened columns as NULL under the explicit schema.
        reread = spark.read.schema(to_write.schema).parquet(path)
        return DocumentStore(reread.drop("valid_date", "namespace"), self._now)

    # -- persistence (A5 document-store sink) ---------------------------
    def save(self, path: str, partitioned: bool = True) -> None:
        """Persist the version log as parquet, partitioned by entity
        namespace + date(valid_from) so as-of reads prune partitions
        (SURVEY §4 #3; plan-asserted in test_docs)."""
        df = self.versions
        if partitioned:
            df = df.withColumn(
                "namespace", F.element_at(F.split("id", "/"), 1)
            ).withColumn("valid_date", F.to_date("valid_from"))
            df.write.mode("overwrite").partitionBy("namespace", "valid_date").parquet(path)
        else:
            df.write.mode("overwrite").parquet(path)
        # stamp the post-write data fingerprint (r15 — the durable-state
        # face of the ANN-sidecar contract): load()/open_partitioned()
        # verify it, so a version log mutated OUTSIDE the engine can
        # never silently serve as-of answers built on edited history
        from dataworks_spark.session import write_table_meta

        write_table_meta(df.sparkSession, path, extra={"writer": "doc_store"})

    @classmethod
    def open_partitioned(cls, spark, path: str) -> DataFrame:
        """Read-only serving view over a partitioned save: keeps the
        (namespace, valid_date) partition columns so
        :func:`as_of_snapshot` and namespace filters prune at the
        source. ``mergeSchema`` because schemaless widening plus
        incremental compaction legitimately leaves older (narrower)
        parquet files in untouched partitions — a single-footer schema
        would silently drop the widened columns.

        Fingerprint-gated (r15): the ``_dw_meta.json`` stamp written by
        :meth:`save`/:meth:`compact_incremental` is verified against
        the files' recomputed fingerprint — an out-of-band mutation of
        the version log refuses instead of serving rewritten history as
        bitemporal truth. Stampless (pre-r15/foreign) paths load."""
        from dataworks_spark.session import verify_table_meta

        verify_table_meta(spark, path, what="document store version log")
        return spark.read.option("mergeSchema", "true").parquet(path)

    @classmethod
    def load(cls, spark, path: str, now_fn=None) -> "DocumentStore":
        """Reopen as a mutable store: partition columns are dropped —
        they are derived storage layout, not document payload.
        ``mergeSchema`` for the same reason as :meth:`open_partitioned`;
        fingerprint-gated the same way (r15)."""
        from dataworks_spark.session import verify_table_meta

        verify_table_meta(spark, path, what="document store version log")
        df = spark.read.option("mergeSchema", "true").parquet(path)
        return cls(df.drop("valid_date", "namespace"), now_fn)
