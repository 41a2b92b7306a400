"""Streaming ingest into the bitemporal document store (SURVEY §3.2,
§2 A5/J1): the rebuild of "collector → submit-tx → Crux" as
Kafka/stream → foreachBatch → version-log append.

Each micro-batch becomes one document-store transaction: one
:meth:`DocumentStore.put_log` merge turns its rows into (id, payload,
valid_from=event-ts) versions — per-batch, so delivery is exactly-once
relative to the checkpoint (an upgrade over the reference's
at-least-once, I6). The merge is idempotent by value, so an epoch
replayed after a restart (when the in-memory epoch set is gone) adds
nothing. The reference's ``await-tx`` barrier
(J6, db/app_db.clj:106-108) is implicit: foreachBatch returns only
after the write completes.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dataworks_spark.docs.store import DocumentStore, StoreRef


class DocStoreSink:
    """foreachBatch sink appending each micro-batch to a DocumentStore.

    Holds (or shares) a :class:`StoreRef`: streaming worker threads
    swap the store state per batch; every reader of the same ref (alert
    scheduler, ad-hoc queries) sees the committed state. At cluster
    scale the ref is a table format's commit protocol (Delta/Iceberg
    MERGE)."""

    def __init__(
        self,
        store: DocumentStore | StoreRef,
        id_col: Column | str,
        ts_col: str,
        durable_path: str | None = None,
    ):
        """``durable_path`` switches the sink to durable compaction:
        after every applied batch, the store is incrementally compacted
        to partitioned parquet at that path — only the partitions the
        batch touched are rewritten
        (:meth:`DocumentStore.compact_incremental`), and the in-memory
        state re-roots on the durable files (lineage truncated to a
        scan). This is the §3.2 ingest loop's durability story at 100 TB:
        per-epoch IO proportional to the delta.

        RESTART RECOVERY: if ``durable_path`` already holds data, the
        durable dataset is the source of truth — it is loaded into the
        shared ref at construction, replacing whatever in-memory store
        was passed, and the compaction watermark resumes from the
        durable rows' max transaction stamp. Without this, a fresh
        process would compute "changed partitions" from its (empty)
        in-memory state and dynamic-overwrite durable partitions with
        delta-only content — silent data loss."""
        self.ref = store if isinstance(store, StoreRef) else StoreRef(store)
        self._id_col = id_col
        self._ts_col = ts_col
        self.batches_applied = 0
        self._applied_epochs: set[int] = set()
        self._durable_path = durable_path
        self._durable_since = _dt.datetime.min
        if durable_path is not None:
            self._recover(durable_path)

    def _recover(self, path: str) -> None:
        spark = self.ref.store.versions.sparkSession
        # ONLY path-absent counts as bootstrap. A durable dataset that
        # exists but fails to load (transient FS error, corrupt footer)
        # must raise: swallowing it left the empty in-memory store live
        # and the next compact_incremental dynamic-overwrote durable
        # partitions with delta-only content — the exact silent data
        # loss this recovery exists to prevent (r10 review).
        jvm = spark._jvm
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
        if not fs.exists(p):
            return  # bootstrap run — nothing durable yet
        durable = DocumentStore.load(spark, path)
        from dataworks_spark.functions.timeops import NEVER

        never = F.lit(NEVER).cast("timestamp")
        hi = durable.versions.agg(
            F.greatest(
                F.max("tx_from"),
                F.coalesce(
                    F.max(F.when(F.col("tx_to") != never, F.col("tx_to"))),
                    F.max("tx_from"),
                ),
            )
        ).first()[0]
        if hi is not None:
            # >= semantics re-cover rows stamped exactly at the watermark:
            # an idempotent partition rewrite, never data loss
            self._durable_since = hi
        now_fn = self.ref.store._now
        self.ref.swap(lambda _s: DocumentStore(durable.versions, now_fn))

    @property
    def store(self) -> DocumentStore:
        return self.ref.store

    def foreach_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        # foreachBatch is at-least-once: a task/driver retry re-delivers
        # the SAME epoch_id with the same data. Appending it twice would
        # duplicate versions, so the write is made idempotent by epoch —
        # the guard and the append commute through the StoreRef lock.
        # (In-process store ⇒ in-process ledger; a table-format backend
        # would instead record the epoch in the same transaction,
        # e.g. txnAppId/txnVersion.)
        if epoch_id in self._applied_epochs:
            return
        idc = F.col(self._id_col) if isinstance(self._id_col, str) else self._id_col
        # drop the source column only when it is NOT already named "id"
        # (r10 review: id_col="id" dropped the just-normalized column —
        # every batch then failed with UNRESOLVED_COLUMN in put_log)
        drop = (
            [self._id_col]
            if isinstance(self._id_col, str) and self._id_col != "id"
            else []
        )
        # ONE scan of the micro-batch source: the emptiness probe and
        # put_log read the checkpointed rows, not the source again
        rows = batch_df.withColumn("id", idc).drop(*drop).localCheckpoint()
        if rows.isEmpty():
            return

        def _apply(s: DocumentStore) -> DocumentStore:
            if epoch_id in self._applied_epochs:  # raced retry
                return s
            if self._durable_path is not None and s._now() < self._durable_since:
                # the durable watermark assumes a monotone clock: a
                # regression (NTP step back, or a caller-supplied now_fn
                # behind the recovered max-tx stamp) would stamp this
                # batch's rows BELOW _durable_since, and the next
                # compaction's tx_from >= since predicate would silently
                # never flush them to the durable dataset — fail loudly
                raise RuntimeError(
                    f"DocStoreSink clock regression: now={s._now()} is before "
                    f"the durable watermark {self._durable_since}; refusing to "
                    "stamp rows the incremental compactor would never flush"
                )
            # record the epoch only AFTER put_log/compact returned (still
            # inside the swap lock): a store write runs inside its call
            # (DocumentStore._evolved), so a failed write raises here, and
            # marking first would make a failed apply look applied —
            # Spark's retry of the same epoch would hit the guard and the
            # batch's data would be silently dropped (ADVICE r2).
            new_s = s.put_log(rows, ts_col=self._ts_col)
            # boundary is read AFTER put_log stamped this batch, so the
            # NEXT compaction's >= since predicate excludes rows already
            # durable (a boundary taken before stamping would re-cover
            # every prior batch's partitions each time). A row stamped
            # exactly AT the boundary is re-covered — an idempotent
            # partition rewrite, never data loss.
            boundary = s._now()
            if self._durable_path is not None:
                # covers this batch: its tx stamps are >= _durable_since
                new_s = new_s.compact_incremental(
                    self._durable_path, since=self._durable_since
                )
                self._durable_since = boundary
            self._applied_epochs.add(epoch_id)
            return new_s

        # set-based bulk append: every row becomes a version at its own
        # event-ts in ONE put_log pass (no per-ts transactions)
        self.ref.swap(_apply)
        self.batches_applied += 1

    def attach(self, stream_df: DataFrame, checkpoint: str):
        """Start the streaming query writing into this store."""
        return (
            stream_df.writeStream.foreachBatch(self.foreach_batch)
            .option("checkpointLocation", checkpoint)
            .start()
        )
