"""Alert scheduler (SURVEY §2 I9; reference src/dataworks/utils/alert.clj:9-51).

Reference loop: every 1000 ms, query app-db for alerts whose
`:alert/next-event` valid-time has arrived (future-dated puts become
visible when now >= vt, doc/demo-app-1.org:125-127), claim each via a
match-CAS put of `:alert/claim` (alert.clj:20-31, racing nodes lose the
match), fire the alert's transactor handler with its params, then
delete the alert doc (alert.clj:30-31).

Spark mapping: alerts are documents in a :class:`DocumentStore`; due =
as-of-now visibility; claim = match_put on the unclaimed state (same
optimistic-concurrency shape, distributed-safe because the match is a
semi-join against current versions); fire = TransactorRegistry.transact;
delete = store.delete. ``tick()`` is one poll — a control-plane
APScheduler/Trigger.ProcessingTime loop calls it every poll_ms.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import functions as F

from dataworks_spark.docs.store import DocumentStore, StoreRef
from dataworks_spark.registry.transactors import TransactorRegistry


class AlertScheduler:
    #: default per-poll claim budget — the driver collects at most this
    #: many (id, handler, params) rows per tick, so a burst backlog
    #: (e.g. every alert scheduled during a downtime window coming due
    #: at once) drains in bounded batches across the reference's own
    #: 1 s poll loop instead of collecting the whole backlog in one
    #: driver round (r11 VERDICT #5: the due-set collect was bounded
    #: only "by construction" while backlogs stayed small).
    DEFAULT_CLAIM_LIMIT = 1024

    def __init__(
        self,
        store: DocumentStore | StoreRef,
        transactors: TransactorRegistry,
        poll_ms: int = 1000,  # reference timeout (alert.clj:36)
        now_fn=None,
        claim_limit: int | None = DEFAULT_CLAIM_LIMIT,
    ):
        self.ref = store if isinstance(store, StoreRef) else StoreRef(store)
        self.transactors = transactors
        self.poll_ms = poll_ms
        self._now = now_fn or _dt.datetime.utcnow
        self.claim_limit = claim_limit

    @property
    def store(self) -> DocumentStore:
        return self.ref.store

    def due_alerts(self, now: _dt.datetime | None = None):
        """Alerts visible as-of now and not yet claimed
        (alert.clj:9-18 query: [id :alert/timestamp] …)."""
        now = now or self._now()
        snap = self.store.as_of(now)
        return snap.filter(
            (F.col("doc_type") == "alert") & (F.col("claimed") == False)  # noqa: E712
        )

    def tick(self, now: _dt.datetime | None = None) -> int:
        """One scheduler poll: claim → fire → delete. Returns the number
        of alerts fired by THIS node.

        At-most-once is enforced by computing the winner set *inside*
        the atomic claim (under the StoreRef lock): only ids whose
        current version still matched unclaimed at claim time are fired.
        Fired alerts are deleted and failed ones unclaimed in a
        ``finally`` block, so a handler exception re-exposes the alert
        to the next poll (at-least-once for failed handlers) instead of
        leaving it claimed-but-undeleted forever."""
        now = now or self._now()
        due = self.due_alerts(now)
        meta = {"valid_from", "valid_to", "tx_from", "tx_to", "deleted"}
        payload_cols = [c for c in due.columns if c not in meta]
        claim_docs = due.select(*payload_cols).withColumn("claimed", F.lit(True))
        expected = due.select("id").withColumn("claimed", F.lit(False))

        won: list = []

        def _claim(s: DocumentStore) -> DocumentStore:
            # match precondition (J3; alert.clj:20-31): ids whose current
            # version is still unclaimed. Collect is bounded by the due
            # set — the reference's per-alert loop has the same shape.
            # read AT THE SCHEDULER'S CLOCK — s.latest() would use the
            # store's own now_fn, and under a simulated/future scheduler
            # clock (exactly the future-dated-alert feature) the due
            # version would be invisible to the claim: tick() silently 0
            # until wall-clock caught up (r10 review)
            current = s.as_of(now).select("id", "claimed")
            ok = current.join(expected, on=["id", "claimed"], how="left_semi").select("id")
            if self.claim_limit is not None:
                # bounded claim batch: hash-smallest ids win this tick
                # (deterministic under any partitioning, compiles to
                # TakeOrderedAndProject — only claim_limit ids per
                # partition move); the rest stay unclaimed for the next
                # poll, which the reference's 1 s loop retries anyway
                ok = (
                    ok.orderBy(F.xxhash64("id").asc(), F.col("id").asc())
                    .limit(self.claim_limit)
                )
            won.extend(
                due.join(ok, on="id", how="left_semi")
                .select("id", "handler", "params")
                .collect()
            )
            if not won:
                return s
            return s.put(claim_docs.join(ok, on="id", how="left_semi"), valid_time=now)

        self.ref.swap(_claim)
        if not won:
            return 0

        fired_ids: list = []
        failed_ids: list = []
        try:
            for r in won:
                try:
                    # await the effect so failure is observable here —
                    # the claim/unclaim protocol needs the outcome
                    # (alert.clj:29 fires in a go block; we keep the
                    # async pool but join per alert)
                    self.transactors.transact(r["handler"], r["params"]).result()
                    fired_ids.append(r["id"])
                except Exception:
                    failed_ids.append(r["id"])
        finally:
            if fired_ids:  # delete fired alerts (alert.clj:30-31)
                done = due.filter(F.col("id").isin(fired_ids)).select("id")
                self.ref.swap(lambda s: s.delete(done, valid_time=now))
            if failed_ids:  # unclaim so the next poll retries
                unclaim = (
                    due.filter(F.col("id").isin(failed_ids))
                    .select(*payload_cols)
                    .withColumn("claimed", F.lit(False))
                )
                self.ref.swap(lambda s: s.put(unclaim, valid_time=now))
        return len(fired_ids)
