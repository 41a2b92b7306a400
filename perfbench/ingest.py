"""``stream_ingest``: the demo application's write path.

One client POSTs bursts of heartbeat documents to a
:class:`CollectorServer` through one ``http.client`` connection (the
collector answers HTTP/1.0, so each request reopens its socket). The collector's spool is the
source of a :class:`StreamGraph` node whose op-chain normalises the
heartbeats; the node's stream feeds a :class:`DocStoreSink` with a
``durable_path``, so every micro-batch runs ``put_log`` and an
incremental parquet compaction. After each burst the stream is
drained with an ``availableNow`` trigger — one micro-batch per burst,
so batch count and sizes are the same on every run — and one freshness
read checks that the burst's last document is readable.

Checks: every POST is acknowledged; each freshness read returns the
last heartbeat posted for its app; at the end the durable path,
reloaded with ``DocumentStore.load``, holds exactly one current version
per posted document and the last-written heartbeat per app.
"""

from __future__ import annotations

import datetime as dt
import http.client
import json
import os
import random
import time
from collections import Counter

from common import mean, summary_ms

APPS = 12
BURST = 40
#: warm-up bursts: the first pays the cold start of every code path;
#: the JVM keeps compiling for a few bursts more (CPU per burst fell
#: from 17 s to 10 s over ten bursts on a 4-core host), and a run
#: measured during that settling swings with the host's steal time
WARM_BURSTS = (10, BURST, BURST)
EVENTS = ("started", "ok", "ok", "degraded", "ok", " OK ", "Degraded")
BASE_TS = dt.datetime(2024, 3, 1, 6, 0, 0)
SCHEMA = "app string, event string, seq long, ts string"


class StreamIngest:
    name = "stream_ingest"

    def __init__(self, spark, tracer, checker, seed: int, run_dir: str):
        self.spark, self.tr, self.ck = spark, tracer, checker
        self.rng = random.Random(seed)
        self.dir = run_dir
        self.collector = None
        self.conn = None
        self.seq = 0
        self.posted: list[tuple[str, int, dt.datetime]] = []  # (app, seq, ts)
        self.bursts: list[dict] = []  # timed-window bursts
        self.post_s: list[float] = []
        self.progress: list[dict] = []
        self.batch_rows: list[int] = []
        self.timing = False

    # -- set-up ------------------------------------------------------------
    def load(self):
        """Collector (started once), the stream graph and the sink, as
        plans over an empty store."""
        from pyspark.sql import functions as F

        from dataworks_spark.docs.sink import DocStoreSink
        from dataworks_spark.docs.store import DocumentStore, version_log
        from dataworks_spark.streaming.collector import CollectorServer
        from dataworks_spark.streaming.graph import Node, StreamGraph
        from dataworks_spark.streaming.transforms import OpChain

        if self.collector is None:
            self.collector = CollectorServer(os.path.join(self.dir, "spool")).start()
            self.collector.register("heartbeats")
            self.conn = http.client.HTTPConnection("127.0.0.1", self.collector.port, timeout=30)
        sp = self.spark
        empty = sp.createDataFrame([], "id string, app string, status string, seq long, ts timestamp")
        self.sink = DocStoreSink(
            DocumentStore(version_log(empty, "id", "ts")),
            id_col=F.concat(F.lit("app/"), F.col("app")),
            ts_col="ts",
            durable_path=os.path.join(self.dir, "user_db"),
        )
        stream = self.collector.stream(sp, "heartbeats", SCHEMA)
        self.graph = StreamGraph(sp)
        self.graph.add_source("heartbeats", lambda: stream)
        chain = (
            OpChain()
            .map(
                app=F.lower(F.trim(F.col("app"))),
                status=F.lower(F.trim(F.col("event"))),
                ts=F.to_timestamp(F.col("ts")),
            )
            .select("app", "status", "seq", "ts")
        )
        self.graph.add_node(Node("beats", chain=chain, upstreams=["heartbeats"]))

    def warm_up(self):
        for n in WARM_BURSTS:
            self.burst(n)

    def round(self, r: int):
        self.burst(BURST)

    # -- operations --------------------------------------------------------------
    def _post(self, doc: dict):
        body = json.dumps(doc).encode()

        def go():
            with self.tr.span("collector.post") as sp:
                self.conn.request("POST", "/heartbeats", body, {"Content-Type": "application/json"})
                resp = self.conn.getresponse()
                payload = resp.read()
            self.post_s.append(sp["seconds"])
            return resp.status, payload

        out = self.ck.op("post", go)
        if out is not None:
            ok = out[0] == 200 and json.loads(out[1]).get("status") == "accepted"
            self.ck.check("post ack", ok, repr(out))

    def _batch(self, batch_df, epoch_id):
        with self.tr.span("sink.batch", epoch=epoch_id):
            self.sink.foreach_batch(batch_df, epoch_id)

    def _drain(self):
        """Run the node's stream until the spool is consumed."""
        with self.tr.span("stream.drain"):
            q = (
                self.graph.build("beats")
                .writeStream.foreachBatch(self._batch)
                .trigger(availableNow=True)
                .option("checkpointLocation", os.path.join(self.dir, "ck"))
                .start()
            )
            q.awaitTermination()
            for p in q.recentProgress:
                p = p if isinstance(p, dict) else json.loads(p.json)
                self.progress.append(p)
                if p.get("numInputRows"):
                    self.batch_rows.append(int(p["numInputRows"]))
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))

    def burst(self, n: int):
        last_by_app: dict[str, int] = {}
        t_first = time.perf_counter()
        for _ in range(n):
            self.seq += 1
            app = f"app{self.rng.randrange(APPS)}"
            ts = BASE_TS + dt.timedelta(seconds=self.seq)
            doc = {
                "app": self.rng.choice([app, app.upper(), f" {app} "]),
                "event": self.rng.choice(EVENTS),
                "seq": self.seq,
                "ts": ts.isoformat(),
            }
            self._post(doc)
            self.posted.append((app, self.seq, ts))
            last_by_app[app] = self.seq
        t_acked = time.perf_counter()
        app = self.posted[-1][0]
        want = last_by_app[app]

        def go():
            self._drain()
            with self.tr.span("ingest.read"):
                return self.sink.store.entity(f"app/{app}").collect()

        rows = self.ck.op("drain+read", go)
        t_seen = time.perf_counter()
        if rows is not None:
            got = rows[0]["seq"] if len(rows) == 1 else None
            self.ck.check(f"fresh app/{app}", got == want, f"{got} != {want}")
        if self.timing:
            self.bursts.append({"docs": n, "burst_s": t_seen - t_first, "visible_s": t_seen - t_acked})

    def finish(self):
        """Reload the durable path and compare it with what was posted."""
        from pyspark.sql import functions as F

        from dataworks_spark.docs.store import DocumentStore
        from dataworks_spark.functions.timeops import NEVER

        def go():
            store = DocumentStore.load(self.spark, os.path.join(self.dir, "user_db"))
            cur = store.versions.filter(F.col("tx_to") == F.lit(NEVER)).select("id", "seq").collect()
            latest = store.latest().select("id", "seq").collect()
            return cur, latest

        out = self.ck.op("durable reload", go)
        if out is None:
            return
        cur, latest = out
        got = Counter((r["id"], r["seq"]) for r in cur)
        want = Counter((f"app/{a}", s) for a, s, _ in self.posted)
        self.ck.check("one version per posted doc", got == want, f"{len(got)} keys vs {len(want)}")
        last: dict[str, int] = {}
        for a, s, _ in self.posted:
            last[f"app/{a}"] = s
        self.ck.check("last write wins", {r["id"]: r["seq"] for r in latest} == last, "")

    def close(self):
        if self.collector is not None:
            self.collector.stop()
        if self.conn is not None:
            self.conn.close()

    # -- results -----------------------------------------------------------------
    def results(self, window_s: float) -> tuple[dict, dict]:
        """op_mean_ms is the mean burst latency, first POST to the last
        document readable."""
        docs = sum(b["docs"] for b in self.bursts)
        e2e = {
            "op_mean_ms": mean(b["burst_s"] for b in self.bursts) * 1000,
            "docs_per_s": docs / window_s,
        }
        diag = {
            "burst": summary_ms([b["burst_s"] for b in self.bursts]),
            "visible": summary_ms([b["visible_s"] for b in self.bursts]),
            "post": summary_ms(self.post_s),
            "batches": len(self.batch_rows),
            "source_rows_read": self.batch_rows,
        }
        return e2e, diag

    def layer_metrics(self) -> dict:
        tr = self.tr
        posts = summary_ms(self.post_s)
        batches = tr.find("sink.batch")
        durable = os.path.join(self.dir, "user_db")
        files = size = 0
        for root, _, names in os.walk(durable):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))

        def dur(key):
            return mean(p.get("durationMs", {}).get(key, 0) for p in self.progress if p.get("numInputRows"))

        spool = os.path.join(self.dir, "spool", "heartbeats")
        return {
            "collector.post_p50_ms": (posts.get("median", 0.0), "ms"),
            "collector.post_p90_ms": (posts.get("p90", 0.0), "ms"),
            "collector.files": (float(len(os.listdir(spool))), "count"),
            "sink.batch_ms": (mean(s["seconds"] for s in batches) * 1000, "ms"),
            "sink.batches": (float(len(batches)), "count"),
            "sink.rows_per_batch": (len(self.posted) / max(len(batches), 1), "count"),
            "sink.jobs_per_batch": (mean(tr.total(s, "jobs") for s in batches), "count"),
            "stream.latest_offset_ms": (dur("latestOffset"), "ms"),
            "stream.add_batch_ms": (dur("addBatch"), "ms"),
            "stream.trigger_ms": (dur("triggerExecution"), "ms"),
            "sink.durable_bytes": (float(size), "bytes"),
            "sink.durable_files": (float(files), "count"),
            "sink.bytes_per_doc": (size / max(len(self.posted), 1), "bytes"),
        }
