"""``docstore_serve``: the app-db/user-db serving surface.

Each round is the same fixed sequence on one client:

1. ``put_log`` of a batch over a few thousand entity ids, some rows
   future-dated (valid time after the store clock);
2. reads: an ``entity`` lookup, an ``as_of`` count/sum and a Datalog
   join/aggregate query over ``latest()``;
3. ``delete`` of a set of live ids;
4. the same reads again;
5. one recursive ``depends`` rule query over a function-dependency DAG
   ``DAG_LEVELS - 1`` edges deep.

Two writes per round, so the odd/even write parity of the store's
lineage truncation (``DocumentStore._TRUNCATE_EVERY``) is the same mix
in every round (the warm-up makes one write first, so step 2 reads
after an even write and step 4 after an odd one). Every output is compared with :class:`Model`, a plain-Python
bitemporal model of the same writes, and with a BFS closure.
"""

from __future__ import annotations

import datetime as dt
import random

from common import mean, summary_ms

ENTITIES = 2000
APPS = 16
TIERS = ("gold", "silver", "bronze")
BATCH = 500
FUTURE_SHARE = 0.05
DELETES = 50
DAG_LEVELS = 11
DAG_WIDTH = 12
DAG_FANOUT = 2
T0 = dt.datetime(2024, 6, 1)
STEP = dt.timedelta(hours=1)


# -- the oracle ------------------------------------------------------------


class Model:
    """Current-knowledge versions per id: ``[valid_from, valid_to,
    app, value, deleted]`` with ``valid_to`` None for open. Writes
    follow the store's documented semantics: a put at valid time t
    shortens the version covering t to end at t and holds until the
    next known version's valid_from."""

    def __init__(self):
        self.cur: dict[str, list[list]] = {}
        self.rows = 0  # physical version-log rows, retired ones included

    def load(self, docs):
        for i, app, value, ts in docs:
            self.cur[i] = [[ts, None, app, value, False]]
        self.rows = len(docs)

    def _put(self, i, t, app, value, deleted) -> int:
        """Apply one put; returns how many existing versions it cut."""
        vs = self.cur.setdefault(i, [])
        cut = 0
        for v in vs:
            if v[0] <= t and (v[1] is None or t < v[1]):
                v[1] = t
                cut += 1
        nxt = min((v[0] for v in vs if v[0] > t), default=None)
        vs.append([t, nxt, app, value, deleted])
        return cut

    def put_log(self, batch):
        # set-based form: each pre-batch version containing a batch
        # timestamp is cut once (at the earliest), each batch row adds one
        hit = set()
        for i, _, _, t in batch:
            for k, v in enumerate(self.cur.get(i, [])):
                if v[0] <= t and (v[1] is None or t < v[1]):
                    hit.add((i, k))
        for i, app, value, t in sorted(batch, key=lambda r: (r[0], r[3])):
            self._put(i, t, app, value, False)
        self.rows += len(batch) + len(hit)

    def delete(self, ids, t):
        cut = sum(self._put(i, t, None, None, True) for i in ids)
        self.rows += len(ids) + cut

    def latest(self, i, now):
        vs = [v for v in self.cur.get(i, []) if (v[1] is None or v[0] < v[1]) and v[0] <= now]
        if not vs:
            return None
        v = max(vs, key=lambda v: v[0])
        return None if v[4] else (v[2], v[3])

    def live_ids(self, now):
        return [i for i in self.cur if self.latest(i, now) is not None]

    def as_of(self, t):
        n = s = 0
        for vs in self.cur.values():
            for v in vs:
                if v[0] <= t and (v[1] is None or t < v[1]) and not v[4]:
                    n += 1
                    s += v[3]
        return n, s

    def tiers(self, now, tier_of):
        out: dict[str, list[int]] = {}
        for i in self.cur:
            doc = self.latest(i, now)
            if doc is not None:
                acc = out.setdefault(tier_of[doc[0]], [0, 0])
                acc[0] += 1
                acc[1] += doc[1]
        return {k: tuple(v) for k, v in out.items()}

    def vfs(self, i):
        return {v[0] for v in self.cur.get(i, [])}


def closure(edges, start):
    adj: dict[str, list[str]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    seen, stack = set(), [start]
    while stack:
        for b in adj.get(stack.pop(), ()):
            if b not in seen:
                seen.add(b)
                stack.append(b)
    return seen


# -- inputs ------------------------------------------------------------------


def make_inputs(seed: int) -> dict:
    rng = random.Random(seed)
    apps = [(f"app/{k}", f"app{k}", TIERS[k % len(TIERS)]) for k in range(APPS)]
    docs = [
        (
            f"user/{i}",
            f"app{rng.randrange(APPS)}",
            rng.randrange(1000),
            T0 - dt.timedelta(days=30) + dt.timedelta(seconds=rng.randrange(29 * 86400), microseconds=i),
        )
        for i in range(ENTITIES)
    ]
    # every node depends on DAG_FANOUT nodes of the next level, so the
    # fixpoint does the same number of rounds whatever the seed
    edges = []
    for lv in range(DAG_LEVELS - 1):
        for j in range(DAG_WIDTH):
            for k in rng.sample(range(DAG_WIDTH), DAG_FANOUT):
                edges.append((f"fn/{lv}-{j}", f"fn/{lv + 1}-{k}"))
    # the warm-up rule runs over a shallow DAG of its own
    small = [(f"fn/w{lv}-{j}", f"fn/w{lv + 1}-{(j + d) % 4}") for lv in range(2) for j in range(4) for d in (0, 1)]
    return {"rng": rng, "apps": apps, "docs": docs, "edges": edges, "small_edges": small}


def make_batch(rng, model: Model, now, size: int) -> list:
    rows, taken = [], set()
    for _ in range(size):
        i = f"user/{rng.randrange(ENTITIES)}"
        if rng.random() < FUTURE_SHARE:
            t = now + dt.timedelta(seconds=rng.randrange(3600, 6 * 3600))
        else:
            t = now - dt.timedelta(seconds=rng.randrange(1, 36 * 3600))
        t += dt.timedelta(microseconds=rng.randrange(1, 999_999))
        while (i, t) in taken or t in model.vfs(i):
            t += dt.timedelta(microseconds=1)
        taken.add((i, t))
        rows.append((i, f"app{rng.randrange(APPS)}", rng.randrange(1000), t))
    return rows


# -- the workload ---------------------------------------------------------------

def _rule():
    from dataworks_spark.docs.datalog import Rule

    return Rule(
        "depends",
        head=("?a", "?b"),
        bodies=[
            [("?a", "fn/dep", "?b")],
            [("?a", "fn/dep", "?m"), ("depends", "?m", "?b")],
        ],
    )


QUERY_FIND = ["?tier", ("count", "?e", "n"), ("sum", "?v", "total")]
QUERY_WHERE = [
    ("?e", "user/app", "?app"),
    ("?e", "user/value", "?v"),
    ("?a", "app/name", "?app"),
    ("?a", "app/tier", "?tier"),
]


class DocstoreServe:
    name = "docstore_serve"

    def __init__(self, spark, tracer, checker, seed: int, run_dir: str):
        self.spark, self.tr, self.ck = spark, tracer, checker
        self.inp = make_inputs(seed)
        self.rng = self.inp["rng"]
        self.tier_of = {name: tier for _, name, tier in self.inp["apps"]}
        self.now = T0
        self.writes = 0  # parity of the store's write chain
        self.docs_written = 0
        self.ops: list[tuple[str, float, int]] = []  # (kind, seconds, parity) in the window
        self.timing = False

    # -- set-up ------------------------------------------------------------
    def load(self):
        """Hand the generated inputs to the program: the initial
        version log and the app and DAG namespaces, as plans that the
        first operation materializes."""
        from dataworks_spark.docs.datalog import DatalogDB
        from dataworks_spark.docs.store import DocumentStore, version_log

        sp = self.spark
        docs = sp.createDataFrame(self.inp["docs"], "id string, app string, value long, ts timestamp")
        self.store = DocumentStore(version_log(docs, "id", "ts").localCheckpoint(eager=False), now_fn=lambda: self.now)
        self.db = DatalogDB(sp)
        self.db.register("app", sp.createDataFrame(self.inp["apps"], "id string, name string, tier string"), "id")
        self.db.register("fn", sp.createDataFrame(self.inp["edges"], "id string, dep string"), "id")
        self.warm_db = DatalogDB(sp)
        self.warm_db.register("fn", sp.createDataFrame(self.inp["small_edges"], "id string, dep string"), "id")
        self.model = Model()
        self.model.load(self.inp["docs"])
        self.writes = 0

    def warm_up(self):
        """One operation of each type, checked like the rest; the
        reads run on the fresh store, the rule over a shallow DAG."""
        self.lookup(self._some_id())
        self.as_of(self.now - dt.timedelta(days=3))
        self.query()
        self.rule(self.warm_db, "fn/w0-0", self.inp["small_edges"])
        self.write_log(batch_size=50)

    def round(self, r: int):
        batch_ids = self.write_log()
        self.lookup(batch_ids[r % len(batch_ids)])
        self.as_of(self.now - dt.timedelta(hours=12))
        self.query()
        self.write_delete()
        self.lookup(self._some_id())
        self.as_of(self.now + dt.timedelta(hours=3))
        self.query()
        self.rule(self.db, f"fn/0-{self.rng.randrange(DAG_WIDTH)}", self.inp["edges"])

    def finish(self):
        """Nothing is left to check: every read was compared with the
        model as it ran."""

    def close(self):
        pass

    # -- operations ------------------------------------------------------------
    def _some_id(self):
        return f"user/{self.rng.randrange(ENTITIES)}"

    def _op(self, kind, plan, execute, **attrs):
        """plan() calls the public API, execute(planned) runs the
        action; both timed, inside one span per operation. Returns the
        action's output, or None if the operation raised."""

        def go():
            with self.tr.span(kind, parity=self.writes % 2, **attrs) as sp:
                with self.tr.span(kind + ".plan") as p:
                    planned = plan()
                with self.tr.span(kind + ".exec") as e:
                    out = execute(planned)
            sp["plan_s"], sp["exec_s"] = p["seconds"], e["seconds"]
            return out, sp["seconds"]

        res = self.ck.op(kind, go)
        if res is None:
            return None
        out, seconds = res
        if self.timing:
            self.ops.append((kind, seconds, self.writes % 2))
        return out

    def _write(self, op, plan, n, apply_to_model):
        """A write executes with ``versions.count()``; the row count
        must match the model's after the same write."""
        out = self._op("store.write", plan, lambda s: (s, s.versions.count()), op=op, rows=n)
        if out is None:
            return
        self.store, rows = out
        self.writes += 1
        apply_to_model()
        if self.timing:
            self.docs_written += n
        self.ck.check(f"{op} version rows", rows == self.model.rows, f"{rows} != {self.model.rows}")

    def write_log(self, batch_size: int = BATCH):
        self.now += STEP
        rows = make_batch(self.rng, self.model, self.now, batch_size)
        df = self.spark.createDataFrame(rows, "id string, app string, value long, ts timestamp")
        self._write("put_log", lambda: self.store.put_log(df), len(rows), lambda: self.model.put_log(rows))
        return [r[0] for r in rows]

    def write_delete(self, n: int = DELETES):
        self.now += STEP
        ids = sorted(self.rng.sample(self.model.live_ids(self.now), n))
        df = self.spark.createDataFrame([(i,) for i in ids], "id string")
        self._write("delete", lambda: self.store.delete(df), n, lambda: self.model.delete(ids, self.now))

    def lookup(self, doc_id):
        rows = self._op("store.lookup", lambda: self.store.entity(doc_id), lambda df: df.collect())
        if rows is not None:
            got = (rows[0]["app"], rows[0]["value"]) if rows else None
            want = self.model.latest(doc_id, self.now)
            self.ck.check(f"entity {doc_id}", len(rows) <= 1 and got == want, f"{got} != {want}")

    def as_of(self, t):
        from pyspark.sql import functions as F

        rows = self._op(
            "store.asof",
            lambda: self.store.as_of(t).agg(F.count("*"), F.sum("value")),
            lambda df: df.collect(),
        )
        if rows is not None:
            got = (rows[0][0], rows[0][1] or 0)
            want = self.model.as_of(t)
            self.ck.check(f"as_of {t}", got == want, f"{got} != {want}")

    def query(self):
        def plan():
            self.db.register("user", self.store.latest(), "id")
            return self.db.q(QUERY_FIND, QUERY_WHERE)

        rows = self._op("datalog.query", plan, lambda df: df.collect())
        if rows is not None:
            got = {r["tier"]: (r["n"], r["total"]) for r in rows}
            want = self.model.tiers(self.now, self.tier_of)
            self.ck.check("datalog tiers", got == want, f"{got} != {want}")

    def rule(self, db, start, edges):
        rows = self._op(
            "datalog.rule",
            lambda: db.q(["?b"], [("depends", start, "?b")], rules=[_rule()]),
            lambda df: df.collect(),
        )
        if rows is not None:
            got = {r["b"] for r in rows}
            want = closure(edges, start)
            self.ck.check(f"depends {start}", got == want, f"{len(got)} != {len(want)}")

    # -- results ------------------------------------------------------------------
    def results(self, window_s: float) -> tuple[dict, dict]:
        """End-to-end values and diagnostics from the timed window."""
        by_kind: dict[str, list[float]] = {}
        by_parity: dict[str, list[float]] = {"odd": [], "even": []}
        for kind, s, parity in self.ops:
            by_kind.setdefault(kind, []).append(s)
            if kind in ("store.lookup", "store.asof", "datalog.query"):
                by_parity["odd" if parity else "even"].append(s)
        e2e = {
            "op_mean_ms": mean(s for _, s, _ in self.ops) * 1000,
            "docs_per_s": self.docs_written / window_s,
        }
        diag = {k: summary_ms(v) for k, v in by_kind.items()}
        diag.update({f"read_after_{k}_write": summary_ms(v) for k, v in by_parity.items()})
        return e2e, diag

    def layer_metrics(self) -> dict:
        """Per-layer values from the traced spans of the timed window
        and warm-up alike (both run the same calls)."""
        tr = self.tr
        out = {}
        for kind, key in (("store.write", "write"), ("store.lookup", "lookup"), ("store.asof", "asof")):
            spans = tr.find(kind)
            out[f"store.{key}.plan_ms"] = (mean(s["plan_s"] for s in spans) * 1000, "ms")
            out[f"store.{key}.exec_ms"] = (mean(s["exec_s"] for s in spans) * 1000, "ms")
            for k in ("jobs", "stages", "tasks"):
                out[f"store.{key}.{k}"] = (mean(tr.total(s, k) for s in spans), "count")
        reads = tr.find("store.lookup") + tr.find("store.asof")
        for parity, label in ((1, "odd"), (0, "even")):
            js = [tr.total(s, "jobs") for s in reads if s["parity"] == parity]
            out[f"store.read_jobs_after_{label}"] = (mean(js), "count")
        out["store.versions_rows"] = (float(self.model.rows), "count")
        qs = tr.find("datalog.query")
        out["datalog.query.compile_ms"] = (mean(s["plan_s"] for s in qs) * 1000, "ms")
        out["datalog.query.exec_ms"] = (mean(s["exec_s"] for s in qs) * 1000, "ms")
        out["datalog.query.jobs"] = (mean(tr.total(s, "jobs") for s in qs), "count")
        out["datalog.query.tasks"] = (mean(tr.total(s, "tasks") for s in qs), "count")
        # the timed rule queries run over the deep DAG (the warm-up one
        # over a shallow DAG is left out)
        rs = tr.find("datalog.rule")[1:]
        out["datalog.rule.ms"] = (mean(s["seconds"] for s in rs) * 1000, "ms")
        out["datalog.rule.jobs"] = (mean(tr.total(s, "jobs") for s in rs), "count")
        out["datalog.rule.tasks"] = (mean(tr.total(s, "tasks") for s in rs), "count")
        stage_tasks, first, last = [], [], []
        for s in rs:
            per_job = [t for c in tr.children(s) for t in c.get("job_tasks", [])]
            stage_tasks += [t for c in tr.children(s) for t in c.get("stage_tasks", [])]
            if per_job:
                first.append(per_job[0])
                last.append(per_job[-1])
        out["datalog.rule.max_stage_tasks"] = (float(max(stage_tasks, default=0)), "count")
        out["datalog.rule.first_job_tasks"] = (mean(first), "count")
        out["datalog.rule.last_job_tasks"] = (mean(last), "count")
        return out

