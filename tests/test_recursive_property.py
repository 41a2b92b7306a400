"""Property-based test for transitive closure (SURVEY §2 C5).

Random sparse digraphs — including cycles, self-loops, diamonds, and
disconnected nodes — closed by a brute-force Python reachability
interpreter; the path-doubling closure must produce the identical pair
set. Protects the count-based convergence rewrite in ops/recursive.py.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dataworks_spark.ops.recursive import transitive_closure


def _brute_closure(edges: list[tuple[int, int]]) -> set[tuple[int, int]]:
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    out: set[tuple[int, int]] = set()
    for start in adj:
        seen: set[int] = set()
        stack = list(adj[start])
        while stack:
            n = stack.pop()
            if n in seen:
                continue
            seen.add(n)
            stack.extend(adj.get(n, ()))
        out.update((start, n) for n in seen)
    return out


_LOOP_CONFS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")

edges_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=14, unique=True
)


@given(edges=edges_strategy)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_closure_matches_bruteforce(spark, edges):
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {(r.src, r.dst) for r in transitive_closure(df, "src", "dst").collect()}
    assert got == _brute_closure(edges), f"edges={edges}"


def test_depth_bound_clamped_by_max_iterations_still_strict(spark):
    """depth_bound proves convergence only if the loop actually runs the
    bound-derived number of rounds; when max_iterations clamps below it,
    strict mode must raise instead of returning a partial closure."""
    # chain 0->1->...->40: depth 40 needs ceil(log2(40/4)) = 4 rounds
    edges = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(edges, "src int, dst int")
    with pytest.raises(RuntimeError, match="did not converge"):
        transitive_closure(df, "src", "dst", depth_bound=40, max_iterations=1)
    # unclamped, the same bound closes the chain without a probe round
    got = {
        (r.src, r.dst)
        for r in transitive_closure(df, "src", "dst", depth_bound=40).collect()
    }
    assert got == _brute_closure(edges)


def test_depth_bound_loose_is_still_exact(spark):
    """A depth_bound far above the true depth must not change results
    (extra rounds are no-growth; early cur==prev exit fires)."""
    edges = [(i, i + 1) for i in range(6)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {
        (r.src, r.dst)
        for r in transitive_closure(df, "src", "dst", depth_bound=1000).collect()
    }
    assert got == _brute_closure(edges)


def test_fixpoint_confs_isolated_from_caller_session(spark):
    """The fixpoint loop must never mutate the caller's session confs
    (VERDICT r4 item 8): rounds size their shuffles and suspend AQE on
    a private loop session, so a query planned concurrently on the
    caller's session sees its own settings throughout."""
    before = {k: spark.conf.get(k) for k in _LOOP_CONFS}
    edges = [(i, i + 1) for i in range(20)]
    df = spark.createDataFrame(edges, "src int, dst int")
    got = {(r.src, r.dst) for r in transitive_closure(df, "src", "dst").collect()}
    assert got == _brute_closure(edges)
    after = {k: spark.conf.get(k) for k in before}
    assert after == before, f"caller confs mutated: {after}"


def test_interleaved_fixpoint_loops_share_no_session(spark, monkeypatch):
    """Two closures on one caller session, run by two threads whose
    loops interleave (enter A, enter B, exit A, exit B), each plan on a
    session of their own. Neither leaves its loop confs on the caller,
    on pyspark's process-global ``RDD.toDF`` binding, or on a later
    loop: a later closure's seed still plans under AQE."""
    import threading

    from pyspark import RDD

    from dataworks_spark.ops import recursive

    before = {k: spark.conf.get(k) for k in _LOOP_CONFS}
    to_df = RDD.toDF
    barrier = threading.Barrier(2, timeout=120)
    a_done = threading.Event()
    sessions: dict[str, object] = {}
    orig_call = recursive._FixpointRuntime.__call__

    def synced(self, rows):
        orig_call(self, rows)
        name = threading.current_thread().name
        if name not in sessions:  # first round of this thread's loop
            sessions[name] = self.session
            barrier.wait()  # both loops are inside their rounds
            if name == "B":
                assert a_done.wait(timeout=120)  # A's loop exits first

    monkeypatch.setattr(recursive._FixpointRuntime, "__call__", synced)
    chains = {"A": [(i, i + 1) for i in range(20)], "B": [(i, i + 1) for i in range(30)]}
    got: dict[str, set] = {}

    def run(name):
        try:
            df = spark.createDataFrame(chains[name], "src int, dst int")
            got[name] = {(r.src, r.dst) for r in transitive_closure(df).collect()}
        finally:
            if name == "A":
                a_done.set()

    threads = [threading.Thread(target=run, args=(n,), name=n) for n in ("A", "B")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    for name, edges in chains.items():
        assert got[name] == _brute_closure(edges), name
    assert sessions["A"] is not sessions["B"]
    assert all(s is not spark for s in sessions.values())
    assert {k: spark.conf.get(k) for k in before} == before
    assert RDD.toDF is to_df

    monkeypatch.undo()
    plans: list[str] = []
    df = spark.createDataFrame([(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)], "src int, dst int")
    orig_checkpoint = type(df).localCheckpoint

    def spy(self, *args, **kwargs):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return orig_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(type(df), "localCheckpoint", spy)
    got_later = {(r.src, r.dst) for r in transitive_closure(df).collect()}
    assert got_later == _brute_closure([(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)])
    assert plans[0].startswith("AdaptiveSparkPlan"), plans[0]  # the seed
