"""Recursive rule evaluation — transitive closure (SURVEY §2 C5).

The reference exposes recursive Datalog rules through Crux
(`(depends d1 d2)` over stored-function dependency edges,
db/app_db.clj:121-126). Spark has no distinct-union recursive CTE, so
closure is a driver-side fixpoint loop, by path doubling / repeated
squaring:

    R ← R ∪ (R ∘ R)

reaches paths of length 2^k after k rounds, so a depth-d graph needs
⌈log₂ d⌉ driver round-trips instead of the d of a frontier ⋈ edges
loop. Each round is one self-join + dedup + union. At 100 TB scale,
driver round-trips (scheduler barriers, lineage checkpoints) dominate
over join work, so log-depth wins decisively for deep graphs. (General
semi-naive evaluation of Datalog rules lives in
``docs.datalog.DatalogDB._eval_component``; it shares this module's
:class:`_FixpointRuntime` — one private loop session per call and the
per-round sizing.)

Mechanics:
  - `localCheckpoint()` per round truncates lineage so the plan doesn't
    grow exponentially;
  - cycle safety: the dedup against the accumulated closure means a
    revisited pair never grows the relation, so convergence (no growth)
    is reached on cyclic graphs too (the reference ships cycle
    detection for the same reason, utils/common.clj:461-484);
  - `max_iterations` caps runaway recursion.
"""

from __future__ import annotations

import math
import threading

from pyspark import RDD
from pyspark.sql import DataFrame


#: assumed bytes/row for sizing fixpoint shuffles (two longs + overhead).
_ROW_BYTES = 64
#: post-shuffle partition target — Spark's AQE advisory size.
_TARGET_PARTITION_BYTES = 64 << 20

# pyspark's SparkSession constructor re-binds the process-global
# ``RDD.toDF`` to the newest session; loop sessions put it back under
# this lock so concurrent loops cannot leave it on one of theirs
_NEW_SESSION_LOCK = threading.Lock()


def _lift(df: DataFrame, session) -> DataFrame:
    """Re-root ``df``'s logical plan on another same-context session, so
    the next ACTION on it plans under that session's conf. Goes through
    the internal ``classic.Dataset.ofRows`` (Spark 4's classic
    runtime); the fixpoint tests pin that results land on the caller's
    session."""
    jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.logicalPlan()
    )
    return DataFrame(jdf, session)


class _FixpointRuntime:
    """One fixpoint call's private loop session and per-round sizing.

    ``session`` is a fresh ``newSession()`` of the caller's session —
    same SparkContext, executors and cache manager, its OWN SQL conf —
    made for this call and dropped with it. Loops share no settings
    with the caller or with each other, so nothing is restored on exit
    and two threads' loops on one parent cannot leave each other's
    confs behind. The caller's session timezone is copied (query
    semantics depend on it; later ``conf.set`` calls on the parent do
    not reach a child session).

    The session starts with AQE ON whatever the parent's setting
    (inheriting AQE=off was measured to blow the fixpoint queries up
    4-6x) and byte-based coalescing (``parallelismFirst=false``) for
    the work whose size the driver does not know yet — a closure's
    seed, ``near_dup_clusters``' label rounds: a tiny input lands on
    1-2 tasks per stage, a hub-blown one keeps byte-proportional
    parallelism.

    ``rt(rows)`` is called before each counted round with the rows the
    driver just counted. It suspends AQE — the driver measures every
    round's cardinality, the runtime statistic AQE coalescing uses,
    one stage earlier, so AQE's per-stage re-planning is pure latency —
    and sets shuffle partitions to ``rows·growth·row_bytes / 64 MB``
    (floor 1, no cap: a cluster-scale relation gets cluster-scale
    parallelism), kept in ``rt.partitions``; a 20k-row round then
    schedules 1 task per stage instead of the session default's 32+.
    ``growth`` is twice the last observed growth, at least 2: a
    squaring can grow a closure quadratically (hub graphs), so a
    multiplicative ramp is caught a round early and a mis-size lasts
    one round. ``rt.lift(df)`` re-roots a relation on the loop session
    so its checkpoint+count action plans there."""

    def __init__(self, spark):
        with _NEW_SESSION_LOCK:
            to_df = RDD.toDF
            self.session = spark.newSession()
            RDD.toDF = to_df
        for key, value in (
            ("spark.sql.session.timeZone", spark.conf.get("spark.sql.session.timeZone")),
            ("spark.sql.adaptive.enabled", "true"),
            ("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"),
        ):
            self.session.conf.set(key, value)
        self.partitions: int | None = None
        self._rows: int | None = None
        self._growth = 2.0

    def __call__(self, rows: int) -> None:
        if self._rows is not None:
            self._growth = max(2.0, 2.0 * rows / max(self._rows, 1))
        self._rows = rows
        self.partitions = max(
            1,
            math.ceil(int(rows * self._growth) * _ROW_BYTES / _TARGET_PARTITION_BYTES),
        )
        self.session.conf.set("spark.sql.adaptive.enabled", "false")
        self.session.conf.set("spark.sql.shuffle.partitions", str(self.partitions))

    def accumulate(self, rel: DataFrame, new: DataFrame) -> DataFrame:
        """``rel ∪ new`` coalesced to this round's partition count. A
        bare union carries both inputs' partitions, so a relation that
        is re-checkpointed every round would gain ``rt.partitions``
        partitions (and tasks) per round; the narrow coalesce keeps it
        flat without a shuffle."""
        return rel.unionByName(new).coalesce(self.partitions)

    def lift(self, df: DataFrame) -> DataFrame:
        return _lift(df, self.session)


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    strict: bool = True,
    depth_bound: int | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """All (src, dst) pairs connected by ≥1 edge-hops, by path doubling.

    ``strict=True`` (default) raises ``RuntimeError`` if the fixpoint
    has not converged after ``max_iterations`` squaring rounds — a
    silently partial closure is a wrong answer, not a result. Pass
    ``strict=False`` only when a bounded-depth closure is the intended
    semantics (e.g. "reachable within 4·2^k hops").

    ``depth_bound``: caller-known upper bound on the longest simple
    path (e.g. ⌈log₂ max_key⌉ for a k→k/2 forest). The loop then stops
    after ⌈log₂ d/4⌉ measured rounds (the seed covers depth ≤4)
    WITHOUT the final no-growth probe round — convergence is proved by
    the bound instead of observed. The early cur==prev exit still
    applies if the graph closes sooner.

    ``assume_distinct``: the caller proves ``edges`` is already
    duplicate-free (e.g. a checkpointed dropDuplicates output), so the
    initial dedup shuffle is skipped."""
    # ONE Spark job per round: the non-eager localCheckpoint is
    # materialized BY the convergence count() — checkpoint + emptiness
    # probe fused into a single action (vs. the eager-checkpoint +
    # count formulation's two). Convergence = the closure stopped
    # growing. The seed folds the first TWO squarings
    # (R = dedup(E ∪ E∘E); seed = R ∪ R∘R, depth ≤4) into the initial
    # materialization — the mid-plan dropDuplicates is a shuffle stage
    # inside the same job, so path multiplicities stay deduplicated
    # between the squarings while two driver rounds' worth of depth
    # land in one barrier. Driver round-trips, not join work, dominate
    # small fixpoint rounds (measured ~12% off the closure steady
    # state); at cluster scale the shuffles dominate and this is
    # neutral. (Chaining ALL rounds lazily was measured SLOWER:
    # analysis/codegen of the nested self-join plans dominates.)
    def _square(rel: DataFrame) -> DataFrame:
        return rel.unionByName(
            rel.withColumnRenamed(dst, "__mid")
            .join(rel.withColumnRenamed(src, "__mid"), on="__mid")
            .select(src, dst)
        )

    spark = edges.sparkSession
    rt = _FixpointRuntime(spark)
    # Seed depth stays at TWO squarings (depth ≤4 in one job): folding
    # more was measured SLOWER (r5) — the squaring join's two sides
    # rename different columns to __mid, so they are different subplans
    # whose exchanges can't fully reuse each other, and the recomputed
    # work compounds per nesting level. Two levels is the measured
    # sweet spot between driver barriers saved and plan re-execution.
    # The seed materializes under AQE with aggressive byte-based
    # coalescing: |E∘E| is NOT bounded by any multiple of |E| (a hub
    # vertex squares quadratically), so no driver-side estimate can
    # safely CAP the seed's partitions — a hard cap is a floor AQE
    # cannot raise, and a dense graph would funnel a quadratic dedup
    # through one task. Instead the shuffle starts at the session
    # partition count (the pre-existing safe behavior) and
    # ``parallelismFirst=false`` lets AQE coalesce post-shuffle
    # partitions down to the 64 MB advisory size from RUNTIME stats —
    # a tiny seed lands on 1-2 tasks per stage (the measured win)
    # while a blown-up seed keeps its parallelism. Only the loop
    # rounds below run AQE-off — there the driver holds an exact
    # materialized count each round. The seed is LIFTED onto the
    # call's loop session, so the caller's session confs are never
    # touched.
    base = edges.select(src, dst)
    if not assume_distinct:
        base = base.dropDuplicates()
    seed = _square(base)
    seed_depth = 2
    if depth_bound is None or depth_bound > 2:
        seed = _square(seed.dropDuplicates())
        seed_depth = 4
    closure = rt.lift(seed.dropDuplicates()).localCheckpoint(eager=False)
    rounds = max_iterations
    bound_proven = False
    if depth_bound is not None:
        if seed_depth >= depth_bound:
            # the seed alone covers the bound — converged by
            # construction; the caller's action materializes it
            return _lift(closure, spark)
        # seed covers depth ≤ seed_depth; after r rounds, depth ≤
        # seed_depth·2^r — the bound proves convergence, no trailing
        # no-growth probe needed. The proof only holds if the loop
        # actually runs that many rounds: when max_iterations clamps
        # below the bound-derived count, convergence is NOT proven and
        # strict mode must still raise.
        need = max(0, math.ceil(math.log2(max(depth_bound, seed_depth) / seed_depth)))
        bound_proven = need <= max_iterations
        rounds = min(rounds, need)
    if bound_proven and rounds <= 2:
        # ZERO internal barriers: with ≤2 bound-proven rounds left
        # there is no sized loop to run, so the seed's convergence
        # count — whose only remaining job was materializing the
        # checkpoint — is dropped too. The trailing squarings chain
        # lazily over the checkpoint-marked seed; the caller's own
        # action materializes seed and squarings in ONE job (the
        # checkpoint node still computes once and both join sides of
        # each squaring read its stored partitions — this is NOT the
        # measured unmaterialized-chain dead end, which lacked the
        # mid-chain checkpoint).
        out = closure
        for _ in range(rounds):
            out = _square(out).dropDuplicates()
        return _lift(out, spark)
    prev = closure.count()
    for _ in range(rounds):
        rt(prev)
        closure = rt.lift(
            _square(closure).dropDuplicates()
        ).localCheckpoint(eager=False)
        cur = closure.count()
        if cur == prev:
            return _lift(closure, spark)
        prev = cur
    if strict and not bound_proven:
        raise RuntimeError(
            f"transitive_closure did not converge in {max_iterations} rounds; "
            "raise max_iterations (or pass strict=False for a bounded-depth closure)"
        )
    return _lift(closure, spark)
