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
per-round sizing, :func:`adaptive_rounds`.)

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
from contextlib import contextmanager

from pyspark.sql import DataFrame


#: assumed bytes/row for sizing fixpoint shuffles (two longs + overhead).
_ROW_BYTES = 64
#: post-shuffle partition target — Spark's AQE advisory size.
_TARGET_PARTITION_BYTES = 64 << 20


def _fixpoint_session(spark):
    """The dedicated fixpoint session for ``spark``: a cached
    ``newSession()`` — same SparkContext, executors, and (shared)
    cache manager, but its OWN SQL conf — so fixpoint loops can size
    shuffles and suspend AQE without mutating the caller's
    session-global confs (a concurrent query on the caller's session
    is never planned under loop-tuned settings). Confs a query's
    semantics depend on (session timezone) are mirrored from the
    parent on every entry, since runtime ``conf.set`` calls on the
    parent don't propagate to an already-created child session."""
    fs = getattr(spark, "_dataworks_fixpoint_session", None)
    if fs is None:
        fs = spark.newSession()
        # byte-based coalescing (not a parallelism floor) for the one
        # AQE-on materialization (the seed): a tiny seed lands on 1-2
        # tasks, a hub-blown seed keeps byte-proportional parallelism
        fs.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # AQE pinned ON regardless of the parent session's setting: the
        # seed materialization and the label-propagation loops (see
        # llm/dedup.near_dup_clusters) depend on byte-based coalescing;
        # inheriting a parent's AQE=off was measured to blow the
        # fixpoint queries up 4-6x. adaptive_rounds still suspends AQE
        # round-by-round inside its own loop (save/restore on fs).
        fs.conf.set("spark.sql.adaptive.enabled", "true")
        try:
            spark._dataworks_fixpoint_session = fs
        except Exception:  # noqa: BLE001 — unexpected immutable session obj
            pass
    fs.conf.set(
        "spark.sql.session.timeZone", spark.conf.get("spark.sql.session.timeZone")
    )
    return fs


def _lift(df: DataFrame, session) -> DataFrame:
    """Re-root ``df``'s logical plan on another same-context session, so
    the next ACTION on it plans under that session's conf. Falls back to
    returning ``df`` unchanged if the internal Dataset API is absent
    (e.g. a future Connect-only runtime) — the loop then runs unisolated
    on the caller's session, which is correct, just less polite."""
    try:
        jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            session._jsparkSession, df._jdf.logicalPlan()
        )
        return DataFrame(jdf, session)
    except Exception:  # noqa: BLE001
        return df


class _FixpointRuntime:
    """Yielded by :func:`adaptive_rounds`. Callable (``rt(rows)``)
    resizes the loop session's shuffle partitions from the exact
    materialized count and keeps that count in ``rt.partitions``;
    ``rt.lift(df)`` re-roots a round's relation on the loop session so
    its checkpoint+count action executes there."""

    def __init__(self, spark):
        self.session = _fixpoint_session(spark)
        self.partitions: int | None = None

    def __call__(self, rows: int) -> None:
        self.partitions = max(1, math.ceil(rows * _ROW_BYTES / _TARGET_PARTITION_BYTES))
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


@contextmanager
def adaptive_rounds(spark):
    """Per-round adaptive shuffle parallelism for driver-side fixpoint
    loops, scoped to an ISOLATED session.

    Every fixpoint round materializes and counts its relation, so the
    driver KNOWS the data size before planning the next round — the same
    runtime statistic AQE coalescing uses, available one stage earlier.
    Yields a runtime whose ``rt(rows)`` sets shuffle partitions to
    ``rows·row_bytes / 64 MB`` (floor 1, no cap: a cluster-scale
    relation gets cluster-scale parallelism) so a 20k-row round
    schedules 1 task per stage instead of the session default's 32+ —
    task scheduling, not join work, dominates small fixpoint rounds.
    Loop relations are re-rooted onto the loop session with
    ``rt.lift(df)`` before their materializing action.

    AQE is suspended INSIDE the loop (and restored on exit): adaptive
    execution exists to fix unknown post-shuffle sizes at runtime, but a
    fixpoint driver measures every round's cardinality anyway — inside
    the loop AQE's per-stage re-planning round-trips are pure latency on
    work whose partitioning was just set from exact counts.

    All of this happens on :func:`_fixpoint_session` — the caller's
    session confs are never touched, so queries planned concurrently on
    the caller's session are unaffected. (Two fixpoint loops on the
    same parent session still share the loop session — fixpoints
    themselves are driver-sequential by construction.)"""
    rt = _FixpointRuntime(spark)
    fs = rt.session
    orig = fs.conf.get("spark.sql.shuffle.partitions")
    orig_aqe = fs.conf.get("spark.sql.adaptive.enabled")
    try:
        fs.conf.set("spark.sql.adaptive.enabled", "false")
        yield rt
    finally:
        fs.conf.set("spark.sql.shuffle.partitions", orig)
        fs.conf.set("spark.sql.adaptive.enabled", orig_aqe)


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
    # dedicated fixpoint session (parallelismFirst=false lives there
    # permanently), so the caller's session confs are never touched.
    base = edges.select(src, dst)
    if not assume_distinct:
        base = base.dropDuplicates()
    seed = _square(base)
    seed_depth = 2
    if depth_bound is None or depth_bound > 2:
        seed = _square(seed.dropDuplicates())
        seed_depth = 4
    closure = _lift(
        seed.dropDuplicates(), _fixpoint_session(spark)
    ).localCheckpoint(eager=False)
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
    if bound_proven:
        # Bound-proven rounds need no convergence counts at all — the
        # counts were only ever the convergence probe — so rounds run
        # in chained PAIRS between materializations: two squarings with
        # a mid-plan dedup is exactly the (measured-good) seed shape —
        # the mid dedup's exchange is identical on both sides of the
        # next squaring, so ReuseExchange runs it once, and the plan
        # stays two levels deep over a materialized checkpoint. A
        # depth-≤16 closure is then ONE internal barrier (the seed
        # count) and the caller's own action materializes the rest.
        # (Deeper lazy chaining re-derives unmaterialized intermediates
        # exponentially — the r2/r5 measured dead end.)
        with adaptive_rounds(spark) as rt:
            # growth-TRACKED sizing (r10 review): a squaring can grow
            # the closure quadratically (hub graphs), and with AQE off
            # inside the loop a fixed ×4 assumption under-partitions
            # the blowup round. Sizing from twice the last observed
            # growth keeps well-behaved graphs at the old cheap sizing
            # while a multiplicative ramp is caught a round early;
            # any residual mis-size lasts exactly one round (the next
            # rt() uses the true count).
            factor = 4.0
            while rounds > 2:
                rt(int(prev * factor))
                closure = rt.lift(
                    _square(_square(closure).dropDuplicates()).dropDuplicates()
                ).localCheckpoint(eager=False)
                cur = closure.count()
                if cur == prev:
                    # the graph closed sooner than the proven bound —
                    # honor the documented early exit instead of paying
                    # the remaining squaring barriers on a converged
                    # relation (r9 review: prev was recomputed but
                    # never compared on this path)
                    return _lift(closure, spark)
                factor = max(4.0, 2.0 * cur / max(prev, 1))
                prev = cur
                rounds -= 2
        out = closure
        for _ in range(rounds):
            out = _square(out).dropDuplicates()
        return _lift(out, spark)
    with adaptive_rounds(spark) as rt:
        factor = 2.0  # growth-tracked (see the bound-proven loop note)
        for _ in range(rounds):
            rt(int(prev * factor))
            closure = rt.lift(
                _square(closure).dropDuplicates()
            ).localCheckpoint(eager=False)
            cur = closure.count()
            if cur == prev:
                return _lift(closure, spark)
            factor = max(2.0, 2.0 * cur / max(prev, 1))
            prev = cur
    if strict:
        raise RuntimeError(
            f"transitive_closure did not converge in {max_iterations} rounds; "
            "raise max_iterations (or pass strict=False for a bounded-depth closure)"
        )
    return _lift(closure, spark)
