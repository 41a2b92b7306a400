"""Datalog-lite → DataFrame compiler (SURVEY §2 C1-C5, B4, B7; §4 #1).

The reference's query surface is Crux Datalog: triple patterns with
unification, predicates, parameterized args, and recursive rules —
e.g. the alert poll (utils/alert.clj:10-15)::

    {:find [id handler params]
     :where [[id :alert/timestamp]
             [id :alert/handler handler]
             [id :alert/params params]]}

the auth predicate query (utils/auth.clj:92-96), the constant-bound
collector lookup (collector.clj:74-78, db/app_db.clj:61-69), and the
recursive `depends` rule (db/app_db.clj:115-126).

This module is a pure Python **front-end**: it compiles those shapes to
declarative DataFrame plans (selects / filters / equi-joins / fixpoint
loops) and lets Catalyst do the physical planning — join reordering,
broadcast selection, predicate pushdown. No custom Catalyst rules
(SURVEY §4: "Catalyst then optimizes the emitted plan").

Data model: entity namespaces are registered as wide DataFrames with an
id column (SURVEY §1.1 mapping); an attribute ``ns/field`` is the
``field`` column of namespace ``ns``. A triple pattern is
``(entity_var, "ns/field", value)`` where value is a ``?var``, a
literal, or None (existence only). Clauses that are not triples are
predicates: ``(op, arg, ...)`` with op in a small builtin set or a
callable building a Column.

Variable unification compiles to equi-joins on the variable's column;
repeated attributes on one entity var become projections of the same
wide row (C1 "self-join" degenerates to select — exactly the wide-table
shortcut SURVEY §2 C1 prescribes).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dataworks_spark.ops.recursive import _FixpointRuntime, _lift, transitive_closure

#: semi-naive fixpoint round cap for general recursive rules. Exhausting
#: it RAISES (ADVICE r2: a silent partial relation is a wrong answer);
#: linear rules grow derivation depth by 1/round, nonlinear ones double
#: it, so 100 rounds covers depth 100 / 2^100 respectively.
MAX_FIXPOINT_ROUNDS = 100

_PREDICATES: dict[str, Callable[..., Column]] = {
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "starts-with?": lambda a, b: a.startswith(b),
    "includes?": lambda a, b: a.contains(b),
}


def _is_var(x) -> bool:
    return isinstance(x, str) and x.startswith("?")


def _vcol(x: str) -> str:
    return x[1:]


def _called_names(clauses) -> set:
    """Every clause-head name appearing in a clause list, walking
    through or/and branches (shared by the nested-self-call guard and
    the rule-call-graph builder)."""
    out = set()
    for c in clauses:
        h = c[0]
        if isinstance(h, str) and h in ("or", "and"):
            for br in c[1:]:
                out |= _called_names(
                    [br]
                    if not (isinstance(br[0], str) and br[0] == "and")
                    else list(br[1:])
                )
        elif isinstance(h, str):
            out.add(h)
    return out


def _nested_rule_calls(clauses, names: set) -> set:
    """Names from ``names`` called INSIDE or/and branches of the clause
    list (not as top-level clauses) — positions the semi-naive delta
    rewriting cannot reach."""
    out = set()
    for c in clauses:
        h = c[0]
        if isinstance(h, str) and h in ("or", "and"):
            out |= _called_names([c]) & names
    return out


def _mentions(x, var: str) -> bool:
    """True if ``var`` occurs anywhere in a (nested) clause structure."""
    if isinstance(x, (list, tuple)):
        return any(_mentions(y, var) for y in x)
    return isinstance(x, str) and x == var


def _rename(x, old: str, new: str):
    """A clause structure with every occurrence of variable ``old``
    replaced by ``new``; lists stay lists and tuples stay tuples, so
    the result compares equal to a hand-written renamed clause list."""
    if isinstance(x, (list, tuple)):
        return type(x)(_rename(y, old, new) for y in x)
    return new if isinstance(x, str) and x == old else x


@dataclass
class Rule:
    """A Datalog rule (Crux rule surface, db/app_db.clj:115-126).

    Two forms:

    * shorthand ``Rule("depends", "ns/field")`` — the transitive
      closure of the namespace's id → ``field`` edges (NULL fields
      dropped), the reference's commented example
      (db/app_db.clj:121-126); head columns ``d1``, ``d2``.
    * general ``Rule("reach", head=("?a", "?b"), bodies=[...])`` —
      ``head`` lists the rule's variables; each body is a list of
      clauses (triples, predicates, or rule calls — including calls to
      *itself* or to partner rules, possibly several times per body,
      i.e. nonlinear and mutual recursion).

    A rule is evaluated with its strongly connected component of the
    rule-call graph; a rule that calls no partner is a one-member
    component. A lone rule that is the transitive closure of an edge
    relation — the shorthand, ``R(a,m), R(m,b)``, or the linear
    ``E(a,m), R(m,b)`` / ``R(a,m), E(m,b)`` — compiles to path
    doubling: ⌈log₂ d⌉ rounds for a depth-d graph. Any other recursive
    component runs SEMI-NAIVE evaluation: non-recursive bodies seed the
    relations, recursive bodies are iterated to convergence with deltas
    substituted per recursive-call position and a lineage checkpoint per
    round. Each round is one batch of joins, so a depth-d graph needs
    ≤d rounds (≤⌈log₂ d⌉ for nonlinear bodies, which square path length
    like doubling does).
    """

    name: str
    edge_attr: str | None = None  # shorthand: "ns/field" destination id
    head: tuple = ()
    bodies: tuple = ()
    #: optional caller-known bound on recursion depth (longest simple
    #: path). Closure-shaped rules then skip the final no-growth probe
    #: round — the bound proves convergence instead of observing it.
    depth_bound: int | None = None


class DatalogDB:
    """Registry of entity namespaces (the two-database model of the
    reference, app-db/user-db — db/app_db.clj:19-26 — becomes two
    instances of this class)."""

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark
        self._tables: dict[str, tuple[DataFrame, str]] = {}

    def register(self, ns: str, df: DataFrame, id_col: str) -> None:
        self._tables[ns] = (df, id_col)

    def table(self, ns: str) -> tuple[DataFrame, str]:
        if ns not in self._tables:
            raise KeyError(f"unknown entity namespace {ns!r}")
        return self._tables[ns]

    #: find-spec aggregates (the Crux/Datomic `:find [(count ?e) …]`
    #: surface the reference delegates wholesale — the same delegation
    #: argument that mandated recursive rules): aggregate name →
    #: Column-builder over the bound variable column.
    _FIND_AGGS = {
        "count": lambda c: F.count(c),
        "count-distinct": lambda c: F.count_distinct(c),
        "sum": lambda c: F.sum(c),
        "min": lambda c: F.min(c),
        "max": lambda c: F.max(c),
        "avg": lambda c: F.avg(c),
    }

    # -- the query entry point (db/app_db.clj:33-43 arities) -----------
    def q(
        self,
        find: Sequence,
        where: Sequence[tuple],
        args: dict | None = None,
        rules: Sequence[Rule] = (),
        with_: Sequence[str] = (),
    ) -> DataFrame:
        """Compile and run a Datalog query; returns a DataFrame whose
        columns are the find-vars (without '?').

        ``find`` elements are either variables (``"?v"``) or AGGREGATE
        forms ``("count"|"count-distinct"|"sum"|"min"|"max"|"avg",
        "?v")`` with an optional third element naming the output column
        (default ``<agg>_<var>``) — the Crux/Datomic
        ``:find [(count ?e) (sum ?x)]`` surface. Plain find variables
        become the grouping key; with no plain variable the aggregate
        is global (one row). SET SEMANTICS, like the engines this
        mirrors: aggregation runs over the DISTINCT bindings of the
        find (+ ``with_``) variables — a Datalog result is a relation,
        so two derivations of the same tuple count once. ``with_``
        mirrors Datomic's ``:with``: extra variables folded into the
        distinct-ness check (preserving meaningful duplicates of the
        find-tuple) but not returned — on BOTH branches: with
        aggregates it widens the set the aggregate folds over; without
        aggregates the result is a bag where each find-tuple repeats
        once per distinct with-binding (r12)."""
        args = args or {}
        rule_map = {r.name: r for r in rules}
        rule_env: dict[str, DataFrame] = {}
        bound = self._eval_clauses(where, args, rule_map, rule_env)

        for var, value in args.items():
            if isinstance(value, DataFrame):
                continue
            if _is_var(var) and _vcol(var) not in bound.columns:
                # a ?-arg that binds nothing is a typo'd :in binding —
                # silently skipping it would return the full unfiltered
                # result (Crux errors on undeclared :in; r9 review).
                # Non-? keys stay legal as named predicate constants.
                raise ValueError(
                    f"arg {var!r} binds no variable of the query "
                    f"(bound: {sorted(bound.columns)})"
                )
            if _vcol(var) in bound.columns:
                bound = bound.filter(F.col(_vcol(var)) == F.lit(value))

        group_vars: list[str] = []
        agg_specs: list[tuple[str, str, str]] = []  # (fn, var, out_name)
        for el in find:
            if isinstance(el, str):
                group_vars.append(el)
                continue
            fn, var = el[0], el[1]
            if fn not in self._FIND_AGGS:
                raise ValueError(
                    f"unknown find aggregate {fn!r} "
                    f"(known: {sorted(self._FIND_AGGS)})"
                )
            out = el[2] if len(el) > 2 else f"{fn.replace('-', '_')}_{_vcol(var)}"
            agg_specs.append((fn, var, out))

        # every projected variable — plain find vars, with_ vars, and
        # aggregated vars alike — must be bound by the :where clauses;
        # checking here keeps the module's documented error contract
        # (a friendly ValueError) instead of an opaque AnalysisException
        # from the select below (r12 ADVICE low).
        for var in list(group_vars) + list(with_):
            if _vcol(var) not in bound.columns:
                raise ValueError(
                    f"find/with variable {var!r} is not bound by the "
                    f"query (bound: {sorted(bound.columns)})"
                )
        for _, var, _ in agg_specs:
            if _vcol(var) not in bound.columns:
                raise ValueError(
                    f"aggregate over unbound variable {var!r} "
                    f"(bound: {sorted(bound.columns)})"
                )

        if not agg_specs:
            if with_:
                # Datomic's :with without aggregates switches the find
                # tuple to bag semantics: distinct-ness is judged over
                # find+with, then the with columns are dropped, so a
                # find-tuple occurs once PER distinct with-binding
                # (r12 ADVICE low — previously with_ was silently
                # ignored on this branch).
                keep = dict.fromkeys(
                    [_vcol(v) for v in find] + [_vcol(v) for v in with_]
                )
                return (
                    bound.select(*keep)
                    .dropDuplicates()
                    .select(*[_vcol(v) for v in find])
                )
            return bound.select(*[_vcol(v) for v in find]).dropDuplicates()
        # distinct FIRST (set semantics over find+with vars), then one
        # map-side-combined groupBy — both shuffles key on the same
        # columns, so at scale this is one exchange + a mostly-local agg
        keep = dict.fromkeys(
            [_vcol(v) for v in group_vars]
            + [_vcol(v) for _, v, _ in agg_specs]
            + [_vcol(v) for v in with_]
        )
        base = bound.select(*keep).dropDuplicates()
        exprs = [
            self._FIND_AGGS[fn](F.col(_vcol(var))).alias(out)
            for fn, var, out in agg_specs
        ]
        grouped = base.groupBy(*[_vcol(v) for v in group_vars]) if group_vars else base.groupBy()
        return grouped.agg(*exprs)

    # -- conjunctive clause-list evaluation ------------------------------
    def _eval_clauses(
        self,
        where: Sequence[tuple],
        args: dict,
        rule_map: dict[str, "Rule"],
        rule_env: dict[str, DataFrame],
    ) -> DataFrame:
        """Evaluate a conjunction of clauses (the body of a query, an
        `and` or-branch, or a rule body) to a binding DataFrame."""
        bound: DataFrame | None = None
        filters: list[tuple] = []
        negations: list[tuple] = []

        for clause in where:
            head = clause[0]
            if isinstance(head, str) and head == "or":
                proj = self._apply_or(clause[1:], args, rule_map, rule_env)
                bound = self._merge(bound, proj)
                continue
            if isinstance(head, str) and head == "not":
                negations.append(clause[1])
                continue
            if isinstance(head, str) and (head in rule_map or head in rule_env):
                # rule_env names cover semi-naive delta sentinels
                bound = self._apply_rule_call(bound, clause, rule_map, rule_env)
                continue
            if (isinstance(head, str) and head in _PREDICATES) or callable(head):
                filters.append(clause)
                continue
            bound = self._apply_triple(bound, clause, args)

        for triple in negations:
            if bound is None:
                raise ValueError("negation requires a positive pattern first")
            bound = self._apply_negation(bound, triple, args)

        if bound is None:
            raise ValueError("query has no triple patterns")

        for clause in filters:
            bound = bound.filter(self._predicate(clause, args))
        return bound

    def _merge(self, bound: DataFrame | None, proj: DataFrame) -> DataFrame:
        """Unify a new binding set into the accumulated bindings:
        equi-join on shared variables (C1/C2), cross join if disjoint."""
        if bound is None:
            return proj
        shared = [c for c in proj.columns if c in bound.columns]
        return bound.join(proj, on=shared, how="inner") if shared else bound.crossJoin(proj)

    # -- or-clauses (Crux multi-clause branches) -------------------------
    def _apply_or(
        self,
        branches: Sequence[tuple],
        args: dict,
        rule_map: dict[str, "Rule"],
        rule_env: dict[str, DataFrame],
    ) -> DataFrame:
        """``("or", branch, ...)`` — each branch is a single clause or
        ``("and", clause, ...)`` (Crux's multi-clause branch). Branches
        must bind the same variable set; the result is the union of the
        branch bindings on those variables."""
        compiled: list[DataFrame] = []
        for br in branches:
            clauses = list(br[1:]) if (isinstance(br[0], str) and br[0] == "and") else [br]
            compiled.append(self._eval_clauses(clauses, args, rule_map, rule_env))
        varset = set(compiled[0].columns)
        for b in compiled[1:]:
            if set(b.columns) != varset:
                raise ValueError(
                    f"or-branches must bind the same variables; got {sorted(varset)} "
                    f"vs {sorted(b.columns)}"
                )
        out = compiled[0]
        for b in compiled[1:]:
            out = out.unionByName(b)
        return out.dropDuplicates()

    # -- triple compilation ---------------------------------------------
    def _apply_triple(self, bound: DataFrame | None, triple: tuple, args: dict) -> DataFrame:
        evar, attr, *rest = triple
        value = rest[0] if rest else None
        ns, field = attr.split("/", 1)
        df, id_col = self.table(ns)

        cols, flt = [], None

        def _and(c):
            nonlocal flt
            flt = c if flt is None else (flt & c)

        if _is_var(evar):
            cols.append(F.col(id_col).alias(_vcol(evar)))
        else:
            # constant ENTITY — Crux's point lookup [(const attr ?v)]:
            # filter on the id, never mangle the constant into a column
            # name (r9 review: a constant here was treated as a
            # variable, returning EVERY entity under a stripped alias)
            _and(F.col(id_col) == F.lit(evar))
        if value is None:
            # existence pattern [e :ns/field] — attribute must be present
            _and(F.col(field).isNotNull())
        elif _is_var(value):
            if _is_var(evar) and _vcol(value) == _vcol(evar):
                # repeated variable in one triple = unification filter
                # (?x attr ?x), not two same-named output columns
                # (r9 review: the duplicate alias broke downstream joins
                # with AMBIGUOUS_REFERENCE)
                _and(F.col(field) == F.col(id_col))
            else:
                cols.append(F.col(field).alias(_vcol(value)))
        else:
            # constant-bound pattern (C3, collector.clj:74-78)
            _and(F.col(field) == F.lit(value))
        proj = df.filter(flt) if flt is not None else df
        if cols:
            proj = proj.select(*cols)
        else:
            # all-constant triple = existence assertion: a 0-column,
            # ≤1-row gate (crossJoin with it keeps or empties the
            # bindings without duplication)
            proj = proj.limit(1).select()

        if bound is None:
            return proj
        shared = [c for c in proj.columns if c in bound.columns]
        if shared:
            # unification = equi-join on shared vars (C1/C2)
            return bound.join(proj, on=shared, how="inner")
        return bound.crossJoin(proj)

    def _apply_negation(self, bound: DataFrame, triple: tuple, args: dict) -> DataFrame:
        """``("not", (e, attr, v))`` keeps bindings with NO matching
        triple — left_anti on the shared variables."""
        evar, attr, *rest = triple
        value = rest[0] if rest else None
        ns, field = attr.split("/", 1)
        df, id_col = self.table(ns)
        if not _is_var(evar):
            raise ValueError(
                "negation patterns need a variable entity term "
                f"(got constant {evar!r}); bind it positively first"
            )
        cols = [F.col(id_col).alias(_vcol(evar))]
        proj = df
        if value is None:
            proj = proj.filter(F.col(field).isNotNull())
        elif _is_var(value):
            if _vcol(value) == _vcol(evar):
                proj = proj.filter(F.col(field) == F.col(id_col))
            else:
                cols.append(F.col(field).alias(_vcol(value)))
        else:
            proj = proj.filter(F.col(field) == F.lit(args.get(value, value)))
        proj = proj.select(*cols)
        shared = [c for c in proj.columns if c in bound.columns]
        if not shared:
            raise ValueError("negation pattern shares no variables with the query")
        return bound.join(proj, on=shared, how="left_anti")

    # -- predicates (B7, utils/auth.clj:92-96) ---------------------------
    def _predicate(self, clause: tuple, args: dict) -> Column:
        op, *operands = clause
        cols = [
            F.col(_vcol(o)) if _is_var(o) else F.lit(args.get(o, o) if isinstance(o, str) else o)
            for o in operands
        ]
        fn = op if callable(op) else _PREDICATES[op]
        return fn(*cols)

    # -- rules (C5, db/app_db.clj:115-126) -------------------------------
    def _apply_rule_call(
        self,
        bound: DataFrame | None,
        clause: tuple,
        rule_map: dict[str, "Rule"],
        rule_env: dict[str, DataFrame],
    ) -> DataFrame:
        """Join a rule-call clause ``(name, term, ...)`` into the
        bindings: the rule's derived relation (materialized once per
        query) is projected onto the call's terms — variables rename
        head columns, constants filter them."""
        name, *terms = clause
        # a name already materialized in rule_env may be a semi-naive
        # delta sentinel ("<rule>@delta") that has no Rule object
        if name in rule_env:
            rel = rule_env[name]
        else:
            rel = self._eval_rule(rule_map[name], rule_map, rule_env)
        head_cols = rel.columns
        if len(terms) != len(head_cols):
            raise ValueError(f"rule {name} has {len(head_cols)} head vars, called with {len(terms)}")
        cols, flt, seen = [], None, {}
        for hc, term in zip(head_cols, terms):
            if _is_var(term):
                v = _vcol(term)
                if v in seen:
                    # repeated variable across call positions =
                    # unification filter, e.g. (reach ?a ?a) keeps the
                    # diagonal (r9 review: two same-named aliases broke
                    # with AMBIGUOUS_REFERENCE instead)
                    cond = F.col(hc) == F.col(seen[v])
                else:
                    seen[v] = hc
                    cols.append(F.col(hc).alias(v))
                    continue
            else:
                cond = F.col(hc) == F.lit(term)
            flt = cond if flt is None else (flt & cond)
        proj = (rel.filter(flt) if flt is not None else rel).select(*cols)
        # rel is distinct by construction; a full-width variable-only
        # projection (rename) stays distinct — only constant-filtered
        # calls project a subset of head columns and need a re-dedup
        if len(cols) < len(head_cols):
            proj = proj.dropDuplicates()
        return self._merge(bound, proj)

    def _eval_rule(
        self, rule: Rule, rule_map: dict[str, "Rule"], rule_env: dict[str, DataFrame]
    ) -> DataFrame:
        """Materialize a rule's derived relation (columns = head vars) by
        evaluating the rule's whole component of the static rule-call
        graph (:meth:`_eval_component`) — a rule that calls no partner
        is a one-member component."""
        if rule.name not in rule_env:
            self._eval_component(self._rule_scc(rule.name, rule_map), rule_map, rule_env)
        return rule_env[rule.name]

    @staticmethod
    def _rule_scc(name: str, rule_map: dict[str, "Rule"]) -> set:
        """The strongly connected component of ``name`` in the static
        rule-call graph (edges R→S where a body of R calls S). Rule
        sets are tiny (hand-written query surfaces), so plain two-way
        reachability beats carrying a Tarjan implementation."""
        edges = {
            n: set().union(*(_called_names(b) for b in r.bodies)) & set(rule_map)
            if r.bodies
            else set()
            for n, r in rule_map.items()
        }

        def reach(start: str) -> set:
            seen: set = set()
            stack = [start]
            while stack:
                n = stack.pop()
                for m in edges.get(n, ()):  # successors, not start itself
                    if m not in seen:
                        seen.add(m)
                        stack.append(m)
            return seen

        fwd = reach(name)
        return {name} | {n for n in fwd if name in reach(n)}

    def _eval_component(
        self, scc: set, rule_map: dict[str, "Rule"], rule_env: dict[str, DataFrame]
    ) -> None:
        """Evaluate one strongly connected component of the rule-call
        graph into ``rule_env`` (the reference's rule surface is Crux
        Datalog — app_db.clj:121-126 — which evaluates single,
        self-recursive and mutually recursive rules alike).

        A lone rule whose fixpoint is the transitive closure of an edge
        relation (:meth:`_closure_edges`) compiles to the log-depth
        path-doubling operator. A component with no recursive body
        materializes its seeds and runs no round. Everything else runs
        the SEMI-NAIVE fixpoint (standard stratum-internal evaluation,
        VERDICT r10 #5): every member keeps a relation and a per-round
        DELTA; each round re-derives every SCC-calling body once per
        SCC-call position with that position bound to the callee's delta
        and the others to the full relations (the nonlinear semi-naive
        expansion — work tracks Σ|delta|·|rel|, not |rel|², the shape
        that survives at cluster scale), anti-joins out known tuples
        (that IS the delta, so it can't be traded away), and the round's
        new tuples become the next deltas for ALL members simultaneously
        (synchronous rounds — asynchronous per-member updates would make
        the result order-dependent). Lineage is truncated by per-round
        localCheckpoint; cycles terminate because a revisited tuple never
        re-enters a delta. Convergence = no member grew.

        Members with no SCC-free body activate LATE: their relation
        first exists when a round derives it from the partners' seeds
        (even/odd-path is the canonical case — `odd` has no base body),
        and that first relation is their first delta. Bodies whose
        callees have no relation yet cannot fire and are skipped until
        activation. Non-SCC rule calls inside bodies materialize
        normally — the SCC is maximal, so anything they reach is a
        strictly lower stratum (a call chain leading back in would put
        the intermediary inside the SCC by definition).
        """
        members = [rule_map[n] for n in sorted(scc)]
        for r in members:
            nested = set()
            for body in r.bodies:
                nested |= _nested_rule_calls(body, scc)
            if nested:
                # the delta rewriting reaches top-level calls only; a
                # nested call would re-enter this component unboundedly
                raise ValueError(
                    f"rule {r.name!r} calls {sorted(nested)} from a nested "
                    "clause (or-branch); recursive calls must be top-level "
                    "body clauses"
                )
        if len(members) == 1:
            edges = self._closure_edges(members[0], rule_map, rule_env)
            if edges is not None:
                rule_env[members[0].name] = transitive_closure(
                    edges,
                    *edges.columns,
                    depth_bound=members[0].depth_bound,
                    assume_distinct=True,  # _closure_edges deduplicates
                )
                return

        heads = {r.name: [_vcol(v) for v in r.head] for r in members}
        rels: dict[str, DataFrame] = {}
        for r in members:
            seed = self._seed(r, scc, rule_map, rule_env)
            if seed is not None:
                rels[r.name] = seed
        if not rels:
            raise ValueError(
                f"rules {sorted(scc)} need at least one body that calls "
                "none of them (a seed)"
            )
        if not any(_called_names(b) & scc for r in members for b in r.bodies):
            rule_env.update(rels)  # non-recursive: the seeds are the relations
            return
        deltas: dict[str, DataFrame] = dict(rels)
        counts: dict[str, int] = {n: rel.count() for n, rel in rels.items()}

        # session from the relation when DatalogDB() was built without
        # one (every other path derives sessions from registered frames)
        caller = self.spark or next(iter(rels.values())).sparkSession
        rt = _FixpointRuntime(caller)
        for _ in range(1, MAX_FIXPOINT_ROUNDS + 1):
            rt(sum(counts.values()))
            # expose this round's relations + deltas to the clause
            # compiler under the member names / delta sentinels (a
            # member may have a relation but no delta this round —
            # pop its stale sentinel rather than index into deltas)
            for n in rels:
                rule_env[n] = rels[n]
            for r in members:
                if r.name in deltas:
                    rule_env[f"{r.name}@delta"] = deltas[r.name]
                else:
                    rule_env.pop(f"{r.name}@delta", None)
            # relation updates are DEFERRED to the end of the round
            # (synchronous semantics): every member derives against
            # the round-START rels/deltas, which are exactly what
            # rule_env exposes. Updating rels mid-loop desynced the
            # two — a later member's body would pass the `in rels`
            # guard, miss rule_env, fall through _apply_rule_call →
            # _eval_rule → _eval_component and recurse unboundedly
            # (r10 review, verified live on a seedless member read
            # at a full position of a two-call body).
            new_deltas: dict[str, DataFrame] = {}
            next_rels = dict(rels)
            grew = False
            for r in members:
                grown: DataFrame | None = None
                for body in r.bodies:
                    positions = [
                        i
                        for i, c in enumerate(body)
                        if isinstance(c[0], str) and c[0] in scc
                    ]
                    if not positions:
                        continue  # seed body — contributed once
                    if any(body[i][0] not in rels for i in positions):
                        continue  # a callee not yet activated
                    for pos in positions:
                        callee = body[pos][0]
                        if callee not in deltas:
                            continue  # no delta this round
                        variant = list(body)
                        variant[pos] = (f"{callee}@delta", *body[pos][1:])
                        g = self._eval_clauses(
                            variant, {}, rule_map, rule_env
                        ).select(*heads[r.name])
                        grown = g if grown is None else grown.unionByName(g)
                if grown is None:
                    continue
                if r.name in rels:
                    new = grown.dropDuplicates().join(
                        rels[r.name], on=heads[r.name], how="left_anti"
                    )
                else:
                    new = grown.dropDuplicates()
                # lift onto the loop session so the checkpoint+count
                # action plans under loop-sized confs without
                # touching the caller's session (_FixpointRuntime)
                new = rt.lift(new).localCheckpoint(eager=False)
                n_new = new.count()
                if n_new == 0:
                    continue
                grew = True
                new_deltas[r.name] = new
                if r.name in rels:
                    next_rels[r.name] = (
                        rt.lift(rt.accumulate(rels[r.name], new))
                        .localCheckpoint(eager=False)
                    )
                    counts[r.name] += n_new
                else:
                    next_rels[r.name] = new  # late activation
                    counts[r.name] = n_new
            rels = next_rels
            deltas = new_deltas
            if not grew:
                break
        else:
            # a silently partial relation is a wrong answer, not a result
            raise RuntimeError(
                f"rules {sorted(scc)} did not reach fixpoint in "
                f"{MAX_FIXPOINT_ROUNDS} rounds; raise "
                "dataworks_spark.docs.datalog.MAX_FIXPOINT_ROUNDS or "
                "bound the rules"
            )

        # final relations into the memo env
        for n in rels:
            rule_env[n] = _lift(rels[n], caller)
        # a member that never activated derives the EMPTY relation —
        # the fixpoint converged, so re-evaluating any of its bodies
        # against the FINAL partner relations is empty by construction;
        # that evaluation (limit 0 for plan cheapness) supplies the
        # correctly-typed zero-row frame downstream calls bind against.
        pending = [r for r in members if r.name not in rule_env]
        progress = True
        while pending and progress:
            progress = False
            for r in list(pending):
                for body in r.bodies:
                    called = _called_names(body) & scc
                    if all(c in rule_env for c in called):
                        empty = (
                            self._eval_clauses(list(body), {}, rule_map, rule_env)
                            .select(*heads[r.name])
                            .limit(0)
                        )
                        rule_env[r.name] = empty
                        pending.remove(r)
                        progress = True
                        break
        if pending:
            # only reachable when seedless members call ONLY each other
            # (their sub-cycle can never derive or even type a row)
            raise ValueError(
                f"rules {sorted(r.name for r in pending)} have no seed "
                "body and call only each other — their relations are "
                "untypeably empty; give one a non-recursive body"
            )
        for n in scc:
            rule_env.pop(f"{n}@delta", None)

    def _seed(
        self,
        rule: "Rule",
        scc: set,
        rule_map: dict[str, "Rule"],
        rule_env: dict[str, DataFrame],
    ) -> DataFrame | None:
        """The deduplicated union of the rule's bodies that call no
        member of ``scc``, or None if every body does. Its checkpoint is
        non-eager: the first action on it (the fixpoint's seed count, or
        the closure's seed) materializes it — one job instead of two."""
        head_vars = [_vcol(v) for v in rule.head]
        base: DataFrame | None = None
        for body in rule.bodies:
            if _called_names(body) & scc:
                continue
            b = self._eval_clauses(list(body), {}, rule_map, rule_env).select(*head_vars)
            base = b if base is None else base.unionByName(b)
        if base is None:
            return None
        return base.dropDuplicates().localCheckpoint(eager=False)

    def _closure_edges(
        self, rule: "Rule", rule_map: dict[str, "Rule"], rule_env: dict[str, DataFrame]
    ) -> DataFrame | None:
        """The duplicate-free edge relation whose transitive closure IS
        the rule's relation, or None if the rule is not closure-shaped.
        A closure compiles to the log-depth path-doubling operator (one
        join per round, ⌈log₂ depth⌉ rounds) instead of the semi-naive
        loop's one round per unit of depth — a classic Datalog engine
        optimization with identical semantics (proved against the
        general path and DuckDB WITH RECURSIVE in tests). The shapes:

        * shorthand ``Rule(name, "ns/field")``: the edges are the
          namespace's (id, field) pairs, NULL fields dropped, under the
          canonical head columns ``d1``/``d2``;
        * self-transitivity ``R(a,b) :- E…; R(a,m), R(m,b)``: the edges
          are the union of the non-recursive bodies ``E…``;
        * right-linear ``R(a,b) :- E(a,b); E(a,m), R(m,b)`` and
          left-linear ``R(a,b) :- E(a,b); R(a,m), E(m,b)``: the
          recursive body is the ONE base body with one head variable
          renamed to ``m`` plus one self-call keeping the other. A second
          base body would make the fixpoint E* ∘ (E ∪ E2), not a closure.

        ``m`` is always a fresh variable (absent from the head, and from
        the base body of a linear rule)."""
        if rule.edge_attr is not None:
            ns, field = rule.edge_attr.split("/", 1)
            df, id_col = self.table(ns)
            return (
                df.select(F.col(id_col).alias("d1"), F.col(field).alias("d2"))
                .dropna()
                .dropDuplicates()
            )
        own = {rule.name}
        recs = [list(b) for b in rule.bodies if _called_names(b) & own]
        bases = [list(b) for b in rule.bodies if not _called_names(b) & own]
        if len(rule.head) != 2 or len(recs) != 1 or not bases:
            return None
        a, b = rule.head
        body = recs[0]
        calls = [i for i, c in enumerate(body) if c[0] == rule.name]
        if any(len(body[i]) != 3 for i in calls):
            return None

        def fresh(m) -> bool:
            return _is_var(m) and m not in rule.head

        if len(calls) == 2 == len(body):
            (_, x1, m1), (_, m2, y2) = body
            closure = x1 == a and y2 == b and m1 == m2 and fresh(m1)
        elif len(calls) == 1 and len(bases) == 1:
            _, x, y = body[calls[0]]
            rest = body[: calls[0]] + body[calls[0] + 1 :]
            base = bases[0]
            # (renamed head var, middle var, self-call keeps the other one)
            closure = any(
                keeps and fresh(mid) and not _mentions(base, mid)
                and rest == _rename(base, old, mid)
                for old, mid, keeps in ((b, x, y == b), (a, y, x == a))
            )
        else:
            closure = False
        return self._seed(rule, own, rule_map, rule_env) if closure else None
