"""UNBOUNDED recursive-closure correctness vs DuckDB WITH RECURSIVE
(VERDICT r2 item 5; reference surface db/app_db.clj:115-126).

The bench demos (q_recursive_closure / q_datalog_rule) bound their edge
key range so bench measures fixpoint machinery at a flat cost; these
tests prove the same engines on an edge set derived from the FULL part
table — data that grows with the scale factor — with no key bound.
Edges are (p_partkey → p_partkey DIV 16): a forest whose depth grows
with |part| (≈ log₁₆ max_key) and whose width IS |part|.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dataworks_spark.docs.datalog import DatalogDB, Rule
from dataworks_spark.ops.recursive import transitive_closure
from dataworks_spark.session import load_table

from tests.conftest import SF_DIR_ORACLE
from tests.oracle_harness import duckdb_conn

_DUCK_CLOSURE = """
WITH RECURSIVE e(src, dst) AS (
  SELECT p_partkey, p_partkey // 16 FROM part
), r(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e.dst FROM r JOIN e ON r.dst = e.src
)
SELECT src, dst FROM r
"""


def _duck_pairs():
    con = duckdb_conn(SF_DIR_ORACLE)
    return sorted(map(tuple, con.execute(_DUCK_CLOSURE).fetchall()))


def _edges(spark):
    p = load_table(spark, SF_DIR_ORACLE, "part")
    return p.select(
        F.col("p_partkey").alias("src"), F.expr("p_partkey DIV 16").alias("dst")
    )


def test_unbounded_doubling_closure_matches_duckdb(spark):
    got = sorted(
        map(tuple, transitive_closure(_edges(spark), "src", "dst").collect())
    )
    assert got == _duck_pairs()


def test_unbounded_nonlinear_rule_matches_duckdb(spark):
    """A general NONLINEAR rule (not the ``edge_attr`` shorthand) on the
    same unbounded edge set: reach(a,b) :- edge(a,b); reach(a,m),
    reach(m,b) — recognized as self-transitivity and compiled to path
    doubling."""
    db = DatalogDB(spark)
    db.register("edge", _edges(spark), "src")
    reach = Rule(
        "reach",
        head=("?a", "?b"),
        bodies=(
            (("?a", "edge/dst", "?b"),),
            (("reach", "?a", "?m"), ("reach", "?m", "?b")),
        ),
    )
    out = db.q(find=["?a", "?b"], where=[("reach", "?a", "?b")], rules=[reach])
    got = sorted(map(tuple, out.collect()))
    assert got == _duck_pairs()


def test_unbounded_linear_rule_general_fixpoint_matches_duckdb(spark):
    """A general LEFT-LINEAR rule on the same unbounded edge set:
    reach(a,b) :- edge(a,b); reach(a,m), edge(m,b). The closure
    recognizer routes it to path doubling; the general semi-naive
    fixpoint is covered by test_datalog's non-closure linear rule and
    its parity test over cyclic graphs."""
    db = DatalogDB(spark)
    db.register("edge", _edges(spark), "src")
    reach = Rule(
        "reach",
        head=("?a", "?b"),
        bodies=(
            (("?a", "edge/dst", "?b"),),
            (("reach", "?a", "?m"), ("?m", "edge/dst", "?b")),
        ),
    )
    out = db.q(find=["?a", "?b"], where=[("reach", "?a", "?b")], rules=[reach])
    got = sorted(map(tuple, out.collect()))
    assert got == _duck_pairs()
