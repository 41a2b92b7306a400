"""Print the result and optimized plan of a fixed set of Datalog query
shapes, with expression ids masked, so that two checkouts can be
compared plan for plan::

    python tools/datalog_plans.py <checkout-a> > a.txt
    python tools/datalog_plans.py <checkout-b> > b.txt
    diff a.txt b.txt

A compiler change that means to keep plans shows no diff. The shapes
are perfbench's Datalog query and ``depends`` rule plus one per pattern
form: constant, existence and repeated-variable triples, negation, rule
calls, or-branches, aggregates, ``with_`` and args.
"""
import re
import sys

root = sys.argv[1]
sys.path[:0] = [root, f"{root}/perfbench"]

from pyspark.sql import SparkSession  # noqa: E402

from dataworks_spark.docs.datalog import DatalogDB, Rule  # noqa: E402
import docstore  # noqa: E402

spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
db = DatalogDB(spark)
db.register("user", spark.createDataFrame(
    [("u1", "a1", 5), ("u2", "a2", 7), ("u3", "a1", 9)], "id string, app string, value int"), "id")
db.register("app", spark.createDataFrame(
    [("a1", "a1", "gold"), ("a2", "a2", "silver"), ("a3", "a3", None)], "id string, name string, tier string"), "id")
db.register("fn", spark.createDataFrame(
    [("f1", "f2"), ("f2", "f3"), ("f3", "f4"), ("x", "y")], "id string, dep string"), "id")

shapes = {
    "perfbench query": lambda: db.q(docstore.QUERY_FIND, docstore.QUERY_WHERE),
    "depends f1 rule call": lambda: db.q(["?b"], [("depends", "f1", "?b")], rules=[docstore._rule()]),
    "depends var rule call": lambda: db.q(["?a", "?b"], [("depends", "?a", "?b")], rules=[docstore._rule()]),
    "constant triple": lambda: db.q(["?e"], [("?e", "app/tier", "gold")]),
    "constant entity": lambda: db.q(["?t"], [("a1", "app/tier", "?t")]),
    "existence triple": lambda: db.q(["?e"], [("?e", "app/tier", None)]),
    "repeated var": lambda: db.q(["?e"], [("?e", "app/name", "?e")]),
    "all-constant gate": lambda: db.q(["?e"], [("?e", "app/name", "?n"), ("a1", "app/tier", "gold")]),
    "variable negation": lambda: db.q(["?a", "?n"], [("?a", "app/name", "?n"), ("not", ("?e", "user/app", "?n"))]),
    "existence negation": lambda: db.q(["?a"], [("?a", "app/name", "?n"), ("not", ("?a", "app/tier", None))]),
    "find-only": lambda: db.q(["?e", "?v"], [("?e", "user/value", "?v")]),
    "find with_": lambda: db.q(["?app"], [("?e", "user/app", "?app")], with_=["?e"]),
    "agg with_": lambda: db.q([("count", "?v"), "?app"], [("?e", "user/app", "?app"), ("?e", "user/value", "?v")], with_=["?e"]),
    "global agg": lambda: db.q([("max", "?v")], [("?e", "user/value", "?v")]),
    "or branches": lambda: db.q(["?e"], [("or", ("?e", "app/tier", "gold"), ("and", ("?e", "app/name", "a2"), ("?e", "app/tier", "silver")))]),
    "negation constant named in args": lambda: db.q(["?e"], [("?e", "app/name", "?n"), ("not", ("?e", "app/tier", "gold"))], args={"gold": "silver"}),
    "args + predicate": lambda: db.q(["?v"], [("?e", "user/value", "?v"), (">", "?v", "lo")], args={"?e": "u1", "lo": 1}),
}
for name, build in shapes.items():
    df = build()
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?", "#_", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=_", plan)
    print(f"== {name}: {sorted(tuple(r) for r in df.collect())}")
    print(plan)
spark.stop()
