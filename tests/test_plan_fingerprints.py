"""Every catalog entry's plan, pinned by one golden line.

A fingerprint holds what a plan change changes:

- ``eager_jobs``: the Spark jobs the entry launches while it builds its
  DataFrame (``localCheckpoint``, ``observe``, ``collect`` in operators);
- ``exchanges``: the Exchange nodes of the plan;
- ``python_evals``: one signature per Python-eval node, the node class and
  its arguments (UDF name, input and output columns) without ``#id``s;
- ``nodes``: the plan's operator multiset.

The plan is the initial physical plan, read without executing the query:
under adaptive execution, ``AdaptiveSparkPlanExec``'s input plan after the
exchanges are placed, the tree ``explain`` prints before a run.
``conftest.warm_up`` runs first, so an entry's job count does not depend
on which tests ran before it.

A change of ``tests/plan_fingerprints.json`` is a change of what the
engine runs. Regenerate it from a fresh session, in the repo root (the
Python workers import the package from the working directory), with

    python tests/test_plan_fingerprints.py
"""

from __future__ import annotations

import functools
import json
import re
import sys
from collections import Counter
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

# Run as a script, only tests/ is on the path, not the package.
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from sparkstreamingrealtimedatawithkafka_spark.plans import REGISTRY  # noqa: E402

from conftest import SESSION_KW, SF_DIR, job_count, warm_up  # noqa: E402

GOLDEN = Path(__file__).with_name("plan_fingerprints.json")
PYTHON_EVAL = "org.apache.spark.sql.execution.python"
EXCHANGE = "org.apache.spark.sql.execution.exchange"
_EXPR_ID = re.compile(r"#\d+L?")


def _seq(s) -> list:
    it = s.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _walk(node):
    """Every node of a physical plan, subquery plans included. An adaptive
    plan not yet run contributes the plan it starts from: its input plan
    with the exchanges placed (``explain``'s ``isFinalPlan=false`` tree)."""
    yield node
    if node.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        children = [node.executedPlan()]
    else:
        children = _seq(node.children()) + _seq(node.subqueries())
    for child in children:
        yield from _walk(child)


def plan_fingerprint(plan) -> dict:
    """``exchanges``, ``python_evals`` and ``nodes`` of a JVM physical plan."""
    nodes, exchanges, evals = Counter(), 0, []
    for node in _walk(plan):
        cls = node.getClass()
        nodes[cls.getSimpleName()] += 1
        package = cls.getPackage().getName()
        exchanges += package == EXCHANGE
        if package == PYTHON_EVAL or package.startswith(PYTHON_EVAL + "."):
            args = _EXPR_ID.sub("", node.argString(1000))
            evals.append(f"{cls.getSimpleName()} {args}")
    return {"exchanges": exchanges, "python_evals": evals, "nodes": dict(sorted(nodes.items()))}


def fingerprint(spark, key: str) -> dict:
    with job_count(spark) as jobs:
        df = REGISTRY[key].fn(spark, SF_DIR)
        eager = jobs()
    return {"eager_jobs": eager, **plan_fingerprint(df._jdf.queryExecution().executedPlan())}


# Both tests read one build of each entry.
_fingerprint = functools.cache(fingerprint)


@functools.cache
def _golden() -> dict[str, dict]:
    return json.loads(GOLDEN.read_text())


def test_golden_file_covers_the_registry():
    assert sorted(_golden()) == sorted(REGISTRY)


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_plan_fingerprint(spark, warm, key):
    assert _fingerprint(spark, key) == _golden().get(key)


@pytest.mark.parametrize("key", sorted(REGISTRY))
def test_python_evals_distinct(spark, warm, key):
    """No Python function is evaluated twice over the same input: a copied
    UDF (a plain ``explode`` under the NER UDF did it) shows as two eval
    nodes with one signature."""
    evals = _fingerprint(spark, key)["python_evals"]
    assert len(set(evals)) == len(evals), evals


def _add_one(v: pd.Series) -> pd.Series:
    return v + 1


def _frame(spark):
    return spark.range(3).select("id", (F.col("id") * 1.5).alias("v"))


def _sql_udf(spark):
    spark.udf.register("fp_add_one", F.pandas_udf(_add_one, "double"))
    return spark.sql("SELECT fp_add_one(id * 1.5) AS w FROM range(3)")


def _select_udf(spark):
    return _frame(spark).select(F.udf(lambda v: v + 1, "double")("v"))


def _map_in_pandas(spark):
    return _frame(spark).mapInPandas(lambda it: (p[p.id > 0] for p in it), "id long, v double")


def _cogrouped(spark):
    df = _frame(spark)
    return df.groupby("id").cogroup(df.groupby("id")).applyInPandas(
        lambda left, right: pd.concat([left, right]), "id long, v double"
    )


# The Python eval types, one tiny plan each, and the node class each plans.
EVAL_TYPES = {
    "sql_registered_udf": (_sql_udf, "ArrowEvalPythonExec"),
    "select_udf": (_select_udf, "BatchEvalPythonExec"),
    "map_in_pandas": (_map_in_pandas, "MapInPandasExec"),
    "cogrouped_apply_in_pandas": (_cogrouped, "FlatMapCoGroupsInPandasExec"),
}


@pytest.mark.parametrize("name", list(EVAL_TYPES))
def test_python_eval_types_are_classified(spark, name):
    build, node = EVAL_TYPES[name]
    evals = plan_fingerprint(build(spark)._jdf.queryExecution().executedPlan())["python_evals"]
    assert [e.split()[0] for e in evals] == [node], evals


def test_jvm_only_plan_has_no_python_eval(spark):
    df = _frame(spark).groupBy(F.col("id") % 2).agg(F.sum("v"))
    fp = plan_fingerprint(df._jdf.queryExecution().executedPlan())
    assert fp["python_evals"] == [] and fp["exchanges"] == 1, fp


def write_golden(prints: dict[str, dict]) -> None:
    lines = [f"{json.dumps(k)}: {json.dumps(v)}" for k, v in sorted(prints.items())]
    GOLDEN.write_text("{\n" + ",\n".join(lines) + "\n}\n")


if __name__ == "__main__":
    from sparkstreamingrealtimedatawithkafka_spark.session import build_session

    session = build_session(**SESSION_KW)
    warm_up(session)
    write_golden({key: fingerprint(session, key) for key in sorted(REGISTRY)})
    session.stop()
