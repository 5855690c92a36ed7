"""The timed action materializes the full output: for a map-only query
(``langid``) the executed plan of ``write.format("noop")`` keeps every
output column and reads the text it is computed from, where ``count()``
lets column pruning drop the whole computation. The traced run reads
the planning of that same command from Spark, once per op."""

import re

import pytest

from perfbench import gen
from perfbench.run import PlanListener, Runner


@pytest.fixture(scope="module")
def spark():
    from hadoop_ir_spark.session import get_spark
    s = get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()


def _last_plan(spark) -> str:
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return execs.apply(execs.size() - 1).physicalPlanDescription()


def _root_output(plan: str) -> list[str]:
    m = re.search(r"\(\d+\) AdaptiveSparkPlan\nOutput \[\d+\]: \[([^\]]*)\]", plan)
    assert m, plan[:2000]
    return [re.sub(r"#\d+L?$", "", c.strip()) for c in m.group(1).split(",")]


def test_noop_keeps_every_output_column(spark, tmp_path):
    from hadoop_ir_spark import catalog
    gen.make_corpus(gen.Source(gen.source_dir()), str(tmp_path), 5, 200)
    df = catalog.QUERIES["langid"](spark, str(tmp_path))
    Runner(None, spark, None)._materialize(df, collect=False)
    plan = _last_plan(spark)
    assert plan.splitlines()[1].startswith("OverwriteByExpression")
    assert sorted(_root_output(plan)) == sorted(df.columns)
    assert "text:string" in plan
    df.count()
    assert "text:string" not in _last_plan(spark)   # what noop protects against


def test_plan_listener_sees_the_timed_command_once(spark):
    listener = PlanListener(spark).register(spark)
    try:
        df = spark.range(1000).selectExpr("id", "id * 2 AS y").groupBy("y").count()
        Runner(None, spark, None)._materialize(df, collect=False)
        listener.drain(spark)
        assert not listener.errors
        assert len(listener.plans) == 1
        p = listener.plans[0]
        assert p["start_ms"] <= p["planning_ms"] <= p["end_ms"]
        assert 0 < p["plan_s"] <= (p["end_ms"] - p["start_ms"]) / 1e3
    finally:
        spark._jsparkSession.listenerManager().unregister(listener)
