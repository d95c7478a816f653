"""Generated Java classes are compiled once per session: rerunning the
same plan shapes (a benchmark pass, a re-validation sweep) compiles no
class. Spark keys its compiled-class cache on the generated source, so
this holds only while the cache is larger than the working set and the
whole-stage class name leaves out the stage id, which AQE assigns in
completion order (see ``session.get_session``)."""

from __future__ import annotations

from egp_crn_spark.operators import standardize as ST
from egp_crn_spark.operators import validate as V


def _compiled(spark) -> int:
    """Classes this JVM has compiled so far. The histogram's count, not
    its sum: the histogram keeps a sampled reservoir, its count is every
    update."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _validate(spark, fixtures_dir) -> None:
    """All seven validations over the standardized fixture roads, every
    DataFrame rebuilt from the file, materialized through a noop write."""
    std = ST.standardize(spark.read.parquet(f"{fixtures_dir}/arcs.parquet"))
    try:
        V.validate_topology(std).write.format("noop").mode("overwrite").save()
    finally:
        V.validate_release()


def test_rerun_compiles_no_class(spark, fixtures_dir):
    _validate(spark, fixtures_dir)
    before = _compiled(spark)
    _validate(spark, fixtures_dir)
    compiled = _compiled(spark) - before
    assert compiled == 0, f"the rerun compiled {compiled} generated classes"
