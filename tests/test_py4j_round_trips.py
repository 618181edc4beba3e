"""Plan-build round trips: the hot paths build their plans from SQL
text (one parse call per step), not Column trees (a py4j round trip per
node). Each pin is the measured count plus a little headroom; a Column
rebuild of any of these paths costs hundreds more.

Measured when pinned (driver-to-JVM commands, memory releases excluded):
an engine aqpplus range probe 999 → 37, then 34 once its boundary
moments came from a driver read and its readout from a local frame
(the whole probe, with no Spark job), ``outlier_sum_ci`` (its
threshold pass included) 982 → 51, one masked grouped error-budget rung
824 → 55.
"""

from __future__ import annotations

import pytest

from approximatequeryengine_spark.plans.adaptive import masked_rung
from approximatequeryengine_spark.plans.estimators import AggSpec
from approximatequeryengine_spark.plans.outlier import outlier_sum_ci
from approximatequeryengine_spark.plans.sampling import SamplingSpec


@pytest.fixture(scope="module")
def ranged(engine, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("aqpp_rt"))
    engine.build_range_index(
        "orders", "datediff(o_orderdate, '1970-01-01')", "o_totalprice",
        kind="aqpplus", path=path,
    )
    return engine


def _counted_twice(py4j_calls, fn) -> int:
    fn()  # first builds pay one-off lookups
    return py4j_calls(fn)[1]


def test_aqpplus_probe_build(ranged, py4j_calls):
    n = _counted_twice(py4j_calls, lambda: ranged.range_sum("orders", 8500, 10226))
    assert n <= 40, n


def test_outlier_sum_ci_build(engine, py4j_calls):
    orders = engine.catalog.table("orders")
    n = _counted_twice(
        py4j_calls, lambda: outlier_sum_ci(orders, "o_totalprice", "o_orderkey", 0.1)
    )
    assert n <= 62, n


def test_grouped_rung_build(engine, py4j_calls):
    lineitem = engine.catalog.table("lineitem")
    spec = SamplingSpec(fraction=0.05, key="l_orderkey * 8 + l_linenumber")
    n = _counted_twice(py4j_calls, lambda: masked_rung(
        lineitem, AggSpec("sum", "l_extendedprice"), ["l_returnflag"], spec
    ))
    assert n <= 66, n
