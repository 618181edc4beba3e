"""The route table of ``AQEngine.run`` / ``explain_auto``.

What must hold:
- ``explain_auto(q)`` names the method ``run(q, method='auto')``
  executes, for every route it explains;
- a sketch method for another aggregate family (``hll``, ``kmv``,
  ``chao1``) raises on SUM/AVG/COUNT instead of running a different
  estimator under its name;
- every ``METHODS`` entry has exactly one ``_ESTIMATORS`` entry;
- each route runs a fixed number of Spark jobs (result collect
  included), so routing cannot add an eager pass unnoticed.
"""

from __future__ import annotations

import pytest

from approximatequeryengine_spark import engine as engine_mod
from approximatequeryengine_spark.frontend.dialect import METHODS

L = "SELECT APPROX(SUM(l_extendedprice)) FROM lineitem"
STAR = (
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey"
)


@pytest.mark.parametrize(
    "sql",
    [
        L,
        "SELECT APPROX(AVG(l_extendedprice)) FROM lineitem",
        L + " GROUP BY l_returnflag",
        "SELECT APPROX(SUM(l_extendedprice)) AS t FROM lineitem WITHIN 2 PERCENT",
        "SELECT APPROX(SUM(l_extendedprice)) AS t FROM lineitem "
        "TABLESAMPLE (10 PERCENT) STRATIFY BY l_returnflag",
        "SELECT APPROX(COUNT(DISTINCT l_partkey)) FROM lineitem",
        "SELECT APPROX(MEDIAN(l_extendedprice)) FROM lineitem GROUP BY l_returnflag",
        "SELECT APPROX(STDDEV(l_extendedprice)) FROM lineitem",
        "SELECT APPROX(CORR(l_quantity, l_extendedprice)) FROM lineitem",
    ],
    ids=["sum", "avg", "grouped_sum", "within", "tablesample", "count_distinct",
         "grouped_median", "stddev", "corr"],
)
def test_explain_auto_names_the_method_run_auto_executes(engine, sql):
    assert engine.explain_auto(sql)["method"] == engine.run(sql, method="auto").method


@pytest.mark.parametrize("method", ["hll", "kmv", "chao1"])
@pytest.mark.parametrize(
    "agg", ["SUM(l_extendedprice)", "AVG(l_extendedprice)", "COUNT(*)"]
)
def test_sketch_methods_reject_moment_aggregates(engine, method, agg):
    with pytest.raises(ValueError, match=f"{method}.*COUNT\\(DISTINCT\\)"):
        engine.run(f"SELECT APPROX({agg}) FROM lineitem", method=method)


def test_every_method_has_one_estimator_entry():
    assert set(engine_mod._ESTIMATORS) == set(METHODS)


# Spark jobs per route on the sf0.001 fixtures, result collect included.
JOBS = {
    "fixed_random": (
        L + " WHERE l_quantity < 30", {"sample_pct": 10, "method": "random"}, 3
    ),
    "auto_sum": (L + " WHERE l_quantity < 30", {"sample_pct": 10, "method": "auto"}, 9),
    "error_budget": ("SELECT SUM(l_extendedprice) FROM lineitem", {"error_pct": 5}, 6),
    "within": (
        "SELECT APPROX(SUM(l_extendedprice)) AS est FROM lineitem WITHIN 2 PERCENT",
        {},
        8,
    ),
    "tablesample_star": (
        "SELECT n_name, APPROX(SUM(l_extendedprice)) AS rev FROM lineitem "
        f"TABLESAMPLE (10 PERCENT) {STAR} GROUP BY n_name",
        {},
        5,
    ),
    "grouped_median_marker": (
        "SELECT l_returnflag, APPROX(MEDIAN(l_quantity)) AS m FROM lineitem "
        "TABLESAMPLE (10 PERCENT) GROUP BY l_returnflag",
        {},
        7,
    ),
    "exact": (
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag",
        {},
        2,
    ),
    # The model-assisted and second-moment estimators: a global query
    # and the same query grouped, each through one estimator body.
    "stddev": ("SELECT APPROX(STDDEV(l_discount)) FROM lineitem", {}, 5),
    "stddev_grouped": (
        "SELECT APPROX(STDDEV(l_discount)) FROM lineitem GROUP BY l_returnflag", {}, 4
    ),
    "corr": ("SELECT APPROX(CORR(l_quantity, l_extendedprice)) FROM lineitem", {}, 5),
    "corr_grouped": (
        "SELECT APPROX(CORR(l_quantity, l_extendedprice)) FROM lineitem "
        "GROUP BY l_returnflag",
        {},
        4,
    ),
    "poststrat": (
        L, {"sample_pct": 10, "method": "poststrat", "stratum_col": "l_returnflag"}, 6
    ),
    "poststrat_grouped": (
        L + " GROUP BY l_linestatus",
        {"sample_pct": 10, "method": "poststrat", "stratum_col": "l_returnflag"},
        5,
    ),
    "regaux": (L, {"sample_pct": 10, "method": "regaux", "aux_column": "l_quantity"}, 5),
    "regaux_grouped": (
        L + " GROUP BY l_returnflag",
        {"sample_pct": 10, "method": "regaux", "aux_column": "l_quantity"},
        4,
    ),
    "twostage": (L, {"method": "twostage"}, 4),
    "twostage_grouped": (L + " GROUP BY l_returnflag", {"method": "twostage"}, 5),
    "outlier": (L, {"sample_pct": 10, "method": "outlier"}, 4),
    "outlier_grouped": (L + " GROUP BY l_returnflag", {"sample_pct": 10, "method": "outlier"}, 4),
    "bootstrap": (L, {"sample_pct": 10, "method": "bootstrap"}, 5),
    "bootstrap_grouped": (
        L + " GROUP BY l_returnflag", {"sample_pct": 10, "method": "bootstrap"}, 4
    ),
}


@pytest.mark.parametrize("shape", sorted(JOBS))
def test_spark_jobs_per_route(engine, count_jobs, shape):
    sql, kw, want = JOBS[shape]
    engine.run(sql, **kw).df.collect()  # warm: views registered, code compiled
    _, n = count_jobs(lambda: engine.run(sql, **kw).df.collect())
    assert n == want
