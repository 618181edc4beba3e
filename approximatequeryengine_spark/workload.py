"""Declared workload: every implemented operator as a named query with a
DuckDB oracle.

This is the single source of truth consumed by ``__spark_entry__.py``
(driver correctness gate) and ``bench.py``. ``QUERIES`` maps each name
to ``fn(spark, sf_dir) -> DataFrame``; ``ORACLE`` maps each
oracle-backed name to the SQL DuckDB runs over the same parquet tables
(an entry without one is checked for rows only). An entry is registered
in one of these forms, each stating its operator, table and literals
once:

- ``_sql_query(name, sql, oracle="")``: a Spark SQL text; the oracle is
  the same text unless a DuckDB spelling is given.
- ``_approx_query`` / ``_head_query`` / ``_neyman_query`` /
  ``_congress_query``: a sampled estimator whose oracle is derived from
  the same sampling spec.
- ``_twin_query(name, op, op_sql, table, *args, **kw)``: runs
  ``op(<table>, *args, **kw)`` against ``op_sql(table, *args, **kw)``,
  so the two engines cannot get different arguments.
- ``_table_query(name, op, oracle, table)``: runs ``op(spark, <table>)``
  against a fixed oracle text.
- ``_register(name, fn, oracle)``: ``fn`` is an operator that already
  takes ``(spark, sf_dir)`` (the streaming pipelines), or a function
  kept in this file because the entry does more than call one
  operator on one table: it builds an index or synopsis first, combines
  several operators (the bake-offs), drives ``AQEngine``, reads two
  tables, or passes a Spark Column where the SQL twin takes text.

``_register`` rejects a name registered twice, and ``_finalize_order``
rejects a ``_CERTIFY_FIRST`` name that is not registered.

Determinism contract: approximate queries use the portable-hash /
systematic / block / stratified designs, whose sample membership is a
pure arithmetic predicate — so Spark and DuckDB compute the *same*
sample, the same estimate and the same CI, and the driver's value-hash
comparison passes exactly. Final values are rounded (2-6 decimals) on
both sides to absorb float summation-order noise.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from approximatequeryengine_spark.catalog import TABLES as _CATALOG_TABLES
from approximatequeryengine_spark.catalog import Catalog
from approximatequeryengine_spark.engine import AQEngine
from approximatequeryengine_spark.frontend.approx_sql import (
    rewrite_approx_sql as _rewrite_approx_sql,
)
from approximatequeryengine_spark.functions.hashing import (
    HASH_SPACE,
    fraction_threshold,
    portable_hash_col,
    portable_hash_sql,
)
from approximatequeryengine_spark.functions.text import ws_tokens_col, ws_tokens_sql
from approximatequeryengine_spark.operators import curation as _cur
from approximatequeryengine_spark.operators import dedup as _dedup
from approximatequeryengine_spark.operators import graph as _graph
from approximatequeryengine_spark.operators import joins as _joins
from approximatequeryengine_spark.operators import merge as _merge
from approximatequeryengine_spark.operators import multimodal as _mm
from approximatequeryengine_spark.operators import profiling as _prof
from approximatequeryengine_spark.operators import similarity as _sim
from approximatequeryengine_spark.operators import temporal as _temporal
from approximatequeryengine_spark.operators import text as _text
from approximatequeryengine_spark.plans import adaptive as _adaptive
from approximatequeryengine_spark.plans import advisor as _advisor
from approximatequeryengine_spark.plans import ams as _ams
from approximatequeryengine_spark.plans import aqpplus as _aqpplus
from approximatequeryengine_spark.plans import bloom as _bloom
from approximatequeryengine_spark.plans import bootstrap as _boot
from approximatequeryengine_spark.plans import countmin as _cms
from approximatequeryengine_spark.plans import ddsketch as _dd
from approximatequeryengine_spark.plans import distinct as _distinct
from approximatequeryengine_spark.plans import elp as _elp
from approximatequeryengine_spark.plans import histogram as _hist
from approximatequeryengine_spark.plans import histogram2d as _hist2d
from approximatequeryengine_spark.plans import hll as _hll
from approximatequeryengine_spark.plans import incremental as _inc
from approximatequeryengine_spark.plans import joinsynopsis as _joinsyn
from approximatequeryengine_spark.plans import outlier as _outlier
from approximatequeryengine_spark.plans import poststrat as _poststrat
from approximatequeryengine_spark.plans import pps as _pps
from approximatequeryengine_spark.plans import priority as _priority
from approximatequeryengine_spark.plans import quantiles as _quantiles
from approximatequeryengine_spark.plans import regression as _regression
from approximatequeryengine_spark.plans import sampleseek as _sampleseek
from approximatequeryengine_spark.plans import synopsis as _synopsis
from approximatequeryengine_spark.plans import twostage as _twostage
from approximatequeryengine_spark.plans import variance as _variance
from approximatequeryengine_spark.plans import wander as _wander
from approximatequeryengine_spark.plans import wavelet as _wavelet
from approximatequeryengine_spark.plans.estimators import (
    Z_95,
    AggSpec,
    approx_aggregate,
    approx_multi_aggregate,
    finite_col,
    finite_sql,
    moments_sql,
    multi_moments_sql,
    ratio_estimate_ci,
    ratio_estimate_ci_sql,
)
from approximatequeryengine_spark.plans.sampling import (
    SamplingSpec,
    apply_sampling,
    congressional_allocation,
    head_sample,
    head_sample_sql,
    neyman_allocation,
    sampling_p_sql,
    sampling_where_sql,
)
from approximatequeryengine_spark.sources import blockbloom as _blockbloom
from approximatequeryengine_spark.sources import layout as _layout
from approximatequeryengine_spark.sources import recordfile as _recordfile
from approximatequeryengine_spark.sources import zonemap as _zonemap
from approximatequeryengine_spark.sources import zorder as _zorder
from approximatequeryengine_spark.streaming import pipeline as _pipeline
from approximatequeryengine_spark.streaming import stateful as _stateful
from approximatequeryengine_spark.streaming import windowed as _stream

_CATALOGS: dict[tuple[str, int, str], Catalog] = {}


def _catalog(spark: SparkSession, sf_dir: str) -> Catalog:
    # (applicationId, id(session)): applicationId alone aliases
    # distinct sessions sharing one SparkContext (spark.newSession()) —
    # temp views are SESSION-scoped, so the second session would see
    # TABLE_OR_VIEW_NOT_FOUND; id() alone is reusable after GC. A stale
    # aliased entry needs BOTH an app-id restart and an id() reuse to
    # collide — vanishingly unlikely together.
    key = (spark.sparkContext.applicationId, id(spark), sf_dir)
    if key not in _CATALOGS:
        _CATALOGS[key] = Catalog(spark, sf_dir)
    else:
        # Another sf_dir's catalog may have re-pointed the session's
        # temp views since we registered — re-assert ours. ensure_views
        # is ownership-checked: the common single-catalog case skips
        # the 10 per-table py4j round trips entirely.
        _CATALOGS[key].ensure_views()
    return _CATALOGS[key]


def _round_cols(df: DataFrame, spec: dict[str, int | None]) -> DataFrame:
    # selectExpr text instead of per-column Column objects: one py4j
    # round trip instead of 3-4 per column at query-build time.
    cols = []
    for c in df.columns:
        if c in spec and spec[c] is not None:
            cols.append(f"round(`{c}`, {spec[c]}) AS `{c}`")
        else:
            cols.append(f"`{c}`")
    return df.selectExpr(*cols)


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _register(name: str, fn: Callable[[SparkSession, str], DataFrame], oracle: str | None):
    if name in QUERIES:
        raise ValueError(f"registry entry {name!r} is registered twice")
    QUERIES[name] = fn
    if oracle is not None:
        ORACLE[name] = oracle


def _table_query(name: str, op, oracle: str | None, table: str = "documents") -> None:
    """Register ``op(spark, <table>)``: an operator over one catalog
    table, checked against a fixed oracle text."""

    def fn(spark: SparkSession, sf_dir: str, _op=op, _t=table) -> DataFrame:
        cat = _catalog(spark, sf_dir)
        return _op(spark, cat.table(_t))

    _register(name, fn, oracle)


def _twin_query(name: str, op, op_sql, table: str, *args, **kw) -> None:
    """Register ``op(<table>, *args, **kw)`` against its SQL twin
    ``op_sql(table, *args, **kw)``: one argument list feeds both engines,
    so the two sides cannot drift apart."""
    _table_query(
        name, lambda spark, df: op(df, *args, **kw), op_sql(table, *args, **kw), table
    )


# ---------------------------------------------------------------------------
# Exact path — identical SQL both engines (Spark SQL ∩ DuckDB SQL).
# ---------------------------------------------------------------------------

def _sql_query(name: str, sql: str, oracle: str | None = "") -> None:
    """Register a spark.sql query; oracle defaults to the same SQL text
    (Spark SQL ∩ DuckDB SQL), pass ``oracle=...`` where dialects differ
    or ``None`` for a rows-only check."""

    def fn(spark: SparkSession, sf_dir: str, _sql=sql) -> DataFrame:
        _catalog(spark, sf_dir)  # registers temp views
        return spark.sql(_sql)

    _register(name, fn, sql if oracle == "" else oracle)


_sql_query(
    "exact_sum",
    "SELECT round(sum(l_extendedprice), 2) AS sum_total FROM lineitem",
)
_sql_query(
    "exact_avg",
    "SELECT round(avg(l_quantity), 6) AS avg_qty FROM lineitem",
)
_sql_query(
    "exact_count",
    "SELECT count(*) AS n_rows FROM lineitem",
)
_sql_query(
    "exact_sum_where",
    "SELECT round(sum(l_extendedprice), 2) AS sum_total FROM lineitem "
    "WHERE l_discount > 0.05",
)
_sql_query(
    "exact_minmax",
    "SELECT round(min(l_extendedprice), 2) AS min_price, "
    "round(max(l_extendedprice), 2) AS max_price FROM lineitem",
)
_sql_query(
    "exact_groupby_sum",
    "SELECT l_returnflag, round(sum(l_extendedprice), 2) AS sum_total, "
    "count(*) AS n_rows FROM lineitem GROUP BY l_returnflag",
)
_sql_query(
    "exact_where_groupby_avg",
    "SELECT event_type, round(avg(value), 6) AS avg_value FROM events "
    "WHERE value > 10 GROUP BY event_type",
)
# TPC-H Q1-style pricing summary — the flagship relational aggregate.
_sql_query(
    "tpch_q1_pricing_summary",
    "SELECT l_returnflag, l_linestatus, "
    "round(sum(l_quantity), 2) AS sum_qty, "
    "round(sum(l_extendedprice), 2) AS sum_base_price, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, "
    "round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, "
    "round(avg(l_quantity), 6) AS avg_qty, "
    "round(avg(l_extendedprice), 4) AS avg_price, "
    "round(avg(l_discount), 6) AS avg_disc, "
    "count(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus",
)
# Join capability (beyond the single-table reference): revenue per nation.
# Catalyst broadcasts nation/customer (well under the 64 MiB threshold).
_sql_query(
    "join_revenue_by_nation",
    "SELECT n_name, round(sum(o_totalprice), 2) AS revenue, "
    "count(*) AS n_orders FROM orders "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "GROUP BY n_name",
)
_sql_query(
    "join_top_suppliers",
    "SELECT s_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
    "GROUP BY s_name",
)
# Exact interpolated median/quantiles (beyond the reference's SUM/AVG/COUNT).
# Round 9: Spark's exact percentile() aggregate buffers a value→count
# map of the whole column per partition and merges the maps into ONE
# final buffer — on a mostly-distinct measure that is the entire column
# through one task. Executed instead via the partition-parallel rank
# selection (plans/quantiles.py::exact_interp_quantiles, bit-identical
# interpolation — the old Spark text was
# "SELECT round(percentile(l_extendedprice, 0.5), 4) …"); rounding
# happens IN SPARK on the selected values so round() semantics stay the
# engine's. The DuckDB oracle keeps its quantile_cont spelling.


def _exact_quantiles_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _catalog(spark, sf_dir)
    med, p95 = _quantiles.exact_interp_quantiles(
        cat.table("lineitem"), "l_extendedprice", [0.5, 0.95]
    )
    return spark.range(1).select(
        F.round(F.lit(med).cast("double"), 4).alias("median_price"),
        F.round(F.lit(p95).cast("double"), 4).alias("p95_price"),
    )


_register(
    "exact_quantiles",
    _exact_quantiles_fn,
    "SELECT round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price, "
    "round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price FROM lineitem",
)
_sql_query(
    "exact_count_distinct",
    "SELECT count(DISTINCT l_partkey) AS n_parts, "
    "count(DISTINCT l_suppkey) AS n_supps FROM lineitem",
)
# Grouping sets: ROLLUP over two keys (NULL super-aggregate rows included).
_sql_query(
    "rollup_sum",
    "SELECT coalesce(l_returnflag, 'ALL') AS returnflag, "
    "coalesce(l_linestatus, 'ALL') AS linestatus, "
    "round(sum(l_quantity), 2) AS sum_qty "
    "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)",
)
# Window function: top-3 parts by revenue within each brand.
_sql_query(
    "window_topk_parts_per_brand",
    "SELECT p_brand, p_partkey, revenue, rnk FROM ("
    "  SELECT p_brand, p_partkey, round(sum(l_extendedprice), 2) AS revenue, "
    "         row_number() OVER (PARTITION BY p_brand "
    "                            ORDER BY sum(l_extendedprice) DESC, p_partkey) AS rnk "
    "  FROM lineitem JOIN part ON l_partkey = p_partkey "
    "  GROUP BY p_brand, p_partkey) t WHERE rnk <= 3",
)
# Sessionization: 30-minute-gap sessions per user (lag + cumulative
# sum). `>=` on the gap matches Spark's session_window half-open
# [first, last+gap) convention, so this batch query and
# `streaming_session_windows` agree row-for-row.
_sql_query(
    "sessionize_events",
    "SELECT user_id, count(*) AS n_events, "
    "CAST(sum(new_s) + 1 AS BIGINT) AS n_sessions FROM ("
    "  SELECT user_id, CASE WHEN ts - lag(ts) OVER "
    "    (PARTITION BY user_id ORDER BY ts, event_id) >= INTERVAL 30 MINUTE "
    "    THEN 1 ELSE 0 END AS new_s FROM events) t GROUP BY user_id",
)
# Pivot-shaped conditional aggregation (orderstatus → columns).
_sql_query(
    "pivot_order_status",
    "SELECT o_orderpriority, "
    "CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open, "
    "CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled, "
    "CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_partial "
    "FROM orders GROUP BY o_orderpriority",
)
# SURVEY §2.5 — ORDER BY + LIMIT top-k. Spark plans this as
# TakeOrderedAndProject: per-partition heap of k, no global sort — the
# scale-correct top-k at 100 TB. Deterministic tie-break on o_orderkey.
_sql_query(
    "orderby_limit_topk",
    "SELECT o_orderkey, round(o_totalprice, 2) AS totalprice "
    "FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
)
# SURVEY §2.5 — set operators (INTERSECT / EXCEPT / UNION ALL), distinct
# semantics on both engines. Counts keep the result tiny at any SF.
_sql_query(
    "setops_customer_cohorts",
    "SELECT 'with_orders' AS cohort, count(*) AS n_customers FROM ("
    "  SELECT c_custkey FROM customer INTERSECT SELECT o_custkey FROM orders) t "
    "UNION ALL "
    "SELECT 'without_orders' AS cohort, count(*) AS n_customers FROM ("
    "  SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders) t",
)
# SURVEY §2.6 — scalar-function surface (string/date/math), all JVM-side
# builtins inside whole-stage codegen; identical semantics in DuckDB.
_sql_query(
    "scalar_functions_profile",
    "SELECT year(o_orderdate) AS o_year, count(*) AS n_orders, "
    "round(sum(sqrt(o_totalprice)), 2) AS sum_sqrt_price, "
    "round(avg(length(o_orderpriority)), 4) AS avg_prio_len, "
    "max(upper(substr(o_orderstatus, 1, 1))) AS max_status "
    "FROM orders GROUP BY year(o_orderdate)",
)
# TPC-H Q6-style forecasting revenue change: the classic selective
# filter + single aggregate; every predicate reaches the scan.
_sql_query(
    "tpch_q6_forecast_revenue",
    "SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-01-01' "
    "AND l_discount BETWEEN 0.03 AND 0.05 AND l_quantity < 24",
)
# TPC-H Q3-style shipping priority: 3-way join (customer⋈orders⋈lineitem)
# + selective date filters + grouped top-10. At scale: both filters reach
# the scans (pushdown), join order is fact-last, and the LIMIT plans as
# TakeOrderedAndProject. Deterministic tie-break on l_orderkey.
_sql_query(
    "tpch_q3_shipping_priority",
    "SELECT l_orderkey, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
    "o_orderdate, o_orderpriority "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE c_mktsegment = 'BUILDING' "
    "AND o_orderdate < TIMESTAMP '1998-01-01' "
    "AND l_shipdate > TIMESTAMP '1998-01-01' "
    "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
    "ORDER BY revenue DESC, l_orderkey LIMIT 10",
)
# TPC-H Q5-style local supplier volume: 6-way join with the
# c_nationkey = s_nationkey cross-dimension constraint. Round 9: the
# comma-join spelling let Catalyst's heuristic order put the joined
# (customer⋈orders) subtree on the stream side and BROADCAST the fact
# (600k-row lineitem hash relation built on the driver — measured
# ~2.4× slower, and the inverted shape at any scale). The Spark text
# now spells the join chain fact-first (lineitem streams; every dim is
# the build candidate), which JoinSelection resolves to 5 broadcast
# joins locally and to shuffle joins at sizes where a build side stops
# fitting — strategy stays size-adaptive, only the order is pinned
# (guide §3.1). The oracle keeps the original comma-join text; inner
# join order does not change the result.
_sql_query(
    "tpch_q5_local_supplier_volume",
    "SELECT n_name, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM lineitem "
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' "
    "AND o_orderdate < TIMESTAMP '1997-01-01' "
    "GROUP BY n_name",
    oracle=(
        "SELECT n_name, "
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
        "FROM customer, orders, lineitem, supplier, nation, region "
        "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
        "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
        "AND r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1997-01-01' "
        "GROUP BY n_name"
    ),
)
# TPC-H Q14-style promo revenue share: the two-branch conditional
# aggregate over a fact⋈dim join (part broadcasts at any SF; the only
# shuffle is lineitem's own aggregate). The fixture's p_type is the
# plain category ('PROMO'), not TPC-H's three-word type string.
_sql_query(
    "tpch_q14_promo_revenue",
    "SELECT round(100.00 * "
    "sum(CASE WHEN p_type = 'PROMO' "
    "    THEN l_extendedprice * (1 - l_discount) ELSE 0 END) / "
    "sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-02-01'",
)
# TPC-H Q4-style priority check (adapted: the fixture has no
# l_commitdate/l_receiptdate, so "late" = shipped >60 days after the
# order date): per-priority counts of orders with at least one late
# line — a correlated EXISTS planned as a left-semi hash join, never
# a per-row subquery.
_sql_query(
    "tpch_q4_priority_late_orders",
    "SELECT o_orderpriority, count(*) AS order_count FROM orders "
    "WHERE o_orderdate >= TIMESTAMP '1996-01-01' "
    "AND o_orderdate < TIMESTAMP '1996-04-01' "
    "AND EXISTS (SELECT 1 FROM lineitem "
    "  WHERE l_orderkey = o_orderkey "
    "  AND l_shipdate > o_orderdate + INTERVAL 60 DAY) "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority",
)
# TPC-H Q7-style volume shipping: revenue flow between two nations by
# ship year, where the customer and supplier sit in DIFFERENT nations
# (the symmetric OR pair). All dims broadcast; the only shuffle is
# orders⋈lineitem + the 4-group aggregate. year() is extract-based in
# both dialects.
_sql_query(
    "tpch_q7_volume_shipping",
    "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    "CAST(year(l_shipdate) AS BIGINT) AS l_year, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM supplier JOIN lineitem ON s_suppkey = l_suppkey "
    "JOIN orders ON o_orderkey = l_orderkey "
    "JOIN customer ON c_custkey = o_custkey "
    "JOIN nation n1 ON s_nationkey = n1.n_nationkey "
    "JOIN nation n2 ON c_nationkey = n2.n_nationkey "
    "WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7') "
    "    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')) "
    "AND l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1998-01-01' "
    "GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS BIGINT) "
    "ORDER BY supp_nation, cust_nation, l_year",
)
# TPC-H Q10-style returned-item reporting: which customers returned the
# most revenue in a quarter. 4-way join; nation broadcasts, customer
# broadcasts at small SF and shuffles at 100 TB (AQE decides), the
# selective o_orderdate window and l_returnflag = 'R' both reach the
# scans, and the top-20 plans as TakeOrderedAndProject (no global
# sort). Deterministic tie-break on c_custkey.
_sql_query(
    "tpch_q10_returned_revenue",
    "SELECT c_custkey, c_name, "
    "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
    "n_name "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "WHERE o_orderdate >= TIMESTAMP '1997-01-01' "
    "AND o_orderdate < TIMESTAMP '1997-07-01' "
    "AND l_returnflag = 'R' "
    "GROUP BY c_custkey, c_name, n_name "
    "ORDER BY revenue DESC, c_custkey LIMIT 20",
)
# TPC-H Q18-style large-volume customers: orders whose total line
# quantity exceeds a threshold, with their customers. Written with a
# CTE instead of TPC-H's IN-subquery: the subquery form plans the
# lineitem HAVING aggregate TWICE (once per semi-join consumer —
# verified in the physical plan); the CTE computes it once (partial
# map-side agg, one shuffle on l_orderkey), and the tiny qualifying
# set broadcasts to orders/customer. l_quantity is integer-valued so
# the HAVING sum is exact on both engines.
_sql_query(
    "tpch_q18_large_volume_customers",
    "WITH big AS (SELECT l_orderkey, "
    "  CAST(sum(l_quantity) AS BIGINT) AS sum_qty "
    "  FROM lineitem GROUP BY l_orderkey "
    "  HAVING sum(l_quantity) > 190) "
    "SELECT c_custkey, c_name, o_orderkey, o_orderdate, "
    "round(o_totalprice, 2) AS o_totalprice, sum_qty "
    "FROM big JOIN orders ON o_orderkey = l_orderkey "
    "JOIN customer ON c_custkey = o_custkey "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
)
# TPC-H Q19-style disjunctive predicate revenue: an OR-of-ANDs (DNF)
# over joined fact+dim columns. Catalyst pushes the partial,
# column-local implications down to both scans (p_brand IN (...) to
# part, l_quantity range union to lineitem) before the broadcast join
# evaluates the full disjunction — the classic pushdown-through-OR
# test. Brands adapted to the fixture's Brand#1..Brand#25 domain.
_sql_query(
    "tpch_q19_disjunctive_revenue",
    "SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 "
    "       AND l_quantity BETWEEN 1 AND 11) "
    "   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 "
    "       AND l_quantity BETWEEN 10 AND 20) "
    "   OR (p_brand = 'Brand#25' AND p_size BETWEEN 1 AND 35 "
    "       AND l_quantity BETWEEN 20 AND 30)",
)
# TPC-H Q12-style shipping-mode analysis, adapted (the fixture has no
# l_shipmode): ship-lag buckets play the mode role, and the classic
# two-branch conditional count splits critical (URGENT/HIGH) from
# other priorities per bucket — the CASE-inside-aggregate shape over
# one fact-fact join. Both filters and the 1997 window reach the
# scans.
_sql_query(
    "tpch_q12_shipping_lag_priority",
    "SELECT CAST(least(floor(datediff(l_shipdate, o_orderdate) / 30.0), 3) "
    "            AS BIGINT) AS lag_bucket, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
    "         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
    "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') "
    "         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
    "AND l_shipdate < TIMESTAMP '1998-01-01' "
    "AND l_shipdate >= o_orderdate "
    "GROUP BY 1 ORDER BY 1",
    oracle=(
        "SELECT CAST(least(floor(date_diff('day', o_orderdate, l_shipdate) / 30.0), 3) "
        "            AS BIGINT) AS lag_bucket, "
        "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') "
        "         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
        "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') "
        "         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
        "AND l_shipdate < TIMESTAMP '1998-01-01' "
        "AND l_shipdate >= o_orderdate "
        "GROUP BY 1 ORDER BY 1"
    ),
)
# TPC-H Q22-style global-market analysis, adapted to the fixture's
# dense order history ("never ordered at all" matches almost nobody):
# positive-balance customers above the GLOBAL average balance with no
# order since 2000-01-01 — churned high-value accounts by nation.
# Exercises an uncorrelated scalar subquery (computed once, broadcast)
# and NOT EXISTS planned as a left-anti hash join with the date filter
# pushed below it — never a per-row subquery.
_sql_query(
    "tpch_q22_global_sales_opportunity",
    "SELECT c_nationkey, count(*) AS numcust, "
    "round(sum(c_acctbal), 2) AS totacctbal "
    "FROM customer "
    "WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer "
    "                   WHERE c_acctbal > 0.0) "
    "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
    "                AND o_orderdate >= TIMESTAMP '2000-01-01') "
    "GROUP BY c_nationkey ORDER BY c_nationkey",
)
# TPC-H Q8-style national market share: NATION_7's share of ASIA's
# ECONOMY-part import volume by order year — the deepest join in the
# suite (7 tables faithful to Q8 minus partsupp, which the fixture
# does not ship). part/supplier/customer/nation×2/region all
# broadcast; the only shuffle is orders⋈lineitem + the 2-group
# aggregate. The share is a ratio of same-group float sums rounded to
# 4 (the q14 convention).
_sql_query(
    "tpch_q8_national_market_share",
    "SELECT o_year, "
    "round(sum(CASE WHEN nation = 'NATION_7' THEN volume ELSE 0 END) "
    "      / sum(volume), 4) AS mkt_share FROM ("
    "  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, "
    "         l_extendedprice * (1 - l_discount) AS volume, "
    "         n2.n_name AS nation "
    "  FROM part JOIN lineitem ON p_partkey = l_partkey "
    "  JOIN supplier ON s_suppkey = l_suppkey "
    "  JOIN orders ON l_orderkey = o_orderkey "
    "  JOIN customer ON o_custkey = c_custkey "
    "  JOIN nation n1 ON c_nationkey = n1.n_nationkey "
    "  JOIN region ON n1.n_regionkey = r_regionkey "
    "  JOIN nation n2 ON s_nationkey = n2.n_nationkey "
    "  WHERE r_name = 'ASIA' AND p_type = 'ECONOMY' "
    "  AND o_orderdate >= TIMESTAMP '1996-01-01' "
    "  AND o_orderdate < TIMESTAMP '1998-01-01') t "
    "GROUP BY o_year ORDER BY o_year",
)
# TPC-H Q13-style customer order-count distribution: how many
# customers placed k orders (excluding URGENT ones — the stand-in for
# Q13's comment anti-pattern, which the fixture's orders don't carry).
# The LEFT join keeps zero-order customers (the k = 0 bucket), the
# filter rides the join condition so it never turns the outer join
# inner, and the two-level aggregate shuffles once per level.
_sql_query(
    "tpch_q13_customer_distribution",
    "WITH c_orders AS ("
    "  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count "
    "  FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
    "    AND o_orderpriority <> '1-URGENT' "
    "  GROUP BY c_custkey) "
    "SELECT c_count, count(*) AS custdist FROM c_orders "
    "GROUP BY c_count ORDER BY custdist DESC, c_count DESC",
)
# TPC-H Q15-style top supplier: the quarter's revenue per supplier,
# then the supplier(s) hitting the maximum — the uncorrelated scalar
# subquery over a reused CTE (Spark materializes the aggregate once;
# the max broadcasts). Revenue accumulates on the integer-cents grid
# (exact, order-free in both engines) because the MAX-equality
# comparison must never hinge on float association.
_sql_query(
    "tpch_q15_top_supplier",
    "WITH revenue AS ("
    "  SELECT l_suppkey AS supplier_no, "
    "  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 "
    "                      + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents "
    "  FROM lineitem "
    "  WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
    "  AND l_shipdate < TIMESTAMP '1996-04-01' "
    "  GROUP BY l_suppkey) "
    "SELECT s_suppkey, s_name, "
    "round(CAST(rev_cents AS DOUBLE) / 100.0, 2) AS total_revenue "
    "FROM supplier JOIN revenue ON s_suppkey = supplier_no "
    "WHERE rev_cents = (SELECT max(rev_cents) FROM revenue) "
    "ORDER BY s_suppkey",
)
# TPC-H Q17-style small-quantity-order revenue: average yearly revenue
# lost if sub-20%-of-average-quantity orders for one brand's SMALL
# parts were dropped. Q18's CTE treatment of the correlated aggregate:
# per-part average quantity computed ONCE (one shuffle on l_partkey),
# then a broadcast-able join against the brand-filtered lines — never
# a per-row correlated subquery. l_quantity is integer-valued, so the
# per-part averages are exact-in-double in both engines and the 0.2×
# threshold comparison never sits on a representation boundary.
_sql_query(
    "tpch_q17_small_quantity_revenue",
    "WITH avgq AS ("
    "  SELECT l_partkey AS ap_partkey, avg(l_quantity) AS aq "
    "  FROM lineitem GROUP BY l_partkey) "
    "SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "JOIN avgq ON ap_partkey = l_partkey "
    "WHERE p_brand = 'Brand#13' AND p_type = 'SMALL' "
    "AND l_quantity < 0.2 * aq",
)
# TPC-H Q21-style suppliers who kept orders waiting: for finished
# orders, the supplier whose line shipped late (>60 days after the
# order date — the fixture's q4 lateness stand-in for the missing
# receipt/commit dates) while EVERY other supplier on the order
# shipped on time. One EXISTS (left-semi: the order is genuinely
# multi-supplier) + one NOT EXISTS (left-anti: no other supplier was
# late) — both planned as hash joins on l_orderkey, the correlated
# non-equality date predicate handled by Spark's decorrelation, never
# a per-row subquery. Top-20 plans as TakeOrderedAndProject.
_sql_query(
    "tpch_q21_suppliers_kept_waiting",
    # Round-7 plan rewrite (equivalence DuckDB-verified at sf0.01 and
    # sf0.1 against the literal EXISTS/NOT-EXISTS form): the two
    # correlated subqueries each cost a lineitem shuffle (semi + anti
    # join on l_orderkey); ONE per-order aggregate carries both facts —
    # "another supplier exists" ⟺ nsupp ≥ 2, "no OTHER supplier was
    # late" ⟺ the order's late-supplier set is exactly {l1's} ⟺
    # nlate = 1 given l1 itself is late. Three lineitem scans + two
    # semi/anti shuffles become one scan + one orderkey aggregate +
    # one orderkey join — at 100 TB this halves the fact traffic of
    # the heaviest TPC-H adaptation.
    "WITH lo AS ("
    "  SELECT l_orderkey, l_suppkey, "
    "         l_shipdate > o_orderdate + INTERVAL 60 DAY AS late "
    "  FROM lineitem JOIN orders ON o_orderkey = l_orderkey "
    "  WHERE o_orderstatus = 'F'), "
    "agg AS ("
    "  SELECT l_orderkey, count(DISTINCT l_suppkey) AS nsupp, "
    "         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS nlate "
    "  FROM lo GROUP BY l_orderkey) "
    "SELECT s_name, count(*) AS numwait "
    "FROM lo JOIN agg ON lo.l_orderkey = agg.l_orderkey "
    "JOIN supplier ON s_suppkey = lo.l_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE late AND nsupp >= 2 AND nlate = 1 AND n_name = 'NATION_3' "
    "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20",
)
# SURVEY §2.5 beyond-reference — Gini coefficient of per-customer
# revenue (the inequality/concentration diagnostic next to the RFM
# segments and the key-frequency spectrum). Exact-rank formula
# G = (2·Σ i·x_(i) − (n+1)·Σx) / (n·Σx) over integer cents with a
# deterministic (value, key) total order: every sum is an exact
# integer, the final division is one IEEE op, so the 6-decimal output
# is engine-identical. The rank window sorts |customers| rows — the
# scale path pre-partitions by range exactly like the decile entry.
_sql_query(
    "profile_revenue_gini",
    "WITH rev AS (SELECT o_custkey, "
    "  CAST(sum(floor(o_totalprice * 100.0 + 0.5)) AS BIGINT) AS cents "
    "  FROM orders GROUP BY o_custkey), "
    "ranked AS (SELECT cents, "
    "  row_number() OVER (ORDER BY cents, o_custkey) AS i FROM rev) "
    "SELECT CAST(count(*) AS BIGINT) AS n_customers, "
    "round(CAST(sum(cents) AS DOUBLE) / 100.0, 2) AS total_revenue, "
    # Σ i·cents reaches ~2e19 at SF≥3 — past BIGINT, where Spark's
    # non-ANSI sum wraps silently while DuckDB widens to HUGEINT.
    # DECIMAL(38,0) accumulates exactly in BOTH engines; the one cast
    # to DOUBLE afterwards converts the same exact integer to the same
    # nearest double on each side.
    "round((2.0 * CAST(sum(CAST(i AS DECIMAL(38, 0)) * cents) AS DOUBLE) "
    "       - (count(*) + 1.0) * CAST(sum(cents) AS DOUBLE)) "
    "      / (count(*) * CAST(sum(cents) AS DOUBLE)), 6) AS gini "
    "FROM ranked",
)
# SURVEY §2.6 beyond-reference — exact bivariate statistics in one
# scan: correlation, sample covariance, and the OLS line
# (slope/intercept) for (quantity, price). Both engines use one-pass
# covariance updates whose float paths can differ at the last ulp;
# the rounded outputs absorb that (same convention as approx_corr_ci).
_sql_query(
    "profile_bivariate_stats",
    "SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price, "
    "round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qty_price, "
    "round(regr_slope(l_extendedprice, l_quantity), 6) AS slope_price_on_qty, "
    "round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept_price_on_qty "
    "FROM lineitem",
)
# SURVEY §2.4 beyond-reference — EXACT grouped quantiles. This is the
# exact BASELINE next to the approximate quantile family (sampled
# order-statistic CIs, DDSketch) — at 100 TB it pays a full per-group
# sort, which is precisely what the sketch family exists to avoid;
# certifying both sides makes the trade measurable. NOT rendered as
# percentile()/quantile_cont(): the engines associate the linear
# interpolation differently (lo+(hi−lo)·f vs lo·(1−f)+hi·f), and on
# raw float dollars the one-ulp gap straddles a round-to-cents
# boundary (p50 52724.24 vs .25 at sf0.001 — caught by the gate).
# Instead both engines run the SAME SQL: order statistics on the
# integer-cents grid, interpolation as exact integer arithmetic
# (value·m stays integral for q = k/m), half-up to integer cents via
# integer floor-division, and one final /100.0 that lands every
# output exactly on the two-decimal grid — bit-identical by
# construction. The per-group window sort is the declared cost of the
# exact baseline (scale path: repartitionByRange, as the decile entry).
_EGQ_QUANTS = [("25", 1, 4), ("50", 1, 2), ("75", 3, 4), ("95", 19, 20)]
_sql_query(
    "exact_grouped_quantiles",
    "WITH c AS (SELECT l_returnflag AS flag, "
    "  CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents "
    "  FROM lineitem), "
    "r AS (SELECT flag, cents, "
    "  row_number() OVER (PARTITION BY flag ORDER BY cents) - 1 AS i, "
    "  count(*) OVER (PARTITION BY flag) AS n FROM c), "
    "p AS (SELECT flag, cents, i, n, "
    + ", ".join(
        f"CAST(floor(CAST((n - 1) * {k} AS DOUBLE) / {m}) AS BIGINT) AS lo{s}"
        for s, k, m in _EGQ_QUANTS
    )
    + " FROM r), "
    "g AS (SELECT flag, n, "
    + ", ".join(f"lo{s}" for s, _, _ in _EGQ_QUANTS)
    + ", "
    + ", ".join(
        f"max(CASE WHEN i = lo{s} THEN cents END) AS a{s}, "
        f"coalesce(max(CASE WHEN i = lo{s} + 1 THEN cents END), "
        f"max(CASE WHEN i = lo{s} THEN cents END)) AS b{s}"
        for s, _, _ in _EGQ_QUANTS
    )
    + " FROM p GROUP BY flag, n, "
    + ", ".join(f"lo{s}" for s, _, _ in _EGQ_QUANTS)
    + ") "
    "SELECT flag AS l_returnflag, "
    + ", ".join(
        # rem = (n-1)·k − m·lo ∈ [0, m); scaled = a·(m−rem) + b·rem is
        # the quantile in cents·m (exact BIGINT); half-up integer cents
        # = floor((2·scaled + m) / (2m)); /100.0 → exact 2-decimal grid.
        f"CAST(CAST(floor((2.0 * (a{s} * ({m} - ((n - 1) * {k} - {m} * lo{s}))"
        f" + b{s} * ((n - 1) * {k} - {m} * lo{s})) + {m}) / {2 * m}.0) AS BIGINT)"
        f" AS DOUBLE) / 100.0 AS p{s}"
        for s, k, m in _EGQ_QUANTS
    )
    + " FROM g ORDER BY l_returnflag",
)
# SURVEY §2.5 beyond-reference — decile segmentation: ntile over a
# deterministic total order (balance, then key), rolled up to
# per-decile stats. The window sorts |customers| rows on one
# partition at fixture scale; the scale path is the same windowed
# rollup AFTER a repartitionByRange pre-sort (documented trade, as
# with the zonemap/zorder balanced layouts).
_sql_query(
    "window_acctbal_deciles",
    "SELECT decile, count(*) AS n_cust, "
    "round(min(c_acctbal), 2) AS lo, round(max(c_acctbal), 2) AS hi, "
    "round(sum(c_acctbal), 2) AS total "
    "FROM (SELECT c_acctbal, "
    "      ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile "
    "      FROM customer) __d "
    "GROUP BY decile ORDER BY decile",
)
# SURVEY §2.5 beyond-reference — UNPIVOT (wide → long), the inverse of
# pivot_order_status: one conditional-count scan makes the wide row,
# stack() lays it back out as (status, n_orders) rows. DuckDB spells
# the same reshape as UNION ALL over the one-row CTE.
_sql_query(
    "unpivot_order_status_counts",
    "SELECT stack(3, 'F', f, 'O', o, 'P', p) AS (status, n_orders) FROM "
    "(SELECT sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS f, "
    "        sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS o, "
    "        sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS p "
    " FROM orders) __w",
    oracle=(
        "WITH w AS ("
        "  SELECT CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS f, "
        "         CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS o, "
        "         CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS p "
        "  FROM orders) "
        "SELECT 'F' AS status, f AS n_orders FROM w "
        "UNION ALL SELECT 'O', o FROM w "
        "UNION ALL SELECT 'P', p FROM w"
    ),
)
# SURVEY §2.4 beyond-reference — GROUPING SETS (subtotals + grand total
# in one shuffle via Expand, vs three scans). coalesce() disambiguates
# the rollup NULLs identically on both engines.
_sql_query(
    "grouping_sets_revenue",
    "SELECT coalesce(l_returnflag, 'ALL') AS returnflag, "
    "coalesce(l_linestatus, 'ALL') AS linestatus, "
    "round(sum(l_extendedprice), 2) AS sum_price, count(*) AS n_rows "
    "FROM lineitem GROUP BY GROUPING SETS "
    "((l_returnflag, l_linestatus), (l_returnflag), ())",
)
# SURVEY §2.3 beyond-reference — correlated EXISTS / NOT EXISTS, planned
# as left-semi / left-anti hash joins (no subquery re-execution per row).
_sql_query(
    "semi_anti_join_parts",
    "SELECT 'ever_bulk_ordered' AS cohort, count(*) AS n_parts FROM part "
    "WHERE EXISTS (SELECT 1 FROM lineitem "
    "  WHERE l_partkey = p_partkey AND l_quantity >= 49) "
    "UNION ALL "
    "SELECT 'never_ordered' AS cohort, count(*) AS n_parts FROM part "
    "WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)",
)
# SURVEY §2.5 beyond-reference — window-function surface: running sum
# (explicit ROWS frame), lag delta, rank. One shuffle on o_custkey serves
# all three (same partition spec). Unique (o_orderdate, o_orderkey)
# ordering makes every value deterministic; the modulo filter keeps the
# result set small at any SF.
_sql_query(
    "window_customer_order_history",
    "SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, "
    "round(sum(o_totalprice) OVER (PARTITION BY o_custkey "
    "  ORDER BY o_orderdate, o_orderkey "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total, "
    "round(o_totalprice - lag(o_totalprice) OVER (PARTITION BY o_custkey "
    "  ORDER BY o_orderdate, o_orderkey), 2) AS delta_prev, "
    "rank() OVER (PARTITION BY o_custkey "
    "  ORDER BY o_totalprice DESC, o_orderkey) AS price_rank "
    "FROM orders WHERE o_custkey % 500 = 7",
)
# Semi-structured surface: JSON extraction from the events props column
# (get_json_object stays JVM-side inside codegen — no Python, no UDF).
_sql_query(
    "json_props_stats",
    "SELECT event_type, "
    "round(avg(CAST(get_json_object(props, '$.k') AS INT)), 4) AS avg_k, "
    "max(CAST(get_json_object(props, '$.k') AS INT)) AS max_k, "
    "count(*) AS n_events "
    "FROM events GROUP BY event_type ORDER BY event_type",
    oracle=(
        "SELECT event_type, "
        "round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k, "
        "max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k, "
        "count(*) AS n_events "
        "FROM events GROUP BY event_type ORDER BY event_type"
    ),
)
# Time-series gap-fill: hourly resample over a generated time spine with
# last-observation-carried-forward. The spine is sequence()+explode (a
# few thousand rows at any SF — generated, not scanned); the hourly
# rollup is one shuffle; LOCF is a single running window. The hypertable
# rollup shape, Spark-first.
_sql_query(
    "resample_hourly_locf",
    "WITH bounds AS (SELECT date_trunc('hour', min(ts)) AS t0, "
    "                       date_trunc('hour', max(ts)) AS t1 FROM events), "
    "spine AS (SELECT explode(sequence(t0, t1, INTERVAL 1 HOUR)) AS hour FROM bounds), "
    "hourly AS (SELECT date_trunc('hour', ts) AS hour, "
    "           round(sum(value), 2) AS v, count(*) AS n FROM events GROUP BY 1) "
    "SELECT s.hour, coalesce(h.n, 0) AS n_events, "
    "last_value(h.v, true) OVER (ORDER BY s.hour "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled "
    "FROM spine s LEFT JOIN hourly h ON s.hour = h.hour ORDER BY s.hour",
    oracle=(
        "WITH bounds AS (SELECT date_trunc('hour', min(ts)) AS t0, "
        "                       date_trunc('hour', max(ts)) AS t1 FROM events), "
        "spine AS (SELECT unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS hour FROM bounds), "
        "hourly AS (SELECT date_trunc('hour', ts) AS hour, "
        "           round(sum(value), 2) AS v, count(*) AS n FROM events GROUP BY 1) "
        "SELECT s.hour, coalesce(h.n, 0) AS n_events, "
        "last_value(h.v IGNORE NULLS) OVER (ORDER BY s.hour "
        "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled "
        "FROM spine s LEFT JOIN hourly h ON s.hour = h.hour ORDER BY s.hour"
    ),
)
# Time-weighted average over irregular samples — the value is held
# until the next observation (right-open step function), so each value
# is weighted by its holding interval. Integer-microsecond epochs
# (unix_micros / epoch_us) keep Δt exact in both engines; one window
# pass + one aggregation.
_sql_query(
    "timeseries_twa_by_type",
    "WITH d AS (SELECT event_type, value, "
    "  unix_micros(ts) AS t_us, "
    "  lead(unix_micros(ts)) OVER (PARTITION BY event_type "
    # ts IS NOT NULL: a sample without a time has no holding interval,
    # and the engines order NULL ts on opposite ends of the window
    "    ORDER BY ts, event_id) AS nxt_us FROM events WHERE ts IS NOT NULL) "
    "SELECT event_type, "
    "round(sum(value * (nxt_us - t_us)) / sum(nxt_us - t_us), 6) AS twa, "
    "count(*) AS n_intervals "
    "FROM d WHERE nxt_us IS NOT NULL GROUP BY event_type ORDER BY event_type",
    oracle=(
        "WITH d AS (SELECT event_type, value, "
        "  epoch_us(ts) AS t_us, "
        "  lead(epoch_us(ts)) OVER (PARTITION BY event_type "
        "    ORDER BY ts, event_id) AS nxt_us FROM events WHERE ts IS NOT NULL) "
        "SELECT event_type, "
        "round(sum(value * (nxt_us - t_us)) / sum(nxt_us - t_us), 6) AS twa, "
        "count(*) AS n_intervals "
        "FROM d WHERE nxt_us IS NOT NULL GROUP BY event_type ORDER BY event_type"
    ),
)
# Heavy hitters: exact global token top-k over documents. The partial
# aggregate absorbs the explode fan-out map-side, so the shuffle carries
# one row per distinct token per partition — the scalable exact form
# (the sketch path is `sketch_approx_distinct`). Dialects differ only in
# the UNNEST spelling.
_sql_query(
    "heavy_hitters_tokens",
    "SELECT token, count(*) AS cnt FROM ("
    "  SELECT explode(split(lower(text), ' ')) AS token FROM documents) t "
    "WHERE token <> '' GROUP BY token ORDER BY cnt DESC, token LIMIT 20",
    oracle=(
        "SELECT token, count(*) AS cnt FROM ("
        "  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) t "
        "WHERE token <> '' GROUP BY token ORDER BY cnt DESC, token LIMIT 20"
    ),
)
# Top-k groups + exact OTHERS residual: the honest high-cardinality
# group-by answer shape — a dashboard wants "the top 10 and how much
# everything else adds up to", and at 100 TB emitting ALL groups is
# the bug. One grouped pass; the residual derives from the SAME
# aggregate via a window rank, not a second scan.
_TOPK_OTHERS = """
WITH g AS (
  SELECT token, count(*) AS cnt FROM (
    SELECT {explode} AS token FROM documents) t
  WHERE token <> '' GROUP BY token
),
r AS (
  SELECT token, cnt,
         row_number() OVER (ORDER BY cnt DESC, token) AS rk
  FROM g
)
SELECT token, cnt, in_topk FROM (
  SELECT token, CAST(cnt AS BIGINT) AS cnt, 1 AS in_topk FROM r WHERE rk <= 10
  UNION ALL
  SELECT '__OTHERS__' AS token, CAST(coalesce(sum(cnt), 0) AS BIGINT) AS cnt,
         0 AS in_topk
  FROM r WHERE rk > 10
) u ORDER BY in_topk DESC, cnt DESC, token
"""
_sql_query(
    "heavy_hitters_topk_others",
    _TOPK_OTHERS.format(explode="explode(split(lower(text), ' '))"),
    oracle=_TOPK_OTHERS.format(explode="unnest(string_split(lower(text), ' '))"),
)


# ---------------------------------------------------------------------------
# Approximate path — deterministic samples, oracle-matched estimates + CIs.
# ---------------------------------------------------------------------------

def _approx_query(
    name: str,
    table: str,
    agg: str,
    column: str | None,
    spec: SamplingSpec,
    group_by: str | None = None,
    where: str | None = None,
    round_to: int = 2,
    alias: str | None = None,
) -> None:
    aspec = AggSpec(agg, column, alias=alias)

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        cat = _catalog(spark, sf_dir)
        df = cat.table(table)
        if where:
            df = df.filter(where)
        sampled = apply_sampling(df, spec)
        rdf = approx_aggregate(
            sampled,
            aspec,
            group_by=[group_by] if group_by else None,
        )
        return _round_cols(rdf, {aspec.name(): round_to, "ci_lower": round_to, "ci_upper": round_to})

    sample_where = sampling_where_sql(spec)
    full_where = f"({sample_where}) AND ({where})" if where else sample_where
    oracle = moments_sql(
        table=table,
        column=column if column else "1",
        where=full_where,
        agg=agg,
        p_sql=sampling_p_sql(spec),
        alias=aspec.name(),
        group_by=group_by,
        round_to=round_to,
    )
    _register(name, fn, oracle)


_LKEY = "l_orderkey * 8 + l_linenumber"

_approx_query(
    "approx_sum_uniform10",
    "lineitem", "sum", "l_extendedprice",
    SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY),
)
_approx_query(
    "approx_avg_uniform10",
    "lineitem", "avg", "l_extendedprice",
    SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY),
    round_to=4,
)
_approx_query(
    "approx_count_uniform10",
    "lineitem", "count", None,
    SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY),
)
_approx_query(
    "approx_sum_where_uniform20",
    "lineitem", "sum", "l_extendedprice",
    SamplingSpec(design="uniform_hash", fraction=0.20, key=_LKEY),
    where="l_discount > 0.05",
)
_approx_query(
    "approx_groupby_sum_ci20",
    "lineitem", "sum", "l_extendedprice",
    SamplingSpec(design="uniform_hash", fraction=0.20, key=_LKEY),
    group_by="l_returnflag",
)
# The AQP form of TPC-H Q6: same predicate, 10% deterministic sample,
# HT-scaled revenue with CI — approximate analytics on a real query
# shape, not just bare columns.
_approx_query(
    "approx_q6_revenue_uniform10",
    "lineitem", "sum", "l_extendedprice * l_discount",
    SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY),
    alias="revenue_est",
    where="l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-01-01' "
    "AND l_discount BETWEEN 0.03 AND 0.05 AND l_quantity < 24",
)
# The whole Q1-style block — three measures with CIs — from ONE 10%
# sampled pass (multi-measure moments in a single HashAggregate).
def _approx_q1_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _catalog(spark, sf_dir)
    spec = SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY)
    sampled = apply_sampling(cat.table("lineitem"), spec)
    rdf = approx_multi_aggregate(
        sampled,
        [
            AggSpec("sum", "l_quantity", alias="sum_qty"),
            AggSpec("sum", "l_extendedprice * (1 - l_discount)", alias="sum_disc_price"),
            AggSpec("avg", "l_quantity", alias="avg_qty"),
        ],
        group_by=["l_returnflag"],
    )
    return _round_cols(
        rdf,
        {
            "sum_qty": 2, "sum_qty_lo": 2, "sum_qty_hi": 2,
            "sum_disc_price": 3, "sum_disc_price_lo": 3, "sum_disc_price_hi": 3,
            "avg_qty": 4, "avg_qty_lo": 4, "avg_qty_hi": 4,
        },
    )


def _approx_q1_oracle() -> str:
    spec = SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY)
    return multi_moments_sql(
        "lineitem",
        [
            AggSpec("sum", "l_quantity", alias="sum_qty"),
            AggSpec("sum", "l_extendedprice * (1 - l_discount)", alias="sum_disc_price"),
            AggSpec("avg", "l_quantity", alias="avg_qty"),
        ],
        where=sampling_where_sql(spec),
        p_sql=sampling_p_sql(spec),
        group_by="l_returnflag",
        round_spec={"sum_qty": 2, "sum_disc_price": 3, "avg_qty": 4},
    )


_register("approx_q1_block_uniform10", _approx_q1_fn, _approx_q1_oracle())


# Systematic (stride) sampling — realized-probability scaling (quirk Q2 fix):
# nominal 15% → step 7 → scale ×7, not ×6.67.
_approx_query(
    "approx_sum_systematic15",
    "lineitem", "sum", "l_extendedprice",
    SamplingSpec(design="systematic", fraction=0.15, key=_LKEY),
)
# Cluster/block sampling: 64-row key blocks, whole block in or out.
_approx_query(
    "approx_sum_block10",
    "lineitem", "sum", "l_extendedprice",
    SamplingSpec(design="block", fraction=0.10, key=_LKEY, block_size=64),
)
# Stratified with unequal allocations; HT weights correct the skew.
_approx_query(
    "approx_sum_stratified",
    "lineitem", "sum", "l_extendedprice",
    SamplingSpec(
        design="stratified", fraction=0.10, key=_LKEY,
        stratum_col="l_returnflag", strata_fractions={"N": 0.3, "A": 0.05},
    ),
)
_approx_query(
    "approx_events_avg_by_type",
    "events", "avg", "value",
    SamplingSpec(design="uniform_hash", fraction=0.25, key="event_id"),
    group_by="event_type",
    round_to=4,
)
_approx_query(
    "approx_orders_count_systematic",
    "orders", "count", None,
    SamplingSpec(design="systematic", fraction=0.10, key="o_orderkey"),
)
# WHERE + GROUP BY together (SURVEY §7 hard part: per-group realized
# fractions — handled by the per-row __p weights, n varies per group).
_approx_query(
    "approx_where_groupby_sum20",
    "lineitem", "sum", "l_extendedprice",
    SamplingSpec(design="uniform_hash", fraction=0.20, key=_LKEY),
    group_by="l_linestatus",
    where="l_quantity >= 25",
)


# R30 head sample — the reference's `rowid <= block_size` shortcut,
# reproduced behind an explicit helper because it is statistically
# biased (documented in head_sample's docstring).
def _head_query(
    name: str, table: str, agg: str, column: str, key: str,
    fraction: float, round_to: int = 2,
) -> None:
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        cat = _catalog(spark, sf_dir)
        sampled = head_sample(cat.table(table), key, fraction)
        rdf = approx_aggregate(sampled, AggSpec(agg, column))
        alias = AggSpec(agg, column).name()
        return _round_cols(rdf, {alias: round_to, "ci_lower": round_to, "ci_upper": round_to})

    where, p = head_sample_sql(table, key, fraction)
    oracle = moments_sql(
        table=table, column=column, where=where, agg=agg, p_sql=p,
        alias=AggSpec(agg, column).name(), round_to=round_to,
    )
    _register(name, fn, oracle)


_head_query(
    "approx_sum_head5", "orders", "sum", "o_totalprice", "o_orderkey", 0.05,
)


def _neyman_query(
    name: str,
    table: str,
    value_col: str,
    stratum_col: str,
    key: str,
    total_fraction: float = 0.05,
    round_to: int = 2,
) -> None:
    """Variance-adaptive stratified sampling (R14): pass 1 derives the
    per-stratum Neyman fractions from (count, quantized stddev); pass 2
    samples + estimates. The oracle re-derives the identical allocation
    in SQL — the stddev quantization makes the arithmetic exact in
    doubles, so both engines compute bit-equal fractions, thresholds,
    samples, and estimates."""
    quantum = 10

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        cat = _catalog(spark, sf_dir)
        df = cat.table(table)
        fracs = neyman_allocation(
            df, stratum_col, value_col, total_fraction, quantum=quantum
        )
        spec = SamplingSpec(
            design="stratified", fraction=total_fraction, key=key,
            stratum_col=stratum_col, strata_fractions=fracs,
        )
        rdf = approx_aggregate(apply_sampling(df, spec), AggSpec("sum", value_col))
        alias = AggSpec("sum", value_col).name()
        return _round_cols(rdf, {alias: round_to, "ci_lower": round_to, "ci_upper": round_to})

    x = f"CAST({value_col} AS DOUBLE)"
    alloc_f = (
        f"least(greatest({total_fraction!r} * (SELECT n FROM tot) * sh / (SELECT ns FROM tot), "
        f"0.005), 1.0)"
    )
    oracle = (
        f"WITH st AS (SELECT {stratum_col} AS stratum, COUNT(*) AS nh, "
        f"CAST(floor(coalesce(stddev_samp({x}), 0.0) / {quantum} + 0.5) AS BIGINT) * {quantum} AS sh "
        f"FROM {table} GROUP BY 1), "
        f"tot AS (SELECT SUM(nh) AS n, SUM(nh * sh) AS ns FROM st), "
        f"alloc AS (SELECT stratum, {alloc_f} AS f FROM st), "
        # IS NOT DISTINCT FROM: NULL is a first-class stratum (it has
        # its own nh/sh row in st), and a plain equi-join would DROP
        # its rows from the oracle's sample while the Spark side
        # (eqNullSafe whens) samples them at their allocated fraction.
        f"samp AS (SELECT t.*, a.f AS p FROM {table} t "
        f"JOIN alloc a ON t.{stratum_col} IS NOT DISTINCT FROM a.stratum "
        f"WHERE {portable_hash_sql(key)} < CAST(floor(a.f * {HASH_SPACE}) AS BIGINT)) "
        + moments_sql(
            table="samp", column=value_col, where="TRUE", agg="sum",
            p_sql="p", alias=AggSpec("sum", value_col).name(), round_to=round_to,
        )
    )
    _register(name, fn, oracle)


_neyman_query(
    "approx_sum_neyman",
    "lineitem", "l_extendedprice", "l_returnflag", _LKEY,
)


def _congress_query(
    name: str,
    table: str,
    value_col: str,
    band_sql: str,
    key: str,
    total_fraction: float = 0.06,
    round_to: int = 2,
) -> None:
    """Congressional group-by sampling (Acharya et al. SIGMOD'00):
    allocation = max(house, senate) per group — the small 'high' price
    band gets a far larger sampling fraction than its proportional
    share, so its per-group estimate is usable instead of starved.
    Pass 1 is a COUNT-only groupBy; pass 2 samples + estimates per
    group. The integer-weight construction (M_g = max(N_g·G, N)) makes
    the allocation bit-reproducible, and the oracle re-derives
    counts → weights → fractions → thresholds → per-group HT estimates
    end-to-end in SQL."""
    min_f = 0.005

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        cat = _catalog(spark, sf_dir)
        df = cat.table(table).withColumn("band", F.expr(band_sql))
        fracs = congressional_allocation(df, "band", total_fraction, min_fraction=min_f)
        spec = SamplingSpec(
            design="stratified", fraction=total_fraction, key=key,
            stratum_col="band", strata_fractions=fracs,
        )
        rdf = approx_aggregate(
            apply_sampling(df, spec), AggSpec("sum", value_col), group_by=["band"]
        )
        alias = AggSpec("sum", value_col).name()
        return _round_cols(rdf, {alias: round_to, "ci_lower": round_to, "ci_upper": round_to})

    f_expr = (
        f"least(greatest((CAST((SELECT b FROM tot) AS DOUBLE) / (SELECT s FROM tot2)) "
        f"* (CAST(m AS DOUBLE) / nh), {min_f!r}), 1.0)"
    )
    oracle = (
        f"WITH bsrc AS (SELECT *, {band_sql} AS band FROM {table}), "
        f"st AS (SELECT band, CAST(COUNT(*) AS BIGINT) AS nh FROM bsrc GROUP BY 1), "
        f"tot AS (SELECT CAST(SUM(nh) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS g, "
        f"CAST(floor({total_fraction!r} * SUM(nh)) AS BIGINT) AS b FROM st), "
        f"alloc AS (SELECT band, nh, "
        f"greatest(nh * (SELECT g FROM tot), (SELECT n FROM tot)) AS m FROM st), "
        f"tot2 AS (SELECT CAST(SUM(m) AS BIGINT) AS s FROM alloc), "
        f"alloc2 AS (SELECT band, {f_expr} AS f FROM alloc), "
        # null-safe for the same reason as the Neyman oracle above
        # (band is a CASE over a nullable column: NULL value -> ELSE
        # branch here, but a custom band_sql could emit NULL bands)
        f"samp AS (SELECT t.*, a.f AS p FROM bsrc t "
        f"JOIN alloc2 a ON t.band IS NOT DISTINCT FROM a.band "
        f"WHERE {portable_hash_sql(key)} < CAST(floor(a.f * {HASH_SPACE}) AS BIGINT)) "
        + moments_sql(
            table="samp", column=value_col, where="TRUE", agg="sum",
            p_sql="p", alias=AggSpec("sum", value_col).name(),
            group_by="band", round_to=round_to,
        )
    )
    _register(name, fn, oracle)


_congress_query(
    "approx_groupby_sum_congress",
    "lineitem",
    "l_extendedprice",
    "CASE WHEN l_extendedprice >= 100000 THEN 'high' "
    "WHEN l_extendedprice >= 50000 THEN 'mid' ELSE 'low' END",
    _LKEY,
)


# Sampled median with a distribution-free (binomial order-statistic) CI
# — an AQP capability beyond the reference's SUM/AVG/COUNT surface.
_twin_query(
    "approx_median_ci", _quantiles.approx_quantile_ci, _quantiles.approx_quantile_ci_sql,
    "lineitem", "l_extendedprice", 0.5,
    SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY),
)
# The same machinery at an arbitrary quantile — the dialect's
# APPROX_PERCENTILE(col, q[, pct]) route (engine._run_quantile).
_twin_query(
    "approx_p90_ci", _quantiles.approx_quantile_ci, _quantiles.approx_quantile_ci_sql,
    "lineitem", "l_extendedprice", 0.9,
    SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY),
)
_twin_query(
    "approx_stddev_ci", _variance.approx_stddev_ci, _variance.approx_stddev_ci_sql,
    "lineitem", "l_extendedprice",
    SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY),
)
_twin_query(
    "approx_corr_ci", _variance.approx_corr_ci, _variance.approx_corr_ci_sql,
    "lineitem", "l_quantity", "l_extendedprice",
    SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY),
)
_twin_query(
    "approx_grouped_stddev_ci", _variance.approx_stddev_ci, _variance.approx_stddev_ci_sql,
    "lineitem", "l_extendedprice",
    SamplingSpec(design="uniform_hash", fraction=0.15, key=_LKEY), group_by="l_returnflag",
)
_twin_query(
    "approx_grouped_corr_ci", _variance.approx_corr_ci, _variance.approx_corr_ci_sql,
    "lineitem", "l_quantity", "l_extendedprice",
    SamplingSpec(design="uniform_hash", fraction=0.15, key=_LKEY), group_by="l_returnflag",
)
_twin_query(
    "approx_ab_diff_ci", _variance.approx_ab_diff_ci, _variance.approx_ab_diff_ci_sql,
    "events", "value", "event_type", "purchase", "click",
    SamplingSpec(design="uniform_hash", fraction=0.4, key="event_id"),
)
_twin_query(
    "approx_sum_outlier_index", _outlier.outlier_sum_ci, _outlier.outlier_sum_ci_sql,
    "orders", "o_totalprice", "o_orderkey", 0.10,
)
_twin_query(
    "approx_grouped_sum_outlier", _outlier.outlier_sum_ci, _outlier.outlier_sum_ci_sql,
    "orders", "o_totalprice", "o_orderkey", 0.10, n_outliers=50, group_by="o_orderpriority",
)


# ---------------------------------------------------------------------------
# LLM-data-pipeline operators (SURVEY.md §7 phase 7 / north star): text
# analysis, dedup, similarity search, multimodal plumbing, streaming.
# ---------------------------------------------------------------------------

_table_query("text_lang_id_confusion", _text.lang_id_confusion, _text.lang_id_confusion_sql())
_table_query("text_quality_by_lang", _text.quality_by_lang, _text.quality_by_lang_sql())
_table_query("text_token_stats", _text.token_stats, _text.token_stats_sql())
_table_query("text_fingerprint_summary", _text.fingerprint_summary, _text.fingerprint_summary_sql())
# Round-3: Okapi BM25 ranking, query terms derived from the corpus so
# selection + scoring + ranking re-run as one DuckDB oracle; per-doc
# totals add the <=3 term scores in fixed query-rank order (no
# order-dependent float aggregation in either engine).
_table_query("text_bm25_search", _text.bm25_search_top10, _text.bm25_search_top10_sql())
# Round-3 second session: the CCNet-style perplexity-proxy filter —
# mean unigram logprob per doc under the corpus's own smoothed model,
# rolled up per language with the below-corpus-mean tail.
_table_query("text_unigram_logprob", _text.unigram_logprob_stats, _text.unigram_logprob_stats_sql())
# Round-3: quality-filter calibration — the survival curve over 7
# candidate cutoffs from ONE corpus scan (conditional sums, no
# per-threshold rescans).
_table_query("text_quality_threshold_sweep", _text.quality_threshold_sweep, _text.quality_threshold_sweep_sql())
# Round-5 fourth batch: per-language token entropy + KL vs corpus —
# the mixture diagnostics read before source reweighting.
_table_query("text_token_entropy_by_lang", _text.token_entropy_by_lang, _text.token_entropy_by_lang_sql())
# Round-6 build batch: the Gopher/MassiveText word-n-gram repetition
# filter — per-language counts of documents whose top-2-gram share or
# duplicate-3-gram mass crosses the published thresholds, plus mean
# repetition fractions, all on the exact micro-fraction grid
# (operators/text.py::repetition_filter_by_lang).
_table_query(
    "text_repetition_filter",
    _text.repetition_filter_by_lang,
    _text.repetition_filter_by_lang_sql(),
)
# Round-5 fourth batch: iterative NUMERIC graph analytics — 5
# synchronous PageRank steps over the token co-occurrence graph in
# integer fixed-point (order-free sums → engine-exact), the oracle
# unrolling the iterations as chained CTEs (operators/graph.py).

_table_query(
    "graph_token_pagerank", _graph.token_pagerank_topk, _graph.token_pagerank_topk_sql()
)
_table_query("dedup_exact_groups", _dedup.exact_dup_groups, _dedup.exact_dup_groups_sql())
# Round-6 build batch: dedup-policy yield curve — verified pair and
# affected-doc counts at each candidate Jaccard cutoff from ONE pair
# search (operators/dedup.py::dedup_yield_curve).
_table_query("dedup_yield_curve", _dedup.dedup_yield_curve, _dedup.dedup_yield_curve_sql())
_table_query("dedup_minhash_lsh_pairs", _dedup.minhash_lsh_pairs, _dedup.minhash_lsh_pairs_sql())
# Round-6 (20th and final round-6 registration, at the ≤20 cap): the
# verify='join' physical plan of the SAME pair search — keys-only band
# fan-out, shingles re-joined for surviving pairs. This is the plan the
# dup-dense consumers ride (connected clusters, yield curve,
# cross-source matrix, split-leakage audit; 4.2× at the 100-clique
# sf10 corpus) and the shape a petabyte deployment runs against a
# persisted signature store — certified against the same oracle as the
# carry plan because the knob is physical-only (identical pair set).
_table_query(
    "dedup_minhash_pairs_joinplan",
    lambda spark, docs: _dedup.minhash_lsh_pairs(spark, docs, verify="join"),
    _dedup.minhash_lsh_pairs_sql(),
)
# Round-7 (VERDICT r6 #6): verify='auto' — the knob wired to data. One
# bounded aggregate measures the exact-dup ratio and dispatches carry
# (sparse, the fixture's regime) or join (dup-dense); both underlying
# plans are already certified against this same oracle, so this entry
# certifies the DISPATCH. The dense-side pick is test-pinned.
_table_query(
    "dedup_minhash_auto_pairs",
    lambda spark, docs: _dedup.minhash_lsh_pairs(spark, docs, verify="auto"),
    _dedup.minhash_lsh_pairs_sql(),
)
_table_query("dedup_simhash_summary", _dedup.simhash_summary, _dedup.simhash_summary_sql())
# Round-5: the actual simhash PAIR search (pigeonhole multi-index,
# WWW'07) — lossless vs the oracle's quadratic popcount scan. The
# certified row set is the per-distance pair-count rollup (≤ k+1
# rows at any corpus size); the raw pair set is the function's
# deliverable and is pinned by tests/test_pipeline_ops.py.
_table_query(
    "dedup_simhash_hamming_pairs",
    _dedup.simhash_hamming_stats,
    _dedup.simhash_hamming_stats_sql(),
)
# Round-5 fourth batch: cross-source duplication matrix — which
# sources share near-dup content (contamination flows), riding the
# certified MinHash pair search.
_table_query(
    "dedup_cross_source_matrix",
    _dedup.cross_source_dup_matrix,
    _dedup.cross_source_dup_matrix_sql(),
)
_table_query(
    "dedup_connected_clusters",
    _dedup.dedup_connected_clusters,
    _dedup.dedup_connected_clusters_sql(),
)
_table_query("dedup_ngram_jaccard_pairs", _dedup.ngram_jaccard_pairs, _dedup.ngram_jaccard_pairs_sql())
# Round-5 fourth batch: FastSS edit-distance-1 pair search (deletion
# neighborhoods) over the fixed-format customer keys — candidate set
# from an equi-join on (position, deletion variant), every candidate
# verified with a real levenshtein call. Completeness vs the quadratic
# scan is pinned in tests/test_pipeline_ops.py.
_table_query(
    "dedup_editdist1_pairs",
    lambda spark, df: _dedup.editdist1_pairs(df, "c_name"),
    _dedup.editdist1_pairs_sql("customer", "c_name"),
    table="customer",
)
# Round-5 fourth batch: hybrid lexical+vector retrieval — the BM25
# top-10 and the vec_id-0 cosine top-10 fused by Reciprocal Rank
# Fusion (SIGIR'09). Needs BOTH aligned tables, hence the custom fn.


def _hybrid_rrf_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _catalog(spark, sf_dir)
    return _sim.search_hybrid_rrf(
        spark, cat.table("documents"), cat.table("embeddings")
    )


_register("search_hybrid_rrf", _hybrid_rrf_fn, _sim.search_hybrid_rrf_sql())

_table_query("ann_bruteforce_topk", _sim.ann_bruteforce_topk, _sim.ann_bruteforce_topk_sql(), table="embeddings")
# Arrow fast path — identical results (fold-order bit parity), so it
# shares the brute-force oracle; per-partition local top-k bounds the
# shuffle at k·|queries| rows per partition.
_table_query("ann_bruteforce_matmul_topk", _sim.ann_bruteforce_topk_arrow, _sim.ann_bruteforce_topk_sql(), table="embeddings")
_table_query("ann_lsh_topk", _sim.ann_lsh_topk, _sim.ann_lsh_topk_sql(), table="embeddings")
# Round-5 fourth batch: metadata-filtered vector search (pre-filter
# exact top-k per query label, plus the post-filter-deficit column).
_table_query("ann_filtered_topk", _sim.ann_filtered_topk, _sim.ann_filtered_topk_sql(), table="embeddings")
# Round-5 fourth batch: recall@k of the IVF index vs the brute-force
# ground truth — the offline fidelity evaluation, certified end to end.
_table_query("ann_recall_profile", _sim.ann_recall_profile, _sim.ann_recall_profile_sql(), table="embeddings")
# IVF ANN — oracle-backed since round 4: the coarse quantizer is a
# deterministic LSH cell (hyperplane bits) rather than iterative
# k-means, so the DuckDB oracle re-derives training (cell assignment +
# centroid means) plus probing and ranking end-to-end.
_table_query("ann_ivf_topk", _sim.ann_ivf_topk, _sim.ann_ivf_topk_sql(), table="embeddings")
# Round-4: IVF-PQ with exact rerank (Jégou et al. TPAMI'11 + the FAISS
# refine step) — both quantizers are deterministic LSH-cell designs and
# the ADC partials are integer-gridded, so codebook training, encoding,
# probing, shortlist, and rerank all re-derive as one DuckDB oracle.
_table_query("ann_ivfpq_topk", _sim.ann_ivfpq_topk, _sim.ann_ivfpq_topk_sql(), table="embeddings")
# Round-4: SemDeDup-style semantic dedup — LSH-cell clustering +
# within-cell cosine keep-min; quadratic only inside a cell.
_table_query(
    "dedup_semantic_cells",
    _sim.semantic_dedup_cells,
    _sim.semantic_dedup_cells_sql(),
    table="embeddings",
)
# Round-5: the SCALE configuration (cells ∝ corpus + C ≥ 4 chunk floor)
# as the certified shape — round 4 measured the fixed-16-cell shape
# 4.8× off this plan at sf1, so the certified query should be the one
# you'd run. The oracle re-derives the cell grid from count(*) with the
# same integer ladder.
_table_query(
    "dedup_semantic_cells_scaled",
    _sim.semantic_dedup_cells_scaled,
    _sim.semantic_dedup_cells_scaled_sql(),
    table="embeddings",
)


def _ivf_index_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVF path (round 4): build the cell-partitioned index
    once, then query it with partition-pruned probes — identical
    algorithm and results to ann_ivf_topk, so it shares that oracle.
    The pruning (scan touches only probed cell directories) is
    plan-gated in test_ivf_index_matches_in_memory_and_prunes_partitions."""
    cat = _catalog(spark, sf_dir)
    emb = cat.table("embeddings")
    path = tempfile.mkdtemp(prefix="aqe_ivf_idx_")
    _sim.ann_ivf_write_index(spark, emb, path)
    return _sim.ann_ivf_query_index(spark, emb, path)


_register("ann_ivf_index_topk", _ivf_index_fn, _sim.ann_ivf_topk_sql())


def _ivfpq_index_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-IVF-PQ path (round 5, the round-4 verdict's ask):
    codes + codebook are built ONCE at index time, so a query pays
    probe selection + partition-pruned ADC + shortlist rerank only —
    never the full-table re-encode that made the in-memory
    ann_ivfpq_topk the repo's heaviest operator. Identical algorithm
    and results to ann_ivfpq_topk (shared _pq_encode/_ivfpq_rank
    definitions), so it shares that oracle; pruning + append parity are
    pinned in test_ivfpq_index_*."""
    cat = _catalog(spark, sf_dir)
    emb = cat.table("embeddings")
    path = tempfile.mkdtemp(prefix="aqe_ivfpq_idx_")
    _sim.ann_ivfpq_write_index(spark, emb, path)
    return _sim.ann_ivfpq_query_index(spark, emb, path)


_register("ann_ivfpq_index_topk", _ivfpq_index_fn, _sim.ann_ivfpq_topk_sql())
# int8-quantized brute force (4x memory): cosine computed purely from
# integer dots/norms of the quantized vectors (scale-invariance), so
# the whole quantize→search path is oracle-checked (promoted from
# rows-only in round 2); overlap vs float pinned in
# test_int8_topk_overlap.
_table_query("ann_int8_topk", _sim.ann_bruteforce_topk_int8, _sim.ann_int8_topk_sql(), table="embeddings")
# Round-3: data-driven LSH parameter tuning. The full derivation —
# portable-hash sample, pairwise-cosine moments, (T, b) grid search,
# feasibility verdict — is deterministic, so the DuckDB oracle re-runs
# it end to end (the ladder-re-derivation trick from adaptive_clt_sum
# applied to index tuning). `ann_auto_topk` dispatches on this row.
_table_query("ann_autotune_profile", _sim.ann_tune_profile, _sim.ann_tune_profile_sql(), table="embeddings")
# τ=0.35 (not the 0.95 production default): the synthetic fixture's max
# within-label cosine is ~0.47, so 0.95 would make the check vacuous
# (always 0 rows); 0.35 yields nonzero matches at every SF.
_table_query(
    "embedding_neardup_pairs",
    lambda spark, df: _sim.embedding_neardup_pairs(spark, df, threshold=0.35),
    _sim.embedding_neardup_pairs_sql(threshold=0.35),
    table="embeddings",
)
_table_query("multimodal_blob_stats", _mm.blob_feature_stats, _mm.blob_feature_stats_sql())
_table_query("multimodal_frame_sample", _mm.video_frame_sample, _mm.video_frame_sample_sql())
# Round-3: REAL codec round trips. Spark encodes genuine PNG/WAV bytes
# per doc, decodes them with the dependency-free codecs inside the
# mapInPandas kernel, and aggregates features of the DECODED arrays;
# the oracle recomputes everything arithmetically from doc_id — a hash
# match certifies encoder ∘ decoder = identity (all 5 PNG filter types
# cycle through the row).
_table_query("multimodal_png_decode", _mm.png_decode_stats, _mm.png_decode_stats_sql())
_table_query("multimodal_wav_decode", _mm.wav_decode_stats, _mm.wav_decode_stats_sql())
# Round-3: REAL video frame extraction over a genuine (uncompressed)
# Y4M container — encode, decode, sample every 2nd frame, all inside
# the kernel; arithmetic oracle. Outside the 50-row window this round
# (it is full); certified by check_entry + pytest, rotates next round.
_table_query("multimodal_y4m_frames", _mm.y4m_frame_extract_stats, _mm.y4m_frame_extract_stats_sql())
_table_query("asof_join_purchase_click", _temporal.asof_purchase_click, _temporal.asof_purchase_click_sql(), table="events")
_table_query("range_join_purchase_clicks", _temporal.range_join_purchase_clicks, _temporal.range_join_purchase_clicks_sql(), table="events")

# Round-4: universe (coordinated) sampling over the many-to-many
# click×purchase join — sample the user-id UNIVERSE with one shared
# hash so every pair of a surviving key survives (1/p scaling; per-side
# Bernoulli would keep p² of the pairs). Per-key pre-aggregation means
# the pair join is never materialized.

_table_query(
    "approx_join_universe_pairs",
    _joins.universe_join_pairs,
    _joins.universe_join_pairs_sql(),
    table="events",
)
_table_query("events_funnel_conversion", _temporal.funnel_conversion, _temporal.funnel_conversion_sql(), table="events")
_table_query("events_cohort_retention", _temporal.cohort_retention, _temporal.cohort_retention_sql(), table="events")
_table_query("corpus_clean_pipeline", _text.corpus_clean_pipeline, _text.corpus_clean_pipeline_sql())
# Data mixing: language-balanced downsampling (two-pass, deterministic).
_table_query("corpus_mix_balanced", _text.corpus_mix_balanced, _text.corpus_mix_balanced_sql())

# Round-4: Efraimidis-Spirakis weighted sampling without replacement —
# the key u^(1/w) realized EXACTLY as the max of w independent portable
# hashes (integer arithmetic, no float pow), inclusion ∝ quality weight.

_table_query(
    "curation_weighted_sample",
    _cur.weighted_sample_docs,
    _cur.weighted_sample_docs_sql(),
)


_register(
    "streaming_windowed_events",
    _stream.windowed_event_counts_stream,
    _stream.windowed_event_counts_sql(),
)
# Hopping (sliding) windows — 30-minute windows every 10 minutes, each
# event in exactly 3 overlapping windows; the oracle replicates events
# onto their window starts and aggregates.
_register(
    "streaming_sliding_windows",
    _stream.sliding_event_counts_stream,
    _stream.sliding_event_counts_sql(),
)
_register("streaming_dedup_events", _pipeline.dedup_events_stream, _pipeline.dedup_events_sql())
_register(
    "streaming_enriched_revenue",
    _pipeline.enriched_revenue_stream,
    _pipeline.enriched_revenue_sql(),
)
# A generous replay watermark drains every pair, so the batch range join is the oracle.
_register(
    "streaming_interval_join", _pipeline.interval_join_stream, _pipeline.interval_join_sql()
)
_register(
    "streaming_session_windows", _pipeline.session_windows_stream, _pipeline.session_windows_sql()
)
_register("streaming_corpus_dedup", _pipeline.corpus_dedup_stream, _pipeline.corpus_dedup_sql())
_register(
    "streaming_sampled_revenue", _pipeline.sampled_revenue_stream, _pipeline.sampled_revenue_sql()
)
# Integer state makes the drained stream equal the batch poststrat answer bit-for-bit.
_register(
    "streaming_poststrat_estimate", _pipeline.poststrat_stream, _pipeline.poststrat_stream_sql()
)
# Counter addition is order-free, so the drained sketch shares the batch oracle.
_register("streaming_countmin_tokens", _pipeline.countmin_stream, _cms.countmin_topk_sql())
_table_query(
    "multimodal_header_metadata", _mm.media_metadata_summary, _mm.media_metadata_summary_sql()
)
_register(
    "bucketed_join_revenue", _layout.bucketed_join_revenue, _layout.bucketed_join_revenue_sql()
)


def _salted_join_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-robust salted equi-join (operators/joins.py): identical
    result to the plain join — same oracle as bucketed_join_revenue —
    with hot keys fanned across salt_buckets reducers. The salt values
    themselves are nondeterministic (partition position); only the
    physical distribution changes, so the aggregate is exact."""
    cat = _catalog(spark, sf_dir)
    li = cat.table("lineitem")
    od = cat.table("orders").withColumnRenamed("o_orderkey", "l_orderkey")
    return (
        _joins.salted_join(li, od, on="l_orderkey", salt_buckets=8)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("o_orderpriority")
    )


_register("salted_join_revenue", _salted_join_fn, ORACLE["bucketed_join_revenue"])


def _skewsplit_join_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-SPLIT join (operators/joins.py::skew_split_join, 19th
    round-6 registration): the hot_top most frequent keys route
    through a broadcast join, the cold remainder through the plain
    shuffle join — no replication at all, unlike salting's
    salt_buckets× copy of the other side. Identical result to the
    plain join (disjoint key partition), so the same oracle as
    bucketed/salted certifies it."""
    cat = _catalog(spark, sf_dir)
    li = cat.table("lineitem")
    od = cat.table("orders").withColumnRenamed("o_orderkey", "l_orderkey")
    return (
        _joins.skew_split_join(li, od, on="l_orderkey", hot_top=16)
        .groupBy("o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("o_orderpriority")
    )


_register("skewjoin_split_revenue", _skewsplit_join_fn, ORACLE["bucketed_join_revenue"])


def _bloom_prune_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom-filter semi-join pruning (plans/bloom.py): filter
    the orders fact by a 4096-bit/4-hash Bloom over BUILDING-segment
    customer keys, then the exact broadcast semi join — one accounting
    row proving losslessness (sum over exact matches) and measuring the
    realized false-positive rate. The oracle rebuilds the identical
    bitmap from the same deterministic hashes."""
    cat = _catalog(spark, sf_dir)
    dim = cat.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    return _bloom.bloom_prune_semi_join(
        spark, cat.table("orders"), dim, "o_custkey", "c_custkey", "o_totalprice"
    )


_register(
    "bloom_prune_semi_join",
    _bloom_prune_fn,
    _bloom.bloom_prune_semi_join_sql(
        "orders", "customer", "o_custkey", "c_custkey", "o_totalprice",
        "c_mktsegment = 'BUILDING'",
    ),
)
_twin_query(
    "profile_join_key_skew", _joins.profile_key_skew, _joins.profile_key_skew_sql,
    "lineitem", "l_suppkey",
)


_LINEITEM_PROFILE_COLS = [
    ("l_orderkey", True), ("l_partkey", True), ("l_suppkey", True),
    ("l_linenumber", True), ("l_quantity", True), ("l_extendedprice", True),
    ("l_discount", True), ("l_tax", True), ("l_returnflag", False),
    ("l_linestatus", False), ("l_shipdate", False),
]


_table_query(
    "profile_table_columns",
    _prof.profile_columns,
    _prof.profile_columns_sql("lineitem", _LINEITEM_PROFILE_COLS),
    table="lineitem",
)
_table_query(
    "profile_key_frequency_spectrum",
    lambda spark, df: _prof.key_frequency_spectrum(spark, df, "l_orderkey"),
    _prof.key_frequency_spectrum_sql("lineitem", "l_orderkey"),
    table="lineitem",
)


# Round-5 fourth batch: join-size estimator BAKE-OFF — the same
# self-join-size target (Σf² over l_orderkey) answered by the exact
# grouped product, the CMS inner product (one-sided overestimate), and
# the AMS tug-of-war median (unbiased, two-sided) — with realized
# relative errors as columns. The comparative readout a planner's
# cardinality model is calibrated against; every component reuses its
# already-certified machinery.


def _joinsize_bakeoff_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _catalog(spark, sf_dir)
    li = cat.table("lineitem")
    cms = _cms.cms_join_size(li, li, "l_orderkey").select("exact_join_size", "cms_est")
    ams = _ams.ams_f2_estimate(li, F.col("l_orderkey")).select(
        F.col("f2_estimate").alias("ams_est")
    )
    row = cms.crossJoin(ams)  # 1-row × 1-row
    exact = F.col("exact_join_size").cast("double")
    return row.select(
        F.col("exact_join_size"),
        F.col("cms_est"),
        F.round(F.col("ams_est"), 2).alias("ams_est"),
        F.round((F.col("cms_est") - exact) / exact, 6).alias("cms_rel_err"),
        F.round((F.col("ams_est") - exact) / exact, 6).alias("ams_rel_err"),
    )


def _joinsize_bakeoff_oracle() -> str:
    return f"""
WITH cms AS (SELECT exact_join_size, cms_est
             FROM ({_cms.cms_join_size_sql(
                 "SELECT l_orderkey FROM lineitem",
                 "SELECT l_orderkey FROM lineitem",
                 "l_orderkey",
             )}) __c),
ams AS (SELECT f2_estimate AS ams_est
        FROM ({_ams.ams_f2_estimate_sql("lineitem", "l_orderkey")}) __a)
SELECT exact_join_size, cms_est,
       round(ams_est, 2) AS ams_est,
       round((cms_est - CAST(exact_join_size AS DOUBLE))
             / exact_join_size, 6) AS cms_rel_err,
       round((ams_est - CAST(exact_join_size AS DOUBLE))
             / exact_join_size, 6) AS ams_rel_err
FROM cms, ams
"""


_register(
    "sketch_joinsize_bakeoff", _joinsize_bakeoff_fn, _joinsize_bakeoff_oracle()
)


# Round-5 fourth batch: sampling-DESIGN bake-off — the core AQP claim
# made measurable: the same SUM target under four certified designs,
# one row each with realized estimate, CI half-width, sample size,
# REALIZED inclusion rate, and relative error vs the exact total.
# Uniform/systematic/block run at the nominal 10% fraction; stratified
# uses its certified per-stratum config (n_samples shows its budget).
# The systematic row is the deliberately-kept MEASURED HAZARD: stride
# 10 shares structure with the composite key (8·orderkey + linenumber,
# linenumber ∈ 1..7), so residues mod 10 are non-uniformly populated —
# realized inclusion ~0.085 against the assumed 1/10, estimate biased
# −14.8% and far OUTSIDE its own CI (the CI's density assumption is
# broken too). The certified systematic entry uses stride 7, where
# 8 ≡ 1 (mod 7) makes residues uniform. The realized_inclusion column
# IS the diagnostic: trust systematic only when it matches 1/step —
# the textbook periodicity hazard, caught here by measurement.
_DB_DESIGNS = [
    ("block64", SamplingSpec(design="block", fraction=0.10, key=_LKEY, block_size=64)),
    ("stratified", SamplingSpec(
        design="stratified", fraction=0.10, key=_LKEY,
        stratum_col="l_returnflag", strata_fractions={"N": 0.3, "A": 0.05},
    )),
    ("systematic", SamplingSpec(design="systematic", fraction=0.10, key=_LKEY)),
    ("uniform", SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY)),
]


def _design_bakeoff_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _catalog(spark, sf_dir)
    li = cat.table("lineitem")
    exact = li.agg(
        F.round(F.sum("l_extendedprice"), 2).alias("exact_sum"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    aspec = AggSpec("sum", "l_extendedprice")
    rows = None
    for name, spec in _DB_DESIGNS:
        r = approx_aggregate(apply_sampling(li, spec), aspec)
        r = _round_cols(r, {aspec.name(): 2, "ci_lower": 2, "ci_upper": 2})
        row = r.select(
            F.lit(name).alias("design"),
            F.col(aspec.name()).alias("est"),
            F.round((F.col("ci_upper") - F.col("ci_lower")) / 2.0, 2).alias(
                "ci_halfwidth"
            ),
            F.col("n_samples"),
        )
        rows = row if rows is None else rows.unionAll(row)
    # Fifth design (round 6): two-stage cluster sampling — blocks then
    # rows, ultimate-cluster variance (plans/twostage.py). Its realized
    # inclusion reads ~f1·f2 = 0.125, the file-pruning design's budget.
    ts = _twostage.twostage_sum_ci(
        li, _LKEY, F.floor(F.col("l_extendedprice") * 100.0 + 0.5)
    ).select(
        F.lit("twostage").alias("design"),
        F.col("sum_value").alias("est"),
        F.round((F.col("ci_upper") - F.col("ci_lower")) / 2.0, 2).alias(
            "ci_halfwidth"
        ),
        F.col("n_rows").alias("n_samples"),
    )
    rows = rows.unionAll(ts)
    return (
        rows.crossJoin(F.broadcast(exact))
        .select(
            "design",
            "est",
            "ci_halfwidth",
            "n_samples",
            F.round(F.col("n_samples") / F.col("n_total"), 6).alias(
                "realized_inclusion"
            ),
            F.round((F.col("est") - F.col("exact_sum")) / F.col("exact_sum"), 6).alias(
                "rel_err"
            ),
        )
        .orderBy("design")
    )


def _design_bakeoff_oracle() -> str:
    parts = []
    for name, spec in _DB_DESIGNS:
        m = moments_sql(
            table="lineitem",
            column="l_extendedprice",
            where=sampling_where_sql(spec),
            agg="sum",
            p_sql=sampling_p_sql(spec),
            alias="sum_l_extendedprice",
            round_to=2,
        )
        parts.append(
            f"SELECT '{name}' AS design, sum_l_extendedprice AS est, "
            f"round((ci_upper - ci_lower) / 2.0, 2) AS ci_halfwidth, n_samples "
            f"FROM ({m}) __m_{name}"
        )
    parts.append(
        f"SELECT 'twostage' AS design, sum_value AS est, "
        f"round((ci_upper - ci_lower) / 2.0, 2) AS ci_halfwidth, "
        f"n_rows AS n_samples "
        f"FROM ({_twostage.twostage_sum_ci_sql('lineitem', _LKEY, 'floor(l_extendedprice * 100.0 + 0.5)')}) __m_twostage"
    )
    body = " UNION ALL ".join(parts)
    return f"""
WITH ex AS (SELECT round(sum(l_extendedprice), 2) AS exact_sum,
                   CAST(count(*) AS BIGINT) AS n_total FROM lineitem),
designs AS ({body})
SELECT design, est, ci_halfwidth, n_samples,
       round(CAST(n_samples AS DOUBLE) / n_total, 6) AS realized_inclusion,
       round((est - exact_sum) / exact_sum, 6) AS rel_err
FROM designs, ex ORDER BY design
"""


_register("sampling_design_bakeoff", _design_bakeoff_fn, _design_bakeoff_oracle())


# Round-6 build batch: TWO-STAGE cluster sampling — stage 1 samples
# key blocks (the file/row-group stand-in; at 100 TB this prunes whole
# inputs before any row is read), stage 2 samples rows within the
# survivors; ultimate-cluster HT variance. f1 = 1/4, f2 = 1/2 make
# every estimator term exact integer arithmetic (plans/twostage.py).


def _twostage_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _catalog(spark, sf_dir)
    return _twostage.twostage_sum_ci(
        cat.table("lineitem"),
        _LKEY,
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5),
    )


_register(
    "approx_sum_twostage",
    _twostage_fn,
    _twostage.twostage_sum_ci_sql("lineitem", _LKEY, "floor(l_extendedprice * 100.0 + 0.5)"),
)


def _twostage_grouped_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED two-stage cluster SUM — revenue per returnflag under the
    same block/row design. Per-domain block partials, exact integer
    folds, missing groups surfaced with n_psus = 0."""
    cat = _catalog(spark, sf_dir)
    return _twostage.twostage_sum_ci(
        cat.table("lineitem"),
        _LKEY,
        F.floor(F.col("l_extendedprice") * 100.0 + 0.5),
        group_by="l_returnflag",
    )


_register(
    "approx_grouped_sum_twostage",
    _twostage_grouped_fn,
    _twostage.twostage_sum_ci_sql(
        "lineitem", _LKEY, "floor(l_extendedprice * 100.0 + 0.5)", group_by="l_returnflag"
    ),
)


# Round-5 fourth batch: quantile estimator BAKE-OFF — the same p95
# target answered by the exact interpolating percentile (the full-sort
# baseline), the DDSketch bucket readout (α = 1% relative-error
# guarantee), and the 10%-sample order statistic — realized relative
# errors as columns, computed from the ROUNDED estimates so both
# engines divide identical operands. Third member of the comparative-
# evidence family (ANN recall curve, join-size bake-off).


def _quantile_bakeoff_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _catalog(spark, sf_dir)
    li = cat.table("lineitem")
    # Round 9: partition-parallel exact p95 (see exact_quantiles) — the
    # built-in percentile() merged the full value histogram in one task.
    (p95,) = _quantiles.exact_interp_quantiles(li, "l_extendedprice", [0.95])
    exact = spark.range(1).select(
        F.round(F.lit(p95).cast("double"), 2).alias("exact_p95")
    )
    dd = _dd.ddsketch_quantiles(li, "l_extendedprice", qs=(0.95,)).select(
        F.round(F.col("est_q"), 2).alias("ddsketch_est")
    )
    samp = _quantiles.approx_quantile_ci(
        li,
        "l_extendedprice",
        0.95,
        SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY),
    ).select(F.round(F.col("l_extendedprice_q"), 2).alias("sample_est"))
    row = exact.crossJoin(dd).crossJoin(samp)
    ex = F.col("exact_p95")
    return row.select(
        "exact_p95",
        "ddsketch_est",
        "sample_est",
        F.round((F.col("ddsketch_est") - ex) / ex, 6).alias("ddsketch_rel_err"),
        F.round((F.col("sample_est") - ex) / ex, 6).alias("sample_rel_err"),
    )


def _quantile_bakeoff_oracle() -> str:
    samp_sql = _quantiles.approx_quantile_ci_sql(
        "lineitem",
        "l_extendedprice",
        0.95,
        SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY),
    )
    dd_sql = _dd.ddsketch_quantiles_sql("lineitem", "l_extendedprice", qs=(0.95,))
    return f"""
WITH ex AS (
  SELECT round(CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE), 2)
         AS exact_p95 FROM lineitem
),
dd AS (SELECT round(est_q, 2) AS ddsketch_est FROM ({dd_sql}) __d),
sa AS (SELECT round(l_extendedprice_q, 2) AS sample_est FROM ({samp_sql}) __s)
SELECT exact_p95, ddsketch_est, sample_est,
       round((ddsketch_est - exact_p95) / exact_p95, 6) AS ddsketch_rel_err,
       round((sample_est - exact_p95) / exact_p95, 6) AS sample_rel_err
FROM ex, dd, sa
"""


_register(
    "sketch_quantile_bakeoff", _quantile_bakeoff_fn, _quantile_bakeoff_oracle()
)


# Round-5 fourth batch: Deequ-style data-quality constraint suite —
# six checks, ONE aggregate scan + ONE anti-join count, (check,
# metric, passed) rows.


def _constraints_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _catalog(spark, sf_dir)
    return _prof.constraint_checks_orders(spark, cat.table("orders"), cat.table("customer"))


_register("quality_constraint_checks", _constraints_fn, _prof.constraint_checks_orders_sql())


# Round-5 fourth batch: MAD-based robust outlier screen — supplier
# balances scored by |x − median| / MAD (the robust z, immune to the
# outliers it hunts, unlike the mean/stddev z of the anomaly-days
# scan). Two exact interpolating medians (Spark percentile == DuckDB
# quantile_cont, probed equal); readout = the 10 most extreme rows
# with their scores and the Iglewicz-Hoaglin 3.5 flag (the fixture's
# near-uniform balances flag nothing — the top-10 shape stays
# informative at any distribution instead of certifying an empty set).
_sql_query(
    "profile_supplier_balance_outliers",
    "WITH med AS (SELECT percentile(s_acctbal, 0.5) AS m FROM supplier), "
    "dev AS (SELECT s_suppkey, s_name, s_acctbal, abs(s_acctbal - m) AS d "
    "        FROM supplier, med), "
    "mad AS (SELECT percentile(d, 0.5) AS md FROM dev) "
    "SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal, "
    "round(0.6745 * d / md, 4) AS robust_z, "
    "0.6745 * d / md > 3.5 AS flagged "
    "FROM dev, mad "
    "ORDER BY robust_z DESC, s_suppkey LIMIT 10",
    oracle=(
        "WITH med AS (SELECT CAST(quantile_cont(s_acctbal, 0.5) AS DOUBLE) AS m "
        "             FROM supplier), "
        "dev AS (SELECT s_suppkey, s_name, s_acctbal, abs(s_acctbal - m) AS d "
        "        FROM supplier, med), "
        "mad AS (SELECT CAST(quantile_cont(d, 0.5) AS DOUBLE) AS md FROM dev) "
        "SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal, "
        "round(0.6745 * d / md, 4) AS robust_z, "
        "0.6745 * d / md > 3.5 AS flagged "
        "FROM dev, mad "
        "ORDER BY robust_z DESC, s_suppkey LIMIT 10"
    ),
)
# Round-5 fourth batch: SAMPLED heavy hitters — the approximate top-k
# under a 20% doc-level cluster sample (whole documents in or out via
# the portable hash, so token counts stay internally consistent),
# HT-scaled to corpus estimates with a per-item cluster-count margin
# (z·sqrt(n_docs_with_token)/f on the doc-frequency grid — crude but
# identically defined in both engines and labeled as such). Ranked by
# (est desc, token asc): integer sample counts → deterministic order.
# The exact top-k twin (`heavy_hitters_tokens`) certifies what this
# trades away.


def _sampled_hh_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _catalog(spark, sf_dir)
    docs = cat.table("documents")
    f = 0.2
    sampled = docs.filter(
        portable_hash_col(F.col("doc_id"), salt=7) < F.lit(fraction_threshold(f))
    )
    toks = sampled.select(
        "doc_id",
        F.explode(
            F.transform(ws_tokens_col(F.col("text")), lambda t: F.lower(t))
        ).alias("tok"),
    )
    per_tok = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.countDistinct("doc_id").cast("long").alias("dc"),
    )
    est = F.round(F.col("c") / F.lit(f), 2)
    margin = F.round(F.lit(1.96) * F.sqrt(F.col("dc").cast("double")) / F.lit(f), 2)
    ranked = per_tok.select(
        "tok", est.alias("est_count"), margin.alias("margin"), F.col("c").alias("n_sampled")
    )
    return ranked.orderBy(F.desc("est_count"), F.asc("tok")).limit(10)


def _sampled_hh_oracle() -> str:
    f = 0.2
    inc = f"{portable_hash_sql('doc_id', 7)} < {fraction_threshold(f)}"
    toks = f"list_transform({ws_tokens_sql('text')}, t -> lower(t))"
    return f"""
WITH s AS (SELECT doc_id, text FROM documents WHERE {inc}),
toks AS (SELECT doc_id, unnest({toks}) AS tok FROM s),
per_tok AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS dc
  FROM toks GROUP BY 1
)
SELECT tok, round(c / {f!r}, 2) AS est_count,
       round(1.96 * sqrt(CAST(dc AS DOUBLE)) / {f!r}, 2) AS margin,
       c AS n_sampled
FROM per_tok ORDER BY est_count DESC, tok LIMIT 10
"""


_register("approx_heavy_hitters_sampled", _sampled_hh_fn, _sampled_hh_oracle())


# Round-5 fourth batch: Benford first-digit forensics over order
# totals — the fraud/synthetic-data screen. First digit via string
# extraction (floor → BIGINT → first char), never log10 (whose float
# rounding at power-of-ten boundaries differs per engine); expected
# shares are log10(1+1/d) on identical literals. One scan.
_sql_query(
    "quality_benford_profile",
    "SELECT digit, n, "
    "round(n / CAST(total AS DOUBLE), 6) AS p_observed, "
    "round(log10(1.0 + 1.0 / digit), 6) AS p_benford "
    "FROM (SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) "
    "             AS STRING), 1, 1) AS BIGINT) AS digit, "
    "      CAST(count(*) AS BIGINT) AS n, "
    "      CAST(sum(count(*)) OVER () AS BIGINT) AS total "
    "      FROM orders WHERE o_totalprice >= 1.0 "
    "      GROUP BY 1) __d "
    "ORDER BY digit",
    oracle=(
        "SELECT digit, n, "
        "round(n / CAST(total AS DOUBLE), 6) AS p_observed, "
        "round(log10(1.0 + 1.0 / digit), 6) AS p_benford "
        "FROM (SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT) "
        "             AS VARCHAR), 1, 1) AS BIGINT) AS digit, "
        "      CAST(count(*) AS BIGINT) AS n, "
        "      CAST(sum(count(*)) OVER () AS BIGINT) AS total "
        "      FROM orders WHERE o_totalprice >= 1.0 "
        "      GROUP BY 1) __d "
        "ORDER BY digit"
    ),
)
# PSI distribution-drift monitor per source.
_table_query(
    "profile_psi_drift_by_source", _prof.psi_drift_by_source, _prof.psi_drift_by_source_sql()
)
# Round-5 fourth batch: embedding↔document coverage — the referential
# check an embedding pipeline runs before training (every doc embedded
# exactly once, no orphan vectors). Two anti-join counts + totals in
# one readout row; same one-scan-per-side shape as the constraint
# suite's FK check.
_sql_query(
    "quality_embedding_coverage",
    "SELECT "
    "(SELECT count(*) FROM documents) AS n_docs, "
    "(SELECT count(*) FROM embeddings) AS n_vecs, "
    "(SELECT count(*) FROM documents d WHERE NOT EXISTS "
    "  (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)) AS n_unembedded, "
    "(SELECT count(*) FROM embeddings e WHERE NOT EXISTS "
    "  (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id)) AS n_orphan_vecs",
)


_table_query(
    "customers_rfm_segments", _prof.rfm_segments, _prof.rfm_segments_sql(), table="orders"
)


# ---------------------------------------------------------------------------
# Sample-based DISTINCT-count estimation (Chao1). The naive "count
# distinct in the sample" severely underestimates (unseen values); the
# Chao1 richness estimator D_obs + f1²/(2·f2) corrects from the
# singleton/doubleton frequencies — all integer-derived arithmetic over
# the deterministic hash sample, so the oracle matches bit-exactly (no
# float summation anywhere). One scan, one shuffle on the value, a
# 3-integer reduce. Complements the HLL sketch (`sketch_approx_distinct`):
# Chao1 needs only a sample; HLL needs the full scan.
# ---------------------------------------------------------------------------

def _chao1_queries() -> tuple[str, str]:
    spec = SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY)
    return (
        _distinct.chao1_sql("lineitem", "l_partkey", spec),
        _distinct.chao1_sql("lineitem", "l_partkey", spec, group_col="l_returnflag"),
    )


_twin_query(
    "approx_sum_bootstrap32", _boot.bootstrap_sum_ci, _boot.bootstrap_sum_ci_sql,
    "lineitem", "l_extendedprice", SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY),
)


def _ratio_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective discount rate = SUM(price*disc)/SUM(price) per return
    flag — ratio estimation with a delta-method CI from one sampled
    pass (plans/estimators.py::ratio_estimate_ci)."""
    cat = _catalog(spark, sf_dir)
    spec = SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY)
    sampled = apply_sampling(cat.table("lineitem"), spec).withColumn(
        "disc_amt", F.expr("l_extendedprice * l_discount")
    )
    return ratio_estimate_ci(
        sampled, "disc_amt", "l_extendedprice", group_by=["l_returnflag"]
    )


def _ratio_oracle() -> str:
    spec = SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY)
    return ratio_estimate_ci_sql(
        "lineitem",
        "l_extendedprice * l_discount",
        "l_extendedprice",
        where=sampling_where_sql(spec),
        p_sql=sampling_p_sql(spec),
        group_by="l_returnflag",
    )


_register("approx_ratio_discount_rate", _ratio_fn, _ratio_oracle())


_twin_query(
    "approx_grouped_sum_bootstrap32", _boot.bootstrap_sum_ci, _boot.bootstrap_sum_ci_sql,
    "lineitem", "l_extendedprice", SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY),
    group_by="l_returnflag",
)


_twin_query(
    "approx_sum_pps10", _pps.pps_sum_ci, _pps.pps_sum_ci_sql,
    "lineitem", "l_extendedprice", _LKEY, fraction=0.10,
)


def _cluster_join_sql() -> str:
    """Fan-out-join estimation: sample PARENTS (orders), keep ALL their
    children (lineitem), scale cluster totals by 1/p. This is the
    correct design when the sampled side fans out — sampling children
    independently would break within-order correlation; sampling
    parents keeps each cluster intact, so HT over cluster totals is
    unbiased and the CI uses the cluster-level variance Σt²(1−p)/p².
    One portable SQL text for both engines. At scale: the semi-join
    probe side is the 10% parent sample (broadcast at most SFs), and
    the per-cluster rollup shuffles only surviving children."""
    spec = SamplingSpec(design="uniform_hash", fraction=0.10, key="o_orderkey")
    where = sampling_where_sql(spec)
    p = sampling_p_sql(spec)
    return (
        f"WITH par AS (SELECT o_orderkey FROM orders WHERE {where}), "
        "ch AS (SELECT l.l_orderkey, l.l_extendedprice FROM lineitem l "
        "       JOIN par ON l.l_orderkey = par.o_orderkey), "
        "per AS (SELECT l_orderkey, sum(l_extendedprice) AS t FROM ch "
        "        GROUP BY l_orderkey) "
        f"SELECT round(sum(t) / {p}, 3) AS estimate, "
        # Integer margin — boundary-noise rationale in estimators._ci_columns.
        f"round(sum(t) / {p} - round(1.959963984540054 * "
        f"  sqrt(sum(t * t) * (1.0 - {p}) / ({p} * {p})), 0), 3) AS ci_lower, "
        f"round(sum(t) / {p} + round(1.959963984540054 * "
        f"  sqrt(sum(t * t) * (1.0 - {p}) / ({p} * {p})), 0), 3) AS ci_upper, "
        "count(*) AS n_clusters FROM per"
    )


_sql_query("approx_cluster_join_sum", _cluster_join_sql())


_CHAO1_SQL, _CHAO1_GROUPED_SQL = _chao1_queries()
_sql_query("approx_distinct_chao1", _CHAO1_SQL)
_sql_query("approx_grouped_distinct_chao1", _CHAO1_GROUPED_SQL)


def _grouped_median_sql() -> str:
    return _quantiles.grouped_quantile_ci_sql(
        "lineitem",
        "l_extendedprice",
        "l_returnflag",
        q=0.5,
        spec=SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY),
    )


# Per-group sampled median with distribution-free CI — one portable SQL
# text is both the Spark plan and the DuckDB oracle (order statistics,
# no float summation → deterministic without rounding).
_sql_query("approx_grouped_median_ci", _grouped_median_sql())


# ---------------------------------------------------------------------------
# Approximate aggregation OVER A JOIN — beyond the reference (it has no
# joins at all): sample the fact table FIRST (the 10× row reduction
# happens before any join work), then join dims and HT-scale. Valid
# because each lineitem row joins exactly one orders/customer/nation row
# (key-preserving star join → no fan-out → per-row p is unchanged).
# At 100 TB the sampled probe side shrinks the orders shuffle 10×; the
# small dims broadcast either way.
# ---------------------------------------------------------------------------

_JOIN_SPEC = SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY)
_JOIN_FROM = (
    "lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey"
)


def _approx_join_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _catalog(spark, sf_dir)
    sampled = apply_sampling(cat.table("lineitem"), _JOIN_SPEC)
    joined = (
        sampled.join(cat.table("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cat.table("customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cat.table("nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("revenue_item", F.expr("l_extendedprice * (1 - l_discount)"))
    )
    rdf = approx_aggregate(
        joined, AggSpec("sum", "revenue_item", alias="revenue_est"), group_by=["n_name"]
    )
    # round_to=3, not 2: the 2dp×2dp revenue grid HT-scaled by 10 puts
    # estimates on a 1e-3 grid, which can land EXACTLY on a 2dp rounding
    # boundary (x.xx5) — engine summation-order noise then flips the
    # round. A 1e-3-grid value is never within 5e-4 of a 3dp boundary.
    return _round_cols(rdf, {"revenue_est": 3, "ci_lower": 3, "ci_upper": 3})


_register(
    "approx_join_revenue_by_nation",
    _approx_join_fn,
    moments_sql(
        table=_JOIN_FROM,
        column="l_extendedprice * (1 - l_discount)",
        where=sampling_where_sql(_JOIN_SPEC),
        agg="sum",
        p_sql=sampling_p_sql(_JOIN_SPEC),
        alias="revenue_est",
        group_by="n_name",
        round_to=3,
    ),
)


def _mk_engine_fn(
    sql: str,
    rounding: dict[str, int],
    method: str = "sql_rewrite",
    order_by: str | None = None,
):
    """``AQEngine.run(sql)``, checked to take the route of ``method`` —
    the routing IS the thing certified — and rounded per ``rounding``."""

    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        _catalog(spark, sf_dir)
        res = AQEngine(spark, sf_dir).run(sql)
        if res.method != method:
            raise AssertionError(f"expected {method} routing, got {res.method}")
        rdf = res.df.orderBy(order_by) if order_by else res.df
        return _round_cols(rdf, rounding)

    return fn


# The same estimate reachable from PLAIN SQL (VERDICT r6 #5): the user
# writes the join query directly, marks the fact with SQL-standard
# TABLESAMPLE and the aggregate with APPROX(...); the engine's
# sampled-CTE rewrite (frontend/approx_sql.py) produces the identical
# HT/CI plan as the programmatic entry above. Certified end to end
# through AQEngine.run — the oracle is the rewriter's own output text
# (portable SQL), so what DuckDB runs IS what Spark ran.
_APPROX_SQL_JOIN = (
    "SELECT n_name, APPROX(SUM(l_extendedprice * (1 - l_discount))) AS revenue "
    "FROM lineitem TABLESAMPLE (10 PERCENT) "
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "GROUP BY n_name ORDER BY n_name"
)


_register(
    "approx_sql_join_revenue",
    _mk_engine_fn(_APPROX_SQL_JOIN, {"revenue": 3, "ci_lower": 3, "ci_upper": 3}),
    _rewrite_approx_sql(_APPROX_SQL_JOIN, dict(_CATALOG_TABLES), round_to=3),
)


# Round-8 (VERDICT r7 #1): the model-assisted estimators reachable from
# PLAIN SQL text. `STRATIFY BY col` routes to the post-stratified
# estimator, `USING AUX(expr)` to the regression (auxiliary-total)
# estimator, `APPROX(SUM(a) / SUM(b))` to the delta-method ratio — each
# rewritten (frontend/approx_sql.py) into ONE portable bit-deterministic
# SQL text that is also the oracle: what DuckDB runs IS what Spark ran.


_APPROX_SQL_POSTSTRAT = (
    "SELECT l_linestatus, APPROX(SUM(l_extendedprice)) AS est "
    "FROM lineitem TABLESAMPLE (10 PERCENT) "
    "GROUP BY l_linestatus STRATIFY BY l_returnflag ORDER BY l_linestatus"
)
_register(
    "approx_sql_poststrat_grouped",
    _mk_engine_fn(
        _APPROX_SQL_POSTSTRAT, {"est": 3, "ci_lower": 3, "ci_upper": 3}
    ),
    _rewrite_approx_sql(_APPROX_SQL_POSTSTRAT, dict(_CATALOG_TABLES), round_to=3),
)

_APPROX_SQL_REGAUX = (
    "SELECT APPROX(SUM(l_extendedprice * (1 - l_discount))) AS revenue "
    "FROM lineitem TABLESAMPLE (10 PERCENT) USING AUX(l_extendedprice)"
)
_register(
    "approx_sql_regaux_revenue",
    _mk_engine_fn(
        _APPROX_SQL_REGAUX, {"revenue": 3, "ci_lower": 3, "ci_upper": 3}
    ),
    _rewrite_approx_sql(_APPROX_SQL_REGAUX, dict(_CATALOG_TABLES), round_to=3),
)

_APPROX_SQL_RATIO = (
    "SELECT l_returnflag, "
    "APPROX(SUM(l_extendedprice * (1 - l_discount)) / SUM(l_quantity)) "
    "AS rev_per_unit "
    "FROM lineitem TABLESAMPLE (10 PERCENT) "
    "GROUP BY l_returnflag ORDER BY l_returnflag"
)
_register(
    "approx_sql_ratio_by_flag",
    _mk_engine_fn(
        _APPROX_SQL_RATIO,
        {"rev_per_unit": 6, "rev_per_unit_lo": 6, "rev_per_unit_hi": 6,
         "ci_lower": 6, "ci_upper": 6},
    ),
    _rewrite_approx_sql(_APPROX_SQL_RATIO, dict(_CATALOG_TABLES), round_to=6),
)


# Order-statistic estimators from plain SQL (round 8, second batch):
# APPROX(MEDIAN(x)) / APPROX(PERCENTILE(x, q)) over the single-table
# TABLESAMPLE shape — the binomial-rank CI as one portable text. No
# rounding anywhere: order statistics are actual data values.
_APPROX_SQL_MEDIAN = (
    "SELECT APPROX(MEDIAN(l_extendedprice)) AS med_price "
    "FROM lineitem TABLESAMPLE (10 PERCENT)"
)
_register(
    "approx_sql_median_price",
    _mk_engine_fn(_APPROX_SQL_MEDIAN, {}),
    _rewrite_approx_sql(_APPROX_SQL_MEDIAN, dict(_CATALOG_TABLES)),
)

_APPROX_SQL_P90 = (
    "SELECT l_returnflag, "
    "APPROX(PERCENTILE(l_extendedprice, 0.9)) AS p90_price "
    "FROM lineitem TABLESAMPLE (10 PERCENT) "
    "GROUP BY l_returnflag ORDER BY l_returnflag"
)
_register(
    "approx_sql_p90_by_flag",
    _mk_engine_fn(_APPROX_SQL_P90, {}),
    _rewrite_approx_sql(_APPROX_SQL_P90, dict(_CATALOG_TABLES)),
)

# HAVING over an APPROX estimate (round 9, VERDICT r8 #4): the
# predicate moves to a WHERE over the (alias-projected) outer select —
# estimates referenced either by re-stating the marker or by bare
# alias. Same text on both engines; the extra derived table exists
# because Spark's WHERE cannot see select aliases while DuckDB's can.
_APPROX_SQL_HAVING = (
    "SELECT n_name, "
    "APPROX(SUM(l_extendedprice * (1 - l_discount))) AS revenue "
    "FROM lineitem TABLESAMPLE (10 PERCENT) "
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "GROUP BY n_name "
    "HAVING APPROX(SUM(l_extendedprice * (1 - l_discount))) > 125000000 "
    "ORDER BY n_name"
)
_register(
    "approx_sql_having_revenue",
    _mk_engine_fn(
        _APPROX_SQL_HAVING, {"revenue": 3, "ci_lower": 3, "ci_upper": 3}
    ),
    _rewrite_approx_sql(_APPROX_SQL_HAVING, dict(_CATALOG_TABLES), round_to=3),
)

# Estimator markers over a star join (round 9, VERDICT r8 #2):
# STRATIFY BY / USING AUX now accept the INNER star-join shape the
# plain markers already handled. The exact per-(group, stratum) counts
# and auxiliary totals come from the UNSAMPLED join; the sample
# moments from the same join with the sample predicate INSIDE a
# derived fact table — Catalyst pushes it into the fact scan before
# the (broadcast) dim joins, so the sampled side reads p% of the fact
# BEFORE any shuffle. Key-preserving precondition as documented in
# frontend/approx_sql.py's module docstring.
_APPROX_SQL_POSTSTRAT_JOIN = (
    "SELECT n_name, "
    "APPROX(SUM(l_extendedprice * (1 - l_discount))) AS revenue "
    "FROM lineitem TABLESAMPLE (10 PERCENT) "
    "JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "GROUP BY n_name STRATIFY BY o_orderstatus ORDER BY n_name"
)
_register(
    "approx_sql_poststrat_join",
    _mk_engine_fn(
        _APPROX_SQL_POSTSTRAT_JOIN, {"revenue": 3, "ci_lower": 3, "ci_upper": 3}
    ),
    _rewrite_approx_sql(
        _APPROX_SQL_POSTSTRAT_JOIN, dict(_CATALOG_TABLES), round_to=3
    ),
)

# Leading CTEs in the APPROX rewrite (round 9): the WITH prefix is
# split off, the main query rewritten, the prefix re-attached — one
# portable text. Closes the last declared v1 clause gap (VERDICT r8
# residual #3's CTE half; HAVING shipped earlier this round).
_APPROX_SQL_CTE = (
    "WITH big_orders AS (SELECT o_orderkey, o_orderpriority FROM orders "
    "WHERE o_totalprice > 100000) "
    "SELECT o_orderpriority, APPROX(SUM(l_extendedprice)) AS rev "
    "FROM lineitem TABLESAMPLE (10 PERCENT) "
    "JOIN big_orders ON l_orderkey = o_orderkey "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority"
)
_register(
    "approx_sql_cte_revenue",
    _mk_engine_fn(
        _APPROX_SQL_CTE, {"rev": 3, "ci_lower": 3, "ci_upper": 3}
    ),
    _rewrite_approx_sql(_APPROX_SQL_CTE, dict(_CATALOG_TABLES), round_to=3),
)

_APPROX_SQL_REGAUX_JOIN = (
    "SELECT APPROX(SUM(l_extendedprice * (1 - l_discount))) AS revenue "
    "FROM lineitem TABLESAMPLE (10 PERCENT) "
    "JOIN orders ON l_orderkey = o_orderkey "
    "WHERE o_orderstatus = 'F' USING AUX(l_extendedprice)"
)
_register(
    "approx_sql_regaux_join",
    _mk_engine_fn(
        _APPROX_SQL_REGAUX_JOIN, {"revenue": 3, "ci_lower": 3, "ci_upper": 3}
    ),
    _rewrite_approx_sql(
        _APPROX_SQL_REGAUX_JOIN, dict(_CATALOG_TABLES), round_to=3
    ),
)

# APPROX(COUNT(DISTINCT col)) from plain SQL: the Chao1 species
# estimator over sample frequencies (a sampled COUNT(DISTINCT) cannot
# be HT-scaled — rare values are systematically missing; Chao1 corrects
# from the singleton/doubleton counts). Also closes a latent bug: this
# shape previously fell through to the moment path and emitted invalid
# SQL (CAST(DISTINCT col AS DOUBLE)).
_APPROX_SQL_DISTINCT = (
    "SELECT l_returnflag, APPROX(COUNT(DISTINCT l_partkey)) AS d_parts "
    "FROM lineitem TABLESAMPLE (20 PERCENT) "
    "GROUP BY l_returnflag ORDER BY l_returnflag"
)
_register(
    "approx_sql_distinct_parts",
    _mk_engine_fn(_APPROX_SQL_DISTINCT, {}),
    _rewrite_approx_sql(_APPROX_SQL_DISTINCT, dict(_CATALOG_TABLES)),
)


# ---------------------------------------------------------------------------
# Non-SQL-expressible operators → rows-only driver check (no oracle entry).
# ---------------------------------------------------------------------------

# Mergeable sketch rollup (Apache DataSketches HLL via hll_sketch_agg):
# per-group sketches UNION to the correct global distinct count — the
# re-aggregatable-rollup pattern that makes pre-aggregated cubes work at
# 100 TB (a sum of per-group distinct counts would double-count; the
# union doesn't). Rows-only: the sketch estimate is DataSketches-
# specific, not reproducible in DuckDB; accuracy vs exact is pinned in
# `test_hll_union_rollup_accuracy`.
_sql_query(
    "sketch_mergeable_rollup",
    "WITH per AS (SELECT l_returnflag, hll_sketch_agg(l_partkey) AS sk "
    "             FROM lineitem GROUP BY l_returnflag) "
    "SELECT 'global_from_group_sketches' AS level, "
    "hll_sketch_estimate(hll_union_agg(sk)) AS est_distinct FROM per "
    "UNION ALL "
    "SELECT concat('group_', l_returnflag) AS level, "
    "hll_sketch_estimate(hll_sketch_agg(l_partkey)) AS est_distinct "
    "FROM lineitem GROUP BY l_returnflag "
    "ORDER BY level",
    oracle=None,
)

_ADAPTIVE_ERROR_PCT = 2.0
_ADAPTIVE_MIN_SAMPLES = 50


def _adaptive_fn(
    spark: SparkSession, sf_dir: str, group_by: list[str] | None = None
) -> DataFrame:
    """Adaptive CLT loop (R8-R10): iterative driver-side escalation,
    global or — with ``group_by`` — until the WORST group's relative CI
    half-width meets the budget (beyond-reference: the reference runs
    grouped queries at a fixed fraction). The loop is a multi-job
    process, but its *terminal state* is a pure function of the data —
    every escalation step's sample membership, moments, and stop
    decision are deterministic arithmetic — so the DuckDB oracle
    re-derives the chosen rung and its estimate in one SQL query
    (``_adaptive_oracle``)."""
    cat = _catalog(spark, sf_dir)
    res = _adaptive.adaptive_aggregate(
        cat.table("lineitem"),
        AggSpec("sum", "l_extendedprice"),
        SamplingSpec(fraction=0.0, key=_LKEY),
        group_by=group_by,
        error_pct=_ADAPTIVE_ERROR_PCT,
        min_samples=_ADAPTIVE_MIN_SAMPLES,
    )
    rdf = res.df.orderBy(*group_by) if group_by else res.df
    return _round_cols(
        rdf, {"sum_l_extendedprice": 2, "ci_lower": 2, "ci_upper": 2}
    )


def _adaptive_oracle(
    alias: str = "sum_l_extendedprice",
    from_clause: str = "lineitem",
    x_expr: str = "l_extendedprice",
    where: str | None = None,
    agg: str = "sum",
    key: str | None = None,
    group_by: str | None = None,
) -> str:
    """Re-derive the adaptive loop's terminal rung in SQL: evaluate the
    moments on every ladder fraction (samples are NESTED in the
    fraction, so this mirrors exactly what the loop saw), apply the
    same margin convention (integer-rounded for SUM/COUNT, raw for
    AVG — estimators._ci_columns) and ``n ≥ min_samples ∧ rel ≤ e``
    stop rule to every output row, and emit the first rung where every
    row converged (else the full-scan rung). ``alias`` names the
    estimate column — the WITHIN-marker entries reuse this oracle with
    the user's alias. ``agg`` mirrors the loop's AggSpec: 'sum' (HT
    total), 'avg' (ratio mean, CLT sample-variance margin), 'count'
    (Σ1/p, binomial margin).

    Like the loop's rung, each rung aggregates the UNSAMPLED rows with
    the sample as a mask (GROUP BY ALL is a global aggregate when there
    is no ``group_by``): every group of the data is present at every
    rung, and one the sample missed has ``n = 0``, so it blocks the stop
    rule; a grouped answer then drops such rows."""
    ladder = [_adaptive.error_ladder(_ADAPTIVE_ERROR_PCT)]
    while ladder[-1] < 1.0:
        ladder.append(min(1.0, ladder[-1] * 2.0))
    x = "CAST(1 AS DOUBLE)" if x_expr.strip() == "*" else f"CAST({x_expr} AS DOUBLE)"
    g = f"{group_by}, " if group_by else ""
    w = f" WHERE {where}" if where else ""
    parts = []
    for i, f in enumerate(ladder, 1):
        s = SamplingSpec(design="uniform_hash", fraction=f, key=key or _LKEY)
        samp, p = sampling_where_sql(s), sampling_p_sql(s)

        def m(e: str, samp=samp) -> str:
            return f"CASE WHEN {samp} THEN {e} END"

        # COUNT({x}), not COUNT(*): the loop's n_samples is F.count(x)
        # — the NON-NULL measure count (null_sweep caught the * form
        # diverging by exactly the NULL-measure rows on dirty data).
        parts.append(
            f"SELECT {i} AS i, * FROM (SELECT {g}COUNT({m(x)}) AS n, "
            f"SUM({m(f'{x} / {p}')}) AS ht, SUM({m(f'1.0 / {p}')}) AS htn, "
            f"SUM({m(x)}) AS s1, SUM({m(f'{x} * {x}')}) AS s2, AVG({m(p)}) AS pavg, "
            f"SUM({m(f'{x} * {x} * (1.0 - {p}) / ({p} * {p})')}) AS vht "
            f"FROM {from_clause}{w} GROUP BY ALL)"
        )
    last = len(ladder)
    z = Z_95
    if agg == "sum":
        est = "ht"
        rawm = (
            f"CASE WHEN n >= 2 THEN {z!r} * sqrt(greatest(vht, 0.0)) "
            f"ELSE 0.0 END"
        )
        integer_margin = True
    elif agg == "avg":
        # estimators.py AVG: est = ht_sum/ht_n, margin = z·√(s²/n) from
        # the plain sample variance; margin NOT integer-rounded.
        est = "ht / htn"
        var = (
            "CASE WHEN n >= 2 "
            "THEN greatest((s2 - s1 * s1 / n) / (n - 1.0), 0.0) "
            "ELSE 0.0 END"
        )
        rawm = (
            f"CASE WHEN n >= 2 THEN {z!r} * sqrt(({var}) / n) ELSE 0.0 END"
        )
        integer_margin = False
    elif agg == "count":
        # estimators.py COUNT: est = Σ1/p, margin = z·√(n(1−p̄))/p̄.
        est = "htn"
        rawm = (
            f"CASE WHEN n >= 2 "
            f"THEN {z!r} * sqrt(n * (1.0 - pavg)) / pavg ELSE 0.0 END"
        )
        integer_margin = True
    else:
        raise ValueError(f"unsupported adaptive oracle agg {agg!r}")
    mm = (
        "CASE WHEN rawm > 0 THEN greatest(round(rawm, 0), 1.0) "
        "ELSE 0.0 END"
        if integer_margin
        else "rawm"
    )
    return (
        f"WITH m AS ({' UNION ALL '.join(parts)}), "
        f"sel AS (SELECT *, {est} AS est, {rawm} AS rawm FROM m), "
        # Margin convention per aggregate — estimators._ci_columns.
        f"mm AS (SELECT *, {mm} AS margin FROM sel), "
        f"rung AS (SELECT i, bool_and(n >= {_ADAPTIVE_MIN_SAMPLES} AND est <> 0 "
        f"  AND 100.0 * margin / abs(est) <= {_ADAPTIVE_ERROR_PCT!r}) AS ok "
        f"  FROM mm GROUP BY i), "
        f"pick AS (SELECT i FROM rung WHERE ok OR i = {last} ORDER BY i LIMIT 1) "
        f"SELECT {g}round(est, 2) AS {alias}, "
        f"round(est - margin, 2) AS ci_lower, round(est + margin, 2) AS ci_upper, "
        f"CAST(n AS BIGINT) AS n_samples "
        f"FROM mm JOIN pick USING (i){' WHERE n > 0' if group_by else ''}"
    )


_register("adaptive_clt_sum", _adaptive_fn, _adaptive_oracle())
_register(
    "adaptive_grouped_sum",
    partial(_adaptive_fn, group_by=["l_returnflag"]),
    _adaptive_oracle(group_by="l_returnflag"),
)


# Round-9 (VERDICT r8 #3): the reference's headline CLT error budget
# reachable from PLAIN SQL — `APPROX(SUM(x)) ... WITHIN e PERCENT`
# routes to the adaptive escalation loop (engine._run_within_marker →
# plans/adaptive.py). The terminal rung is a pure function of the data,
# so the SAME ladder-re-derivation oracles certify the SQL surface.
_APPROX_SQL_WITHIN = (
    "SELECT APPROX(SUM(l_extendedprice)) AS total_price "
    "FROM lineitem WITHIN 2 PERCENT"
)


_register(
    "approx_sql_within_budget",
    _mk_engine_fn(
        _APPROX_SQL_WITHIN,
        {"total_price": 2, "ci_lower": 2, "ci_upper": 2},
        method="adaptive_sql",
    ),
    _adaptive_oracle("total_price"),
)

_APPROX_SQL_WITHIN_GROUPED = (
    "SELECT l_returnflag, APPROX(SUM(l_extendedprice)) AS sum_price "
    "FROM lineitem GROUP BY l_returnflag WITHIN 2 PERCENT"
)


_register(
    "approx_sql_within_grouped",
    _mk_engine_fn(
        _APPROX_SQL_WITHIN_GROUPED,
        {"sum_price": 2, "ci_lower": 2, "ci_upper": 2},
        method="adaptive_sql",
        order_by="l_returnflag",
    ),
    _adaptive_oracle("sum_price", group_by="l_returnflag"),
)

# Multi-column GROUP BY across the marker templates (round 9, second
# batch): the estimator/quantile/distinct templates — previously
# one-group-column — now render numbered group aliases (aqe_q0..k) and
# per-cell folds; the main moment path always accepted arbitrary
# GROUP BY. Certified through the poststrat template, the most
# structurally involved (exact counts join + order-pinned folds over
# composite cells).
_APPROX_SQL_POSTSTRAT_MULTI = (
    "SELECT l_returnflag, l_linestatus, APPROX(SUM(l_extendedprice)) "
    "AS est FROM lineitem TABLESAMPLE (10 PERCENT) "
    "GROUP BY l_returnflag, l_linestatus STRATIFY BY l_tax "
    "ORDER BY l_returnflag, l_linestatus"
)
_register(
    "approx_sql_poststrat_multigroup",
    _mk_engine_fn(
        _APPROX_SQL_POSTSTRAT_MULTI, {"est": 3, "ci_lower": 3, "ci_upper": 3}
    ),
    _rewrite_approx_sql(
        _APPROX_SQL_POSTSTRAT_MULTI, dict(_CATALOG_TABLES), round_to=3
    ),
)

# HAVING over the estimator templates (round 9, second batch): the
# predicate becomes a WHERE over the template's OUTPUT columns —
# marker re-statement, bare alias, and readout columns
# (missing_strata etc.) all reachable.
_APPROX_SQL_POSTSTRAT_HAVING = (
    "SELECT l_linestatus, APPROX(SUM(l_extendedprice)) AS est "
    "FROM lineitem TABLESAMPLE (10 PERCENT) "
    "GROUP BY l_linestatus STRATIFY BY l_returnflag "
    "HAVING APPROX(SUM(l_extendedprice)) > 0 AND missing_strata = 0 "
    "ORDER BY l_linestatus"
)
_register(
    "approx_sql_poststrat_having",
    _mk_engine_fn(
        _APPROX_SQL_POSTSTRAT_HAVING,
        {"est": 3, "ci_lower": 3, "ci_upper": 3},
    ),
    _rewrite_approx_sql(
        _APPROX_SQL_POSTSTRAT_HAVING, dict(_CATALOG_TABLES), round_to=3
    ),
)

# WITHIN over a star join (round 9, second batch): the budget marker
# accepts the key-preserving join shape — each escalation rung's hash
# predicate references only the fact key, so Catalyst pushes it through
# the join into the fact scan. The oracle re-derives the rung ladder
# over the SAME join.
_APPROX_SQL_WITHIN_JOIN = (
    "SELECT APPROX(SUM(l_extendedprice * (1 - l_discount))) AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "WHERE o_orderstatus = 'F' WITHIN 2 PERCENT"
)


_register(
    "approx_sql_within_join",
    _mk_engine_fn(
        _APPROX_SQL_WITHIN_JOIN,
        {"revenue": 2, "ci_lower": 2, "ci_upper": 2},
        method="adaptive_sql",
    ),
    _adaptive_oracle(
        "revenue",
        from_clause="lineitem JOIN orders ON l_orderkey = o_orderkey",
        x_expr="l_extendedprice * (1 - l_discount)",
        where="o_orderstatus = 'F'",
    ),
)

# WITHIN over AVG (round 9, second batch): same escalation, the AVG
# margin convention (raw z·√(s²/n), never integer-rounded —
# estimators._ci_columns). The oracle re-derives the ladder with the
# ratio-mean estimate Σ(x/p)/Σ(1/p).
_APPROX_SQL_WITHIN_AVG = (
    "SELECT APPROX(AVG(o_totalprice)) AS avg_price FROM orders "
    "WITHIN 2 PERCENT"
)


_register(
    "approx_sql_within_avg",
    _mk_engine_fn(
        _APPROX_SQL_WITHIN_AVG,
        {"avg_price": 2, "ci_lower": 2, "ci_upper": 2},
        method="adaptive_sql",
    ),
    _adaptive_oracle(
        "avg_price",
        from_clause="orders",
        x_expr="o_totalprice",
        agg="avg",
        key="o_orderkey",
    ),
)


def _stateful_stream_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-event-type cumulative moments state emitting a refining estimate
    + CI + V3/V5 drift status every micro-batch. Oracle-backed since
    round 4: the replay split is deterministic (row_number quartiles),
    so the multi-batch state evolution unrolls into a batch cumulative-
    window SQL the DuckDB oracle replays emission for emission."""
    cat = _catalog(spark, sf_dir)
    events = cat.table("events")
    replay_dir = tempfile.mkdtemp(prefix="aqe_replay_")
    _stateful.split_events_for_replay(events, replay_dir, n_batches=4)
    out = _stateful.running_estimates_stream(
        spark, replay_dir, spark.read.parquet(replay_dir).schema
    )
    return out.orderBy("event_type", "n_seen")


def _stateful_stream_oracle(n_batches: int = 4) -> str:
    """Batch-parity replay of the stateful refinement: cumulative
    moments via window sums over the deterministic batch split; one row
    per (event_type, batch-with-rows) — exactly the stream's update-mode
    emissions. Rounding formulas are spelled identically to
    ``stateful._r`` (floor half-up)."""
    z = Z_95
    r8 = "floor({v} * 100000000.0 + 0.5) / 100000000.0"
    r9 = "floor({v} * 1000000000.0 + 0.5) / 1000000000.0"
    mean_r = r9.format(v="(s1 / n)")
    prev_r = r9.format(v="(s10 / n0)")
    # finite gate mirrors the kernel: batch MEMBERSHIP is decided over
    # all rows (row_number), but only finite measurements enter the
    # moments (count(x) + coalesced sums, so an all-bad batch folds in
    # as a zero-contribution emission exactly like the stream's).
    return f"""
WITH e AS (
  SELECT event_type, {finite_sql("CAST(value AS DOUBLE)")} AS x,
         CAST(floor((row_number() OVER (ORDER BY ts, event_id) - 1)
                    * {n_batches}
                    / (SELECT count(*) FROM events WHERE ts IS NOT NULL))
              AS INTEGER) AS b
  FROM events WHERE ts IS NOT NULL
),
pb AS (
  SELECT event_type, b, count(x) AS bn,
         coalesce(sum(x), 0.0) AS bs1, coalesce(sum(x * x), 0.0) AS bs2
  FROM e GROUP BY event_type, b
),
cum AS (
  SELECT event_type, b, bn, bs1,
         sum(bn) OVER (PARTITION BY event_type ORDER BY b) AS n,
         sum(bs1) OVER (PARTITION BY event_type ORDER BY b) AS s1,
         sum(bs2) OVER (PARTITION BY event_type ORDER BY b) AS s2
  FROM pb
),
calc AS (
  SELECT event_type, n, s1, s2, n - bn AS n0, s1 - bs1 AS s10,
         s1 / n AS mean,
         CASE WHEN n > 1
              THEN greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)
              ELSE 0.0 END AS var
  FROM cum
),
m AS (
  SELECT event_type, n, n0, s10, mean,
         {z!r} * sqrt(var / n) AS margin,
         {mean_r} AS mean9
  FROM calc
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_seen,
       {r8.format(v="mean")} AS running_avg,
       {r8.format(v="(mean - margin)")} AS ci_lower,
       {r8.format(v="(mean + margin)")} AS ci_upper,
       CASE WHEN n < 50 THEN 'INSUFFICIENT_DATA'
            WHEN n0 = 0 THEN 'STABLE'
            WHEN mean9 = 0 THEN 'DRIFTING'
            WHEN abs(mean9 - {prev_r}) / abs(mean9) <= 0.02 THEN 'STABLE'
            ELSE 'DRIFTING' END AS status
FROM m ORDER BY event_type, n_seen
"""


_register(
    "streaming_running_estimate", _stateful_stream_fn, _stateful_stream_oracle()
)


def _hll_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native sketch-based approximate distinct (HLL++) — no reference
    counterpart, exposed as a beyond-parity operator. UNORACLEABLE by
    design: the values are Spark's internal HLL++ register estimates
    (and approx_percentile's internal QuantileSummaries), which no other
    engine reproduces bit-for-bit — DuckDB's approx_count_distinct uses
    a different sketch. The cross-engine-checkable twin is
    `sketch_portable_hll` (own avalanche-hash registers, oracle replays
    them exactly, merge law included); this entry intentionally keeps
    the NATIVE fast path visible. Accuracy vs exact is pinned in
    tests (2% rsd bound)."""
    cat = _catalog(spark, sf_dir)
    return cat.table("lineitem").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_n_parts"),
        F.expr("approx_percentile(l_extendedprice, 0.5, 1000)").alias("approx_median"),
    )


_register("sketch_approx_distinct", _hll_fn, None)


_twin_query(
    "sketch_portable_hll", _hll.portable_hll_rollup, _hll.portable_hll_rollup_sql,
    "lineitem", "l_partkey", "l_returnflag",
)


_HLL_SIDES_SQL = (
    "SELECT CASE WHEN lang = 'en' THEN 'a' ELSE 'b' END AS side, "
    "('0x' || substring(md5(tok), 1, 8))::BIGINT AS k "
    "FROM (SELECT lang, unnest(list_transform("
    "  CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[] "
    "  ELSE string_split_regex(trim(text), '\\s+') END, t -> lower(t))) AS tok "
    "FROM documents) __t"
)


def _hll_overlap_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary overlap between the English and non-English corpus
    halves WITHOUT a join (round 3): per-side portable-HLL registers,
    max-merged union, inclusion-exclusion intersection — the sketch
    answer to cross-corpus contamination/coverage at 100 TB."""
    cat = _catalog(spark, sf_dir)
    docs = cat.table("documents")
    toks = docs.select(
        F.when(F.col("lang") == "en", "a").otherwise("b").alias("side"),
        F.explode(
            F.transform(ws_tokens_col(F.col("text")), lambda t: F.lower(t))
        ).alias("tok"),
    )
    sides = toks.select(
        "side",
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10)
        .cast("long")
        .alias("k"),
    )
    return _hll.portable_hll_overlap(sides)


_register("sketch_hll_overlap", _hll_overlap_fn, _hll.portable_hll_overlap_sql(_HLL_SIDES_SQL))
# Max is order-free, so the drained registers share the batch oracle.
_register("streaming_hll_distinct", _pipeline.hll_stream, ORACLE["sketch_portable_hll"])
# OR is order-free, so the drained Bloom words share the batch oracle.
_register("streaming_bloom_filter", _pipeline.bloom_stream, ORACLE["bloom_prune_semi_join"])


def _cms_join_size_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from two Count-Min sketches (round 3):
    |lineitem ⋈ lineitem on l_partkey| via the CMS inner product —
    "will this join explode?" answered without shuffling the tables
    against each other. One-sided (est ≥ exact), both sides in the
    output, oracle recomputes both."""
    cat = _catalog(spark, sf_dir)
    li = cat.table("lineitem")
    return _cms.cms_join_size(li, li, "l_partkey")


def _cms_join_size_oracle() -> str:
    q = "SELECT l_partkey FROM lineitem"
    return _cms.cms_join_size_sql(q, q, "l_partkey")


_register("sketch_cms_join_size", _cms_join_size_fn, _cms_join_size_oracle())


def _recordfile_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference S5 file-format parity, certified end-to-end: project
    orders into the reference's fixed 5-column ``Record`` struct
    (``custom_bplus_db.hpp:17-27``), WRITE it as packed binary part
    files (``sources/recordfile.py``), READ it back distributed, and
    aggregate. The oracle computes the same aggregate straight from
    orders — a green row proves the save/load path
    (``custom_bplus_db.cpp:665-711``) is lossless through the numpy
    pack → binaryFile → Arrow decode chain."""
    cat = _catalog(spark, sf_dir)
    records = cat.table("orders").select(
        F.col("o_orderkey").alias("id"),
        F.col("o_totalprice").alias("amount"),
        (F.col("o_custkey") % 10).cast("int").alias("region"),
        (F.col("o_orderkey") % 1000).cast("int").alias("product_id"),
        F.unix_micros(F.col("o_orderdate")).alias("timestamp"),
    )
    out_dir = tempfile.mkdtemp(prefix="aqe_recordfile_")
    _recordfile.write_record_files(records, out_dir)
    back = _recordfile.read_record_files(spark, out_dir)
    return back.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.round(F.sum("amount"), 2).alias("sum_amount"),
        F.countDistinct("region").alias("n_regions"),
        F.max("id").alias("max_id"),
        F.min("timestamp").alias("min_ts_us"),
    )


_register(
    "recordfile_roundtrip",
    _recordfile_fn,
    "SELECT count(*) AS n_records, "
    "round(sum(o_totalprice), 2) AS sum_amount, "
    "count(DISTINCT o_custkey % 10) AS n_regions, "
    "max(o_orderkey) AS max_id, "
    "min(epoch_us(o_orderdate)) AS min_ts_us "
    "FROM orders",
)


# Corpus-curation layer (operators/curation.py): packing, decontamination,
# repetition profiling, PII accounting — the remaining first-class
# training-data-pipeline passes.

_table_query("curation_pack_sequences", _cur.pack_sequences, _cur.pack_sequences_sql())
_table_query(
    "curation_contamination_screen",
    _cur.contamination_screen,
    _cur.contamination_screen_sql(),
)
_table_query("curation_repetition_stats", _cur.repetition_stats, _cur.repetition_stats_sql())
_table_query("curation_pii_stats", _cur.pii_scrub_stats, _cur.pii_scrub_stats_sql())
_table_query("curation_dataset_split", _cur.dataset_split, _cur.dataset_split_sql())
# Round-6 build batch: eval-set leakage audit — near-dup pairs (the
# certified MinHash-LSH machinery) labeled by the splits their
# endpoints hash into; leaky rows are pairs straddling train/eval
# (operators/curation.py::split_leakage).
_table_query("curation_split_leakage", _cur.split_leakage, _cur.split_leakage_sql())
_table_query("curation_sample_per_source", _cur.sample_per_source, _cur.sample_per_source_sql())
_table_query("curation_mixture_plan", _cur.mixture_plan, _cur.mixture_plan_sql())
_table_query("curation_chunk_inventory", _cur.chunk_inventory, _cur.chunk_inventory_sql())
_table_query("dedup_ingest_stats", _dedup.ingest_dedup_stats, _dedup.ingest_dedup_stats_sql())


def _neardup_index_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted near-dup signature index (round 4): the corpus slice
    outside the ingest hash is indexed ONCE (band-partitioned MinHash
    signature parquet); the ingest batch then joins its own band table
    against the stored one — O(batch) signature work per ingest. The
    oracle re-derives both sides' signatures from the documents table,
    since the index contents are a pure function of the corpus split."""
    cat = _catalog(spark, sf_dir)
    docs = cat.table("documents")
    inc = portable_hash_col(F.col("doc_id"), salt=_dedup.INGEST_SALT) < F.lit(
        fraction_threshold(_dedup.INGEST_FRACTION)
    )
    path = tempfile.mkdtemp(prefix="aqe_neardup_idx_")
    _dedup.neardup_index_write(spark, docs.filter(~inc), path)
    return _dedup.neardup_index_query(spark, docs.filter(inc), path).orderBy(
        "batch_doc", "index_doc"
    )


_register(
    "dedup_neardup_index_query",
    _neardup_index_fn,
    _dedup.neardup_index_query_sql(),
)


def _incremental_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (round 4): build the per-group
    state from the events OUTSIDE the ingest hash, persist it, then fold
    the ingest batch in WITHOUT re-reading the base — O(batch+|groups|).
    The oracle is the full-history aggregate: the entry passes iff
    merge(state(base), delta) == state(base ∪ delta) exactly (integer
    state makes the equality bit-for-bit)."""
    cat = _catalog(spark, sf_dir)
    ev = cat.table("events")
    batch = portable_hash_col(F.col("event_id"), salt=13) < F.lit(fraction_threshold(0.10))
    path = tempfile.mkdtemp(prefix="aqe_agg_state_")
    _inc.agg_state_write(spark, ev.filter(~batch), "event_type", "value", path)
    merged = _inc.agg_state_merge(spark, path, ev.filter(batch), "event_type", "value")
    return _inc.agg_state_readout(merged)


_register(
    "incremental_state_merge",
    _incremental_fn,
    _inc.incremental_readout_sql("events", "event_type", "value"),
)
_twin_query(
    "sketch_kmv_distinct", _distinct.kmv_distinct_ci, _distinct.kmv_distinct_ci_sql,
    "lineitem", "l_partkey", k=256,
)
_table_query(
    "sketch_wavelet_selectivity",
    lambda spark, df: _wavelet.wavelet_range_counts(spark, df, "l_extendedprice"),
    _wavelet.wavelet_range_counts_sql("lineitem", "l_extendedprice"),
    table="lineitem",
)
_twin_query(
    "approx_sum_blb", _boot.blb_sum_ci, _boot.blb_sum_ci_sql,
    "lineitem", "l_extendedprice", _LKEY,
)
_table_query("sketch_countmin_tokens", _cms.countmin_topk_estimates, _cms.countmin_topk_sql())
_twin_query(
    "sketch_hist_quantiles", _hist.hist_quantiles, _hist.hist_quantiles_sql,
    "lineitem", "l_extendedprice",
)
# Addition is order-free, so the drained bin counts share the batch oracle.
_register(
    "streaming_hist_quantiles", _pipeline.hist_quantile_stream, ORACLE["sketch_hist_quantiles"]
)
_twin_query(
    "sketch_ddsketch_quantiles", _dd.ddsketch_quantiles, _dd.ddsketch_quantiles_sql,
    "lineitem", "l_extendedprice", alpha=0.01,
)


def _priority_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (round 4) — sample ONCE (k=2048, weights =
    o_totalprice cents), answer any later subset-sum; here the subset
    is the 1-URGENT orders. DLT'07 estimator Σ max(w, τ)."""
    cat = _catalog(spark, sf_dir)
    orders = cat.table("orders")
    return _priority.priority_sample_subset_sum(
        orders,
        key="o_orderkey",
        weight_cents=F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"),
        subset=F.col("o_orderpriority") == "1-URGENT",
        k=2048,
    )


_register(
    "approx_sum_priority",
    _priority_fn,
    _priority.priority_sample_subset_sum_sql(
        "orders",
        key="o_orderkey",
        weight_cents_sql="floor(o_totalprice * 100.0 + 0.5)",
        subset_sql="o_orderpriority = '1-URGENT'",
        k=2048,
    ),
)


# Epoch-day bounds for the zonemap range query (1997 calendar year —
# inside the synthetic orders' 1995-2001 date span) — computed once so
# Spark and the oracle share the same integer window.
_ZM_LO = 9862    # date(1997,1,1)  - date(1970,1,1)
_ZM_HI = 10226   # date(1997,12,31)- date(1970,1,1)


def _zonemap_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data-skipping index (round 4) — the Spark-native
    answer to the reference's B+-tree key-range search (SURVEY §2 P5,
    custom_bplus_db.cpp range scans): range-bucketed sorted layout +
    min/max zone stats, partition-pruned range aggregate. The oracle
    re-derives layout, pruning AND the answer."""
    cat = _catalog(spark, sf_dir)
    orders = cat.table("orders")
    path = tempfile.mkdtemp(prefix="aqe_zonemap_")
    _zonemap.zonemap_write(
        spark,
        orders.select("o_orderdate", "o_totalprice"),
        path,
        key=F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")),
        n_zones=64,
    )
    return _zonemap.zonemap_range_sum(
        spark,
        path,
        _ZM_LO,
        _ZM_HI,
        value_cents=F.floor(F.col("o_totalprice") * 100.0 + 0.5),
    )


_register(
    "index_zonemap_range_sum",
    _zonemap_fn,
    _zonemap.zonemap_range_sum_sql(
        "orders",
        key_sql="date_diff('day', DATE '1970-01-01', o_orderdate)",
        value_cents_sql="floor(o_totalprice * 100.0 + 0.5)",
        lo=_ZM_LO,
        hi=_ZM_HI,
        n_zones=64,
    ),
)


# Block bloom-filter skip index — the EQUALITY-predicate complement of
# the zone map: point lookups on an UNCLUSTERED column (o_custkey over
# an o_orderkey-blocked layout) prune to the blocks whose per-block
# bloom covers the key's probes. Fixed block WIDTH (row-group analogue)
# keeps the per-block bloom load constant as data grows — a fixed block
# COUNT would saturate the filters at 10x. The oracle re-derives
# layout, bloom words, probe survival, and the exact in-block answer.
_BB_KEY = 42  # o_custkey present at every fixture SF


def _blockbloom_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _catalog(spark, sf_dir)
    orders = cat.table("orders")
    path = tempfile.mkdtemp(prefix="aqe_blockbloom_")
    _blockbloom.blockbloom_write(
        spark,
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        path,
        ingest_key=F.col("o_orderkey"),
        lookup_key=F.col("o_custkey"),
        value_cents=F.floor(F.col("o_totalprice") * 100.0 + 0.5),
    )
    return _blockbloom.blockbloom_point_sum(spark, path, _BB_KEY)


_register(
    "index_blockbloom_point_sum",
    _blockbloom_fn,
    _blockbloom.blockbloom_point_sum_sql(
        "orders",
        ingest_key_sql="o_orderkey",
        lookup_key_sql="o_custkey",
        value_cents_sql="floor(o_totalprice * 100.0 + 0.5)",
        key=_BB_KEY,
    ),
)


# Z-order (Morton) 2-D clustering — rectangle data skipping on
# (ship-day, partkey), the Delta/Iceberg ZORDER BY design. The readout
# row certifies the answer, the Morton pruning count, AND the
# comparison claim: `blocks_scanned_linear`/`blocks_total_linear`
# re-derive what an x-keyed (time-keyed) layout's identical min/max
# stats would scan for the same rectangle. The rectangle is the
# canonical Z-order case — a narrow partkey slice over (nearly) all
# time, which a time-keyed layout cannot prune AT ALL (every block's
# partkey bounds span the domain → scans everything) while the Morton
# layout confines each partkey band to a handful of blocks. An x-heavy
# rectangle was measured too: there the time-keyed layout wins 3-5
# blocks vs Morton — the documented trade of interleaving, not a
# defect. Certified layout is 'prefix' (top-bits-of-z quadtree cells):
# expression-only block assignment — no single-partition ntile sort
# (the r5 weak flag), no sampled range boundaries — so the build is
# one hash shuffle AND the DuckDB oracle replays blocks_scanned
# exactly (sources/zorder.py).
_ZO_X = (9100, 11700)  # ship-days: the fixtures' full 1995-2001 span
_ZO_Y = (40, 119)  # 80-partkey slice (4% of the sf0.01 domain)


def _zorder_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _catalog(spark, sf_dir)
    li = cat.table("lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_shipdate", "l_extendedprice"
    )
    x = F.datediff(F.col("l_shipdate"), F.lit("1970-01-01"))
    y = F.col("l_partkey")
    rid = F.col("l_orderkey") * 8 + F.col("l_linenumber")
    path = tempfile.mkdtemp(prefix="aqe_zorder_")
    _zorder.zorder_write(spark, li, path, x=x, y=y, rowid=rid,
                 value_cents=F.floor(F.col("l_extendedprice") * 100.0 + 0.5))
    rect = _zorder.zorder_rect_sum(spark, path, *_ZO_X, *_ZO_Y)
    lin = _zorder.linear_blocks_scanned(spark, li, x=x, y=y, rowid=rid, x_lo=_ZO_X[0],
                                x_hi=_ZO_X[1], y_lo=_ZO_Y[0], y_hi=_ZO_Y[1])
    return rect.crossJoin(lin)  # 1-row x 1-row readout


_register(
    "index_zorder_rect_sum",
    _zorder_fn,
    _zorder.zorder_rect_sum_sql(
        "lineitem",
        x_sql="date_diff('day', DATE '1970-01-01', l_shipdate)",
        y_sql="l_partkey",
        rowid_sql="l_orderkey * 8 + l_linenumber",
        value_cents_sql="floor(l_extendedprice * 100.0 + 0.5)",
        x_lo=_ZO_X[0],
        x_hi=_ZO_X[1],
        y_lo=_ZO_Y[0],
        y_hi=_ZO_Y[1],
    ),
)


# MERGE / upsert (CDC apply) — the lakehouse write primitive
# (operators/merge.py). The change batch derives deterministically from
# orders itself in three DISJOINT mod-21 slices (so source keys stay
# unique, the MERGE precondition): k%21=0 price-bumped (updates),
# k%21=7 echoed verbatim (unchanged), k%21=14 re-keyed +1e8 (inserts).
# The certified row is the one-aggregate change audit over the single
# full-outer join.


def _merge_upsert_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _catalog(spark, sf_dir)
    o = cat.table("orders").select("o_orderkey", "o_totalprice")
    k = F.col("o_orderkey")
    upd = o.filter(k % 21 == 0).select(
        k.alias("o_orderkey"), (F.col("o_totalprice") + 10.0).alias("o_totalprice")
    )
    unch = o.filter(k % 21 == 7).select("o_orderkey", "o_totalprice")
    ins = o.filter(k % 21 == 14).select(
        (k + 100_000_000).alias("o_orderkey"), F.col("o_totalprice")
    )
    source = upd.unionAll(unch).unionAll(ins)
    return _merge.merge_upsert_stats(
        o,
        source,
        key="o_orderkey",
        value_cents=F.floor(F.col("o_totalprice") * 100.0 + 0.5),
    )


def _merge_upsert_oracle() -> str:
    src = (
        "(SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice "
        " FROM orders WHERE o_orderkey % 21 = 0 "
        " UNION ALL SELECT o_orderkey, o_totalprice "
        " FROM orders WHERE o_orderkey % 21 = 7 "
        " UNION ALL SELECT o_orderkey + 100000000, o_totalprice "
        " FROM orders WHERE o_orderkey % 21 = 14) src"
    )
    return _merge.merge_upsert_stats_sql(
        target_sql="orders",
        source_sql=src,
        key="o_orderkey",
        value_cents_sql="floor(o_totalprice * 100.0 + 0.5)",
    )


_register("table_merge_upsert_stats", _merge_upsert_fn, _merge_upsert_oracle())


# AQP++ (SIGMOD'18): exact precomputed interior blocks + sampled
# boundary slivers. Same 1997 date range as the zonemap entry but a
# DELIBERATELY block-unaligned window (starts mid-1993) so both
# interior and boundary paths carry mass; the certified row pins the
# estimate, the boundary-only CI, and the precomputation arithmetic
# (interior_rows / blocks_interior re-derived by the oracle).
_AQPP_LO = 8500    # 1993-04-10
_AQPP_HI = 10226   # 1997-12-31
# Spark SQL text of the key and the cents grid (F.lit(double) typing)
_AQPP_KEY = "datediff(o_orderdate, '1970-01-01')"
_AQPP_CENTS = "floor(o_totalprice * CAST(100.0 AS DOUBLE) + CAST(0.5 AS DOUBLE))"


def _aqpplus_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQP++ range SUM over orders: precomputed 64-block aggregate
    answers the interior exactly; only the two partial boundary blocks
    are sampled (10% deterministic hash). CI variance comes from the
    boundary alone — measured 6× narrower than pure sampling at the
    same fraction (tests/test_aqpplus.py)."""
    cat = _catalog(spark, sf_dir)
    orders = cat.table("orders")
    path = tempfile.mkdtemp(prefix="aqe_aqpplus_")
    handle = _aqpplus.aqpplus_build(
        spark, orders, path, _AQPP_KEY, _AQPP_CENTS, row_key="o_orderkey", n_blocks=64
    )
    return _aqpplus.aqpplus_range_sum(spark, handle, _AQPP_LO, _AQPP_HI, fraction=0.1)


_register(
    "aqpplus_range_sum",
    _aqpplus_fn,
    _aqpplus.aqpplus_range_sum_sql(
        "orders",
        key_sql="date_diff('day', DATE '1970-01-01', o_orderdate)",
        value_cents_sql="floor(o_totalprice * 100.0 + 0.5)",
        row_key_sql="o_orderkey",
        lo=_AQPP_LO,
        hi=_AQPP_HI,
        n_blocks=64,
        fraction=0.1,
    ),
)


def _aqpplus_grouped_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped AQP++ (dashboard shape): per-priority range revenue
    with exact (block, group) interiors and one shared boundary
    sample — the grouped complement of aqpplus_range_sum."""
    cat = _catalog(spark, sf_dir)
    orders = cat.table("orders")
    path = tempfile.mkdtemp(prefix="aqe_aqppg_")
    _aqpplus.aqpplus_grouped_build(
        spark, orders, path, _AQPP_KEY, _AQPP_CENTS, group="o_orderpriority", n_blocks=64
    )
    return _aqpplus.aqpplus_grouped_range_sum(
        spark,
        orders,
        path,
        _AQPP_LO,
        _AQPP_HI,
        _AQPP_KEY,
        _AQPP_CENTS,
        group="o_orderpriority",
        row_key="o_orderkey",
        fraction=0.1,
    ).withColumnRenamed("grp", "o_orderpriority")


def _aqpplus_grouped_oracle() -> str:
    inner = _aqpplus.aqpplus_grouped_range_sum_sql(
        "orders",
        key_sql="date_diff('day', DATE '1970-01-01', o_orderdate)",
        value_cents_sql="floor(o_totalprice * 100.0 + 0.5)",
        row_key_sql="o_orderkey",
        group_sql="o_orderpriority",
        lo=_AQPP_LO,
        hi=_AQPP_HI,
        n_blocks=64,
        fraction=0.1,
    )
    return (
        "SELECT grp AS o_orderpriority, sum_value, ci_lower, ci_upper, "
        f"n_samples, interior_rows FROM ({inner}) __g"
    )


_register("aqpplus_grouped_range_sum", _aqpplus_grouped_fn, _aqpplus_grouped_oracle())


def _join_synopsis_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQUA join synopsis (SIGMOD'99): persist a 10% uniform sample of
    lineitem ⋈ orders (fact-side hash sample × FK join = true
    Bernoulli sample of the join), then answer grouped revenue by
    o_orderpriority from the synopsis ALONE — no join at query time.
    The oracle replays sample → join → HT estimate on the base
    tables."""
    cat = _catalog(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="aqe_joinsyn_") + "/syn"
    _joinsyn.join_synopsis_build(
        spark,
        path,
        fact=cat.table("lineitem"),
        dim=cat.table("orders").withColumnRenamed("o_orderkey", "l_orderkey"),
        on="l_orderkey",
        fact_key=_LKEY,
        fraction=0.1,
        columns=["l_extendedprice", "l_discount", "o_orderpriority"],
    )
    # Integer-grid measure (cents × discount-pct): per-row values are
    # integer-valued doubles ≤ 1e9, so every partial sum stays exact
    # below 2^53 in ANY summation order — the HT estimate is
    # bit-reproducible across engines (float revenue sums are not:
    # a 0.01 ci-bound flip was observed on the raw expression).
    rdf = _joinsyn.join_synopsis_agg(
        spark,
        path,
        AggSpec("sum", _REV_GRID, alias="revenue"),
        group_by=["o_orderpriority"],
    )
    return rdf.select(
        "o_orderpriority",
        F.round(F.col("revenue") / 10000.0, 2).alias("revenue"),
        F.round(F.col("ci_lower") / 10000.0, 2).alias("ci_lower"),
        F.round(F.col("ci_upper") / 10000.0, 2).alias("ci_upper"),
        "n_samples",
    )


_REV_GRID = (
    "floor(l_extendedprice * 100 + 0.5) * (100 - floor(l_discount * 100 + 0.5))"
)


def _join_synopsis_oracle() -> str:
    spec = SamplingSpec(design="uniform_hash", fraction=0.1, key=_LKEY)
    inner = moments_sql(
        table="lineitem JOIN orders ON l_orderkey = o_orderkey",
        column=f"({_REV_GRID})",
        where=sampling_where_sql(spec),
        agg="sum",
        p_sql=sampling_p_sql(spec),
        alias="revenue",
        group_by="o_orderpriority",
        round_to=None,
    )
    return (
        "SELECT o_orderpriority, "
        "round(revenue / 10000.0, 2) AS revenue, "
        "round(ci_lower / 10000.0, 2) AS ci_lower, "
        "round(ci_upper / 10000.0, 2) AS ci_upper, "
        f"n_samples FROM ({inner}) __g"
    )


_register("join_synopsis_revenue", _join_synopsis_fn, _join_synopsis_oracle())


def _join_synopsis_quantiles_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles OVER A JOIN from the synopsis alone: per-priority
    median line price of lineitem ⋈ orders with the order-statistic
    CI — an exact grouped quantile needs the full join sorted; the
    synopsis answers it from f·|fact| rows, and the binomial CI is
    honest about the sampling. The oracle replays sample → join →
    identical rank arithmetic on the base tables."""
    cat = _catalog(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="aqe_joinsynq_") + "/syn"
    _joinsyn.join_synopsis_build(
        spark,
        path,
        fact=cat.table("lineitem"),
        dim=cat.table("orders").withColumnRenamed("o_orderkey", "l_orderkey"),
        on="l_orderkey",
        fact_key=_LKEY,
        fraction=0.1,
        columns=["l_orderkey", "l_linenumber", "l_extendedprice", "o_orderpriority"],
    )
    spark.read.parquet(path).createOrReplaceTempView("__join_synopsis_q")
    sql = _quantiles.grouped_quantile_ci_sql(
        table="__join_synopsis_q",
        column="l_extendedprice",
        group_col="o_orderpriority",
        q=0.5,
        spec=SamplingSpec(design="none", key=_LKEY),
    )
    return spark.sql(sql)


# The oracle runs the same rank arithmetic, but re-derives the sample
# from the base join via the hash predicate — identical sample content,
# so the order statistics match element-for-element.
_register(
    "join_synopsis_price_quantiles",
    _join_synopsis_quantiles_fn,
    _quantiles.grouped_quantile_ci_sql(
        table="lineitem JOIN orders ON l_orderkey = o_orderkey",
        column="l_extendedprice",
        group_col="o_orderpriority",
        q=0.5,
        spec=SamplingSpec(design="uniform_hash", fraction=0.1, key=_LKEY),
    ),
)


def _kmv_setops_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta set operations (round 4): distinct-part overlap
    between the extreme-low (<3) and extreme-high (>48) quantity
    slices of lineitem (exact Jaccard 0.518 at sf0.01) —
    DIRECT intersection estimation (no inclusion-exclusion blow-up,
    unlike sketch_hll_overlap)."""
    cat = _catalog(spark, sf_dir)
    li = cat.table("lineitem")
    return _distinct.kmv_set_ops(
        li.filter(F.col("l_quantity") < 3),
        li.filter(F.col("l_quantity") > 48),
        "l_partkey",
        k=256,
    )


_register(
    "sketch_kmv_set_ops",
    _kmv_setops_fn,
    _distinct.kmv_set_ops_sql(
        "(SELECT * FROM lineitem WHERE l_quantity < 3)",
        "(SELECT * FROM lineitem WHERE l_quantity > 48)",
        "l_partkey",
        k=256,
    ),
)


_twin_query(
    "sketch_ddsketch_grouped",
    _dd.ddsketch_grouped_quantiles, _dd.ddsketch_grouped_quantiles_sql,
    "lineitem", "l_extendedprice", "l_returnflag", alpha=0.01,
)
# Addition is order-free, so the drained bucket counts share the batch oracle.
_register(
    "streaming_ddsketch_quantiles", _pipeline.ddsketch_stream, ORACLE["sketch_ddsketch_quantiles"]
)


def _synopsis_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BlinkDB-style persisted stratified synopsis (round 4): build a
    cap-based stratified sample of orders ONCE (cap=2048 per
    o_orderpriority stratum; rare strata kept in full → exact
    answers), then answer the per-stratum revenue SUM + CI from the
    SYNOPSIS alone — the base table is never scanned at query time.
    The oracle re-derives counts → integer thresholds → membership →
    the same integer-moments estimate from the base table."""
    cat = _catalog(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="aqe_synopsis_")
    _synopsis.synopsis_build(
        spark,
        cat.table("orders").select("o_orderkey", "o_orderpriority", "o_totalprice"),
        path,
        stratum="o_orderpriority",
        key="o_orderkey",
        cap=2048,
    )
    return _synopsis.synopsis_stratified_sum(
        spark, path, "o_orderpriority", "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"
    )


_register(
    "synopsis_stratified_sum",
    _synopsis_fn,
    _synopsis.synopsis_stratified_sum_sql(
        "orders",
        stratum="o_orderpriority",
        key="o_orderkey",
        value_cents_sql="floor(o_totalprice * 100.0 + 0.5)",
        cap=2048,
    ),
)


def _hist2d_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram correlated-selectivity (round 4): documents
    n_chars vs token count (corr 0.998). The rectangle "n_chars ≤ 300
    AND tokens ≥ 80" is near-impossible under the joint distribution
    (exact 0) but the independence assumption predicts ~10% of the
    corpus — the certified row carries both estimates."""
    cat = _catalog(spark, sf_dir)
    docs = cat.table("documents")
    return _hist2d.hist2d_rect_selectivity(
        docs,
        x=F.col("n_chars"),
        y=F.size(F.split(F.col("text"), " ")),
        x_hi=300.0,
        y_lo=80.0,
    )


_register(
    "sketch_hist2d_selectivity",
    _hist2d_fn,
    _hist2d.hist2d_rect_selectivity_sql(
        "documents",
        x_sql="n_chars",
        y_sql="len(string_split(text, ' '))",
        x_hi=300.0,
        y_lo=80.0,
    ),
)


def _kmv_where_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-value sampling (round 4): how many distinct parts
    ordered (lineitem l_partkey) retail above 970 — the bottom-k
    sketch doubles as a uniform sample of the DISTINCT keys, joined to
    the part dimension for the predicate fraction."""
    cat = _catalog(spark, sf_dir)
    return _distinct.kmv_distinct_where(
        cat.table("lineitem"),
        "l_partkey",
        cat.table("part"),
        "p_partkey",
        F.col("p_retailprice") > 970.0,
        k=256,
    )


_register(
    "sketch_kmv_distinct_where",
    _kmv_where_fn,
    _distinct.kmv_distinct_where_sql(
        "lineitem", "l_partkey", "part", "p_partkey", "p_retailprice > 970.0", k=256
    ),
)


def _advisor_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven method advisor (round 4): profile events.value
    (cv², top-B mass share, CLT-predicted CI at 10%) and recommend
    an estimator — the oracle re-derives the statistics AND the
    decision rule, certifying the recommendation itself."""
    cat = _catalog(spark, sf_dir)
    return _advisor.advise_method(
        cat.table("events"),
        F.floor(finite_col(F.col("value")) * 100.0 + 0.5).cast("long"),
    )


_register(
    "advisor_method_profile",
    _advisor_fn,
    _advisor.advise_method_sql("events", f"floor({finite_sql('value')} * 100.0 + 0.5)"),
)


_table_query(
    "adaptive_join_pairs",
    lambda spark, df: _joins.adaptive_universe_join(df, error_bp=500),
    _joins.adaptive_universe_join_sql(error_bp=500),
    table="events",
)
_table_query(
    "events_decayed_sum",
    _temporal.decayed_sum_by_type,
    _temporal.decayed_sum_by_type_sql(),
    table="events",
)
_table_query(
    "events_gapfill_locf",
    lambda spark, df: _temporal.time_bucket_gapfill(spark, df, bucket="hour"),
    _temporal.time_bucket_gapfill_sql(bucket="hour"),
    table="events",
)


# Round-5 fourth batch: day-of-week × hour activity matrix — the
# seasonality profile behind ingest scheduling. Day-of-week comes from
# portable epoch-day arithmetic ((days + 4) % 7, 0 = Sunday): the
# builtin dow functions disagree across engines (dayofweek is
# 1-indexed Sunday in Spark, 0-indexed Sunday in DuckDB, isodow
# another convention again). One scan, 7×24-bounded output; certified
# readout keeps the 20 busiest cells.
_sql_query(
    "events_dow_hour_profile",
    "SELECT CAST((datediff(CAST(ts AS DATE), DATE '1970-01-01') + 4) % 7 "
    "            AS BIGINT) AS dow, "
    "CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n_events "
    "FROM events GROUP BY 1, 2 "
    "ORDER BY n_events DESC, dow, hr LIMIT 20",
    oracle=(
        "SELECT CAST((date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 4) % 7 "
        "            AS BIGINT) AS dow, "
        "CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n_events "
        "FROM events GROUP BY 1, 2 "
        "ORDER BY n_events DESC, dow, hr LIMIT 20"
    ),
)
# Round-5 fourth batch: open-order backlog per day via BOUNDARY
# COUNTING — the O(boundaries) alternative to a per-day interval range
# join: +1 at each order's open day, −1 at its close day (open + 30d
# here), then one running sum over the merged boundary stream. The
# range-join formulation touches O(days × open orders); this touches
# each order exactly twice regardless of interval length. Certified
# readout: the 10 highest-backlog days (ties broken by day).
_sql_query(
    "orders_open_backlog_days",
    "WITH bounds AS ("
    "  SELECT CAST(o_orderdate AS DATE) AS day, 1 AS d FROM orders "
    "  UNION ALL "
    "  SELECT CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE), -1 FROM orders), "
    "daily AS (SELECT day, CAST(sum(d) AS BIGINT) AS delta "
    "          FROM bounds GROUP BY day), "
    "running AS (SELECT day, "
    "  CAST(sum(delta) OVER (ORDER BY day "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    "  AS open_orders FROM daily) "
    "SELECT day, open_orders FROM running "
    "ORDER BY open_orders DESC, day LIMIT 10",
    oracle=(
        "WITH bounds AS ("
        "  SELECT CAST(o_orderdate AS DATE) AS day, 1 AS d FROM orders "
        "  UNION ALL "
        "  SELECT CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE), -1 FROM orders), "
        "daily AS (SELECT day, CAST(sum(d) AS BIGINT) AS delta "
        "          FROM bounds GROUP BY day), "
        "running AS (SELECT day, "
        "  CAST(sum(delta) OVER (ORDER BY day "
        "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
        "  AS open_orders FROM daily) "
        "SELECT day, open_orders FROM running "
        "ORDER BY open_orders DESC, day LIMIT 10"
    ),
)
# Round-5 fourth batch: 7-day sliding distinct users (the WAU-style
# engagement timeline). Exact sliding DISTINCT cannot ride a window
# frame (COUNT(DISTINCT) OVER a range is unsupported/explosive in both
# engines); the scale shape is: reduce events to distinct (day, user)
# pairs ONCE (one shuffle, the only O(N) step), then a bounded range
# join of that pair table against the day grid — O(days × 7 × daily
# actives) — and a grouped distinct per window end. Answer columns:
# day, wau (7-day distinct), dau (that day's distinct).
_sql_query(
    "events_sliding_distinct_users",
    "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events), "
    "days AS (SELECT DISTINCT day FROM du) "
    "SELECT d.day, "
    "count(DISTINCT u.user_id) AS wau, "
    "count(DISTINCT CASE WHEN u.day = d.day THEN u.user_id END) AS dau "
    "FROM days d JOIN du u "
    "ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day "
    "GROUP BY d.day ORDER BY d.day",
    oracle=(
        "WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events), "
        "days AS (SELECT DISTINCT day FROM du) "
        "SELECT d.day, "
        "CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau, "
        "CAST(count(DISTINCT CASE WHEN u.day = d.day THEN u.user_id END) AS BIGINT) AS dau "
        "FROM days d JOIN du u "
        "ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day "
        "GROUP BY d.day ORDER BY d.day"
    ),
)
# Pipeline-monitoring anomaly scan — top-3 most anomalous DAYS per
# event type by daily-volume z-score (exact integer moments →
# engine-portable ranking).
_table_query(
    "events_anomaly_days",
    _temporal.anomaly_days_by_type,
    _temporal.anomaly_days_by_type_sql(),
    table="events",
)


def _anomaly_stream_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    _catalog(spark, sf_dir)
    return _pipeline.anomaly_days_stream(spark, sf_dir)


# Streaming twin: drained complete-mode daily counts == the batch
# daily table (order-free sums), so the batch oracle applies verbatim.
_register(
    "streaming_anomaly_days", _anomaly_stream_fn, _temporal.anomaly_days_by_type_sql()
)


def _ams_f2_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS tug-of-war sketch: self-join size (F₂) of lineitem on
    l_orderkey from 48 signed counters in one aggregate pass —
    completes the join-size family next to the Count-Min inner
    product (cross-join side)."""
    cat = _catalog(spark, sf_dir)
    return _ams.ams_f2_estimate(cat.table("lineitem"), F.col("l_orderkey"))


_register(
    "sketch_ams_f2_selfjoin", _ams_f2_fn, _ams.ams_f2_estimate_sql("lineitem", "l_orderkey")
)
# Linearity makes the drained counters equal the batch ones, so the oracle is shared.
_register("streaming_ams_f2", _pipeline.ams_f2_stream, ORACLE["sketch_ams_f2_selfjoin"])
# Batch store (closed days) + stream (open tail); the oracle reads raw events.
_register(
    "streaming_lambda_serving",
    _pipeline.lambda_serving_quantiles,
    _dd.ddsketch_store_range_quantiles_sql(
        "events",
        ts_col="ts",
        group="event_type",
        column="value",
        day_lo="2024-01-01",
        day_hi="2024-01-30",
        alpha=0.01,
        qs=(0.5, 0.9),
    ),
)


# Round-5 fourth batch: streaming CDC apply — the continuous twin of
# table_merge_upsert_stats (same deterministic change slices, same
# oracle): latest-wins compaction state drained into the shared
# merge_audit aggregate.


def _merge_stream_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    _catalog(spark, sf_dir)
    return _pipeline.merge_upsert_stream(spark, sf_dir)


_register("streaming_merge_upsert", _merge_stream_fn, _merge_upsert_oracle())


# Sample+Seek (SIGMOD'16) router: two certified entries, one per
# route, so the driver attests BOTH execution paths and the decision
# itself. Ranges chosen against the 64-zone orders layout: a 3-week
# window overlaps ≤2 zones (sel ~3% → seek); 1995-01→1998-08 covers
# half the key span (sel ~55% → sample).
_SS_SEEK_LO, _SS_SEEK_HI = 9862, 9882       # 1997-01-01 .. 1997-01-21
_SS_SAMP_LO, _SS_SAMP_HI = 9131, 10443      # 1995-01-01 .. 1998-08-05


def _sample_seek_fn(lo: int, hi: int):
    def fn(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Sample+Seek routed range SUM over the persisted zone-map
        layout: low-selectivity ranges answered exactly from the
        pruned zones (zero-width CI), high-selectivity ones from the
        deterministic hash sample (HT CI) — the route derived from
        the O(zones) stats, no data scan."""
        cat = _catalog(spark, sf_dir)
        orders = cat.table("orders").select(
            F.col("o_orderkey").alias("__rk"),
            F.floor(F.col("o_totalprice") * 100.0 + 0.5)
            .cast("long")
            .alias("__cents"),
            F.col("o_orderdate"),
        )
        path = tempfile.mkdtemp(prefix="aqe_sseek_")
        _zonemap.zonemap_write(
            spark,
            orders,
            path,
            key=F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")),
            n_zones=64,
        )
        return _sampleseek.sample_seek_range_sum(
            spark, path, lo, hi, row_key="__rk", fraction=0.1
        )

    return fn


def _sample_seek_oracle(lo: int, hi: int) -> str:
    return _sampleseek.sample_seek_range_sum_sql(
        "orders",
        key_sql="date_diff('day', DATE '1970-01-01', o_orderdate)",
        value_cents_sql="floor(o_totalprice * 100.0 + 0.5)",
        row_key_sql="o_orderkey",
        lo=lo,
        hi=hi,
        n_zones=64,
        fraction=0.1,
    )


_register(
    "router_range_sum_seek",
    _sample_seek_fn(_SS_SEEK_LO, _SS_SEEK_HI),
    _sample_seek_oracle(_SS_SEEK_LO, _SS_SEEK_HI),
)
_register(
    "router_range_sum_sample",
    _sample_seek_fn(_SS_SAMP_LO, _SS_SAMP_HI),
    _sample_seek_oracle(_SS_SAMP_LO, _SS_SAMP_HI),
)


_table_query(
    "approx_join_wander_sum",
    lambda spark, df: _wander.wander_join_abs_gap(df),
    _wander.wander_join_abs_gap_sql(),
    table="events",
)


def _priority_grouped_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped priority sampling (round 4): per-priority-band revenue
    totals from per-group size-512 DLT samples — the grouped
    complement of approx_sum_priority."""
    cat = _catalog(spark, sf_dir)
    return _priority.priority_grouped_sum(
        cat.table("orders"),
        key="o_orderkey",
        group="o_orderpriority",
        weight_cents=F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long"),
        k=512,
    )


_register(
    "approx_grouped_sum_priority",
    _priority_grouped_fn,
    _priority.priority_grouped_sum_sql(
        "orders",
        key="o_orderkey",
        group="o_orderpriority",
        weight_cents_sql="floor(o_totalprice * 100.0 + 0.5)",
        k=512,
    ),
)


def _elp_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-latency profile (round 4): the whole 7-fraction estimate/
    CI curve for SUM(l_extendedprice) from ONE grouped pass — nested
    hash samples make every rung's moments suffix-cumulative."""
    cat = _catalog(spark, sf_dir)
    return _elp.elp_fraction_sweep(
        cat.table("lineitem"),
        key="l_orderkey * 8 + l_linenumber",
        value_cents=F.floor(F.col("l_extendedprice") * 100.0 + 0.5),
    )


_register(
    "elp_fraction_sweep",
    _elp_fn,
    _elp.elp_fraction_sweep_sql(
        "lineitem",
        key="l_orderkey * 8 + l_linenumber",
        value_cents_sql="floor(l_extendedprice * 100.0 + 0.5)",
    ),
)


def _synopsis_append_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental synopsis maintenance (round 4): build on a 90%
    hash-split of orders, fold in the other 10% WITHOUT rescanning the
    base — nested thresholds make maintenance an eviction filter —
    then read out. The oracle derives from the FULL table, so the
    driver row certifies append == rebuild."""
    cat = _catalog(spark, sf_dir)
    orders = cat.table("orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    split = portable_hash_col(F.col("o_orderkey"), salt=17) < F.lit(
        fraction_threshold(0.9)
    )
    path = tempfile.mkdtemp(prefix="aqe_synapp_")
    _synopsis.synopsis_build(
        spark, orders.filter(split), path, "o_orderpriority", "o_orderkey", cap=2048
    )
    _synopsis.synopsis_append(
        spark, orders.filter(~split), path, "o_orderpriority", "o_orderkey", cap=2048
    )
    return _synopsis.synopsis_stratified_sum(
        spark, path, "o_orderpriority",
        "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)",
    )


_register("synopsis_incremental_append", _synopsis_append_fn, ORACLE["synopsis_stratified_sum"])


def _ddsketch_collapsed_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory DDSketch (round 4): collapse to ≤64 buckets, read
    the high quantiles — the paper's memory contract, α preserved
    above the collapsed mass."""
    cat = _catalog(spark, sf_dir)
    buckets = _dd.ddsketch_collapse(
        _dd.ddsketch_buckets(cat.table("lineitem"), "l_extendedprice", alpha=0.01),
        max_buckets=64,
    )
    return _dd.ddsketch_readout(buckets, alpha=0.01, qs=(0.9, 0.99))


_register(
    "sketch_ddsketch_collapsed",
    _ddsketch_collapsed_fn,
    _dd.ddsketch_collapsed_quantiles_sql(
        "lineitem", "l_extendedprice", alpha=0.01, max_buckets=64, qs=(0.9, 0.99)
    ),
)


def _ddsketch_store_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-aggregated sketch cube (round 4): per-(day, event_type)
    DDSketch buckets persisted once, then a two-week percentile query
    served by partition-pruned bucket merge — the Druid-style rollup
    pattern; the oracle derives the same answers from the raw events."""
    cat = _catalog(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="aqe_ddstore_")
    _dd.ddsketch_store_write(
        spark, cat.table("events"), path, "ts", "event_type", "value"
    )
    return _dd.ddsketch_store_range_quantiles(
        spark, path, "2024-01-08", "2024-01-21", "event_type"
    )


_register(
    "sketch_rollup_store_quantiles",
    _ddsketch_store_fn,
    _dd.ddsketch_store_range_quantiles_sql(
        "events", "ts", "event_type", "value", "2024-01-08", "2024-01-21"
    ),
)


_twin_query(
    "approx_sum_poststratified", _poststrat.poststrat_sum_ci, _poststrat.poststrat_sum_ci_sql,
    "lineitem", "l_extendedprice", "l_returnflag",
    SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY),
)


# Revenue per linestatus, each group's sample re-weighted by exact
# (linestatus, returnflag) cell counts; reachable from SQL as
# ``APPROX(SUM(x)) ... GROUP BY g`` with method='poststrat' + stratum_col=.
_twin_query(
    "approx_grouped_sum_poststratified",
    _poststrat.poststrat_sum_ci, _poststrat.poststrat_sum_ci_sql,
    "lineitem", "l_extendedprice", "l_returnflag",
    SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY), group_by="l_linestatus",
)


_table_query(
    "dedup_image_ahash_clusters", _mm.image_ahash_clusters, _mm.image_ahash_clusters_sql()
)
_table_query(
    "dedup_audio_fingerprint_clusters",
    _mm.audio_fingerprint_clusters,
    _mm.audio_fingerprint_clusters_sql(),
)


_twin_query(
    "approx_sum_regaux", _regression.regaux_sum_ci, _regression.regaux_sum_ci_sql,
    "lineitem", "l_extendedprice * (1 - l_discount)", "l_extendedprice",
    SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY),
)


# Revenue per returnflag, a separate slope per group against each
# group's exact auxiliary total; reachable from SQL as
# ``APPROX(SUM(x)) ... GROUP BY g`` with method='regaux' + aux_column=.
_twin_query(
    "approx_grouped_sum_regaux", _regression.regaux_sum_ci, _regression.regaux_sum_ci_sql,
    "lineitem", "l_extendedprice * (1 - l_discount)", "l_extendedprice",
    SamplingSpec(design="uniform_hash", fraction=0.10, key=_LKEY), group_by="l_returnflag",
)


_table_query(
    "profile_embedding_drift",
    _prof.embedding_drift_by_label,
    _prof.embedding_drift_by_label_sql(),
    table="embeddings",
)
# Integer sums are order-free, so the drained state shares the batch oracle.
_register(
    "streaming_embedding_drift",
    _pipeline.embedding_drift_stream,
    ORACLE["profile_embedding_drift"],
)
_table_query(
    "curation_mixture_temperature", _cur.mixture_temperature, _cur.mixture_temperature_sql()
)


# SCD2 interval build (gaps-and-islands): collapse each customer's
# consecutive runs of equal order priority into validity intervals —
# the slowly-changing-dimension type-2 history shape (valid_from /
# valid_to / is-current). Island ids come from the lag-flag + running
# sum formulation rather than the two-row_number difference: every
# window partitions on the SAME key with the SAME order, so the whole
# interval build is ONE hash shuffle + one sort however large the fact
# table (the row_number variant needs a second (custkey, priority)
# window). The key stays UNALIASED (o_custkey) until the final
# readout — renaming it inside a CTE breaks Catalyst's partitioning
# propagation and re-inserts two full-table exchanges (measured: 4
# exchanges aliased vs 2 unaliased at any SF). Currency falls out for
# free: the running-sum island id is monotone along the sequence, so
# the current interval is simply island = max(island) per customer —
# position-exact (a (valid_to, max-orderkey) tie-break mislabels runs
# spanning days with non-monotone order keys). Certified readout is
# the bounded per-priority roll-up of the interval table.
_SCD2_SQL = """
WITH flags AS (
  SELECT o_custkey, o_orderpriority,
         CAST(o_orderdate AS DATE) AS day, o_orderkey,
         CASE WHEN lag(o_orderpriority) OVER (
                PARTITION BY o_custkey
                ORDER BY CAST(o_orderdate AS DATE), o_orderkey)
              IS NOT DISTINCT FROM o_orderpriority THEN 0 ELSE 1 END AS flip
  FROM orders),
seq AS (
  SELECT o_custkey, o_orderpriority, day,
         sum(flip) OVER (
           PARTITION BY o_custkey ORDER BY day, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flags),
runs AS (
  SELECT o_custkey, o_orderpriority, island,
         CAST(count(*) AS BIGINT) AS run_len,
         min(day) AS valid_from, max(day) AS valid_to
  FROM seq GROUP BY o_custkey, o_orderpriority, island),
flagged AS (
  SELECT *, max(island) OVER (PARTITION BY o_custkey) AS last_island
  FROM runs)
SELECT o_orderpriority AS priority,
       CAST(count(*) AS BIGINT) AS n_intervals,
       CAST(sum(run_len) AS BIGINT) AS n_orders,
       CAST(max(run_len) AS BIGINT) AS max_run_len,
       CAST(sum(CASE WHEN island = last_island THEN 1 ELSE 0 END) AS BIGINT)
           AS n_current,
       min(valid_from) AS first_seen,
       max(valid_to) AS last_seen
FROM flagged GROUP BY o_orderpriority ORDER BY priority
"""

_sql_query("scd2_priority_intervals", _SCD2_SQL)


# ---------------------------------------------------------------------------
# Derived partsupp — the last five TPC-H adaptations (q2/q9/q11/q16/q20).
#
# The driver fixtures ship no partsupp table, so it is SYNTHESIZED with
# pure key arithmetic that both engines evaluate identically (VERDICT r6
# #4): the dbgen supplier-assignment formula (4 suppliers per part,
# ``(p_partkey + i·(S/4 + (p_partkey-1)/S)) mod S + 1``) UNION the
# (l_partkey, l_suppkey) pairs actually observed in lineitem — the
# fixture's lineitem picks suppliers uniformly rather than from dbgen's
# 4-per-part set, and q9/q20 join lineitem⋈partsupp on the pair, so the
# observed pairs must be covered for those joins to be total (as they
# are in real TPC-H). ps_availqty / ps_supplycost are deterministic
# residues of (partkey, suppkey); the cents column keeps q11's HAVING
# threshold comparison on exact integers (no float-boundary flips).
#
# The CTE is prepended to each query: ONE text, parsed by both engines,
# so the derivation cannot drift. At production scale partsupp is a real
# table and the CTE disappears; its cost here is one distinct-pair
# aggregate over lineitem per query — fixture synthesis, not operator
# work. Division is spelled floor(a / CAST(b AS DOUBLE)) (exact for
# keys < 2^53) because Spark lacks DuckDB's // and DuckDB lacks DIV.
# ---------------------------------------------------------------------------

_PARTSUPP_CTE = """WITH s_cnt AS (SELECT count(*) AS s_n FROM supplier),
gen AS (
  SELECT p_partkey,
         ((p_partkey + i * (CAST(floor(s_n / 4.0) AS BIGINT)
             + CAST(floor((p_partkey - 1) / CAST(s_n AS DOUBLE)) AS BIGINT)))
           % s_n) + 1 AS ps_suppkey
  FROM part CROSS JOIN s_cnt
  CROSS JOIN (SELECT 0 AS i UNION ALL SELECT 1
              UNION ALL SELECT 2 UNION ALL SELECT 3) gs
),
observed AS (SELECT DISTINCT l_partkey AS p_partkey,
                    l_suppkey AS ps_suppkey FROM lineitem),
pskeys AS (SELECT p_partkey, ps_suppkey FROM gen
           UNION SELECT p_partkey, ps_suppkey FROM observed),
partsupp AS (
  SELECT p_partkey AS ps_partkey, ps_suppkey,
         CAST((p_partkey * 7 + ps_suppkey * 131) % 9999 + 1 AS INT)
             AS ps_availqty,
         CAST((p_partkey * 31 + ps_suppkey * 17) % 99900 + 100 AS BIGINT)
             AS ps_supplycost_cents,
         CAST(CAST((p_partkey * 31 + ps_suppkey * 17) % 99900 + 100
             AS BIGINT) AS DOUBLE) / 100.0 AS ps_supplycost
  FROM pskeys
)
"""

# TPC-H Q2-style minimum-cost supplier: correlated MIN subquery per part
# over the region's suppliers. At scale: part/supplier/nation/region all
# broadcast; the correlated min rewrites to an aggregate + self-join on
# ps_partkey (Catalyst's RewriteCorrelatedScalarSubquery), so the only
# shuffle is partsupp's own group-by. Adapted to fixture columns:
# p_type = 'ECONOMY' stands in for TPC-H's '%BRASS' type suffix.
_sql_query(
    "tpch_q2_min_cost_supplier",
    _PARTSUPP_CTE + """
SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name, p_partkey,
       round(ps_supplycost, 2) AS ps_supplycost
FROM partsupp JOIN part ON p_partkey = ps_partkey
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE p_size = 15 AND p_type = 'ECONOMY' AND r_name = 'EUROPE'
AND ps_supplycost = (
  SELECT min(ps2.ps_supplycost) FROM partsupp ps2
  JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
  JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
  JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
  WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100
""",
)

# TPC-H Q9-style product-type profit: the 6-way join with the
# two-column lineitem⋈partsupp pair join. At scale: part/supplier/
# nation/partsupp-side broadcast or shuffle on the pair key; profit
# amounts aggregate per (nation, year) — 25×|years| groups.
_sql_query(
    "tpch_q9_product_type_profit",
    _PARTSUPP_CTE + """
SELECT n_name, o_year, round(sum(amount), 2) AS sum_profit FROM (
  SELECT n_name, year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) - ps_supplycost * l_quantity
             AS amount
  FROM lineitem JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN partsupp ON ps_partkey = l_partkey AND ps_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%') profit
GROUP BY n_name, o_year ORDER BY n_name, o_year
""",
)

# TPC-H Q11-style important stock: grouped value vs a scalar share of
# the national total. TPC-H's fixed fraction must scale by 1/SF (more
# parts → smaller shares), so the adapted threshold is RELATIVE —
# parts worth > 3× the national average — and holds at every SF. The
# comparison runs on EXACT integers (v·n_groups > 3·total cents),
# never on a rounded float — a part sitting on the threshold cannot
# flip between engines.
_sql_query(
    "tpch_q11_important_stock",
    _PARTSUPP_CTE + """
, nat AS (
  SELECT ps_partkey, sum(ps_supplycost_cents * ps_availqty) AS v
  FROM partsupp JOIN supplier ON ps_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7' GROUP BY ps_partkey)
SELECT ps_partkey, round(CAST(v AS DOUBLE) / 100.0, 2) AS stock_value
FROM nat
WHERE v * (SELECT count(*) FROM nat) > 3 * (SELECT sum(v) FROM nat)
ORDER BY stock_value DESC, ps_partkey
""",
)

# TPC-H Q16-style parts/supplier relationship: distinct-supplier counts
# per (brand, type, size) with a NOT IN supplier exclusion (negative
# acctbal stands in for TPC-H's '%Complaints%' comment filter — the
# fixture has no s_comment). s_suppkey is non-null so NOT IN is safe.
_sql_query(
    "tpch_q16_parts_supplier_relationship",
    _PARTSUPP_CTE + """
SELECT p_brand, p_type, p_size, count(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#17' AND p_type <> 'PROMO'
AND p_size IN (1, 5, 11, 15, 23, 29, 36, 42, 49, 50)
AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size LIMIT 20
""",
)

# TPC-H Q20-style potential part promotion: suppliers whose available
# stock of 'small%' parts dwarfs what they actually shipped in 1997.
# Adapted from the per-pair ps_availqty > 0.5·shipped predicate to
# supplier-level totals (HAVING Σavailqty > 1500·Σshipped): the
# fixture's demand per (part, supplier) pair is so thin that the
# per-pair form qualifies every supplier — the totals form preserves
# the stock-vs-demand semantics AND discriminates (39 of 100 suppliers
# at sf0.01). The ratio is SF-stable: both sides scale with |parts|.
#
# Replica-aware cutoff (round 9, VERDICT r8 #7 — formerly an env knob):
# the synthetic replica corpora (tools/make_sf1.py) multiply per-pair
# shipped quantity by the replica count while the DERIVED availqty
# stays key-deterministic, so a fixed 1500× cutoff empties at sf1/sf10
# and the scaling row carried no signal. make_sf1.py now records its
# replica count in <corpus>/fixture_meta.json and the Spark-side text
# is rendered per sf_dir from THAT file; the driver fixtures carry no
# metadata → replicas=1 → the certified 1500 text, byte-identical to
# the static oracle. Registry text no longer depends on process
# environment.


def _q20_text(cutoff: int) -> str:
    return _PARTSUPP_CTE + f"""
SELECT s_name, n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT ps_suppkey FROM partsupp
  JOIN part ON p_partkey = ps_partkey
  LEFT JOIN (
    SELECT l_partkey, l_suppkey, sum(l_quantity) AS shipped
    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_partkey, l_suppkey) sh
  ON sh.l_partkey = ps_partkey AND sh.l_suppkey = ps_suppkey
  WHERE p_name LIKE 'small%'
  GROUP BY ps_suppkey
  HAVING sum(ps_availqty) > {cutoff} * sum(coalesce(shipped, 0)))
ORDER BY s_name
"""


def _fixture_replicas(sf_dir: str) -> int:
    """Replica count of a synthetic scaling corpus (fixture_meta.json,
    written by tools/make_sf1.py); 1 for the driver fixtures."""
    try:
        with open(os.path.join(sf_dir, "fixture_meta.json")) as f:
            return max(int(json.load(f).get("replicas", 1)), 1)
    except (OSError, ValueError):
        return 1


def _q20_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    _catalog(spark, sf_dir)
    return spark.sql(_q20_text(max(1500 // _fixture_replicas(sf_dir), 1)))


_register("tpch_q20_potential_part_promotion", _q20_fn, _q20_text(1500))


# ---------------------------------------------------------------------------
# Certification ordering. The driver's correctness gate consumes the
# FIRST 50 entries of queries() in insertion order; round 1 registered
# the LLM-pipeline / streaming / advanced-estimator queries at positions
# 51-85, so none of them received a hard correctness signal. Re-emit the
# registry with a curated front block: one certified representative per
# operator family (reference core, TPC-H relational, every sampler
# design, every estimator, dedup/ANN/text/multimodal/temporal/streaming)
# ahead of the low-information variants (same code path, different
# constant — e.g. approx_avg_uniform10 vs approx_sum_uniform10). All
# entries stay registered; pytest + tools/check_entry.py still verify
# the full set.
# ---------------------------------------------------------------------------

_CERTIFY_FIRST = [
    # Round-8 cut (policy in COVERAGE.md "Certification tiers"): the
    # union r1..r7 covers all 239 previously-registered oracle-backed
    # entries, so this round's 50-row window = 15 standing anchors +
    # the 4 entries REGISTERED this round (certify in-round, debt never
    # regrows) + approx_sql_join_revenue (its rewritten text changed
    # this round: n_samples is now COUNT(1)-based — the fresh row
    # certifies the new text) + 30 stale-refresh fills: every entry
    # whose latest driver row is still round 1 (19 entries — they fell
    # off the r7 window's tail) and the 11 oldest round-2 rows.
    # --- standing anchors (every round) ---
    "exact_sum",
    "exact_groupby_sum",
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "approx_sum_uniform10",
    "approx_groupby_sum_ci20",
    "approx_sum_systematic15",
    "approx_sum_stratified",
    "approx_sum_neyman",
    "adaptive_clt_sum",
    "adaptive_grouped_sum",
    "approx_q1_block_uniform10",
    "approx_sum_bootstrap32",
    "dedup_minhash_lsh_pairs",
    "text_quality_by_lang",
    # --- registered THIS round (certify in the same round) ---
    "approx_sql_poststrat_grouped",
    "approx_sql_regaux_revenue",
    "approx_sql_ratio_by_flag",
    "approx_grouped_sum_twostage",
    "approx_sql_median_price",
    "approx_sql_p90_by_flag",
    "approx_sql_distinct_parts",
    "streaming_poststrat_estimate",
    # --- text changed this round (COUNT(1) n_samples) ---
    "approx_sql_join_revenue",
    # --- stale refresh: latest row is round 1 ---
    "semi_anti_join_parts",
    "resample_hourly_locf",
    "exact_minmax",
    "exact_where_groupby_avg",
    "join_top_suppliers",
    "exact_count_distinct",
    "orderby_limit_topk",
    "setops_customer_cohorts",
    "grouping_sets_revenue",
    "json_props_stats",
    "timeseries_twa_by_type",
    "approx_avg_uniform10",
    "approx_count_uniform10",
    "approx_sum_where_uniform20",
    "approx_q6_revenue_uniform10",
    "approx_events_avg_by_type",
    "approx_orders_count_systematic",
    "approx_where_groupby_sum20",
    "text_fingerprint_summary",
    # --- stale refresh: oldest round-2 rows ---
    "exact_avg",
    "exact_count",
    "exact_sum_where",
    "join_revenue_by_nation",
    "window_topk_parts_per_brand",
    "sessionize_events",
    "approx_median_ci",
]


def _finalize_order() -> None:
    missing = [n for n in _CERTIFY_FIRST if n not in QUERIES]
    if missing:
        raise ValueError(f"_CERTIFY_FIRST names no registered entry: {missing}")
    front = list(_CERTIFY_FIRST)
    rest = [n for n in QUERIES if n not in _CERTIFY_FIRST]
    ordered = {n: QUERIES[n] for n in [*front, *rest]}
    QUERIES.clear()
    QUERIES.update(ordered)


_finalize_order()
