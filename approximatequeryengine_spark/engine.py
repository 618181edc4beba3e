"""AQEngine — the user-facing facade.

Query lifecycle: :meth:`AQEngine.run` and :meth:`AQEngine.explain_auto`
walk one ordered route table, ``_ROUTES`` (end of this module). Each
route has a matcher, an executor and an explainer (what
``method='auto'`` would pick, without running the query); the first
route whose matcher accepts the query answers it:

    dialect QuerySpec (frontend/dialect.py):
        quantile · STDDEV · CORR · COUNT(DISTINCT) · exact ·
        sampled ──sampling planner──► estimator (``_ESTIMATORS``)
                   (plans/sampling.py)  [adaptive escalation loop]
    WITHIN e PERCENT marker ──► adaptive CLT escalation (plans/adaptive.py)
    global / grouped quantile marker ──► partition-parallel rank selection
    other APPROX + TABLESAMPLE marker ──► portable rewritten SQL
                                          (frontend/approx_sql.py)
    anything else ──► spark.sql, exact

The matchers share one ``_Query``, which parses each syntax at most once
and only when a matcher asks for it. An APPROX query no route accepts
raises the grammar error, built from each route's one-line grammar;
``compare=True`` runs the route's exact twin through one ``_compare``.

Everything relational stays declarative: Catalyst handles predicate
pushdown, column pruning, and partial aggregation; our code runs only
*before* (dialect → sampling spec) and *after* (CI post-processing,
escalation) the optimizer.

Routing implements the *documented* reference semantics (README.md:209-218;
fixes quirk Q1 where ``--sample``/``--error`` could never reach their
handlers): sample% → fixed-fraction sampling; error% → adaptive CLT;
``method=`` overrides; ``APPROX()`` with neither → auto-selected method
(F3 heuristics).
"""

from __future__ import annotations

import re
import tempfile
import time
from dataclasses import dataclass
from decimal import Decimal
from functools import cached_property
from statistics import NormalDist
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from approximatequeryengine_spark.catalog import TABLES, Catalog
from approximatequeryengine_spark.frontend.approx_sql import (
    exact_twin_sql,
    parse_global_quantile_marker,
    parse_grouped_quantile_marker,
    parse_within_marker,
    rewrite_approx_sql,
)
from approximatequeryengine_spark.frontend.dialect import (
    METHODS,
    QuerySpec,
    parse_query,
    rewrite_approx,
    select_method,
)
from approximatequeryengine_spark.plans.adaptive import (
    adaptive_aggregate,
    error_ladder,
)
from approximatequeryengine_spark.plans.advisor import (
    QUANTILE_SAMPLE_FRACTION,
    advise_method_evidence,
    advise_quantile_evidence,
)
from approximatequeryengine_spark.plans.bootstrap import blb_sum_ci, bootstrap_sum_ci
from approximatequeryengine_spark.plans.ddsketch import ddsketch_quantiles
from approximatequeryengine_spark.plans.distinct import chao1_sql, kmv_distinct_ci
from approximatequeryengine_spark.plans.estimators import (
    Z_95,
    AggSpec,
    approx_aggregate,
)
from approximatequeryengine_spark.plans.hll import HLL_M, _estimate, hll_registers
from approximatequeryengine_spark.plans.outlier import outlier_sum_ci
from approximatequeryengine_spark.plans.poststrat import poststrat_sum_ci
from approximatequeryengine_spark.plans.pps import pps_sum_ci
from approximatequeryengine_spark.plans.priority import priority_sample_subset_sum
from approximatequeryengine_spark.plans.quantiles import (
    approx_quantile_ci,
    grouped_order_stat_ci,
    order_stat_marker_ci,
)
from approximatequeryengine_spark.plans.regression import regaux_sum_ci
from approximatequeryengine_spark.plans.sampling import (
    SamplingSpec,
    apply_sampling,
    sql_double,
)
from approximatequeryengine_spark.plans.twostage import TS_F1, TS_F2, twostage_sum_ci
from approximatequeryengine_spark.plans.variance import approx_corr_ci, approx_stddev_ci
from approximatequeryengine_spark.result import (
    ApproximationStatus,
    ApproxResult,
    heuristic_confidence,
)


def _cents_sql(value_sql: str) -> str:
    """A dollar expression gridded to integer cents, as Spark SQL."""
    return (
        f"CAST(floor(({value_sql}) * {sql_double(100.0)} + {sql_double(0.5)}) AS BIGINT)"
    )


@dataclass(frozen=True)
class _Registration:
    """One registered index: its kind and the handle its build returned
    (O(blocks) metadata the probes consult on the driver). The value,
    key and row-key expressions were applied at build time."""

    kind: str
    handle: object


class AQEngine:
    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.catalog = Catalog(spark, sf_dir)
        # (probe family 'range' | 'point' | 'zorder', table) → registration
        self._indexes: dict[tuple[str, str], _Registration] = {}

    # -- building blocks ---------------------------------------------------

    def _base_df(self, spec: QuerySpec) -> DataFrame:
        df = self.catalog.table(spec.table)
        if spec.where:
            df = df.filter(F.expr(spec.where))
        return df

    def _sampling_spec(self, spec: QuerySpec, design: str, fraction: float) -> SamplingSpec:
        return SamplingSpec(
            design=design,
            fraction=fraction,
            key=self.catalog.unique_key(spec.table),
        )

    # -- public API --------------------------------------------------------

    def advise(self, table: str, column: str) -> DataFrame:
        """Profile ``column`` (cv², top-B mass share, predicted CI at a
        10% sample) and recommend an APPROX method from the measured
        distribution — the data-driven upgrade of the reference's
        row-count-only auto-selection (plans/advisor.py). Returns the
        one-row profile; pass ``recommended_method`` back into
        :meth:`run`'s ``method=``."""
        from approximatequeryengine_spark.plans.advisor import advise_method

        return advise_method(
            self.catalog.table(table),
            F.floor(F.col(column) * 100.0 + 0.5).cast("long"),
        )

    def build_range_index(
        self,
        table: str,
        key_sql: str,
        value_sql: str,
        kind: str = "aqpplus",
        n_blocks: int = 64,
        path: str | None = None,
    ) -> str:
        """Build and register a persisted range index over
        ``table`` — the physical-design step that unlocks
        :meth:`range_sum`. Two kinds:

        - ``'aqpplus'`` (default): O(blocks) exact block aggregates —
          range sums answer with exact interiors + a sampled-boundary
          CI (`plans/aqpplus.py`);
        - ``'sampleseek'``: the zone-partitioned layout — range sums
          route seek-or-sample by estimated selectivity
          (`plans/sampleseek.py`).

        ``key_sql`` must be integer-valued SQL (dates via
        ``datediff(...)``); ``value_sql`` is a dollar column (gridded
        to cents internally). Returns the index path; the registration
        — including the index's O(blocks) handle — lives on this engine
        instance, and a rebuild replaces it."""
        if kind not in ("aqpplus", "sampleseek"):
            raise ValueError(
                f"unknown range-index kind {kind!r}; use 'aqpplus' or 'sampleseek'"
            )
        df = self.catalog.table(table)
        path = path or tempfile.mkdtemp(prefix=f"aqe_rangeidx_{table}_")
        if kind == "aqpplus":
            from approximatequeryengine_spark.plans.aqpplus import aqpplus_build

            handle = aqpplus_build(
                self.spark,
                df,
                path,
                key_sql,
                _cents_sql(value_sql),
                row_key=self.catalog.unique_key(table),
                n_blocks=n_blocks,
            )
        else:
            from approximatequeryengine_spark.sources.zonemap import zonemap_write

            uk = self.catalog.unique_key(table)
            handle = zonemap_write(
                self.spark,
                df.select(
                    F.expr(uk).cast("long").alias("__rk"),
                    F.expr(_cents_sql(value_sql)).alias("__cents"),
                    F.expr(key_sql).cast("long").alias("__keysrc"),
                ),
                path,
                key=F.col("__keysrc"),
                n_zones=n_blocks,
            )
        self._indexes[("range", table)] = _Registration(kind, handle)
        return path

    def _registration(self, probe: str, table: str, build: str) -> _Registration:
        reg = self._indexes.get((probe, table))
        if reg is None:
            raise ValueError(
                f"no {probe} index registered for {table!r}; call {build} first"
            )
        return reg

    def range_sum(
        self,
        table: str,
        lo: int,
        hi: int,
        fraction: float = 0.1,
        seek_threshold: float = 0.05,
    ) -> DataFrame:
        """Answer ``SUM(value) WHERE lo <= key <= hi`` through the
        registered range index (see :meth:`build_range_index`):
        'aqpplus' → exact interior + sampled-boundary CI; 'sampleseek'
        → selectivity-routed exact-or-sampled answer. The index
        metadata comes from the registration; an aqpplus probe of a
        local index runs no Spark job."""
        reg = self._registration(
            "range", table, "build_range_index(table, key_sql, value_sql)"
        )
        if reg.kind == "aqpplus":
            from approximatequeryengine_spark.plans.aqpplus import aqpplus_range_sum

            return aqpplus_range_sum(self.spark, reg.handle, lo, hi, fraction=fraction)
        from approximatequeryengine_spark.plans.sampleseek import (
            sample_seek_range_sum,
        )

        return sample_seek_range_sum(
            self.spark,
            reg.handle,
            lo,
            hi,
            fraction=fraction,
            seek_threshold=seek_threshold,
        )

    def build_point_index(
        self,
        table: str,
        lookup_sql: str,
        value_sql: str,
        block_width: int = 256,
        path: str | None = None,
    ) -> str:
        """Build and register a block bloom-filter skip index
        (`sources/blockbloom.py`) for EQUALITY lookups on an
        unclustered integer column — unlocks :meth:`point_sum`.
        Blocks are fixed-width ranges of the table's unique key
        (ingest order); returns the index path."""
        from approximatequeryengine_spark.sources.blockbloom import blockbloom_write

        path = path or tempfile.mkdtemp(prefix=f"aqe_pointidx_{table}_")
        handle = blockbloom_write(
            self.spark,
            self.catalog.table(table),
            path,
            ingest_key=F.expr(self.catalog.unique_key(table)).cast("long"),
            lookup_key=F.expr(lookup_sql).cast("long"),
            value_cents=_cents_sql(value_sql),
            block_width=block_width,
        )
        self._indexes[("point", table)] = _Registration("blockbloom", handle)
        return path

    def point_sum(self, table: str, key: int) -> DataFrame:
        """Exact ``SUM(value) WHERE lookup = key`` through the
        registered bloom skip index: a consult of ≤ k bloom words per
        block, then a read of the surviving block directories — both
        on the driver for a local index, with no Spark job."""
        reg = self._registration(
            "point", table, "build_point_index(table, lookup_sql, value_sql)"
        )
        from approximatequeryengine_spark.sources.blockbloom import (
            blockbloom_point_sum,
        )

        return blockbloom_point_sum(self.spark, reg.handle, key)

    def build_zorder_index(
        self,
        table: str,
        x_sql: str,
        y_sql: str,
        value_sql: str,
        n_blocks: int = 64,
        path: str | None = None,
    ) -> str:
        """Build and register a Z-order (Morton) clustered layout
        (`sources/zorder.py`) over two integer-valued columns —
        unlocks :meth:`rect_sum` for 2-D rectangle predicates."""
        from approximatequeryengine_spark.sources.zorder import zorder_write

        path = path or tempfile.mkdtemp(prefix=f"aqe_zorderidx_{table}_")
        handle = zorder_write(
            self.spark,
            self.catalog.table(table),
            path,
            x=F.expr(x_sql).cast("long"),
            y=F.expr(y_sql).cast("long"),
            rowid=F.expr(self.catalog.unique_key(table)).cast("long"),
            value_cents=_cents_sql(value_sql),
            n_blocks=n_blocks,
        )
        self._indexes[("zorder", table)] = _Registration("zorder", handle)
        return path

    def rect_sum(
        self, table: str, x_lo: int, x_hi: int, y_lo: int, y_hi: int
    ) -> DataFrame:
        """Exact rectangle aggregate through the registered Z-order
        layout: a driver-side blockmap consult, then a read of the
        overlapping block directories — on the driver for a local
        layout, with no Spark job."""
        reg = self._registration(
            "zorder", table, "build_zorder_index(table, x_sql, y_sql, value_sql)"
        )
        from approximatequeryengine_spark.sources.zorder import zorder_rect_sum

        return zorder_rect_sum(self.spark, reg.handle, x_lo, x_hi, y_lo, y_hi)

    def _advise_auto(
        self, spec: QuerySpec, z: float
    ) -> tuple[str, dict | None, tuple | None]:
        """Resolve ``method='auto'`` for a dialect query: the
        measured-moment advisor (plans/advisor.py — cv², top-B mass
        share → outlier/pps/revolutionary/clt) for a global SUM over a
        column; the bakeoff-calibrated quantile advisor (exact / sampled
        order statistic / ddsketch) for a global MEDIAN/PERCENTILE; the
        reference's static F3 ladder (``select_method``) for every other
        shape. Returns ``(method, evidence or None, reuse)``: the
        evidence surfaces in ``ApproxResult.groups['__advisor__']`` and
        the CLI's ``--explain``; ``reuse`` is the quantile advisor's
        ``(spec, frame, row)`` — its evidence pass IS the 10%
        order-statistic job, so :meth:`_run_quantile` reuses it rather
        than run the same sampled job twice."""
        if spec.column and not spec.group_by:
            if spec.agg == "SUM":
                ev = advise_method_evidence(
                    self._base_df(spec),
                    F.floor(F.expr(spec.column) * 100.0 + 0.5),
                )
                return ev["recommended_method"], ev, None
            if spec.agg in ("MEDIAN", "PERCENTILE"):
                s_spec = self._sampling_spec(
                    spec, "uniform_hash", QUANTILE_SAMPLE_FRACTION
                )
                ev, rdf, row = advise_quantile_evidence(
                    self._base_df(spec),
                    spec.column,
                    spec.q if spec.q is not None else 0.5,
                    s_spec,
                    z=z,
                )
                return ev["recommended_method"], ev, (s_spec, rdf, row)
        total = self.catalog.table(spec.table).count()
        return select_method(spec.agg, total, spec.group_by is not None), None, None

    def _route(self, q: _Query) -> _Route:
        for route in _ROUTES:
            if route.match(q):
                return route
        raise _grammar_error(q.sql)

    def explain_auto(self, sql: str) -> dict:
        """What ``method='auto'`` would pick for ``sql`` and why,
        WITHOUT executing the query — the CLI ``--explain`` surface. It
        walks the same route table as :meth:`run`, so it names the
        method ``run(sql, method='auto')`` executes. Returns
        ``{'method', 'source' ('advisor'|'static'|'rewriter'),
        'evidence' (dict or None)}``."""
        q = _Query(self, sql, method="auto")
        route = self._route(q)
        if route.explain is None:
            raise _grammar_error(sql)
        return route.explain(self, q)

    def run(
        self,
        sql: str,
        sample_pct: float | None = None,
        error_pct: float | None = None,
        method: str | None = None,
        compare: bool = False,
        confidence: float = 0.95,
        stratum_col: str | None = None,
        aux_column: str | None = None,
    ) -> ApproxResult:
        """Answer ``sql`` through the first route of ``_ROUTES`` that
        accepts it (module docstring). ``sample_pct``, ``error_pct``,
        ``method``, ``stratum_col`` and ``aux_column`` steer the
        dialect routes; ``compare=True`` also runs the route's exact
        twin and reports the actual error and speedup."""
        t0 = time.time()
        if not 0.5 <= confidence < 1.0:
            raise ValueError(
                f"confidence must be in [0.5, 1), got {confidence}"
            )
        # Two-sided normal quantile for the requested level (z=1.96 at
        # the reference's default 0.95); stdlib, no scipy. The default
        # level pins to the estimators' Z_95 CONSTANT: inv_cdf(0.975)
        # differs from it in the last ulp, and every oracle text is
        # rendered with Z_95 — one ulp of z is enough to flip a rounded
        # CI bound across engines.
        z = (
            Z_95
            if confidence == 0.95
            else NormalDist().inv_cdf((1.0 + confidence) / 2.0)
        )
        q = _Query(
            self, sql, z, t0, sample_pct, error_pct, method, confidence,
            stratum_col, aux_column,
        )
        route = self._route(q)
        res = route.execute(self, q)
        twin = route.twin(self, q, res) if compare and route.twin else None
        if twin is not None:
            self._compare(res, *twin)
        return res

    # -- routes: markers and passthrough ----------------------------------

    def _run_within_marker(self, q: _Query) -> ApproxResult:
        """Execute the ``WITHIN e PERCENT`` error-budget marker
        (frontend/approx_sql.py::parse_within_marker): route to the
        adaptive CLT escalation loop — the reference's early-stop
        semantics (``custom_bplus_db.cpp:885-1043``) from plain SQL.
        The fraction doubles until the realized CI half-width meets the
        budget: of the one global row, or of the worst group when the
        query is grouped — one loop, ``adaptive_aggregate``, either way.
        The terminal rung is a pure function of the data — certifiable
        by a rung-re-deriving oracle. Output
        columns: [group,] <alias>, ci_lower, ci_upper, n_samples — the
        approx_aggregate frame with the user's alias."""
        (table, aggf, expr, alias, where, group, start_pct, error_pct,
         join_txt, order_by_groups, cte) = q.within
        if join_txt or cte:
            # Star-join / leading-CTE shape (round 9): the adaptive
            # loop samples by the FACT key, so each rung's hash
            # predicate references only fact columns and Catalyst
            # pushes it through the (broadcast) dim joins into the
            # fact scan — identical to sampling-then-joining for the
            # key-preserving shapes the marker accepts.
            self.catalog.ensure_views()
            prefix = f"WITH {cte} " if cte else ""
            joins = f" {join_txt}" if join_txt else ""
            base = self.spark.sql(f"{prefix}SELECT * FROM {table}{joins}")
        else:
            base = self.catalog.table(table)
        if where:
            base = base.where(F.expr(where))
        agg = AggSpec(
            aggf.lower(), None if expr.strip() == "*" else expr, alias=alias
        )
        s_spec = SamplingSpec(
            design="uniform_hash",
            fraction=(start_pct / 100.0) if start_pct else 0.0,
            key=self.catalog.unique_key(table),
        )
        res = adaptive_aggregate(
            base, agg, s_spec, group_by=group, error_pct=error_pct, z=q.z
        )
        if order_by_groups:
            res.df = res.df.orderBy(*group)
        res.method = "adaptive_sql"
        res.computation_time = time.time() - q.t0
        return res

    def _run_marker(self, q: _Query, build: Callable[[], DataFrame]) -> ApproxResult:
        """An APPROX + TABLESAMPLE marker query answered by ``build``."""
        self.catalog.ensure_views()
        return ApproxResult(
            df=build(),
            method="sql_rewrite",
            status=ApproximationStatus.STABLE,
            computation_time=time.time() - q.t0,
        )

    def _run_quantile_marker(self, q: _Query) -> ApproxResult:
        """GLOBAL order-statistic markers execute through the
        partition-parallel rank selection — the rewritten window text
        would sort the whole sample through one task (it remains the
        DuckDB oracle; identical values by construction)."""
        table, expr, qq, alias, where, spec = q.global_quantile
        return self._run_marker(q, lambda: order_stat_marker_ci(
            self.catalog.table(table), expr, qq, alias, spec, where=where, z=q.z
        ))

    def _run_grouped_quantile_marker(self, q: _Query) -> ApproxResult:
        """GROUPED order-statistic markers (round 9) execute through the
        grouped rank selection, partition-parallel in every pass: the
        window text's sort parallelism equals the group count — three
        groups means three tasks each sorting a third of the sample. The
        text stays the DuckDB oracle."""
        table, expr, qq, alias, where, group, spec, ordered = q.grouped_quantile
        return self._run_marker(q, lambda: grouped_order_stat_ci(
            self.catalog.table(table), expr, qq, alias, group, spec,
            where=where, z=q.z, order_by_group=ordered,
        ))

    def _run_spark_sql(self, q: _Query) -> ApproxResult:
        """The query text through plain Spark SQL, exact: the full Spark
        SQL surface, and the dialect shapes that have no estimator when
        no approximation was asked for. Temp views are session-global;
        another catalog (different sf_dir, same session) may have
        clobbered ours — re-assert."""
        self.catalog.ensure_views()
        return ApproxResult(
            df=self.spark.sql(q.sql),
            method="spark_sql",
            status=ApproximationStatus.EXACT,
            computation_time=time.time() - q.t0,
        )

    # -- compare=True ------------------------------------------------------

    def _marker_twin(self, q: _Query, res: ApproxResult):
        """A marker query's exact twin: the markers unwrapped."""
        twin = exact_twin_sql(q.sql)
        if twin is None:
            return None
        self.catalog.ensure_views()
        return self.spark.sql(twin), twin

    def _compare(
        self, res: ApproxResult, exact_df: DataFrame, exact_sql: str | None = None
    ) -> None:
        """F6 exact-vs-approx comparison, one copy for every route: run
        the exact twin and report ``__speedup__``; for a one-row answer
        also ``__exact__`` / ``__actual_error_pct__`` (its first numeric
        column shared with the twin) and ``__actual_error_pct_by_col__``.
        The TABLESAMPLE marker routes hand back a lazy frame with no
        scalar ``value``: it runs here first, so its time covers the
        work, and its row is read. A twin given as SQL is reported as
        ``__exact_sql__`` / ``__exact_df__``. Both results are aggregate
        outputs — the collects are bounded."""
        approx_rows = None
        if res.method == "sql_rewrite":
            t1 = time.time()
            approx_rows = res.df.collect()
            res.computation_time += time.time() - t1
        t1 = time.time()
        exact_rows = exact_df.collect()
        exact_time = time.time() - t1
        if exact_sql is not None:
            res.groups["__exact_sql__"] = exact_sql
            res.groups["__exact_df__"] = exact_df
        res.groups["__speedup__"] = (
            exact_time / res.computation_time if res.computation_time else float("inf")
        )
        if len(exact_rows) != 1:
            return
        e = exact_rows[0]
        # Every shared numeric column gets an error readout (Decimal
        # included — exact SUMs over decimal fixtures are Decimal-typed;
        # bool is an int subclass, not a metric).
        shared = [
            c for c in exact_df.columns
            if c in res.df.columns
            and isinstance(e[c], (int, float, Decimal))
            and not isinstance(e[c], bool)
        ]
        if approx_rows is None:
            a = {c: res.value for c in shared[:1]} if res.value is not None else None
        else:
            a = approx_rows[0].asDict() if len(approx_rows) == 1 else None
        if a is None:
            return
        per_col = {
            c: 100.0 * abs(float(a[c]) - float(e[c])) / abs(float(e[c]))
            for c in shared
            if c in a and e[c] and a[c] is not None
        }
        if per_col:
            res.groups["__actual_error_pct_by_col__"] = per_col
        if shared:
            res.groups["__exact__"] = float(e[shared[0]])
            if shared[0] in per_col:
                res.groups["__actual_error_pct__"] = per_col[shared[0]]

    # -- routes: the dialect -----------------------------------------------

    def _run_sampled(self, q: _Query) -> ApproxResult:
        """SUM/AVG/COUNT/MIN/MAX over a sample. The method: ``auto`` →
        :meth:`_advise_auto`; else an error budget → 'clt'; a sample % →
        'random' ('parallel' when grouped); neither → the F3 ladder. Its
        ``_ESTIMATORS`` entry then checks the query and runs."""
        spec, advisor = q.spec, None
        if q.method == "auto":
            q.method, advisor, _ = self._advise_auto(spec, q.z)
        elif q.method is None:
            if q.error_pct is not None:
                q.method = "clt"
            elif q.pct is not None:
                q.method = "parallel" if spec.group_by else "random"
            else:
                total = self.catalog.table(spec.table).count()
                q.method = select_method(spec.agg, total, spec.group_by is not None)
        est = _ESTIMATORS.get(q.method)
        if est is None:
            raise ValueError(f"unknown method {q.method!r}; one of {sorted(METHODS)}")
        est.check(q)
        fraction = (q.pct / 100.0) if q.pct else error_ladder(q.error_pct or 5.0)
        s_spec = self._sampling_spec(spec, METHODS[q.method]["design"], fraction)
        out = est.run(q, self._base_df(spec), s_spec)
        if isinstance(out, ApproxResult):
            res = out
            res.method = q.method
        else:
            for old, new in ((est.estimate, q.agg.name()), (est.n_samples, "n_samples")):
                if old:
                    out = out.withColumnRenamed(old, new)
            res = self._finalize(
                out, q, q.method, est.fraction or fraction, confidence=q.confidence
            )
        # Cap, never overwrite: the adaptive path's V4 validation
        # confidence (max(0, 1−cv)) and the small-sample heuristic
        # downgrade must survive — a DRIFTING result reporting the full
        # requested level would silently disable the V4/V5 semantics.
        res.confidence_level = min(q.confidence, res.confidence_level)
        if advisor is not None:
            res.groups["__advisor__"] = advisor
        return res

    def _sampled_twin(self, q: _Query, res: ApproxResult):
        """The sampled route's exact twin: the same aggregate unsampled
        (a global answer only)."""
        return (self._exact_df(q), None) if res.value is not None else None

    def _sample_spec(self, q: _Query, approx: bool = True) -> SamplingSpec:
        """The dialect's default sample for the non-SUM families: uniform
        hash at the query's percentage (10% when none is given), or the
        whole table when no approximation was asked for."""
        if not approx:
            return SamplingSpec(design="none", key=self.catalog.unique_key(q.spec.table))
        return self._sampling_spec(q.spec, "uniform_hash", (q.pct or 10.0) / 100.0)

    def _ci_result(
        self, q: _Query, rdf: DataFrame, row, value_col: str, method: str,
        s_spec: SamplingSpec, exact: bool = False,
    ) -> ApproxResult:
        """A one-row answer with a CI: value, bounds and sample count
        read from ``row``; confidence capped by the sample size."""
        res = ApproxResult(
            df=rdf,
            value=row[value_col],
            ci_lower=row["ci_lower"],
            ci_upper=row["ci_upper"],
            samples_used=int(row["n_samples"]),
            fraction=s_spec.realized_fraction(),
            method=method,
            status=ApproximationStatus.EXACT if exact else ApproximationStatus.STABLE,
            computation_time=time.time() - q.t0,
        )
        res.error_margin = (res.ci_upper - res.ci_lower) / 2.0
        res.confidence_level = min(q.confidence, heuristic_confidence(res.samples_used))
        return res

    def _grouped_result(
        self, q: _Query, rdf: DataFrame, method: str, s_spec: SamplingSpec,
        exact: bool = False,
    ) -> ApproxResult:
        """A grouped answer: its CI columns were computed for the
        requested level, so that level is reported."""
        return ApproxResult(
            df=rdf,
            method=method,
            fraction=s_spec.realized_fraction(),
            status=ApproximationStatus.EXACT if exact else ApproximationStatus.STABLE,
            computation_time=time.time() - q.t0,
            confidence_level=q.confidence,
        )

    def _run_quantile(self, q: _Query) -> ApproxResult:
        """MEDIAN / PERCENTILE(col, q): order-statistic point estimate
        with the binomial distribution-free CI (plans/quantiles.py).
        ``method='ddsketch'`` routes to the guaranteed-relative-error
        sketch instead (full scan, no sampling); ``method='auto'`` asks
        the quantile advisor. Exact mode = the same machinery over the
        full data (design 'none')."""
        spec, method, approx = q.spec, q.method, q.approx
        advisor = reuse = None
        if not spec.column:
            raise ValueError(f"{spec.agg} requires a column")
        quant = spec.q if spec.q is not None else 0.5
        if method == "auto" and not spec.group_by:
            method, advisor, reuse = self._advise_auto(spec, q.z)
            approx = method != "exact"
        if method == "ddsketch":
            res = self._run_ddsketch_quantile(q, quant)
        elif spec.group_by:
            res = self._run_grouped_quantile(q, quant, approx)
        else:
            if method == "quantile" and reuse and q.pct is None:
                # The advisor's evidence pass IS the 10% order-statistic
                # job at the default fraction: its result is the answer —
                # never the same sampled job twice.
                s_spec, rdf, row = reuse
            else:
                s_spec = self._sample_spec(q, approx)
                rdf = approx_quantile_ci(self._base_df(spec), spec.column, quant, s_spec, z=q.z)
                row = rdf.collect()[0]
            res = self._ci_result(
                q, rdf, row, f"{spec.column}_q", "quantile" if approx else "exact",
                s_spec, exact=not approx,
            )
        if advisor is not None:
            res.groups["__advisor__"] = advisor
        return res

    def _run_ddsketch_quantile(self, q: _Query, quant: float) -> ApproxResult:
        """PERCENTILE/MEDIAN via DDSketch (plans/ddsketch.py): one full
        scan, GUARANTEED |est − true|/true ≤ α — the reported interval
        is the deterministic α-bound [est/(1+α), est/(1−α)], so the
        confidence level is 1.0 by construction (positive values only,
        the sketch's domain)."""
        spec = q.spec
        if spec.group_by:
            raise ValueError(
                "method='ddsketch' supports a global PERCENTILE/MEDIAN "
                "only; grouped quantiles use the order-statistic path"
            )
        alpha = 0.01
        rdf = ddsketch_quantiles(self._base_df(spec), spec.column, alpha=alpha, qs=(quant,))
        rows = rdf.collect()
        if not rows:
            raise ValueError(
                "method='ddsketch' found no positive values for "
                f"{spec.column!r} (the sketch's domain is x > 0)"
            )
        row = rows[0]
        est = row["est_q"]
        res = ApproxResult(
            df=rdf,
            value=float(est),
            ci_lower=float(est) / (1.0 + alpha),
            ci_upper=float(est) / (1.0 - alpha),
            samples_used=int(row["n"]),
            fraction=1.0,
            method="ddsketch",
            status=ApproximationStatus.STABLE,
            computation_time=time.time() - q.t0,
        )
        res.error_margin = (res.ci_upper - res.ci_lower) / 2.0
        res.confidence_level = 1.0
        return res

    def _run_grouped_quantile(self, q: _Query, quant: float, approx: bool) -> ApproxResult:
        """Grouped MEDIAN/PERCENTILE: per-group order-statistic CI.
        The portable spelling stays plans/quantiles.py::
        grouped_quantile_ci_sql (the oracle); execution uses the
        grouped partition-parallel rank selection."""
        spec = q.spec
        s_spec = self._sample_spec(q, approx)
        self.catalog.ensure_views()
        # Execute via the grouped partition-parallel rank selection
        # (round 9) — the window text's per-group sort has parallelism
        # equal to the GROUP COUNT, a scale killer for few-group data.
        # The text (grouped_quantile_ci_sql) remains the portable
        # oracle spelling; values identical by construction, including
        # its NULLS FIRST window convention (nulls='first').
        rdf = grouped_order_stat_ci(
            self.catalog.table(spec.table),
            spec.column,
            quant,
            f"{spec.column}_q",
            spec.group_by,
            s_spec,
            where=spec.where,
            z=q.z,
            nulls="first",
            order_by_group=True,
        ).select(
            spec.group_by, "n_samples", f"{spec.column}_q",
            "ci_lower", "ci_upper",
        )
        return self._grouped_result(
            q, rdf, "quantile" if approx else "exact", s_spec, exact=not approx
        )

    def _run_stddev(self, q: _Query) -> ApproxResult:
        """STDDEV: sampled standard deviation with the fourth-moment
        CLT CI (plans/variance.py); exact mode = ``stddev_samp`` over
        the full data."""
        spec = q.spec
        if not spec.column:
            raise ValueError("STDDEV requires a column")
        if not q.approx:
            if spec.group_by:
                # Plain grouped STDDEV is ordinary Spark SQL — don't
                # regress the passthrough the grammar widening captured.
                return self._run_spark_sql(q)
            rdf = self._base_df(spec).agg(
                F.stddev_samp(F.col(spec.column).cast("double")).alias("stddev")
            )
            res = ApproxResult(df=rdf, method="exact", status=ApproximationStatus.EXACT)
            v = rdf.collect()[0]["stddev"]
            res.value = float(v) if v is not None else None  # n<2 → NULL
            res.computation_time = time.time() - q.t0
            return res
        s_spec = self._sample_spec(q)
        rdf = approx_stddev_ci(
            self._base_df(spec), spec.column, s_spec, z=q.z, group_by=spec.group_by
        )
        if spec.group_by:
            return self._grouped_result(q, rdf, "moment", s_spec)
        return self._ci_result(q, rdf, rdf.collect()[0], "stddev", "moment", s_spec)

    def _run_corr(self, q: _Query) -> ApproxResult:
        """CORR(x, y): sampled Pearson correlation with the Fisher-z
        interval (plans/variance.py); exact mode = ``corr`` over the
        full data."""
        spec = q.spec
        if not spec.column or not spec.column2:
            raise ValueError("CORR requires two columns: CORR(x, y)")
        if not q.approx:
            if spec.group_by:
                return self._run_spark_sql(q)
            rdf = self._base_df(spec).agg(
                F.corr(
                    F.col(spec.column).cast("double"),
                    F.col(spec.column2).cast("double"),
                ).alias("corr")
            )
            res = ApproxResult(df=rdf, method="exact", status=ApproximationStatus.EXACT)
            v = rdf.collect()[0]["corr"]
            res.value = float(v) if v is not None else None  # n<2 / constant arm
            res.computation_time = time.time() - q.t0
            return res
        s_spec = self._sample_spec(q)
        rdf = approx_corr_ci(
            self._base_df(spec), spec.column, spec.column2, s_spec, z=q.z,
            group_by=spec.group_by,
        )
        if spec.group_by:
            return self._grouped_result(q, rdf, "fisher_z", s_spec)
        return self._ci_result(q, rdf, rdf.collect()[0], "corr", "fisher_z", s_spec)

    def _run_count_distinct(self, q: _Query) -> ApproxResult:
        """COUNT(DISTINCT col) routes (round 3): exact ``countDistinct``;
        ``method='hll'`` (default) = the portable HyperLogLog — one full
        scan, constant memory, CI from the sketch's 1.04/√m standard
        error; ``method='chao1'`` (default when a sample % is given or
        the query is grouped) = sample-based species-richness
        correction (point estimate, no closed-form CI)."""
        spec = q.spec
        method = None if q.method == "auto" else q.method
        if not spec.column:
            raise ValueError("COUNT(DISTINCT ...) requires a column")
        if not q.approx:
            rdf = self._base_df(spec)
            if spec.group_by:
                rdf = rdf.groupBy(spec.group_by)
            rdf = rdf.agg(F.countDistinct(spec.column).alias("count_distinct"))
            res = ApproxResult(df=rdf, method="exact", status=ApproximationStatus.EXACT)
            if not spec.group_by:
                row = rdf.collect()[0]
                res.value = float(row["count_distinct"])
                res.samples_used = int(row["count_distinct"])
            res.computation_time = time.time() - q.t0
            return res
        if spec.group_by:
            # The grouped HLL lives in the workload's
            # sketch_portable_hll; Chao1 is the sampled route the
            # dialect exposes.
            if method is not None and method != "chao1":
                raise ValueError(
                    "grouped COUNT(DISTINCT ...) supports method='chao1' only "
                    "(the HLL route is global; grouped sketches live in "
                    "sketch_portable_hll)"
                )
            return self._run_chao1(q)
        if method is None:
            method = "chao1" if q.pct is not None else "hll"
        if method not in ("hll", "chao1", "kmv"):
            raise ValueError(
                f"COUNT(DISTINCT ...) supports method 'hll', 'chao1' or "
                f"'kmv', got {method!r}"
            )

        if method == "kmv":
            rdf = kmv_distinct_ci(self._base_df(spec), spec.column, k=256, z=q.z)
            res = ApproxResult(df=rdf, method="kmv", fraction=1.0)
            row = rdf.collect()[0]
            res.value = float(row["est_distinct"])
            res.ci_lower = float(row["ci_lower"])
            res.ci_upper = float(row["ci_upper"])
            res.error_margin = (res.ci_upper - res.ci_lower) / 2
            res.confidence_level = q.confidence
            res.samples_used = int(row["k_used"])
            res.computation_time = time.time() - q.t0
            return res

        if method == "hll":
            base = self._base_df(spec).select(
                F.lit("all").alias("__g"), F.col(spec.column)
            )
            # Single aggregate straight off the 64 register rows — the
            # full rollup's per-group/merged union + barrier is for the
            # grouped workload query, not this hot path.
            regs = hll_registers(base, spec.column, "__g")
            rdf = regs.agg(
                F.count(F.lit(1)).alias("np"),
                F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("sp"),
            ).select(_estimate(F.col("np"), F.col("sp")).alias("est_distinct"))
            res = ApproxResult(df=rdf, method="hll", fraction=1.0)
            row = rdf.collect()[0]
            res.value = float(row["est_distinct"])
            # Flajolet et al.: SE(E) ≈ 1.04/√m — an honest, known-form
            # interval unlike the sampled-sum CLT margins.
            se = 1.04 / (HLL_M ** 0.5)
            res.error_margin = q.z * se * res.value
            res.ci_lower = res.value - res.error_margin
            res.ci_upper = res.value + res.error_margin
            res.confidence_level = q.confidence
            res.samples_used = int(HLL_M)
            res.computation_time = time.time() - q.t0
            return res

        res = self._run_chao1(q)
        row = res.df.collect()[0]
        res.value = float(row["d_chao1"])
        res.samples_used = int(row["d_obs"])
        return res

    def _run_chao1(self, q: _Query) -> ApproxResult:
        """Shared Chao1 routing (global + grouped): deterministic sample
        via the portable hash, species-richness correction in one SQL
        statement over the catalog's temp views."""
        spec = q.spec
        fraction = (q.pct / 100.0) if q.pct else 0.2
        table_expr = (
            f"(SELECT * FROM {spec.table} WHERE {spec.where})"
            if spec.where
            else spec.table
        )
        s_spec = self._sampling_spec(spec, "uniform_hash", fraction)
        self.catalog.ensure_views()
        rdf = self.spark.sql(
            chao1_sql(table_expr, spec.column, s_spec, group_col=spec.group_by)
        )
        res = ApproxResult(df=rdf, method="chao1", fraction=fraction)
        res.confidence_level = q.confidence
        res.computation_time = time.time() - q.t0
        return res

    def _exact_df(self, q: _Query) -> DataFrame:
        sampled = apply_sampling(self._base_df(q.spec), SamplingSpec(design="none"))
        return approx_aggregate(
            sampled, q.agg, group_by=[q.spec.group_by] if q.spec.group_by else None,
            with_ci=False,
        )

    def _run_exact(self, q: _Query) -> ApproxResult:
        res = self._finalize(self._exact_df(q), q, "exact", 1.0)
        res.status = ApproximationStatus.EXACT
        return res

    def _finalize(
        self,
        rdf: DataFrame,
        q: _Query,
        method: str,
        fraction: float,
        confidence: float = 0.95,
    ) -> ApproxResult:
        res = ApproxResult(df=rdf, method=method, fraction=fraction)
        if not q.spec.group_by:
            name = q.agg.name()
            row = rdf.collect()[0]
            res.value = float(row[name]) if row[name] is not None else None
            res.samples_used = int(row["n_samples"])
            if (
                "ci_lower" in rdf.columns
                and res.value is not None
                and row["ci_lower"] is not None
            ):
                res.ci_lower = float(row["ci_lower"])
                res.ci_upper = float(row["ci_upper"])
                res.error_margin = (res.ci_upper - res.ci_lower) / 2.0
            res.confidence_level = min(confidence, heuristic_confidence(res.samples_used))
        else:
            # Grouped path: z/CI columns were computed for the requested
            # level, so report it — otherwise the dataclass default (0.95)
            # caps a 0.99 request at _run_sampled's min().
            res.confidence_level = confidence
        res.computation_time = time.time() - q.t0
        return res


@dataclass
class _Query:
    """One :meth:`AQEngine.run` / :meth:`AQEngine.explain_auto` call:
    the SQL, the caller's arguments (``method`` becomes the resolved
    method once the sampled route picks one) and the parses the route
    matchers share — each made at most once, and only when a matcher
    asks for it."""

    eng: AQEngine
    sql: str
    z: float = Z_95
    t0: float = 0.0
    sample_pct: float | None = None
    error_pct: float | None = None
    method: str | None = None
    confidence: float = 0.95
    stratum_col: str | None = None
    aux_column: str | None = None

    @cached_property
    def spec(self) -> QuerySpec | None:
        return parse_query(self.sql)

    @cached_property
    def keys(self) -> dict[str, str]:
        return {**TABLES, **self.eng.catalog._extra_keys}

    @cached_property
    def within(self):
        return parse_within_marker(self.sql, self.keys)

    @cached_property
    def rewritten(self) -> str | None:
        return rewrite_approx_sql(self.sql, self.keys, z=self.z)

    @cached_property
    def global_quantile(self):
        return parse_global_quantile_marker(self.sql, self.keys)

    @cached_property
    def grouped_quantile(self):
        return parse_grouped_quantile_marker(self.sql, self.keys)

    @cached_property
    def agg(self) -> AggSpec:
        return AggSpec(func=self.spec.agg.lower(), column=self.spec.column)

    @property
    def pct(self) -> float | None:
        """The dialect's sample %: the argument, else the query's own
        (``APPROX_SUM(x, pct)``, ``TABLESAMPLE``)."""
        return self.sample_pct if self.sample_pct is not None else self.spec.sample_pct

    @property
    def approx(self) -> bool:
        """Whether the dialect query asked for an approximation."""
        return bool(
            self.spec.approx or self.pct is not None
            or self.error_pct is not None or self.method
        )

    @property
    def approx_marker(self) -> bool:
        """An APPROX marker in any syntax (the grammar error's trigger)."""
        return rewrite_approx(self.sql)[1] or bool(
            re.search(r"\bAPPROX\s*\(", self.sql, re.IGNORECASE)
        )


@dataclass(frozen=True)
class _Route:
    """One entry of the route table: ``match`` reads the query's parses;
    ``execute`` answers it; ``explain`` says what ``method='auto'``
    picks without running it (None: nothing to pick); ``twin`` gives the
    exact twin for ``compare=True`` as ``(frame, sql or None)`` (None:
    no comparison); ``grammar`` is the shape the grammar error quotes."""

    name: str
    grammar: str
    match: Callable[[_Query], object]
    execute: Callable[[AQEngine, _Query], ApproxResult]
    explain: Callable[[AQEngine, _Query], dict] | None = None
    twin: Callable | None = None


def _explained(method: str, evidence: dict | None = None, source: str | None = None) -> dict:
    return {
        "method": method,
        "source": source or ("advisor" if evidence is not None else "static"),
        "evidence": evidence,
    }


def _explain_quantile(eng: AQEngine, q: _Query) -> dict:
    if q.spec.group_by:
        return _explained("quantile")
    return _explained(*eng._advise_auto(q.spec, q.z)[:2])


def _explain_within(eng: AQEngine, q: _Query) -> dict:
    start_pct, error_pct = q.within[6], q.within[7]
    return _explained("adaptive_sql", {
        "error_pct": error_pct,
        "start_fraction": start_pct / 100.0 if start_pct else error_ladder(error_pct),
        "escalation": "fraction doubles until the CI half-width meets the "
        "budget (worst group when grouped)",
    }, "rewriter")


def _explain_rewrite(executes_via: str | None = None) -> Callable:
    """Marker routes report the rewrite and the portable text it runs
    (or, for quantile markers, what executes in its place)."""
    def explain(eng: AQEngine, q: _Query) -> dict:
        evidence = {"rewritten_sql": q.rewritten}
        if executes_via:
            evidence["executes_via"] = executes_via
        return _explained("sql_rewrite", evidence, "rewriter")
    return explain


def _grammar_error(sql: str) -> ValueError:
    shapes = "".join(f"\n  {r.name}: {r.grammar}" for r in _ROUTES if r.grammar)
    return ValueError(
        f"APPROX dialect supports these shapes:{shapes}\nLeading CTEs are "
        f"accepted when the markers live in the main query; could not parse: {sql!r}"
    )


_DIALECT = "FROM t [WHERE w] [GROUP BY g]"
_TABLESAMPLE = "FROM t TABLESAMPLE (p PERCENT)"

# Ordered: the first route whose matcher accepts the query answers it.
# The dialect routes need only parse_query; the marker parses run only
# for queries outside the dialect, and the quantile markers only once
# the rewriter accepted the query.
_ROUTES: tuple[_Route, ...] = (
    _Route(
        "quantile", f"SELECT APPROX(MEDIAN(col) | PERCENTILE(col, q)) {_DIALECT}",
        lambda q: q.spec is not None and q.spec.agg in ("MEDIAN", "PERCENTILE"),
        AQEngine._run_quantile, _explain_quantile,
    ),
    _Route(
        "stddev", f"SELECT APPROX(STDDEV(col)) {_DIALECT}",
        lambda q: q.spec is not None and q.spec.agg == "STDDEV",
        AQEngine._run_stddev, lambda eng, q: _explained("moment"),
    ),
    _Route(
        "corr", f"SELECT APPROX(CORR(x, y)) {_DIALECT}",
        lambda q: q.spec is not None and q.spec.agg == "CORR",
        AQEngine._run_corr, lambda eng, q: _explained("fisher_z"),
    ),
    _Route(
        "count_distinct", f"SELECT APPROX(COUNT(DISTINCT col)) {_DIALECT}",
        lambda q: q.spec is not None and q.spec.distinct,
        AQEngine._run_count_distinct,
        lambda eng, q: _explained(
            "chao1" if q.spec.group_by or q.pct is not None else "hll"
        ),
    ),
    _Route("exact", "", lambda q: q.spec is not None and not q.approx, AQEngine._run_exact),
    _Route(
        "sampled",
        f"SELECT APPROX(SUM|AVG|COUNT|MIN|MAX(col)) {_DIALECT}, also written "
        "APPROX_SUM(col, pct) or with the table marked TABLESAMPLE (p PERCENT)",
        lambda q: q.spec is not None,
        AQEngine._run_sampled,
        lambda eng, q: _explained(*eng._advise_auto(q.spec, q.z)[:2]),
        AQEngine._sampled_twin,
    ),
    _Route(
        "within",
        "SELECT [g, ...,] APPROX(SUM|AVG|COUNT(expr)) AS alias FROM t "
        "[TABLESAMPLE (p PERCENT)] [JOIN d ON ...] [WHERE w] [GROUP BY g, ...] "
        "[ORDER BY g, ...] WITHIN e PERCENT",
        lambda q: q.within is not None,
        AQEngine._run_within_marker, _explain_within, AQEngine._marker_twin,
    ),
    _Route(
        "quantile_marker",
        f"SELECT APPROX(MEDIAN(x) | PERCENTILE(x, q)) AS alias {_TABLESAMPLE} [WHERE w]",
        lambda q: q.rewritten is not None and q.global_quantile is not None,
        AQEngine._run_quantile_marker,
        _explain_rewrite(
            "order_stat_marker_ci (partition-parallel rank selection; the "
            "window text is the oracle only)"
        ),
        AQEngine._marker_twin,
    ),
    _Route(
        "grouped_quantile_marker",
        f"SELECT g, APPROX(MEDIAN(x) | PERCENTILE(x, q)) AS alias {_TABLESAMPLE} "
        "[WHERE w] GROUP BY g [ORDER BY g]",
        lambda q: q.rewritten is not None and q.grouped_quantile is not None,
        AQEngine._run_grouped_quantile_marker,
        _explain_rewrite(
            "grouped_order_stat_ci (grouped partition-parallel rank "
            "selection; the window text is the oracle only)"
        ),
        AQEngine._marker_twin,
    ),
    _Route(
        "rewrite",
        "SELECT ..., APPROX(SUM|AVG|COUNT(expr) | SUM(a) / SUM(b) | MEDIAN(x) | "
        f"PERCENTILE(x, q) | COUNT(DISTINCT col)) AS alias, ... {_TABLESAMPLE} "
        "[JOIN d ON ...] [WHERE w] [GROUP BY ...] [HAVING ...] "
        "[STRATIFY BY col | USING AUX(expr)] (estimator markers: single table "
        "or INNER star join)",
        lambda q: q.rewritten is not None,
        lambda eng, q: eng._run_marker(q, lambda: eng.spark.sql(q.rewritten)),
        _explain_rewrite(),
        AQEngine._marker_twin,
    ),
    _Route("spark_sql", "", lambda q: not q.approx_marker, AQEngine._run_spark_sql),
)


@dataclass(frozen=True)
class _Method:
    """How the sampled dialect route runs one ``method=`` (METHODS
    holds its sampling design and description): its estimator
    ``(query, base frame, sampling spec) → result frame`` or a finished
    ApproxResult, which reads any GROUP BY from the query; whether it
    accepts one; the aggregates it accepts; its output columns renamed
    to the ``sum_<col>`` estimate and to ``n_samples``; the fraction it
    reports when not the requested one; the ``run()`` argument it needs
    (name, what it is). A sketch for another aggregate family has no
    estimator here: ``only`` names the family it serves."""

    run: Callable | None = None
    grouped: bool = False
    aggs: tuple[str, ...] = ("SUM",)
    estimate: str | None = "estimate"
    n_samples: str | None = None
    fraction: float | None = None
    needs: tuple[str, str] | None = None
    hint: str | None = None
    only: str = ""

    def check(self, q: _Query) -> None:
        """Reject a query this estimator does not answer — never hand
        back a different estimator than the one asked for."""
        name, spec = q.method, q.spec
        needed = self.needs[0] if self.needs else None
        for arg in ("stratum_col", "aux_column"):
            if getattr(q, arg) and arg != needed:
                owner = next(
                    n for n, m in _ESTIMATORS.items() if m.needs and m.needs[0] == arg
                )
                raise ValueError(
                    f"{arg}= is only consumed by method={owner!r} (got method={name!r})"
                )
        if self.run is None:
            raise ValueError(
                f"method={name!r} applies to {self.only} only; use the "
                "sampling methods for SUM/AVG/COUNT"
            )
        if spec.agg not in self.aggs or (spec.group_by and not self.grouped):
            scope = " or a SUM grouped by one column" if self.grouped else ""
            hint = self.hint or "the closed-form methods for AVG/COUNT" + (
                "" if self.grouped else "/GROUP BY"
            )
            raise ValueError(f"method={name!r} supports a global SUM only{scope}; use {hint}")
        if needed and not getattr(q, needed):
            raise ValueError(f"method={name!r} needs {needed}={self.needs[1]}")
        if spec.group_by and spec.group_by == q.stratum_col:
            raise ValueError(
                f"method={name!r}: GROUP BY column and stratum_col= must differ "
                "(stratifying on the output group is a no-op — the exact "
                "per-group counts already condition on it)"
            )


def _closed_form(q: _Query, base: DataFrame, s: SamplingSpec) -> DataFrame:
    return approx_aggregate(
        apply_sampling(base, s), q.agg,
        group_by=[q.spec.group_by] if q.spec.group_by else None, z=q.z,
    )


def _adaptive(q: _Query, base: DataFrame, s: SamplingSpec) -> ApproxResult:
    """Double the fraction until the CI half-width meets the budget; a
    grouped query escalates until the WORST group's does (the reference
    ran grouped queries at a fixed fraction)."""
    return adaptive_aggregate(
        base, q.agg, s, group_by=[q.spec.group_by] if q.spec.group_by else None,
        error_pct=q.error_pct or 5.0, confidence=q.confidence,
        validators=METHODS[q.method].get("validators", 0), z=q.z,
    )


def _cents_floor(q: _Query):
    return F.floor(F.col(q.spec.column) * 100.0 + 0.5)


def _twostage(q: _Query, base: DataFrame, s: SamplingSpec) -> DataFrame:
    return twostage_sum_ci(base, s.key, _cents_floor(q), z=q.z, group_by=q.spec.group_by)


def _poststrat(q: _Query, base: DataFrame, s: SamplingSpec) -> DataFrame:
    return poststrat_sum_ci(
        base, q.spec.column, q.stratum_col, s, z=q.z, group_by=q.spec.group_by
    )


def _regaux(q: _Query, base: DataFrame, s: SamplingSpec) -> DataFrame:
    return regaux_sum_ci(
        base, q.spec.column, q.aux_column, s, z=q.z, group_by=q.spec.group_by
    )


_ALL_AGGS = ("SUM", "AVG", "COUNT", "MIN", "MAX")
_ESTIMATORS: dict[str, _Method] = {
    **dict.fromkeys(
        ("random", "block", "parallel", "revolutionary"),
        _Method(_closed_form, True, _ALL_AGGS, estimate=None),
    ),
    **dict.fromkeys(
        ("clt", "adaptive"),
        _Method(_adaptive, True, _ALL_AGGS, estimate=None),
    ),
    "outlier": _Method(
        lambda q, base, s: outlier_sum_ci(
            base, q.spec.column, s.key, s.fraction, z=q.z, group_by=q.spec.group_by
        ),
        True,
    ),
    "priority": _Method(
        lambda q, base, s: priority_sample_subset_sum(
            base, s.key, _cents_floor(q).cast("long"), F.lit(True), k=2048
        ),
        estimate="est_sum",
        n_samples="n_sample",
    ),
    "twostage": _Method(
        _twostage, True,
        estimate="sum_value",
        n_samples="n_rows",
        fraction=TS_F1 * TS_F2,
    ),
    "poststrat": _Method(
        _poststrat, True,
        needs=("stratum_col", "<column> — the column whose exact counts "
               "re-weight the sample"),
    ),
    "regaux": _Method(
        _regaux, True,
        needs=("aux_column", "<column/expression> — the auxiliary whose "
               "exact total calibrates the sample"),
    ),
    "pps": _Method(
        lambda q, base, s: pps_sum_ci(base, q.spec.column, s.key, s.fraction, z=q.z)
    ),
    "blb": _Method(
        lambda q, base, s: blb_sum_ci(base, q.spec.column, s.key, z=q.z),
        n_samples="n_rows_scanned",
        hint="method='bootstrap' for grouped bootstrap CIs",
    ),
    "bootstrap": _Method(
        lambda q, base, s: bootstrap_sum_ci(
            base, q.spec.column, s, z=q.z, group_by=q.spec.group_by
        ),
        True,
    ),
    **dict.fromkeys(
        ("hll", "kmv", "chao1"), _Method(only="COUNT(DISTINCT)")
    ),
    "ddsketch": _Method(only="MEDIAN/PERCENTILE"),
}
