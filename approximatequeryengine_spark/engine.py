"""AQEngine — the user-facing facade.

Query lifecycle (replacing SURVEY.md §3's string-pipeline):

    sql ──rewrite APPROX dialect──► QuerySpec        (frontend/dialect.py)
        ──sampling planner──────► sampled DataFrame  (plans/sampling.py)
        ──estimator layer───────► moments agg + CI   (plans/estimators.py)
        ──[adaptive executor]───► escalation loop    (plans/adaptive.py)

Everything relational stays declarative: Catalyst handles predicate
pushdown, column pruning, and partial aggregation; our code runs only
*before* (dialect → sampling spec) and *after* (CI post-processing,
escalation) the optimizer. Queries outside the reference grammar pass
through ``spark.sql`` unchanged (exact, full Spark surface).

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from approximatequeryengine_spark.catalog import TABLES, Catalog
from approximatequeryengine_spark.frontend.dialect import (
    METHODS,
    QuerySpec,
    parse_query,
    rewrite_approx,
    select_method,
)
from approximatequeryengine_spark.plans.adaptive import adaptive_aggregate, error_ladder
from approximatequeryengine_spark.plans.estimators import AggSpec, approx_aggregate
from approximatequeryengine_spark.plans.sampling import (
    SamplingSpec,
    apply_sampling,
    sql_double,
)
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


def _cents(value_sql: str):
    """:func:`_cents_sql` as a Column."""
    return F.expr(_cents_sql(value_sql))


@dataclass(frozen=True)
class _Registration:
    """One registered index: its kind, the handle its build returned
    (O(blocks) metadata the probes consult on the driver) and the SQL
    its probes re-apply to the base table."""

    kind: str
    handle: object
    value_sql: str
    key_sql: str | None = None


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
                self.spark, df, path, key_sql, _cents_sql(value_sql), n_blocks=n_blocks
            )
        else:
            from approximatequeryengine_spark.sources.zonemap import zonemap_write

            uk = self.catalog.unique_key(table)
            handle = zonemap_write(
                self.spark,
                df.select(
                    F.expr(uk).cast("long").alias("__rk"),
                    _cents(value_sql).alias("__cents"),
                    F.expr(key_sql).cast("long").alias("__keysrc"),
                ),
                path,
                key=F.col("__keysrc"),
                n_zones=n_blocks,
            )
        self._indexes[("range", table)] = _Registration(
            kind, handle, value_sql, key_sql
        )
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
        metadata comes from the registration, so the probe runs one
        Spark query."""
        reg = self._registration(
            "range", table, "build_range_index(table, key_sql, value_sql)"
        )
        if reg.kind == "aqpplus":
            from approximatequeryengine_spark.plans.aqpplus import aqpplus_range_sum

            return aqpplus_range_sum(
                self.spark,
                self.catalog.table(table),
                reg.handle,
                lo,
                hi,
                key=reg.key_sql,
                value_cents=_cents_sql(reg.value_sql),
                row_key=self.catalog.unique_key(table),
                fraction=fraction,
            )
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
            block_width=block_width,
        )
        self._indexes[("point", table)] = _Registration("blockbloom", handle, value_sql)
        return path

    def point_sum(self, table: str, key: int) -> DataFrame:
        """Exact ``SUM(value) WHERE lookup = key`` through the
        registered bloom skip index: a driver-side consult of ≤ k bloom
        words per block + one partition-pruned scan of the surviving
        blocks."""
        reg = self._registration(
            "point", table, "build_point_index(table, lookup_sql, value_sql)"
        )
        from approximatequeryengine_spark.sources.blockbloom import (
            blockbloom_point_sum,
        )

        return blockbloom_point_sum(
            self.spark, reg.handle, key, value_cents=_cents(reg.value_sql)
        )

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
            n_blocks=n_blocks,
        )
        self._indexes[("zorder", table)] = _Registration("zorder", handle, value_sql)
        return path

    def rect_sum(
        self, table: str, x_lo: int, x_hi: int, y_lo: int, y_hi: int
    ) -> DataFrame:
        """Exact rectangle aggregate through the registered Z-order
        layout: driver-side blockmap consult + one partition-pruned
        scan."""
        reg = self._registration(
            "zorder", table, "build_zorder_index(table, x_sql, y_sql, value_sql)"
        )
        from approximatequeryengine_spark.sources.zorder import zorder_rect_sum

        return zorder_rect_sum(
            self.spark,
            reg.handle,
            x_lo,
            x_hi,
            y_lo,
            y_hi,
            value_cents=_cents(reg.value_sql),
        )

    def _advise_auto(self, spec: QuerySpec) -> tuple[str, dict | None]:
        """Resolve ``method='auto'``: the measured-moment advisor
        (plans/advisor.py — cv², top-B mass share → outlier/pps/
        revolutionary/clt) for global SUM over a column, the
        reference's static F3 ladder (``select_method``) for every
        other shape. Returns (method, evidence-dict-or-None); the
        evidence surfaces in ``ApproxResult.groups['__advisor__']``
        and the CLI's ``--explain``."""
        if spec.agg == "SUM" and spec.column and not spec.group_by and not spec.distinct:
            from approximatequeryengine_spark.plans.advisor import (
                advise_method_evidence,
            )

            ev = advise_method_evidence(
                self._base_df(spec),
                F.floor(F.expr(spec.column) * 100.0 + 0.5),
            )
            return ev["recommended_method"], ev
        if (
            spec.agg in ("MEDIAN", "PERCENTILE")
            and spec.column
            and not spec.group_by
        ):
            # Quantile family: the bakeoff-calibrated rule (measured
            # sampled-order-statistic CI vs the DDSketch α guarantee vs
            # the exact sort's affordability — plans/advisor.py).
            from approximatequeryengine_spark.plans.advisor import (
                QUANTILE_SAMPLE_FRACTION,
                advise_quantile_evidence,
            )

            ev, _, _ = advise_quantile_evidence(
                self._base_df(spec),
                spec.column,
                spec.q if spec.q is not None else 0.5,
                self._sampling_spec(
                    spec, "uniform_hash", QUANTILE_SAMPLE_FRACTION
                ),
            )
            return ev["recommended_method"], ev
        total = self.catalog.table(spec.table).count()
        return select_method(spec.agg, total, spec.group_by is not None), None

    def explain_auto(self, sql: str) -> dict:
        """What ``method='auto'`` would pick for ``sql`` and why,
        WITHOUT executing the query — the CLI ``--explain`` surface.
        Returns ``{'method', 'source' ('advisor'|'static'),
        'evidence' (moment profile dict or None)}``."""
        spec = parse_query(sql)
        if spec is None:
            # Marker queries (TABLESAMPLE + APPROX/STRATIFY/AUX/...)
            # route through the SQL rewriter, not the method advisor —
            # report the route and the portable text it would run.
            from approximatequeryengine_spark.frontend.approx_sql import (
                parse_within_marker,
                rewrite_approx_sql,
            )

            keys = dict(TABLES)
            keys.update(self.catalog._extra_keys)
            wm = parse_within_marker(sql, keys)
            if wm is not None:
                from approximatequeryengine_spark.plans.adaptive import (
                    error_ladder,
                )

                start = wm[6] / 100.0 if wm[6] else error_ladder(wm[7])
                return {
                    "method": "adaptive_sql",
                    "source": "rewriter",
                    "evidence": {
                        "error_pct": wm[7],
                        "start_fraction": start,
                        "escalation": "fraction doubles until the CI "
                        "half-width meets the budget (worst group when "
                        "grouped)",
                    },
                }
            rewritten = rewrite_approx_sql(sql, keys)
            if rewritten is not None:
                evidence: dict = {"rewritten_sql": rewritten}
                from approximatequeryengine_spark.frontend.approx_sql import (
                    parse_global_quantile_marker,
                    parse_grouped_quantile_marker,
                )

                if parse_global_quantile_marker(sql, keys) is not None:
                    evidence["executes_via"] = (
                        "order_stat_marker_ci (partition-parallel rank "
                        "selection; the window text is the oracle only)"
                    )
                elif parse_grouped_quantile_marker(sql, keys) is not None:
                    evidence["executes_via"] = (
                        "grouped_order_stat_ci (grouped partition-"
                        "parallel rank selection; the window text is "
                        "the oracle only)"
                    )
                return {
                    "method": "sql_rewrite",
                    "source": "rewriter",
                    "evidence": evidence,
                }
            raise ValueError(
                "explain_auto needs an APPROX-dialect aggregate query "
                "or a rewritable APPROX+TABLESAMPLE marker query; "
                f"could not parse: {sql!r}"
            )
        method, evidence = self._advise_auto(spec)
        return {
            "method": method,
            "source": "advisor" if evidence is not None else "static",
            "evidence": evidence,
        }

    def run(
        self,
        sql: str,
        sample_pct: float | None = None,
        error_pct: float | None = None,
        method: str | None = None,
        with_ci: bool = True,
        compare: bool = False,
        confidence: float = 0.95,
        stratum_col: str | None = None,
        aux_column: str | None = None,
    ) -> ApproxResult:
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
        from statistics import NormalDist

        from approximatequeryengine_spark.plans.estimators import Z_95 as _Z95

        z = (
            _Z95
            if confidence == 0.95
            else NormalDist().inv_cdf((1.0 + confidence) / 2.0)
        )
        spec = parse_query(sql)
        if spec is None:
            # Beyond the reference grammar: APPROX() aggregates over
            # arbitrary SQL (joins, multi-column GROUP BY) with the
            # sampled table marked via TABLESAMPLE (p PERCENT) — the
            # sampled-CTE injection of frontend/approx_sql.py. Tried
            # FIRST because the simple dialect's marker regex cannot
            # see nested parens (APPROX(SUM(a * (1 - b)))).
            from approximatequeryengine_spark.frontend.approx_sql import (
                parse_within_marker,
                rewrite_approx_sql,
            )

            keys = dict(TABLES)
            keys.update(self.catalog._extra_keys)
            wm = parse_within_marker(sql, keys)
            if wm is not None:
                # APPROX(SUM(x)) ... WITHIN e PERCENT — the reference's
                # CLT early-stop from plain SQL: escalate the sampling
                # fraction until the realized CI half-width meets the
                # budget (plans/adaptive.py; per WORST group when
                # grouped). The terminal rung is a pure function of the
                # data — certifiable by a rung-re-deriving oracle.
                return self._run_within_marker(
                    wm, z=z, compare=compare, t0=t0, sql=sql
                )
            rewritten = rewrite_approx_sql(sql, keys, z=z)
            if rewritten is not None:
                self.catalog.ensure_views()
                from approximatequeryengine_spark.frontend.approx_sql import (
                    parse_global_quantile_marker,
                )

                gq = parse_global_quantile_marker(sql, keys)
                if gq is not None:
                    # GLOBAL order-statistic markers execute through the
                    # partition-parallel rank selection — the rewritten
                    # window text would sort the whole sample through one
                    # task (it remains the DuckDB oracle; identical
                    # values by construction).
                    from approximatequeryengine_spark.plans.quantiles import (
                        order_stat_marker_ci,
                    )

                    table, qexpr, qq, qalias, qwhere, qspec = gq
                    df = order_stat_marker_ci(
                        self.catalog.table(table),
                        qexpr,
                        qq,
                        qalias,
                        qspec,
                        where=qwhere,
                        z=z,
                    )
                else:
                    from approximatequeryengine_spark.frontend.approx_sql import (
                        parse_grouped_quantile_marker,
                    )

                    gg = parse_grouped_quantile_marker(sql, keys)
                    if gg is not None:
                        # GROUPED markers too (round 9): the window
                        # text's sort parallelism equals the group
                        # count — three groups means three tasks each
                        # sorting a third of the sample. The grouped
                        # rank selection is partition-parallel in every
                        # pass; the text stays the DuckDB oracle.
                        from approximatequeryengine_spark.plans.quantiles import (
                            grouped_order_stat_ci,
                        )

                        (table, qexpr, qq, qalias, qwhere, qgroup,
                         qspec, qordered) = gg
                        df = grouped_order_stat_ci(
                            self.catalog.table(table),
                            qexpr,
                            qq,
                            qalias,
                            qgroup,
                            qspec,
                            where=qwhere,
                            z=z,
                            order_by_group=qordered,
                        )
                    else:
                        df = self.spark.sql(rewritten)
                res = ApproxResult(
                    df=df,
                    method="sql_rewrite",
                    status=ApproximationStatus.STABLE,
                    computation_time=time.time() - t0,
                )
                if compare:
                    # F6 exact-vs-approx comparison for the rewrite
                    # path: run the exact twin (markers unwrapped) and
                    # report actual error + speedup. Both results are
                    # aggregate outputs — the collects are bounded.
                    from approximatequeryengine_spark.frontend.approx_sql import (
                        exact_twin_sql,
                    )

                    twin = exact_twin_sql(sql)
                    if twin is not None:
                        approx_rows = df.collect()
                        res.computation_time = time.time() - t0
                        t1 = time.time()
                        exact_df = self.spark.sql(twin)
                        exact_rows = exact_df.collect()
                        exact_time = time.time() - t1
                        res.groups["__exact_sql__"] = twin
                        res.groups["__exact_df__"] = exact_df
                        res.groups["__speedup__"] = (
                            exact_time / res.computation_time
                            if res.computation_time
                            else float("inf")
                        )
                        if len(approx_rows) == 1 and len(exact_rows) == 1:
                            from decimal import Decimal

                            a, e = approx_rows[0], exact_rows[0]
                            # Every shared numeric alias gets an error
                            # readout (Decimal included — exact SUMs over
                            # decimal fixtures are Decimal-typed; bool is
                            # an int subclass, not a metric).
                            shared = [
                                c for c in exact_df.columns
                                if c in df.columns
                                and isinstance(e[c], (int, float, Decimal))
                                and not isinstance(e[c], bool)
                            ]
                            per_col = {
                                c: 100.0 * abs(float(a[c]) - float(e[c]))
                                / abs(float(e[c]))
                                for c in shared
                                if e[c] and a[c] is not None
                            }
                            if per_col:
                                res.groups["__actual_error_pct_by_col__"] = per_col
                            if shared:
                                c = shared[0]
                                res.groups["__exact__"] = (
                                    float(e[c])
                                    if isinstance(e[c], Decimal) else e[c]
                                )
                                if c in per_col:
                                    res.groups["__actual_error_pct__"] = per_col[c]
                return res
            _, is_approx, _ = rewrite_approx(sql)
            if is_approx or re.search(r"\bAPPROX\s*\(", sql, re.IGNORECASE):
                raise ValueError(
                    "APPROX dialect supports a single SUM/AVG/COUNT/MIN/MAX/"
                    "MEDIAN/PERCENTILE/STDDEV/CORR aggregate over one table "
                    "(optional WHERE, one GROUP BY column) — or SQL-marker "
                    "queries with the sampled table marked `t TABLESAMPLE "
                    "(p PERCENT)`: APPROX(SUM/AVG/COUNT(expr)) AS alias "
                    "(joins OK), APPROX(SUM(a) / SUM(b)) AS alias (ratio), "
                    "APPROX(MEDIAN(x)/PERCENTILE(x, q)) AS alias, "
                    "APPROX(COUNT(DISTINCT col)) AS alias, estimator "
                    "markers `STRATIFY BY col` / `USING AUX(expr)` "
                    "(single table or INNER star join), "
                    "and the error-budget marker `WITHIN e PERCENT` "
                    "(adaptive CLT escalation; TABLESAMPLE optional there). "
                    "Leading CTEs are accepted when the markers live in "
                    "the main query"
                    f"; could not parse: {sql!r}"
                )
            # Full Spark SQL surface, exact.
            # Temp views are session-global; another catalog (different
            # sf_dir, same session) may have clobbered ours — re-assert.
            self.catalog.ensure_views()
            df = self.spark.sql(sql)
            return ApproxResult(df=df, method="spark_sql", status=ApproximationStatus.EXACT,
                                computation_time=time.time() - t0)

        if spec.sample_pct is not None and sample_pct is None:
            sample_pct = spec.sample_pct

        wants_approx = spec.approx or sample_pct is not None or error_pct is not None or method

        # method='auto' — resolved by the data-driven advisor for the
        # shapes it profiles (global SUM), static F3 ladder elsewhere.
        # The non-SUM dispatches below (quantile/stddev/corr/distinct)
        # see method=None, i.e. their documented defaults.
        auto = method == "auto"
        if auto:
            method = None

        if spec.agg in ("MEDIAN", "PERCENTILE"):
            q_advisor_row: dict | None = None
            q_reuse = None  # the advisor's own sampled measurement
            if auto and spec.column and not spec.group_by:
                # Quantile-family auto: the bakeoff-calibrated advisor
                # picks exact / sampled-order-statistic / ddsketch from
                # measured evidence (plans/advisor.py). The evidence
                # pass IS a 10% order-statistic job, so when the
                # recommendation is 'quantile' at the default fraction
                # its result is reused directly — never the same
                # sampled job twice.
                from approximatequeryengine_spark.plans.advisor import (
                    QUANTILE_SAMPLE_FRACTION,
                    advise_quantile_evidence,
                )

                adv_spec = self._sampling_spec(
                    spec, "uniform_hash", QUANTILE_SAMPLE_FRACTION
                )
                q_advisor_row, adv_df, adv_row = advise_quantile_evidence(
                    self._base_df(spec),
                    spec.column,
                    spec.q if spec.q is not None else 0.5,
                    adv_spec,
                    z=z,
                )
                rec = q_advisor_row["recommended_method"]
                if rec == "ddsketch":
                    method = "ddsketch"
                elif rec == "exact":
                    wants_approx = False
                else:  # 'quantile' — the sampled order statistic
                    wants_approx = True
                    if (
                        sample_pct is None
                        and adv_df is not None
                        and abs(adv_spec.fraction - QUANTILE_SAMPLE_FRACTION)
                        < 1e-12
                    ):
                        q_reuse = (adv_spec, adv_df, adv_row)
            if q_reuse is not None:
                adv_spec, rdf, row = q_reuse
                res = ApproxResult(
                    df=rdf,
                    value=row[f"{spec.column}_q"],
                    ci_lower=row["ci_lower"],
                    ci_upper=row["ci_upper"],
                    samples_used=int(row["n_samples"]),
                    fraction=adv_spec.realized_fraction(),
                    method="quantile",
                    status=ApproximationStatus.STABLE,
                    computation_time=time.time() - t0,
                )
                res.error_margin = (res.ci_upper - res.ci_lower) / 2.0
                res.confidence_level = min(
                    confidence, heuristic_confidence(res.samples_used)
                )
            else:
                res = self._run_quantile(
                    spec, sample_pct, wants_approx, t0, z=z,
                    confidence=confidence, method=method,
                )
            if q_advisor_row is not None:
                res.groups["__advisor__"] = q_advisor_row
            return res

        if spec.agg == "STDDEV":
            return self._run_stddev(
                spec, sample_pct, wants_approx, t0, z=z, confidence=confidence
            )

        if spec.agg == "CORR":
            return self._run_corr(
                spec, sample_pct, wants_approx, t0, z=z, confidence=confidence
            )

        if spec.distinct:
            return self._run_count_distinct(
                spec, sample_pct, method, wants_approx, t0, z=z, confidence=confidence
            )

        if not wants_approx:
            return self._run_exact(spec, t0)

        advisor_row: dict | None = None
        if method is None:
            if auto:
                method, advisor_row = self._advise_auto(spec)
            elif error_pct is not None:
                method = "clt"
            elif sample_pct is not None:
                method = "parallel" if spec.group_by else "random"
            else:
                total = self.catalog.table(spec.table).count()
                method = select_method(spec.agg, total, spec.group_by is not None)
        if method not in METHODS:
            raise ValueError(f"unknown method {method!r}; one of {sorted(METHODS)}")
        minfo = METHODS[method]

        # Estimator-specific arguments must reach an estimator that
        # consumes them — silently ignoring a stratification/auxiliary
        # request would hand back a different estimator than asked for.
        if stratum_col and not minfo.get("poststrat"):
            raise ValueError(
                f"stratum_col= is only consumed by method='poststrat' "
                f"(got method={method!r})"
            )
        if aux_column and not minfo.get("regaux"):
            raise ValueError(
                f"aux_column= is only consumed by method='regaux' "
                f"(got method={method!r})"
            )

        fraction = (sample_pct / 100.0) if sample_pct else error_ladder(error_pct or 5.0)
        agg = AggSpec(func=spec.agg.lower(), column=spec.column)
        s_spec = self._sampling_spec(spec, minfo["design"], fraction)

        if minfo.get("outlier"):
            from approximatequeryengine_spark.plans.outlier import (
                outlier_grouped_sum_ci,
                outlier_sum_ci,
            )

            if spec.agg != "SUM":
                raise ValueError(
                    "method='outlier' supports a global SUM only; use the "
                    "closed-form methods for AVG/COUNT"
                )
            if spec.group_by:
                rdf = outlier_grouped_sum_ci(
                    self._base_df(spec),
                    spec.column,
                    spec.group_by,
                    self.catalog.unique_key(spec.table),
                    fraction,
                    z=z,
                )
            else:
                rdf = outlier_sum_ci(
                    self._base_df(spec),
                    spec.column,
                    self.catalog.unique_key(spec.table),
                    fraction,
                    z=z,
                )
            rdf = rdf.withColumnRenamed("estimate", AggSpec("sum", spec.column).name())
            res = self._finalize(rdf, agg, spec, method, fraction, t0, confidence=confidence)
        elif minfo.get("ddsketch"):
            # Reaching here means a non-quantile aggregate: the quantile
            # dispatch above consumed MEDIAN/PERCENTILE before the
            # method chain.
            raise ValueError(
                "method='ddsketch' applies to MEDIAN/PERCENTILE only; "
                "use the sampling methods for SUM/AVG/COUNT"
            )
        elif minfo.get("priority"):
            from approximatequeryengine_spark.plans.priority import (
                priority_sample_subset_sum,
            )

            if spec.agg != "SUM" or spec.group_by:
                raise ValueError(
                    "method='priority' supports a global SUM only; use "
                    "the closed-form methods for AVG/COUNT/GROUP BY"
                )
            rdf = priority_sample_subset_sum(
                self._base_df(spec),
                self.catalog.unique_key(spec.table),
                F.floor(F.col(spec.column) * 100.0 + 0.5).cast("long"),
                F.lit(True),
                k=2048,
            )
            rdf = rdf.withColumnRenamed("est_sum", AggSpec("sum", spec.column).name())
            rdf = rdf.withColumnRenamed("n_sample", "n_samples")
            res = self._finalize(rdf, agg, spec, method, fraction, t0, confidence=confidence)
        elif minfo.get("twostage"):
            from approximatequeryengine_spark.plans.twostage import (
                TS_F1,
                TS_F2,
                twostage_grouped_sum_ci,
                twostage_sum_ci,
            )

            if spec.agg != "SUM":
                raise ValueError(
                    "method='twostage' supports SUM only (global or one "
                    "GROUP BY column); use the closed-form methods for "
                    "AVG/COUNT"
                )
            if spec.group_by:
                rdf = twostage_grouped_sum_ci(
                    self._base_df(spec),
                    self.catalog.unique_key(spec.table),
                    spec.group_by,
                    F.floor(F.col(spec.column) * 100.0 + 0.5),
                    z=z,
                ).orderBy(spec.group_by)
            else:
                rdf = twostage_sum_ci(
                    self._base_df(spec),
                    self.catalog.unique_key(spec.table),
                    F.floor(F.col(spec.column) * 100.0 + 0.5),
                    z=z,
                )
            rdf = rdf.withColumnRenamed("sum_value", AggSpec("sum", spec.column).name())
            rdf = rdf.withColumnRenamed("n_rows", "n_samples")
            res = self._finalize(
                rdf, agg, spec, method, TS_F1 * TS_F2, t0, confidence=confidence
            )
        elif minfo.get("poststrat"):
            from approximatequeryengine_spark.plans.poststrat import (
                poststrat_grouped_sum_ci,
                poststrat_sum_ci,
            )

            if spec.agg != "SUM":
                raise ValueError(
                    "method='poststrat' supports SUM only (global or one "
                    "GROUP BY column; the strata come from stratum_col=)"
                )
            if not stratum_col:
                raise ValueError(
                    "method='poststrat' needs stratum_col=<column> — the "
                    "column whose exact counts re-weight the sample"
                )
            if spec.group_by:
                if spec.group_by == stratum_col:
                    raise ValueError(
                        "method='poststrat': GROUP BY column and "
                        "stratum_col= must differ (stratifying on the "
                        "output group is a no-op — the exact per-group "
                        "counts already condition on it)"
                    )
                rdf = poststrat_grouped_sum_ci(
                    self._base_df(spec),
                    spec.column,
                    spec.group_by,
                    stratum_col,
                    s_spec,
                    z=z,
                )
            else:
                rdf = poststrat_sum_ci(
                    self._base_df(spec), spec.column, stratum_col, s_spec, z=z
                )
            rdf = rdf.withColumnRenamed("estimate", AggSpec("sum", spec.column).name())
            res = self._finalize(rdf, agg, spec, method, fraction, t0, confidence=confidence)
        elif minfo.get("regaux"):
            from approximatequeryengine_spark.plans.regression import (
                regaux_grouped_sum_ci,
                regaux_sum_ci,
            )

            if spec.agg != "SUM":
                raise ValueError(
                    "method='regaux' supports SUM only (global or one "
                    "GROUP BY column); use the closed-form methods for "
                    "AVG/COUNT"
                )
            if not aux_column:
                raise ValueError(
                    "method='regaux' needs aux_column=<column/expression> — "
                    "the auxiliary whose exact total calibrates the sample"
                )
            if spec.group_by:
                rdf = regaux_grouped_sum_ci(
                    self._base_df(spec),
                    spec.column,
                    spec.group_by,
                    aux_column,
                    s_spec,
                    z=z,
                )
            else:
                rdf = regaux_sum_ci(
                    self._base_df(spec), spec.column, aux_column, s_spec, z=z
                )
            rdf = rdf.withColumnRenamed("estimate", AggSpec("sum", spec.column).name())
            res = self._finalize(rdf, agg, spec, method, fraction, t0, confidence=confidence)
        elif minfo.get("pps"):
            from approximatequeryengine_spark.plans.pps import pps_sum_ci

            if spec.agg != "SUM" or spec.group_by:
                raise ValueError(
                    "method='pps' supports a global SUM only; use the "
                    "closed-form methods for AVG/COUNT/GROUP BY"
                )
            rdf = pps_sum_ci(
                self._base_df(spec),
                spec.column,
                self.catalog.unique_key(spec.table),
                fraction,
                z=z,
            )
            rdf = rdf.withColumnRenamed("estimate", AggSpec("sum", spec.column).name())
            res = self._finalize(rdf, agg, spec, method, fraction, t0, confidence=confidence)
        elif minfo.get("blb"):
            from approximatequeryengine_spark.plans.bootstrap import blb_sum_ci

            if spec.agg != "SUM" or spec.group_by:
                raise ValueError(
                    "method='blb' supports a global SUM only; use "
                    "method='bootstrap' for grouped bootstrap CIs"
                )
            rdf = blb_sum_ci(
                self._base_df(spec),
                spec.column,
                self.catalog.unique_key(spec.table),
                z=z,
            )
            rdf = rdf.withColumnRenamed("estimate", AggSpec("sum", spec.column).name())
            rdf = rdf.withColumnRenamed("n_rows_scanned", "n_samples")
            res = self._finalize(rdf, agg, spec, method, fraction, t0, confidence=confidence)
        elif minfo.get("bootstrap"):
            from approximatequeryengine_spark.plans.bootstrap import (
                bootstrap_grouped_sum_ci,
                bootstrap_sum_ci,
            )

            if spec.agg != "SUM":
                raise ValueError(
                    "method='bootstrap' supports SUM only; use the "
                    "closed-form methods for AVG/COUNT"
                )
            if spec.group_by:
                rdf = bootstrap_grouped_sum_ci(
                    self._base_df(spec), spec.column, spec.group_by, s_spec, z=z
                )
            else:
                rdf = bootstrap_sum_ci(self._base_df(spec), spec.column, s_spec, z=z)
            rdf = rdf.withColumnRenamed("estimate", AggSpec("sum", spec.column).name())
            res = self._finalize(rdf, agg, spec, method, fraction, t0, confidence=confidence)
        elif minfo.get("adaptive") and not spec.group_by:
            res = adaptive_aggregate(
                self._base_df(spec),
                agg,
                s_spec,
                error_pct=error_pct or 5.0,
                confidence=confidence,
                validators=minfo.get("validators", 0),
                z=z,
            )
            res.method = method
        elif minfo.get("adaptive") and spec.group_by:
            # Round 3: grouped adaptive escalation — double the fraction
            # until the WORST group's relative CI half-width meets the
            # budget (the reference ran grouped queries at a fixed
            # fraction).
            from approximatequeryengine_spark.plans.adaptive import (
                adaptive_grouped_aggregate,
            )

            rdf, final_fraction, iters = adaptive_grouped_aggregate(
                self._base_df(spec),
                agg,
                [spec.group_by],
                s_spec,
                error_pct=error_pct or 5.0,
                z=z,
            )
            res = self._finalize(
                rdf, agg, spec, method, final_fraction, t0, confidence=confidence
            )
            res.iterations = iters
        else:
            sampled = apply_sampling(self._base_df(spec), s_spec)
            rdf = approx_aggregate(
                sampled, agg, group_by=[spec.group_by] if spec.group_by else None,
                z=z, with_ci=with_ci,
            )
            res = self._finalize(rdf, agg, spec, method, fraction, t0, confidence=confidence)
        # Cap, never overwrite: the adaptive path's V4 validation
        # confidence (max(0, 1−cv)) and the small-sample heuristic
        # downgrade must survive — a DRIFTING result reporting the full
        # requested level would silently disable the V4/V5 semantics.
        res.confidence_level = min(confidence, res.confidence_level)
        if advisor_row is not None:
            res.groups["__advisor__"] = advisor_row

        if compare:
            exact = self._run_exact(spec, time.time())
            res.extras = getattr(res, "extras", {})
            if res.value is not None and exact.value:
                res.groups["__exact__"] = exact.value
                res.groups["__actual_error_pct__"] = (
                    100.0 * abs(res.value - exact.value) / abs(exact.value)
                )
                res.groups["__speedup__"] = (
                    exact.computation_time / res.computation_time
                    if res.computation_time
                    else float("inf")
                )
        return res

    def _run_within_marker(
        self, wm, z: float, compare: bool, t0: float, sql: str
    ) -> ApproxResult:
        """Execute the ``WITHIN e PERCENT`` error-budget marker
        (frontend/approx_sql.py::parse_within_marker): route to the
        adaptive CLT escalation loop — the reference's early-stop
        semantics (``custom_bplus_db.cpp:885-1043``) from plain SQL.
        Global shape → adaptive_aggregate; grouped → worst-group stop
        rule. Output columns: [group,] <alias>, ci_lower, ci_upper,
        n_samples — the approx_aggregate frame with the user's alias."""
        from approximatequeryengine_spark.plans.adaptive import (
            adaptive_aggregate,
            adaptive_grouped_aggregate,
        )
        from approximatequeryengine_spark.plans.estimators import AggSpec

        (table, aggf, expr, alias, where, group, start_pct, error_pct,
         join_txt, order_by_groups, cte) = wm
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
        if group:
            rdf, fraction, iterations = adaptive_grouped_aggregate(
                base, agg, group, s_spec, error_pct=error_pct, z=z
            )
            if order_by_groups:
                rdf = rdf.orderBy(*group)
            res = ApproxResult(
                df=rdf,
                method="adaptive_sql",
                status=ApproximationStatus.STABLE,
                fraction=fraction,
                iterations=iterations,
                computation_time=time.time() - t0,
            )
        else:
            res = adaptive_aggregate(
                base, agg, s_spec, error_pct=error_pct, z=z
            )
            res.method = "adaptive_sql"
            res.computation_time = time.time() - t0
        if compare:
            from approximatequeryengine_spark.frontend.approx_sql import (
                exact_twin_sql,
            )

            twin = exact_twin_sql(sql)
            if twin is not None:
                self.catalog.ensure_views()
                t1 = time.time()
                exact_df = self.spark.sql(twin)
                exact_rows = exact_df.collect()
                exact_time = time.time() - t1
                res.groups["__exact_sql__"] = twin
                res.groups["__exact_df__"] = exact_df
                res.groups["__speedup__"] = (
                    exact_time / res.computation_time
                    if res.computation_time
                    else float("inf")
                )
                if (
                    not group
                    and res.value is not None
                    and len(exact_rows) == 1
                    and exact_rows[0][alias]
                ):
                    ev = float(exact_rows[0][alias])
                    res.groups["__exact__"] = ev
                    res.groups["__actual_error_pct__"] = (
                        100.0 * abs(res.value - ev) / abs(ev)
                    )
        return res

    def _run_quantile(
        self, spec: QuerySpec, sample_pct: float | None, approx: bool, t0: float,
        z: float = 1.959963984540054, confidence: float = 0.95,
        method: str | None = None,
    ) -> ApproxResult:
        """MEDIAN / PERCENTILE(col, q): order-statistic point estimate
        with the binomial distribution-free CI (plans/quantiles.py).
        ``method='ddsketch'`` routes to the guaranteed-relative-error
        sketch instead (full scan, no sampling). Exact mode = the same
        machinery over the full data (design 'none')."""
        from approximatequeryengine_spark.plans.quantiles import approx_quantile_ci

        if not spec.column:
            raise ValueError(f"{spec.agg} requires a column")
        q = spec.q if spec.q is not None else 0.5
        if method == "ddsketch":
            return self._run_ddsketch_quantile(spec, q, t0, confidence=confidence)
        if spec.group_by:
            return self._run_grouped_quantile(
                spec, q, sample_pct, approx, t0, z=z, confidence=confidence
            )
        if approx:
            s_spec = self._sampling_spec(
                spec, "uniform_hash", (sample_pct or 10.0) / 100.0
            )
        else:
            s_spec = SamplingSpec(design="none", key=self.catalog.unique_key(spec.table))
        rdf = approx_quantile_ci(self._base_df(spec), spec.column, q, s_spec, z=z)
        row = rdf.collect()[0]
        res = ApproxResult(
            df=rdf,
            value=row[f"{spec.column}_q"],
            ci_lower=row["ci_lower"],
            ci_upper=row["ci_upper"],
            samples_used=int(row["n_samples"]),
            fraction=s_spec.realized_fraction(),
            method="quantile" if approx else "exact",
            status=ApproximationStatus.STABLE if approx else ApproximationStatus.EXACT,
            computation_time=time.time() - t0,
        )
        res.error_margin = (res.ci_upper - res.ci_lower) / 2.0
        res.confidence_level = min(confidence, heuristic_confidence(res.samples_used))
        return res

    def _run_ddsketch_quantile(
        self, spec: QuerySpec, q: float, t0: float, confidence: float = 0.95
    ) -> ApproxResult:
        """PERCENTILE/MEDIAN via DDSketch (plans/ddsketch.py): one full
        scan, GUARANTEED |est − true|/true ≤ α — the reported interval
        is the deterministic α-bound [est/(1+α), est/(1−α)], so the
        confidence level is 1.0 by construction (positive values only,
        the sketch's domain)."""
        from approximatequeryengine_spark.plans.ddsketch import ddsketch_quantiles

        if spec.group_by:
            raise ValueError(
                "method='ddsketch' supports a global PERCENTILE/MEDIAN "
                "only; grouped quantiles use the order-statistic path"
            )
        alpha = 0.01
        rdf = ddsketch_quantiles(self._base_df(spec), spec.column, alpha=alpha, qs=(q,))
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
            computation_time=time.time() - t0,
        )
        res.error_margin = (res.ci_upper - res.ci_lower) / 2.0
        res.confidence_level = 1.0
        return res

    def _passthrough_exact(self, spec: QuerySpec, t0: float) -> ApproxResult:
        """Run the original query text through plain Spark SQL — for
        grammar shapes the dialect recognizes but has no estimator for,
        when no approximation was requested (the pre-widening behavior)."""
        self.catalog.ensure_views()
        df = self.spark.sql(spec.raw)
        return ApproxResult(
            df=df,
            method="spark_sql",
            status=ApproximationStatus.EXACT,
            computation_time=time.time() - t0,
        )

    def _run_grouped_quantile(
        self, spec: QuerySpec, q: float, sample_pct: float | None, approx: bool,
        t0: float, z: float = 1.959963984540054, confidence: float = 0.95,
    ) -> ApproxResult:
        """Grouped MEDIAN/PERCENTILE: per-group order-statistic CI.
        The portable spelling stays plans/quantiles.py::
        grouped_quantile_ci_sql (the oracle); execution uses the
        grouped partition-parallel rank selection."""
        if approx:
            s_spec = self._sampling_spec(
                spec, "uniform_hash", (sample_pct or 10.0) / 100.0
            )
        else:
            s_spec = SamplingSpec(design="none", key=self.catalog.unique_key(spec.table))
        self.catalog.ensure_views()
        # Execute via the grouped partition-parallel rank selection
        # (round 9) — the window text's per-group sort has parallelism
        # equal to the GROUP COUNT, a scale killer for few-group data.
        # The text (grouped_quantile_ci_sql) remains the portable
        # oracle spelling; values identical by construction, including
        # its NULLS FIRST window convention (nulls='first').
        from approximatequeryengine_spark.plans.quantiles import (
            grouped_order_stat_ci,
        )

        rdf = grouped_order_stat_ci(
            self.catalog.table(spec.table),
            spec.column,
            q,
            f"{spec.column}_q",
            spec.group_by,
            s_spec,
            where=spec.where,
            z=z,
            nulls="first",
            order_by_group=True,
        ).select(
            spec.group_by, "n_samples", f"{spec.column}_q",
            "ci_lower", "ci_upper",
        )
        res = ApproxResult(
            df=rdf,
            method="quantile" if approx else "exact",
            fraction=s_spec.realized_fraction(),
            status=ApproximationStatus.STABLE if approx else ApproximationStatus.EXACT,
            computation_time=time.time() - t0,
        )
        res.confidence_level = confidence
        return res

    def _run_stddev(
        self, spec: QuerySpec, sample_pct: float | None, approx: bool, t0: float,
        z: float = 1.959963984540054, confidence: float = 0.95,
    ) -> ApproxResult:
        """STDDEV: sampled standard deviation with the fourth-moment
        CLT CI (plans/variance.py); exact mode = ``stddev_samp`` over
        the full data."""
        if not spec.column:
            raise ValueError("STDDEV requires a column")
        if spec.group_by:
            if not approx:
                # Plain grouped STDDEV is ordinary Spark SQL — don't
                # regress the passthrough the grammar widening captured.
                return self._passthrough_exact(spec, t0)
            from approximatequeryengine_spark.plans.variance import (
                approx_grouped_stddev_ci,
            )

            s_spec = self._sampling_spec(
                spec, "uniform_hash", (sample_pct or 10.0) / 100.0
            )
            rdf = approx_grouped_stddev_ci(
                self._base_df(spec), spec.column, spec.group_by, s_spec, z=z
            )
            res = ApproxResult(
                df=rdf,
                method="moment",
                fraction=s_spec.realized_fraction(),
                status=ApproximationStatus.STABLE,
                computation_time=time.time() - t0,
            )
            res.confidence_level = confidence
            return res
        if not approx:
            rdf = self._base_df(spec).agg(
                F.stddev_samp(F.col(spec.column).cast("double")).alias("stddev")
            )
            res = ApproxResult(df=rdf, method="exact", status=ApproximationStatus.EXACT)
            v = rdf.collect()[0]["stddev"]
            res.value = float(v) if v is not None else None  # n<2 → NULL
            res.computation_time = time.time() - t0
            return res
        from approximatequeryengine_spark.plans.variance import approx_stddev_ci

        s_spec = self._sampling_spec(
            spec, "uniform_hash", (sample_pct or 10.0) / 100.0
        )
        rdf = approx_stddev_ci(self._base_df(spec), spec.column, s_spec, z=z)
        row = rdf.collect()[0]
        res = ApproxResult(
            df=rdf,
            value=row["stddev"],
            ci_lower=row["ci_lower"],
            ci_upper=row["ci_upper"],
            samples_used=int(row["n_samples"]),
            fraction=s_spec.realized_fraction(),
            method="moment",
            status=ApproximationStatus.STABLE,
            computation_time=time.time() - t0,
        )
        res.error_margin = (res.ci_upper - res.ci_lower) / 2.0
        res.confidence_level = min(confidence, heuristic_confidence(res.samples_used))
        return res

    def _run_corr(
        self, spec: QuerySpec, sample_pct: float | None, approx: bool, t0: float,
        z: float = 1.959963984540054, confidence: float = 0.95,
    ) -> ApproxResult:
        """CORR(x, y): sampled Pearson correlation with the Fisher-z
        interval (plans/variance.py); exact mode = ``corr`` over the
        full data."""
        if not spec.column or not spec.column2:
            raise ValueError("CORR requires two columns: CORR(x, y)")
        if spec.group_by:
            if not approx:
                return self._passthrough_exact(spec, t0)
            from approximatequeryengine_spark.plans.variance import (
                approx_grouped_corr_ci,
            )

            s_spec = self._sampling_spec(
                spec, "uniform_hash", (sample_pct or 10.0) / 100.0
            )
            rdf = approx_grouped_corr_ci(
                self._base_df(spec), spec.column, spec.column2,
                spec.group_by, s_spec, z=z,
            )
            res = ApproxResult(
                df=rdf,
                method="fisher_z",
                fraction=s_spec.realized_fraction(),
                status=ApproximationStatus.STABLE,
                computation_time=time.time() - t0,
            )
            res.confidence_level = confidence
            return res
        if not approx:
            rdf = self._base_df(spec).agg(
                F.corr(
                    F.col(spec.column).cast("double"),
                    F.col(spec.column2).cast("double"),
                ).alias("corr")
            )
            res = ApproxResult(df=rdf, method="exact", status=ApproximationStatus.EXACT)
            v = rdf.collect()[0]["corr"]
            res.value = float(v) if v is not None else None  # n<2 / constant arm
            res.computation_time = time.time() - t0
            return res
        from approximatequeryengine_spark.plans.variance import approx_corr_ci

        s_spec = self._sampling_spec(
            spec, "uniform_hash", (sample_pct or 10.0) / 100.0
        )
        rdf = approx_corr_ci(
            self._base_df(spec), spec.column, spec.column2, s_spec, z=z
        )
        row = rdf.collect()[0]
        res = ApproxResult(
            df=rdf,
            value=row["corr"],
            ci_lower=row["ci_lower"],
            ci_upper=row["ci_upper"],
            samples_used=int(row["n_samples"]),
            fraction=s_spec.realized_fraction(),
            method="fisher_z",
            status=ApproximationStatus.STABLE,
            computation_time=time.time() - t0,
        )
        res.error_margin = (res.ci_upper - res.ci_lower) / 2.0
        res.confidence_level = min(confidence, heuristic_confidence(res.samples_used))
        return res

    def _run_count_distinct(
        self,
        spec: QuerySpec,
        sample_pct: float | None,
        method: str | None,
        wants_approx: bool,
        t0: float,
        z: float = 1.959963984540054,
        confidence: float = 0.95,
    ) -> ApproxResult:
        """COUNT(DISTINCT col) routes (round 3): exact ``countDistinct``;
        ``method='hll'`` (default) = the portable HyperLogLog — one full
        scan, constant memory, CI from the sketch's 1.04/√m standard
        error; ``method='chao1'`` (default when ``sample_pct`` is given)
        = sample-based species-richness correction (point estimate, no
        closed-form CI)."""
        if not spec.column:
            raise ValueError("COUNT(DISTINCT ...) requires a column")
        if spec.group_by:
            return self._run_grouped_count_distinct(
                spec, sample_pct, method, wants_approx, t0, confidence
            )
        if not wants_approx:
            rdf = self._base_df(spec).agg(
                F.countDistinct(spec.column).alias("count_distinct")
            )
            res = ApproxResult(
                df=rdf, method="exact", status=ApproximationStatus.EXACT
            )
            row = rdf.collect()[0]
            res.value = float(row["count_distinct"])
            res.samples_used = int(row["count_distinct"])
            res.computation_time = time.time() - t0
            return res

        if method is None:
            method = "chao1" if sample_pct is not None else "hll"
        if method not in ("hll", "chao1", "kmv"):
            raise ValueError(
                f"COUNT(DISTINCT ...) supports method 'hll', 'chao1' or "
                f"'kmv', got {method!r}"
            )

        if method == "kmv":
            from approximatequeryengine_spark.plans.distinct import kmv_distinct_ci

            rdf = kmv_distinct_ci(self._base_df(spec), spec.column, k=256, z=z)
            res = ApproxResult(df=rdf, method="kmv", fraction=1.0)
            row = rdf.collect()[0]
            res.value = float(row["est_distinct"])
            res.ci_lower = float(row["ci_lower"])
            res.ci_upper = float(row["ci_upper"])
            res.error_margin = (res.ci_upper - res.ci_lower) / 2
            res.confidence_level = confidence
            res.samples_used = int(row["k_used"])
            res.computation_time = time.time() - t0
            return res

        if method == "hll":
            from approximatequeryengine_spark.plans.hll import (
                HLL_M,
                _estimate,
                hll_registers,
            )

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
            res.error_margin = z * se * res.value
            res.ci_lower = res.value - res.error_margin
            res.ci_upper = res.value + res.error_margin
            res.confidence_level = confidence
            res.samples_used = int(HLL_M)
            res.computation_time = time.time() - t0
            return res

        res = self._run_chao1(spec, sample_pct, t0, confidence)
        row = res.df.collect()[0]
        res.value = float(row["d_chao1"])
        res.samples_used = int(row["d_obs"])
        return res

    def _run_chao1(
        self,
        spec: QuerySpec,
        sample_pct: float | None,
        t0: float,
        confidence: float,
        group_col: str | None = None,
    ) -> ApproxResult:
        """Shared Chao1 routing (global + grouped): deterministic sample
        via the portable hash, species-richness correction in one SQL
        statement over the catalog's temp views."""
        from approximatequeryengine_spark.plans.distinct import chao1_sql

        fraction = (sample_pct / 100.0) if sample_pct else 0.2
        table_expr = (
            f"(SELECT * FROM {spec.table} WHERE {spec.where})"
            if spec.where
            else spec.table
        )
        s_spec = self._sampling_spec(spec, "uniform_hash", fraction)
        self.catalog.ensure_views()
        rdf = self.spark.sql(
            chao1_sql(table_expr, spec.column, s_spec, group_col=group_col)
        )
        res = ApproxResult(df=rdf, method="chao1", fraction=fraction)
        res.confidence_level = confidence
        res.computation_time = time.time() - t0
        return res

    def _run_grouped_count_distinct(
        self,
        spec: QuerySpec,
        sample_pct: float | None,
        method: str | None,
        wants_approx: bool,
        t0: float,
        confidence: float,
    ) -> ApproxResult:
        """Grouped COUNT(DISTINCT col): exact via ``countDistinct``, or
        per-group Chao1 over the deterministic sample (the grouped HLL
        lives in the workload's ``sketch_portable_hll``; Chao1 is the
        sampled route the dialect exposes)."""
        if not wants_approx:
            rdf = self._base_df(spec).groupBy(spec.group_by).agg(
                F.countDistinct(spec.column).alias("count_distinct")
            )
            res = ApproxResult(
                df=rdf, method="exact", status=ApproximationStatus.EXACT
            )
            res.computation_time = time.time() - t0
            return res
        if method is not None and method != "chao1":
            raise ValueError(
                "grouped COUNT(DISTINCT ...) supports method='chao1' only "
                "(the HLL route is global; grouped sketches live in "
                "sketch_portable_hll)"
            )
        return self._run_chao1(
            spec, sample_pct, t0, confidence, group_col=spec.group_by
        )

    def _run_exact(self, spec: QuerySpec, t0: float) -> ApproxResult:
        agg = AggSpec(func=spec.agg.lower(), column=spec.column)
        sampled = apply_sampling(self._base_df(spec), SamplingSpec(design="none"))
        rdf = approx_aggregate(
            sampled, agg, group_by=[spec.group_by] if spec.group_by else None, with_ci=False
        )
        res = self._finalize(rdf, agg, spec, "exact", 1.0, t0)
        res.status = ApproximationStatus.EXACT
        return res

    def _finalize(
        self,
        rdf: DataFrame,
        agg: AggSpec,
        spec: QuerySpec,
        method: str,
        fraction: float,
        t0: float,
        confidence: float = 0.95,
    ) -> ApproxResult:
        res = ApproxResult(df=rdf, method=method, fraction=fraction)
        if not spec.group_by:
            row = rdf.collect()[0]
            res.value = float(row[agg.name()]) if row[agg.name()] is not None else None
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
            # caps a 0.99 request at line ~209's min().
            res.confidence_level = confidence
        res.computation_time = time.time() - t0
        return res
