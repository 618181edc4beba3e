"""Dialect frontend: the reference's three query syntaxes → QuerySpec.

Covers (SURVEY.md §2.11):
- ``APPROX(SUM(amount))`` embedded marker (``enhanced_aqe_cli.py:83-95``),
- ``APPROX_SUM(amount, 15)`` / ``APPROX_AVG`` / ``APPROX_COUNT`` forms
  (``enhanced_aqe_cli.py:215``),
- plain ``SELECT agg(col) FROM t [WHERE ...] [GROUP BY g]``
  (``src/aqe_backend/parser.cpp:20-76``; the grammar accepts exactly one
  aggregate, one table, a verbatim WHERE, one GROUP BY column).

Anything outside that grammar is not an error here — the engine falls
back to ``spark.sql`` (exact, full Spark SQL surface), which strictly
extends the reference.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass
class QuerySpec:
    agg: str  # SUM | AVG | COUNT | MIN | MAX | MEDIAN | PERCENTILE | STDDEV | CORR
    column: str | None  # None for COUNT(*)
    table: str
    where: str | None = None
    group_by: str | None = None
    approx: bool = False
    sample_pct: float | None = None  # from APPROX_SUM(col, pct)
    raw: str = ""
    extras: dict = field(default_factory=dict)
    distinct: bool = False  # COUNT(DISTINCT col) — round-3 extension
    q: float | None = None  # PERCENTILE(col, q) — round-3 extension
    column2: str | None = None  # CORR(x, y) — round-3 extension


_APPROX_EMBED = re.compile(r"APPROX\s*\(\s*([^()]*\([^()]*\)[^()]*)\s*\)", re.IGNORECASE)
_APPROX_FUNC = re.compile(
    r"APPROX_(SUM|AVG|COUNT|MIN|MAX|MEDIAN|STDDEV)\s*\(\s*([\w\*]+)\s*(?:,\s*([\d.]+)\s*)?\)",
    re.IGNORECASE,
)
# APPROX_PERCENTILE(col, q[, pct]) — q is part of the aggregate, the
# optional third argument is the sample percentage (mirrors APPROX_SUM).
# Deliberately CASE-SENSITIVE, unlike every other dialect marker: Spark
# SQL has a native approx_percentile(col, q[, accuracy]) aggregate whose
# third argument means something entirely different, and function names
# resolve case-insensitively — so only the exact uppercase dialect
# spelling is intercepted; any other casing passes through to Spark's
# builtin untouched.
_APPROX_PCTL = re.compile(
    r"APPROX_PERCENTILE\s*\(\s*([\w.]+)\s*,\s*([\d.]+)\s*(?:,\s*([\d.]+)\s*)?\)"
)


def rewrite_approx(query: str) -> tuple[str, bool, float | None]:
    """Unwrap the APPROX dialect → (clean_query, is_approx, sample_pct)."""
    pct: float | None = None
    is_approx = False

    def _embed(m: re.Match) -> str:
        nonlocal is_approx
        is_approx = True
        return m.group(1)

    query = _APPROX_EMBED.sub(_embed, query)

    def _func(m: re.Match) -> str:
        nonlocal is_approx, pct
        is_approx = True
        if m.group(3) is not None:
            pct = float(m.group(3))
        return f"{m.group(1).upper()}({m.group(2)})"

    query = _APPROX_FUNC.sub(_func, query)

    def _pctl(m: re.Match) -> str:
        nonlocal is_approx, pct
        is_approx = True
        if m.group(3) is not None:
            pct = float(m.group(3))
        return f"PERCENTILE({m.group(1)}, {m.group(2)})"

    query = _APPROX_PCTL.sub(_pctl, query)
    return query, is_approx, pct


_SIMPLE = re.compile(
    r"^\s*SELECT\s+(SUM|AVG|COUNT|MIN|MAX|MEDIAN|PERCENTILE|STDDEV|CORR)\s*"
    r"\(\s*(?:(DISTINCT)\s+)?([\w\*\.]+)\s*(?:,\s*([\w.]+)\s*)?\)\s+"
    r"FROM\s+([\w\.]+)"
    r"(?:\s+WHERE\s+(.*?))?"
    r"(?:\s+GROUP\s+BY\s+([\w\.]+))?"
    r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


_TABLESAMPLE = re.compile(
    r"\s+TABLESAMPLE\s*\(\s*([\d.]+)\s*PERCENT\s*\)", re.IGNORECASE
)


def rewrite_tablesample(query: str) -> tuple[str, float | None]:
    """Strip SQL-standard ``TABLESAMPLE (p PERCENT)`` → (clean, p).

    In this engine TABLESAMPLE on a simple aggregate means *sampled
    estimation*: the deterministic hash design with HT scaling and CIs —
    not Spark's native row sample (which is nondeterministic and
    unscaled). Queries outside the simple grammar keep their
    TABLESAMPLE and fall through to ``spark.sql`` native semantics."""
    pct: float | None = None

    def _strip(m: re.Match) -> str:
        nonlocal pct
        pct = float(m.group(1))
        return ""

    return _TABLESAMPLE.sub(_strip, query, count=1), pct


def parse_query(query: str) -> QuerySpec | None:
    """Parse the reference grammar; None → not simple, use spark.sql."""
    clean, is_approx, pct = rewrite_approx(query)
    clean, ts_pct = rewrite_tablesample(clean)
    if ts_pct is not None:
        is_approx = True
        pct = pct if pct is not None else ts_pct
    m = _SIMPLE.match(clean)
    if not m:
        return None
    agg, distinct, column, q_arg, table, where, group_by = m.groups()
    if distinct and agg.upper() != "COUNT":
        # SUM(DISTINCT ...) etc. are outside the dialect — exact
        # fallback through spark.sql.
        return None
    if q_arg is not None and agg.upper() not in ("PERCENTILE", "CORR"):
        # A second aggregate argument only exists for PERCENTILE(col, q)
        # and CORR(x, y).
        return None
    q: float | None = None
    column2: str | None = None
    if agg.upper() == "PERCENTILE":
        # Spark has a native interpolating percentile() whose name
        # resolves case-insensitively — so, mirroring _APPROX_PCTL, only
        # the exact uppercase dialect spelling is intercepted for plain
        # (non-APPROX) queries; `percentile(col, q)` in any other casing
        # passes through to the builtin untouched. Inside an APPROX(...)
        # wrapper the user has opted into the dialect, any casing routes.
        if not is_approx and agg != "PERCENTILE":
            return None
        # Arguments the dialect can't handle (missing/non-numeric q, or
        # q outside (0, 1) where the order-statistic CI is undefined)
        # are NOT an error: return None so the query falls through to
        # spark.sql — e.g. PERCENTILE(col, 1.0) is valid native Spark.
        if q_arg is None:
            return None
        try:
            q = float(q_arg)
        except ValueError:
            return None
        if not 0.0 < q < 1.0:
            return None
    if agg.upper() == "CORR":
        if q_arg is None:
            raise ValueError("CORR requires two columns: CORR(x, y)")
        column2 = q_arg
    return QuerySpec(
        agg=agg.upper(),
        column=None if column == "*" else column,
        table=table,
        where=where.strip() if where else None,
        group_by=group_by,
        approx=is_approx,
        sample_pct=pct,
        raw=query,
        distinct=bool(distinct),
        q=q,
        column2=column2,
    )


# Method registry (F5, ``enhanced_aqe_cli.py:36-81``): the reference's six
# named strategies plus the later estimators, each with its sampling design
# and description. Which estimator runs, and on which aggregates, is the
# engine's method table (engine.py ``_ESTIMATORS``).
METHODS: dict[str, dict] = {
    "random": {
        "design": "uniform_hash",
        "adaptive": False,
        "description": "Uniform random sampling (deterministic portable hash; "
        "Bernoulli-equivalent). Best for AVG.",
    },
    "clt": {
        "design": "uniform_hash",
        "adaptive": True,
        "description": "CLT-validated adaptive sampling: escalates the sample "
        "fraction until the 95% CI half-width meets the error budget.",
    },
    "block": {
        "design": "block",
        "adaptive": False,
        "description": "Cluster sampling of contiguous key blocks — cheapest "
        "I/O per sampled row (reads whole blocks), higher variance.",
    },
    "adaptive": {
        "design": "uniform_hash",
        "adaptive": True,
        "validators": 3,
        "description": "Adaptive sampling with independent validation samples "
        "and STABLE/DRIFTING classification.",
    },
    "parallel": {
        "design": "uniform_hash",
        "adaptive": False,
        "description": "Grouped aggregation in ONE Spark job (the reference "
        "re-scanned per group; Spark's hash aggregate replaces that).",
    },
    "revolutionary": {
        "design": "systematic",
        "adaptive": False,
        "description": "Systematic (stride) sampling — the memory-stride "
        "family, scaled by realized probability.",
    },
    "bootstrap": {
        "design": "uniform_hash",
        "adaptive": False,
        "description": "One-pass Poissonized bootstrap: CI from 32 "
        "hash-seeded replicate re-weightings (SUM only) — for when no "
        "closed-form variance applies.",
    },
    "pps": {
        "design": "uniform_hash",
        "adaptive": False,
        "description": "Probability-proportional-to-size sampling (SUM "
        "over a positive column only): heavy rows become certainties, "
        "light rows are sampled — tightest CI per sampled row on "
        "skewed data.",
    },
    "hll": {
        "design": "none",
        "adaptive": False,
        "description": "Portable HyperLogLog for COUNT(DISTINCT): one "
        "full scan, constant memory, mergeable registers; CI from the "
        "sketch's 1.04/sqrt(m) standard error.",
    },
    "chao1": {
        "design": "uniform_hash",
        "adaptive": False,
        "description": "Chao1 species-richness correction for "
        "COUNT(DISTINCT) over a deterministic sample — corrects the "
        "sample's unseen-value undercount from its f1/f2 abundance "
        "spectrum (point estimate; no closed-form CI).",
    },
    "kmv": {
        "design": "none",
        "adaptive": False,
        "description": "KMV bottom-k sketch for COUNT(DISTINCT): the "
        "k smallest hash values give D = (k-1)/U_(k) with a "
        "1/sqrt(k-2) relative-error CI; the sketch doubles as a "
        "uniform sample of the distinct values and merges losslessly.",
    },
    "blb": {
        "design": "uniform_hash",
        "adaptive": False,
        "description": "Bag of Little Bootstraps (SUM only): disjoint "
        "hash subsamples + Poisson(1/f) replicate weights — full-size "
        "resample error assessment from a fraction of the data.",
    },
    "outlier": {
        "design": "uniform_hash",
        "adaptive": False,
        "description": "Outlier-indexed SUM (ICDE'01): the top-B values "
        "kept exactly, only the well-behaved remainder sampled — "
        "narrowest CI per sampled row on heavy-tailed data, the "
        "deterministic complement to PPS.",
    },
    "priority": {
        "design": "none",
        "adaptive": False,
        "description": "Priority sampling (Duffield-Lund-Thorup JACM'07, "
        "SUM over a positive column only): top-k by weight/hash "
        "priority, estimate Σ max(w, τ) — near-variance-optimal "
        "weighted sampling; heavy rows enter exactly (point estimate; "
        "no closed-form CI).",
    },
    "poststrat": {
        "design": "uniform_hash",
        "adaptive": False,
        "description": "Post-stratified SUM: uniform sample re-weighted "
        "by exact per-stratum counts (pass stratum_col=) — removes "
        "between-stratum and sample-size variance after the fact, no "
        "stratified design needed.",
    },
    "regaux": {
        "design": "uniform_hash",
        "adaptive": False,
        "description": "Regression estimator for SUM: calibrates the "
        "sample against the exact total of a correlated auxiliary "
        "(pass aux_column=) — CI shrinks by ~sqrt(1-r^2); estimator "
        "quality bought with one cheap auxiliary scan.",
    },
    "twostage": {
        "design": "none",
        "adaptive": False,
        "description": "Two-stage cluster sampling (SUM only): "
        "Bernoulli-sampled key blocks (files, at scale) then rows "
        "within the survivors — ultimate-cluster HT variance, exact "
        "integer arithmetic at f1=1/4 × f2=1/2 (12.5% of rows read, "
        "and whole blocks are pruned before any row is touched).",
    },
    "ddsketch": {
        "design": "none",
        "adaptive": False,
        "description": "DDSketch (VLDB'19) for PERCENTILE/MEDIAN: one "
        "full scan into a geometric bucket table with a GUARANTEED "
        "relative-error bound α — deterministic, mergeable, "
        "heavy-tail-safe; the interval is the α-bound, not a "
        "probabilistic CI.",
    },
}


def select_method(agg: str, total_rows: int, has_group_by: bool) -> str:
    """Auto-selection heuristic (F3, ``enhanced_aqe_cli.py:116-131``)."""
    if has_group_by:
        return "parallel"
    if agg in ("SUM", "COUNT") and total_rows > 100_000:
        return "revolutionary"
    if agg in ("SUM", "COUNT"):
        return "clt"
    if agg == "AVG":
        return "random"
    return "adaptive"
