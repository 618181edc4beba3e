"""APPROX markers inside arbitrary SQL — beyond the reference grammar.

The reference dialect (``frontend/dialect.py``, mirroring
``enhanced_aqe_cli.py:83-95``) accepts one aggregate over one table.
This module lets a user write *plain SQL* — joins, multi-column group
bys, ORDER BY/LIMIT — and mark it approximate with two SQL-standard
pieces of syntax:

- ``FROM fact TABLESAMPLE (p PERCENT) JOIN ...`` says WHICH table to
  sample (and at what rate),
- ``APPROX(SUM(expr)) AS alias`` in the SELECT list says WHAT to
  estimate (SUM/AVG/COUNT, any expression, any number of them).

The rewrite is a sampled-CTE injection: the marked table is replaced by
a derived table filtered to the engine's deterministic hash sample
(``sampling_where_sql`` — the SAME membership predicate every other
estimator uses, NOT Spark's nondeterministic native TABLESAMPLE), and
each APPROX aggregate becomes the Horvitz-Thompson estimate with the
repo's CLT confidence interval, computed from per-group moment columns
in an inner aggregate (the exact formulas of
``plans/estimators.py::moments_sql``).

Round 8 widened the marker surface beyond SUM/AVG/COUNT:

- ``APPROX(SUM(a) / SUM(b)) AS r`` — ratio-of-sums with the
  delta-method CI, riding the same inner aggregate (works across
  joins and GROUP BY).
- ``... STRATIFY BY col`` — post-stratified SUM (plans/poststrat.py
  math): exact per-stratum counts re-weight the sample; global or one
  GROUP BY column.
- ``... USING AUX(expr)`` — regression estimator (plans/regression.py
  math): exact auxiliary total, per-group slopes, expansion fallback
  flagged in ``method``.
- ``APPROX(MEDIAN(x))`` / ``APPROX(PERCENTILE(x, q))`` — sampled
  order statistic with the binomial-rank CI (plans/quantiles.py
  math); values are never rounded (they are actual data values).
- ``APPROX(COUNT(DISTINCT col))`` — the Chao1 species estimator over
  sample frequencies (a sampled distinct count cannot be HT-scaled;
  the f1/f2 correction recovers unseen values).

Round 9 additions:

- ``HAVING f(APPROX(...))`` on the main (moment) path — the predicate
  moves to a WHERE over the outer select whose columns ARE the
  estimates; markers in the predicate are matched to SELECT-list items
  and replaced by their aliases (bare aliases also work).
- ``... WITHIN e PERCENT`` — the error-budget marker: the engine
  routes the shape to the adaptive CLT escalation loop
  (plans/adaptive.py; the reference's early-stop semantics,
  ``custom_bplus_db.cpp:885-1043``) instead of a fixed-fraction text.
  Accepts the INNER star-join shape too: each rung's hash predicate
  references only the fact key, so Catalyst pushes it through the
  join into the fact scan. SUM, AVG and COUNT estimates (each with
  its own margin convention from ``estimators._ci_columns``).
- GLOBAL ``APPROX(MEDIAN/PERCENTILE)`` executes via the
  partition-parallel order-statistic selection
  (plans/quantiles.py::order_stat_marker_ci); the window text this
  module renders remains the DuckDB oracle.
- ``STRATIFY BY`` / ``USING AUX`` now accept the star-join shape the
  plain markers already handled: ``FROM fact TABLESAMPLE (p PERCENT)
  JOIN dim ON ...`` (INNER joins over catalog tables — or leading-CTE
  names). The exact per-stratum counts / auxiliary totals come from
  the UNSAMPLED join; the sample moments from the same join with the
  sample predicate inside a derived fact table, so it prunes the fact
  scan before any join shuffle on BOTH engines.
- Leading CTEs: ``WITH name AS (...) SELECT ... APPROX(...)`` — the
  prefix is split off, the main query rewritten, the prefix
  re-attached (spliced first into a template's own WITH list when one
  renders). Markers must live in the MAIN query; RECURSIVE and
  ``aqe_*``/``__m``/``__h`` CTE names are rejected.
- Multi-column GROUP BY across every marker template (the main moment
  path always had it): estimator/quantile/distinct/WITHIN shapes
  accept ``GROUP BY g1, g2, ...`` (plain columns), rendering numbered
  cell aliases (``aqe_q0..k``) and per-cell folds. The single-group
  quantile marker still routes to the partition-parallel rank
  selection; multi-group quantiles keep the window text — many cells
  mean small per-cell sorts, the window's scale-safe regime.

``exact_twin_sql`` renders the exact query every marker set
approximates (markers stripped, aggregates unwrapped) — the engine's
``compare=True`` diagnostic for this path.

Statistical precondition (the user asserts it by marking the table):
every sampled row joins at most a BOUNDED, sample-independent number of
rows on the other side — true for key-preserving star joins (each fact
row matches exactly one row per dim), where per-row inclusion
probability survives the join unchanged. A fan-out join would need
weight corrections this rewrite does not apply. The certified
``approx_join_revenue_by_nation`` entry pins the estimator's
correctness through such a join; this module makes the same plan
reachable from SQL text.

The rewritten text is PORTABLE (Spark SQL ∩ DuckDB SQL): the driver
oracle runs the identical string, so the two engines compute the same
sample, estimate and CI bit-for-bit (modulo the documented rounding).

Scale note: the sample predicate lands inside the derived table, so
Catalyst pushes it into the fact scan (10× fewer rows BEFORE any join
shuffle); the moment columns ride the one aggregate the query already
needed. No extra passes, no driver-side math.
"""

from __future__ import annotations

import re

from approximatequeryengine_spark.plans.estimators import Z_95, cents_sql
from approximatequeryengine_spark.plans.quantiles import order_stat_ranks_sql
from approximatequeryengine_spark.plans.sampling import (
    SamplingSpec,
    sampling_p_sql,
    sampling_where_sql,
)

_TABLESAMPLE = re.compile(
    r"(\w+)\s+TABLESAMPLE\s*\(\s*([\d.]+)\s*PERCENT\s*\)", re.IGNORECASE
)

# Top-level clause keywords, longest-match-first.
_CLAUSES = ["GROUP BY", "HAVING", "ORDER BY", "LIMIT"]


def _scan_top_level(s: str, word: str, start: int = 0) -> int:
    """Index of ``word`` at paren-depth 0 outside quotes, or -1."""
    depth = 0
    i = start
    n = len(s)
    wl = len(word)
    lower = s.lower()
    wordl = word.lower()
    while i < n:
        c = s[i]
        if c == "'":
            i += 1
            while i < n and s[i] != "'":
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and lower.startswith(wordl, i):
            before_ok = i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_")
            j = i + wl
            after_ok = j >= n or not (s[j].isalnum() or s[j] == "_")
            if before_ok and after_ok:
                return i
        i += 1
    return -1


def _split_commas(s: str) -> list[str]:
    """Split on top-level commas."""
    parts, depth, last = [], 0, 0
    for i, c in enumerate(s):
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[last:i].strip())
            last = i + 1
    parts.append(s[last:].strip())
    return [p for p in parts if p]


_APPROX_ITEM = re.compile(
    r"^APPROX\s*\(\s*(SUM|AVG|COUNT)\s*\((.*)\)\s*\)\s+AS\s+(\w+)$",
    re.IGNORECASE | re.DOTALL,
)

_RATIO_ITEM = re.compile(
    r"^APPROX\s*\(\s*SUM\s*\((.*)\)\s*/\s*SUM\s*\((.*)\)\s*\)\s+AS\s+(\w+)$",
    re.IGNORECASE | re.DOTALL,
)


def _find_approx_spans(text: str) -> list[tuple[int, int, str]]:
    """(start, end, span_text) of every ``APPROX(<balanced>)`` token in
    ``text`` — used to substitute markers inside a HAVING predicate and
    to unwrap them in the exact twin. Empty list on malformed parens."""
    spans = []
    for m in re.finditer(r"\bAPPROX\s*\(", text, re.IGNORECASE):
        depth, k, n = 1, m.end(), len(text)
        while k < n and depth:
            if text[k] == "(":
                depth += 1
            elif text[k] == ")":
                depth -= 1
            k += 1
        if depth:
            return []
        spans.append((m.start(), k, text[m.start() : k]))
    return spans


def _balanced(expr: str) -> bool:
    """Paren-balanced AND depth never dips negative — rejects captures
    like ``a) / SUM(b`` whose open/close COUNTS happen to match."""
    depth = 0
    for c in expr:
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0


_QUANTILE_ITEM = re.compile(
    r"^APPROX\s*\(\s*(MEDIAN|PERCENTILE)\s*\((.*)\)\s*\)\s+AS\s+(\w+)$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_select_item(item: str):
    """-> ('approx', agg, expr, alias) | ('ratio', num, den, alias)
    | ('quantile', expr, q, alias) | ('plain', text)."""
    it = item.strip()
    # Ratio first: the single-aggregate regex would greedily mis-split
    # APPROX(SUM(a) / SUM(b)) into expr = 'a) / SUM(b'.
    m = _RATIO_ITEM.match(it)
    if m:
        num, den = m.group(1).strip(), m.group(2).strip()
        if _balanced(num) and _balanced(den):
            return ("ratio", num, den, m.group(3))
    m = _QUANTILE_ITEM.match(it)
    if m:
        kind, inner, alias = m.group(1).upper(), m.group(2).strip(), m.group(3)
        if _balanced(inner):
            if kind == "MEDIAN":
                return ("quantile", inner, 0.5, alias)
            args = _split_commas(inner)
            if len(args) == 2 and _balanced(args[0]):
                try:
                    q = float(args[1])
                except ValueError:
                    q = None
                if q is not None and 0.0 < q < 1.0:
                    return ("quantile", args[0], q, alias)
        return ("plain", it)
    m = _APPROX_ITEM.match(it)
    if not m:
        return ("plain", it)
    agg, expr, alias = m.group(1).upper(), m.group(2).strip(), m.group(3)
    # The regex is greedy across the two closing parens; verify the
    # captured expr is itself balanced (rejects APPROX(SUM(a)) + 1).
    if not _balanced(expr):
        return ("plain", it)
    dm = re.match(r"DISTINCT\s+(.+)$", expr, re.IGNORECASE | re.DOTALL)
    if dm:
        if agg == "COUNT":
            # COUNT(DISTINCT col) → the Chao1 species estimator, not
            # the HT moment path (which would emit invalid SQL).
            return ("distinct", dm.group(1).strip(), alias)
        return ("plain", it)  # SUM/AVG(DISTINCT) → guidance rejection
    return ("approx", agg, expr, alias)


def _split_cte_prefix(query: str):
    """Split a leading ``WITH name AS (...), ...`` prefix off the main
    SELECT. Returns ``(cte_body, remainder)`` or None when the query
    has no well-formed top-level WITH prefix (RECURSIVE is rejected —
    not portable)."""
    if not re.match(r"WITH\b", query, re.IGNORECASE):
        return None
    if re.match(r"WITH\s+RECURSIVE\b", query, re.IGNORECASE):
        return None
    sel_at = _scan_top_level(query, "SELECT")
    if sel_at <= 0:
        return None
    body = query[len("WITH") : sel_at].strip()
    # The prefix must be a complete CTE list: ends at the closing paren
    # of the last CTE body.
    if not body.endswith(")"):
        return None
    return body, query[sel_at:]


def _cte_names(body: str) -> list[str]:
    """Top-level CTE names of a WITH-clause body (depth-0 ``name AS (``
    occurrences; single-quoted strings skipped)."""
    names, depth, i, n = [], 0, 0, len(body)
    while i < n:
        c = body[i]
        if c == "'":
            i += 1
            while i < n and body[i] != "'":
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0:
            m = re.match(
                r"(\w+)\s*(?:\([\w\s,]*\))?\s+AS\s*\(",
                body[i:],
                re.IGNORECASE,
            )
            if m and (i == 0 or not (body[i - 1].isalnum() or body[i - 1] == "_")):
                names.append(m.group(1))
                i += m.end() - 1  # land ON the body's '(' for depth tracking
                continue
        i += 1
    return names


def rewrite_approx_sql(
    query: str,
    key_by_table: dict[str, str],
    z: float = Z_95,
    round_to: int | None = None,
    _join_tables: frozenset | None = None,
) -> str | None:
    """Rewrite plain SQL with TABLESAMPLE + APPROX() markers into the
    portable sampled-estimate query, or None when the markers or shape
    don't apply (caller falls back to exact ``spark.sql``).

    ``key_by_table`` maps table name → unique-key SQL expression for the
    deterministic hash sample (``catalog.TABLES`` for the fixtures).
    ``round_to`` rounds estimates and CI bounds (both engines).
    """
    # Normalize the usual triple-quoted form: leading/trailing whitespace
    # would otherwise break the SELECT-at-0 shape check below.
    query = query.strip()
    if "APPROX" not in query.upper():
        return None
    # A WITHIN error-budget marker that reached the rewriter is a shape
    # parse_within_marker rejected — copying it into the moment
    # aggregate would emit invalid SQL (`FROM t WITHIN 2 PERCENT`);
    # None here surfaces the clean guidance error instead.
    wat = _scan_top_level(query, "WITHIN")
    if wat != -1 and _WITHIN.match(query, wat):
        return None
    # Leading CTEs (round 9): split the WITH prefix, rewrite the main
    # query, re-attach — splicing into the rewrite's own WITH when a
    # template renders one. The markers must live in the MAIN query: a
    # sampled or APPROX'd CTE body has no well-defined estimator shape
    # (inclusion probabilities would hide behind the CTE boundary).
    if re.match(r"WITH\b", query, re.IGNORECASE):
        split = _split_cte_prefix(query)
        if split is None:
            return None
        cte, rest = split
        if _TABLESAMPLE.search(cte) or re.search(
            r"\bAPPROX\s*\(", cte, re.IGNORECASE
        ):
            return None
        # template-reserved namespace: aqe_* CTE names and the __m/__h
        # derived-table aliases would collide after splicing
        if re.search(r"(?i)\b(aqe_\w+|__m|__h)\b", cte):
            return None
        inner_out = rewrite_approx_sql(
            rest,
            key_by_table,
            z=z,
            round_to=round_to,
            _join_tables=frozenset(_cte_names(cte)),
        )
        if inner_out is None:
            return None
        if re.match(r"WITH\b", inner_out, re.IGNORECASE):
            # merge with a template-rendered WITH (estimator/quantile/
            # distinct texts) — one flat CTE list, user CTEs first.
            return f"WITH {cte},\n{inner_out[len('WITH'):].lstrip()}"
        return f"WITH {cte}\n{inner_out}"
    # Model-assisted estimator markers (STRATIFY BY / USING AUX) take a
    # dedicated template (single table or INNER star join) — they need
    # the FULL table/join (exact counts / auxiliary total) alongside the
    # sample, not the sampled-CTE substitution below.
    marker = _extract_marker(query)
    if marker is None:
        return None
    query, est_kind, est_arg = marker
    if est_kind is not None:
        return _rewrite_estimator_sql(
            query,
            est_kind,
            est_arg,
            key_by_table,
            z=z,
            round_to=round_to,
            join_tables=_join_tables,
        )
    # Order-statistic estimators (single-table): the binomial-rank CI
    # template, not the moment aggregate.
    if re.search(
        r"\bAPPROX\s*\(\s*(MEDIAN|PERCENTILE)\s*\(", query, re.IGNORECASE
    ):
        return _rewrite_quantile_sql(query, key_by_table, z=z)
    # Distinct-count estimation (single-table): the Chao1 species
    # estimator over sample frequencies — a sampled COUNT(DISTINCT)
    # cannot ride the HT moment path (a 10% row sample sees far fewer
    # than 10% of RARE values; Chao1 corrects with the f1/f2 counts).
    if re.search(
        r"\bAPPROX\s*\(\s*COUNT\s*\(\s*DISTINCT\b", query, re.IGNORECASE
    ):
        return _rewrite_distinct_sql(query, key_by_table)
    ts = _TABLESAMPLE.search(query)
    if not ts:
        return None
    table, pct = ts.group(1), float(ts.group(2))
    if table not in key_by_table or not 0.0 < pct <= 100.0:
        return None
    spec = SamplingSpec(
        design="uniform_hash", fraction=pct / 100.0, key=key_by_table[table]
    )
    sampled = f"(SELECT * FROM {table} WHERE {sampling_where_sql(spec)}) {table}"
    query = query[: ts.start()] + sampled + query[ts.end() :]

    # Clause layout (top level only; CTE/set-ops are out of the v1
    # shape and return None → exact fallback). HAVING over APPROX
    # estimates is supported: the predicate moves to a WHERE over the
    # outer select, whose columns ARE the estimates (round 9).
    sel_at = _scan_top_level(query, "SELECT")
    from_at = _scan_top_level(query, "FROM")
    if sel_at != 0 or from_at == -1:
        return None
    select_list = query[sel_at + len("SELECT") : from_at]
    tail_at = len(query)
    tail = ""
    for kw in ("ORDER BY", "LIMIT"):
        at = _scan_top_level(query, kw)
        if at != -1 and at < tail_at:
            tail_at = at
    hav_at = _scan_top_level(query, "HAVING")
    having = None
    if hav_at != -1:
        if hav_at > tail_at:
            return None  # HAVING after ORDER BY/LIMIT is not SQL
        having = query[hav_at + len("HAVING") : tail_at].strip().rstrip(";")
        if not having:
            return None
        body = query[from_at:hav_at].rstrip().rstrip(";")
    else:
        body = query[from_at:tail_at].rstrip().rstrip(";")
    tail = query[tail_at:].rstrip().rstrip(";")

    items = [_parse_select_item(i) for i in _split_commas(select_list)]
    approxes = [i for i in items if i[0] in ("approx", "ratio")]
    if not approxes:
        return None
    # A 'plain' item that still carries an APPROX( token is a marker the
    # v1 shape can't rewrite (e.g. ``APPROX(SUM(x)) + 0 AS r``). Copying
    # it verbatim would fail Spark analysis with an opaque
    # undefined-function error — reject cleanly instead (the caller
    # raises the guidance ValueError).
    for it in items:
        if it[0] == "plain" and re.search(r"\bAPPROX\s*\(", it[1], re.IGNORECASE):
            return None
    # an estimate alias shadowing the CI/readout columns would duplicate
    # an output column name — reject (caller raises the guidance error);
    # n_rows is the inner aggregate's row count and collides there.
    for it in approxes:
        if it[-1].lower() in ("ci_lower", "ci_upper", "n_samples", "n_rows"):
            return None

    p_sql = sampling_p_sql(spec)
    # Dedicated NULL-insensitive row count: n_0 is COUNT of the first
    # aggregate's expression and undercounts sampled rows when that
    # expression has NULLs while others do not.
    inner_cols: list[str] = ["COUNT(1) AS n_rows"]
    outer_cols: list[str] = []
    for it in items:
        if it[0] == "plain":
            inner_cols.append(it[1])
            # project the alias if present, else the expression verbatim
            alias = re.search(r"\bAS\s+(\w+)\s*$", it[1], re.IGNORECASE)
            outer_cols.append(alias.group(1) if alias else it[1])
    single = len(approxes) == 1
    for k, it in enumerate(approxes):
        if it[0] == "ratio":
            # Ratio-of-sums R = Σa/Σb with the delta-method CI — the
            # exact moment set of plans/estimators.py::ratio_estimate_ci,
            # riding the SAME inner aggregate (joins and GROUP BY come
            # for free). Margin NOT integer-rounded: a ratio is O(1),
            # never on a decimal grid (ratio_estimate_ci convention).
            _, num, den, alias = it
            a = f"CAST({num} AS DOUBLE)"
            bb = f"CAST({den} AS DOUBLE)"
            inv2 = f"((1.0 - {p_sql}) / ({p_sql} * {p_sql}))"
            inner_cols += [
                f"SUM({a} / {p_sql}) AS ha_{k}",
                f"SUM({bb} / {p_sql}) AS hb_{k}",
                f"SUM({a}*{a}*{inv2}) AS va_{k}",
                f"SUM({bb}*{bb}*{inv2}) AS vb_{k}",
                f"SUM({a}*{bb}*{inv2}) AS cab_{k}",
            ]
            r_est = f"(ha_{k} / hb_{k})"
            r_var = (
                f"((va_{k} + {r_est}*{r_est}*vb_{k} - 2.0*{r_est}*cab_{k})"
                f" / (hb_{k} * hb_{k}))"
            )
            r_margin = (
                f"CASE WHEN n_rows >= 2 "
                f"THEN {z!r} * sqrt(greatest({r_var}, 0.0)) ELSE 0.0 END"
            )

            def _rr(e: str) -> str:
                return f"round({e}, {round_to})" if round_to is not None else e

            def _den_guard(e: str) -> str:
                # A group whose sampled denominator sums to exactly 0
                # divides by zero — Spark yields NULL but DuckDB (ANSI
                # ieee_floating_point_ops) yields inf/NaN. Guard so both
                # engines return NULL identically (the same-text-is-the-
                # oracle invariant).
                return f"CASE WHEN hb_{k} <> 0 THEN {e} ELSE NULL END"

            lo = "ci_lower" if single else f"{alias}_lo"
            hi = "ci_upper" if single else f"{alias}_hi"
            outer_cols += [
                f"{_den_guard(_rr(r_est))} AS {alias}",
                f"{_den_guard(_rr(f'({r_est}) - ({r_margin})'))} AS {lo}",
                f"{_den_guard(_rr(f'({r_est}) + ({r_margin})'))} AS {hi}",
            ]
            continue
        _, agg, expr, alias = it
        x = "CAST(1 AS DOUBLE)" if expr.strip() == "*" else f"CAST({expr} AS DOUBLE)"
        inner_cols += [
            f"COUNT({x}) AS n_{k}",
            f"SUM({x}) AS s1_{k}",
            f"SUM({x}*{x}) AS s2_{k}",
            f"SUM({x} / {p_sql}) AS ht_{k}",
            f"SUM(1.0 / {p_sql}) AS htn_{k}",
            f"SUM({x}*{x} * (1.0 - {p_sql}) / ({p_sql} * {p_sql})) AS vht_{k}",
            f"AVG({p_sql}) AS pavg_{k}",
        ]
        var = (
            f"CASE WHEN n_{k} >= 2 THEN "
            f"greatest((s2_{k} - s1_{k}*s1_{k}/n_{k}) / (n_{k} - 1.0), 0.0) "
            f"ELSE 0.0 END"
        )
        if agg == "AVG":
            est = f"ht_{k} / htn_{k}"
            margin = f"{z} * sqrt(({var}) / n_{k})"
        elif agg == "SUM":
            est = f"ht_{k}"
            margin = f"{z} * sqrt(greatest(vht_{k}, 0.0))"
        else:  # COUNT
            est = f"htn_{k}"
            margin = f"{z} * sqrt(n_{k} * (1.0 - pavg_{k})) / pavg_{k}"
        margin = f"CASE WHEN n_{k} >= 2 THEN {margin} ELSE 0.0 END"
        if agg != "AVG":  # integer margin — see estimators._ci_columns
            margin = (
                f"CASE WHEN ({margin}) > 0 "
                f"THEN greatest(round({margin}, 0), 1.0) ELSE 0.0 END"
            )

        def _r(e: str) -> str:
            return f"round({e}, {round_to})" if round_to is not None else e

        lo = "ci_lower" if single else f"{alias}_lo"
        hi = "ci_upper" if single else f"{alias}_hi"
        outer_cols += [
            f"{_r(est)} AS {alias}",
            f"{_r(f'({est}) - ({margin})')} AS {lo}",
            f"{_r(f'({est}) + ({margin})')} AS {hi}",
        ]
    outer_cols.append("CAST(n_rows AS BIGINT) AS n_samples")

    where_outer = ""
    if having is not None:
        # HAVING f(APPROX(...)) → a WHERE over the outer select, whose
        # columns ARE the estimates. Each APPROX span in the predicate
        # must match a SELECT-list item (same aggregate, same expression
        # text modulo whitespace) and is replaced by that item's alias;
        # bare alias references pass through untouched. Non-APPROX
        # aggregates in the predicate have no outer column to read —
        # outside the v1 shape (None → guidance error).
        def _norm(s: str) -> str:
            return " ".join(s.split()).lower()

        lookup: dict[tuple, str] = {}
        for it in approxes:
            if it[0] == "approx":
                lookup[("approx", it[1].upper(), _norm(it[2]))] = it[3]
            else:  # ratio
                lookup[("ratio", _norm(it[1]), _norm(it[2]))] = it[3]
        pred = having
        spans = _find_approx_spans(pred)
        if re.search(r"\bAPPROX\s*\(", pred, re.IGNORECASE) and not spans:
            return None  # malformed APPROX parens in the predicate
        for start, end, span in reversed(spans):
            parsed = _parse_select_item(span + " AS __h")
            if parsed[0] == "approx":
                key = ("approx", parsed[1].upper(), _norm(parsed[2]))
            elif parsed[0] == "ratio":
                key = ("ratio", _norm(parsed[1]), _norm(parsed[2]))
            else:
                return None
            alias = lookup.get(key)
            if alias is None:
                return None  # HAVING estimate absent from the SELECT list
            pred = pred[:start] + alias + pred[end:]
        if re.search(r"\b(SUM|AVG|COUNT|MIN|MAX)\s*\(", pred, re.IGNORECASE):
            return None
        where_outer = pred

    inner = f"SELECT {', '.join(inner_cols)} {body}"
    out = f"SELECT {', '.join(outer_cols)} FROM ({inner}) __m"
    if where_outer:
        # One more derived table: Spark's WHERE cannot reference select
        # aliases (DuckDB's can — a silent divergence if inlined).
        out = f"SELECT * FROM ({out}) __h WHERE {where_outer}"
    if tail:
        out = f"{out} {tail}"
    return out


# ---------------------------------------------------------------------------
# Model-assisted estimators from plain SQL text (round 8): STRATIFY BY
# routes to the post-stratified estimator (plans/poststrat.py), USING
# AUX to the regression (auxiliary-total) estimator (plans/
# regression.py). The rendered text is PORTABLE (Spark ∩ DuckDB) and
# bit-deterministic: all sample moments are exact integers on the cents
# grid (BIGINT sums; DECIMAL(18,0) products whose sums agree across
# engines), every double step is the same textual expression over the
# same exact operands, and cross-stratum folds are order-pinned by a
# cumulative window (the poststrat_sum_ci_sql discipline).
# ---------------------------------------------------------------------------

_STRATIFY = re.compile(r"STRATIFY\s+BY\s+(\w+)", re.IGNORECASE)
_USING_AUX = re.compile(r"USING\s+AUX\s*\(", re.IGNORECASE)


def _extract_marker(query: str):
    """Detect + remove an estimator marker. Returns (query', kind, arg)
    with kind in {None, 'poststrat', 'regaux'}; None for a malformed
    marker (caller falls back → guidance error)."""
    at = _scan_top_level(query, "STRATIFY")
    if at != -1:
        m = _STRATIFY.match(query, at)
        if not m:
            return None
        return (query[: at] + query[m.end() :]).strip(), "poststrat", m.group(1)
    # USING is also join syntax (JOIN t USING (k)) — only a USING that
    # is followed by AUX is the estimator marker; other USINGs pass
    # through to the main rewrite untouched.
    at = 0
    while True:
        at = _scan_top_level(query, "USING", at)
        if at == -1:
            return query, None, None
        if re.match(r"USING\s+AUX\b", query[at:], re.IGNORECASE):
            break
        at += len("USING")
    m = _USING_AUX.match(query, at)
    if m:
        depth, k, n = 1, m.end(), len(query)
        while k < n and depth:
            if query[k] == "(":
                depth += 1
            elif query[k] == ")":
                depth -= 1
            k += 1
        if depth:
            return None
        arg = query[m.end() : k - 1].strip()
        if not arg:
            return None
        return (query[:at] + query[k:]).strip(), "regaux", arg
    return None  # USING AUX without the parenthesized argument


# Output columns the templates add next to the user's alias — an alias
# that shadows one would duplicate a column name in the result.
_RESERVED_ALIASES = frozenset(
    {
        "ci_lower", "ci_upper", "n_samples", "n_strata", "missing_strata",
        "thin_strata", "slope", "method", "n_psus", "n_rows",
        # Chao1 distinct-path readout columns (_rewrite_distinct_sql).
        "d_obs", "f1", "f2",
    }
)


_SINGLE_TABLE = re.compile(
    r"^\s*(\w+)\s+TABLESAMPLE\s*\(\s*([\d.]+)\s*PERCENT\s*\)\s*$",
    re.IGNORECASE,
)

_SINGLE_TABLE_OPT = re.compile(
    r"^\s*(\w+)(?:\s+TABLESAMPLE\s*\(\s*([\d.]+)\s*PERCENT\s*\))?\s*$",
    re.IGNORECASE,
)


def _parse_single_table_shape(
    query: str, key_by_table: dict[str, str], require_sample: bool = True
):
    """Parse the restricted single-table shape ``SELECT <items> FROM t
    TABLESAMPLE (p PERCENT) [WHERE w] [GROUP BY g1, g2, ...] [ORDER
    BY .../LIMIT ...]``. Returns (table, pct, where, groups, tail,
    items) — ``groups`` a (possibly empty) list of plain grouping
    columns — or None when the query is a join / derived table /
    HAVING, shapes the single-table estimator templates don't cover.
    With ``require_sample=False`` the TABLESAMPLE is optional (pct is
    None when absent) — the WITHIN error-budget marker picks its own
    starting fraction from the budget ladder."""
    if _scan_top_level(query, "HAVING") != -1:
        return None
    sel_at = _scan_top_level(query, "SELECT")
    from_at = _scan_top_level(query, "FROM")
    if sel_at != 0 or from_at == -1:
        return None
    # Clause boundaries after FROM.
    bounds = {}
    for kw in ("WHERE", "GROUP BY", "ORDER BY", "LIMIT"):
        at = _scan_top_level(query, kw, from_at)
        if at != -1:
            bounds[kw] = at
    end = len(query)
    tail_at = min(
        [b for k, b in bounds.items() if k in ("ORDER BY", "LIMIT")] or [end]
    )
    from_end = min([b for b in bounds.values()] or [end])
    pat = _SINGLE_TABLE if require_sample else _SINGLE_TABLE_OPT
    m = pat.match(query[from_at + len("FROM") : from_end])
    if not m:
        return None  # join / derived table → not the estimator shape
    table = m.group(1)
    pct = float(m.group(2)) if m.group(2) is not None else None
    if table not in key_by_table:
        return None
    if pct is not None and not 0.0 < pct <= 100.0:
        return None
    where = None
    if "WHERE" in bounds:
        w_end = min(
            [b for k, b in bounds.items() if b > bounds["WHERE"]] or [end]
        )
        where = query[bounds["WHERE"] + len("WHERE") : w_end].strip()
        if not where:
            return None
    groups: list[str] = []
    if "GROUP BY" in bounds:
        g_end = min(
            [b for k, b in bounds.items() if b > bounds["GROUP BY"]] or [end]
        )
        gtxt = query[bounds["GROUP BY"] + len("GROUP BY") : g_end].strip()
        groups = [g.strip() for g in gtxt.split(",")]
        if not groups or any(not re.fullmatch(r"\w+", g) for g in groups):
            return None  # plain grouping columns only in v1
    tail = query[tail_at:].rstrip().rstrip(";") if tail_at < end else ""
    items = [
        _parse_select_item(i)
        for i in _split_commas(query[sel_at + len("SELECT") : from_at])
    ]
    for it in items:  # alias shadowing a template output column
        if it[0] != "plain" and it[-1].lower() in _RESERVED_ALIASES:
            return None
    return table, pct, where, groups, tail, items


_OUTER_JOIN_WORDS = re.compile(
    r"\b(LEFT|RIGHT|FULL|CROSS|OUTER|LATERAL|SEMI|ANTI)\b", re.IGNORECASE
)


def _parse_estimator_from_shape(
    query: str,
    key_by_table: dict[str, str],
    join_tables: frozenset | None = None,
    require_sample: bool = True,
):
    """Clause layout for the estimator templates (round 9: star joins
    accepted): ``SELECT <items> FROM fact TABLESAMPLE (p PERCENT)
    [JOIN dim ON cond]* [WHERE w] [GROUP BY g1, g2, ...] [ORDER
    BY/LIMIT]``.

    Returns ``(fact, pct, join_txt, where, groups, tail, items)`` or
    None. Only plain INNER ``JOIN dim ON ...`` segments over catalog
    tables are accepted — outer/cross joins null-extend or fan out, so
    per-row inclusion probability (and per-stratum population counts)
    would not survive the join. The statistical precondition is the
    module-level one: key-preserving joins (each sampled fact row joins
    exactly one row per dim)."""
    if _scan_top_level(query, "HAVING") != -1:
        return None
    sel_at = _scan_top_level(query, "SELECT")
    from_at = _scan_top_level(query, "FROM")
    if sel_at != 0 or from_at == -1:
        return None
    bounds = {}
    for kw in ("WHERE", "GROUP BY", "ORDER BY", "LIMIT"):
        at = _scan_top_level(query, kw, from_at)
        if at != -1:
            bounds[kw] = at
    end = len(query)
    tail_at = min(
        [b for k, b in bounds.items() if k in ("ORDER BY", "LIMIT")] or [end]
    )
    from_end = min([b for b in bounds.values()] or [end])
    from_txt = query[from_at + len("FROM") : from_end].strip()
    ts = _TABLESAMPLE.match(from_txt)
    if ts:
        fact, pct = ts.group(1), float(ts.group(2))
        if not 0.0 < pct <= 100.0:
            return None
        join_txt = from_txt[ts.end() :].strip()
    elif require_sample:
        return None
    else:  # WITHIN budget picks its own starting fraction
        m = re.match(r"(\w+)\b", from_txt)
        if not m:
            return None
        fact, pct = m.group(1), None
        join_txt = from_txt[m.end() :].strip()
    if fact not in key_by_table:
        return None
    if join_txt:
        if _OUTER_JOIN_WORDS.search(join_txt):
            return None
        # every segment must be `JOIN <known-table> ON <cond>`
        segs = re.split(r"(?i)\bJOIN\b", join_txt)
        if segs[0].strip():
            return None  # text between TABLESAMPLE and the first JOIN
        allowed = set(key_by_table) | set(join_tables or ())
        for seg in segs[1:]:
            m = re.match(r"\s*(\w+)\s+ON\s+(.+)$", seg, re.DOTALL)
            if not m or m.group(1) not in allowed:
                return None
    where = None
    if "WHERE" in bounds:
        w_end = min(
            [b for k, b in bounds.items() if b > bounds["WHERE"]] or [end]
        )
        where = query[bounds["WHERE"] + len("WHERE") : w_end].strip()
        if not where:
            return None
    groups: list[str] = []
    if "GROUP BY" in bounds:
        g_end = min(
            [b for k, b in bounds.items() if b > bounds["GROUP BY"]] or [end]
        )
        gtxt = query[bounds["GROUP BY"] + len("GROUP BY") : g_end].strip()
        groups = [g.strip() for g in gtxt.split(",")]
        if not groups or any(not re.fullmatch(r"\w+", g) for g in groups):
            return None  # plain grouping columns only in v1
    tail = query[tail_at:].rstrip().rstrip(";") if tail_at < end else ""
    items = [
        _parse_select_item(i)
        for i in _split_commas(query[sel_at + len("SELECT") : from_at])
    ]
    for it in items:  # alias shadowing a template output column
        if it[0] != "plain" and it[-1].lower() in _RESERVED_ALIASES:
            return None
    return fact, pct, join_txt, where, groups, tail, items


def _split_having(query: str):
    """Cut a top-level HAVING clause out of ``query``. Returns
    ``(query_without_having, predicate_or_None)``, or None when a
    HAVING keyword is present but the predicate is empty/misplaced."""
    at = _scan_top_level(query, "HAVING")
    if at == -1:
        return query, None
    end = len(query)
    for kw in ("ORDER BY", "LIMIT"):
        k = _scan_top_level(query, kw, at)
        if k != -1:
            end = min(end, k)
    pred = query[at + len("HAVING") : end].strip()
    if not pred:
        return None
    return (query[:at] + " " + query[end:]).strip(), pred


def _map_having_predicate(pred: str, items: list) -> str | None:
    """Rewrite a HAVING predicate over APPROX markers into a predicate
    over the template's OUTPUT columns: each APPROX span must match a
    SELECT-list item (same kind + expression text modulo whitespace)
    and is replaced by that item's alias; bare aliases and template
    readout columns pass through. Plain aggregates have no output
    column to read → None (guidance error)."""

    def _norm(s: str) -> str:
        return " ".join(s.split()).lower()

    lookup: dict[tuple, str] = {}
    for it in items:
        if it[0] == "approx":
            lookup[("approx", it[1].upper(), _norm(it[2]))] = it[3]
        elif it[0] == "ratio":
            lookup[("ratio", _norm(it[1]), _norm(it[2]))] = it[3]
        elif it[0] == "quantile":
            lookup[("quantile", _norm(it[1]), repr(it[2]))] = it[3]
        elif it[0] == "distinct":
            lookup[("distinct", _norm(it[1]))] = it[2]
    spans = _find_approx_spans(pred)
    if re.search(r"\bAPPROX\s*\(", pred, re.IGNORECASE) and not spans:
        return None  # malformed APPROX parens in the predicate
    for start, end, span in reversed(spans):
        parsed = _parse_select_item(span + " AS __h")
        if parsed[0] == "approx":
            key = ("approx", parsed[1].upper(), _norm(parsed[2]))
        elif parsed[0] == "ratio":
            key = ("ratio", _norm(parsed[1]), _norm(parsed[2]))
        elif parsed[0] == "quantile":
            key = ("quantile", _norm(parsed[1]), repr(parsed[2]))
        elif parsed[0] == "distinct":
            key = ("distinct", _norm(parsed[1]))
        else:
            return None
        alias = lookup.get(key)
        if alias is None:
            return None  # HAVING estimate absent from the SELECT list
        pred = pred[:start] + alias + pred[end:]
    if re.search(r"\b(SUM|AVG|COUNT|MIN|MAX)\s*\(", pred, re.IGNORECASE):
        return None
    return pred


def _rewrite_estimator_sql(
    query: str,
    kind: str,
    arg: str,
    key_by_table: dict[str, str],
    z: float,
    round_to: int | None,
    join_tables: frozenset | None = None,
) -> str | None:
    """Render the portable model-assisted estimator SQL for ``SELECT
    [g,] APPROX(SUM(expr)) AS alias FROM t TABLESAMPLE (p PERCENT)
    [JOIN dim ON ...]* [WHERE w] [GROUP BY g] <marker> [ORDER BY ...]``
    — outer joins and multiple aggregates are outside the estimator
    templates; ``HAVING f(APPROX(...))`` becomes a WHERE over the
    template's output columns (round 9). The fact scan carries the
    sample predicate as a derived table (Catalyst pushes it into the
    scan before any join shuffle); the exact per-stratum counts /
    auxiliary totals come from the UNSAMPLED join — well-defined
    because key-preserving joins keep one output row per fact row."""
    hv = _split_having(query)
    if hv is None:
        return None
    query, having = hv
    shape = _parse_estimator_from_shape(query, key_by_table, join_tables)
    if shape is None:
        return None
    table, pct, join_txt, where, groups, tail, items = shape
    approxes = [i for i in items if i[0] == "approx"]
    plains = [i[1] for i in items if i[0] == "plain"]
    if len(approxes) != 1 or len(items) != len(approxes) + len(plains):
        return None  # exactly one SUM estimate; no ratio items here
    _, agg, expr, alias = approxes[0]
    if agg != "SUM":
        return None  # poststrat/regaux estimate a TOTAL
    if [p.strip() for p in plains] != groups:
        return None  # select list = group keys + the one estimate
    if kind == "poststrat" and arg.lower() in (g.lower() for g in groups):
        raise ValueError(
            "STRATIFY BY column must differ from the GROUP BY column "
            "(a stratum that IS the output group adds no information)"
        )
    spec = SamplingSpec(
        design="uniform_hash", fraction=pct / 100.0, key=key_by_table[table]
    )
    samp = sampling_where_sql(spec)
    joins = f" {join_txt}" if join_txt else ""
    from_exact = f"{table}{joins}"
    # The sample predicate lives INSIDE a derived fact table so it
    # textually (and in Catalyst, physically) applies before the join.
    from_sampled = f"(SELECT * FROM {table} WHERE {samp}) {table}{joins}"
    rt = 3 if round_to is None else round_to
    if kind == "poststrat":
        sql = _poststrat_text(
            from_exact, from_sampled, expr, alias, groups, arg, where, z, rt
        )
    else:
        sql = _regaux_text(
            from_exact, from_sampled, expr, alias, groups, arg, where, z, rt
        )
    if having is not None:
        pred = _map_having_predicate(having, items)
        if pred is None:
            return None
        sql = f"SELECT * FROM ({sql}) aqe_h WHERE {pred}"
    return f"{sql} {tail}" if tail else sql


def _rewrite_distinct_sql(
    query: str,
    key_by_table: dict[str, str],
) -> str | None:
    """``APPROX(COUNT(DISTINCT col))`` over the single-table
    TABLESAMPLE shape → the Chao1 species estimator (the
    plans/distinct.py::chao1_sql math, honoring the user's alias and
    WHERE) as one portable text: D̂ = d_obs + f1²/(2·f2), the
    abundance-based correction for the values the sample never saw.
    NULLs are excluded (COUNT(DISTINCT) semantics). Output:
    (group,) alias, d_obs, f1, f2. ``HAVING`` over the estimate
    becomes a WHERE over the output columns (round 9)."""
    hv = _split_having(query)
    if hv is None:
        return None
    query, having = hv
    shape = _parse_single_table_shape(query, key_by_table)
    if shape is None:
        return None
    table, pct, where, groups, tail, items = shape
    dists = [i for i in items if i[0] == "distinct"]
    plains = [i[1] for i in items if i[0] == "plain"]
    if len(dists) != 1 or len(items) != len(dists) + len(plains):
        return None
    _, col, alias = dists[0]
    if [p.strip() for p in plains] != groups:
        return None
    spec = SamplingSpec(
        design="uniform_hash", fraction=pct / 100.0, key=key_by_table[table]
    )
    w = sampling_where_sql(spec)
    if where:
        w = f"({where}) AND {w}"
    w = f"{w} AND ({col}) IS NOT NULL"
    gs = [f"aqe_g{i}" for i in range(len(groups))]
    g_sel = "".join(f"{g} AS {a}, " for g, a in zip(groups, gs))
    g_key = "".join(f"{a}, " for a in gs)
    g_out = "".join(f"{a} AS {g}, " for g, a in zip(groups, gs))
    g_grp = f" GROUP BY {', '.join(gs)}" if groups else ""
    f1 = "sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)"
    f2 = "sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)"
    chao = (
        f"CASE WHEN {f2} > 0 THEN ({f1} * {f1}) / (2.0 * {f2}) "
        f"ELSE ({f1} * ({f1} - 1)) / 2.0 END"
    )
    sql = f"""
WITH aqe_s AS (
  SELECT {g_sel}{col} AS aqe_v FROM {table} WHERE {w}
),
aqe_f AS (
  SELECT {g_key}aqe_v, count(*) AS c FROM aqe_s GROUP BY {g_key}aqe_v
)
SELECT {g_out}round(CAST(count(*) + {chao} AS DOUBLE), 2) AS {alias},
       CAST(count(*) AS BIGINT) AS d_obs,
       CAST({f1} AS BIGINT) AS f1, CAST({f2} AS BIGINT) AS f2
FROM aqe_f{g_grp}
""".strip()
    if having is not None:
        pred = _map_having_predicate(having, items)
        if pred is None:
            return None
        sql = f"SELECT * FROM ({sql}) aqe_h WHERE {pred}"
    return f"{sql} {tail}" if tail else sql


def exact_twin_sql(query: str) -> str | None:
    """The EXACT query the APPROX markers approximate: TABLESAMPLE and
    the estimator markers removed, each APPROX item unwrapped to its
    plain aggregate (ratio → SUM/SUM, MEDIAN/PERCENTILE →
    ``percentile()``). Spark-side only — ``AQEngine.run(compare=True)``
    runs this twin to report actual error and speedup for the
    sql_rewrite path (the reference's F6 exact-vs-approx comparison,
    extended to the full marker surface); it never goes to the
    oracle."""
    query = query.strip()
    if re.match(r"WITH\b", query, re.IGNORECASE):
        split = _split_cte_prefix(query)
        if split is None:
            return None
        cte, rest = split
        inner = exact_twin_sql(rest)
        return f"WITH {cte}\n{inner}" if inner is not None else None
    wat = _scan_top_level(query, "WITHIN")
    if wat != -1:  # WITHIN e PERCENT — the twin is the plain aggregate
        wm = _WITHIN.match(query, wat)
        if wm:
            query = (query[:wat] + query[wm.end() :]).strip()
    marker = _extract_marker(query)
    if marker is None:
        return None
    query, _, _ = marker
    query = _TABLESAMPLE.sub(r"\1", query)
    sel_at = _scan_top_level(query, "SELECT")
    from_at = _scan_top_level(query, "FROM")
    if sel_at != 0 or from_at == -1:
        return None
    out = []
    for raw in _split_commas(query[sel_at + len("SELECT") : from_at]):
        it = _parse_select_item(raw)
        if it[0] == "approx":
            _, agg, expr, alias = it
            out.append(f"{agg}({expr}) AS {alias}")
        elif it[0] == "ratio":
            _, num, den, alias = it
            out.append(f"SUM({num}) / SUM({den}) AS {alias}")
        elif it[0] == "quantile":
            _, expr, q, alias = it
            out.append(f"percentile({expr}, {q!r}) AS {alias}")
        elif it[0] == "distinct":
            _, col, alias = it
            out.append(f"COUNT(DISTINCT {col}) AS {alias}")
        else:
            out.append(it[1])
    rest = query[from_at:]
    # APPROX markers inside HAVING unwrap to their plain aggregates —
    # standard SQL evaluates aggregates in HAVING directly.
    for start, end, span in reversed(_find_approx_spans(rest)):
        parsed = _parse_select_item(span + " AS __h")
        if parsed[0] == "approx":
            repl = f"{parsed[1]}({parsed[2]})"
        elif parsed[0] == "ratio":
            repl = f"SUM({parsed[1]}) / SUM({parsed[2]})"
        elif parsed[0] == "quantile":
            repl = f"percentile({parsed[1]}, {parsed[2]!r})"
        elif parsed[0] == "distinct":
            repl = f"COUNT(DISTINCT {parsed[1]})"
        else:
            return None
        rest = rest[:start] + repl + rest[end:]
    return f"SELECT {', '.join(out)} {rest}"


_WITHIN = re.compile(r"WITHIN\s+([\d.]+)\s+PERCENT", re.IGNORECASE)


def parse_within_marker(
    query: str,
    key_by_table: dict[str, str],
):
    """Error-budget marker — the reference's headline CLT early-stop
    (``core/custom_bplus_db.cpp:885-1043``, error ladder
    ``enhanced_aqe_cli.py:243-250``) reachable from plain SQL:

        SELECT [g1, g2, ...,] APPROX(SUM|AVG|COUNT(expr)) AS alias
        FROM t [TABLESAMPLE (p PERCENT)] [JOIN dim ON ...]*
        [WHERE w] [GROUP BY g1, g2, ...] WITHIN e PERCENT

    Returns ``(table, agg, expr, alias, where, groups,
    start_pct_or_None, error_pct, join_txt, order_by_groups,
    cte_prefix)`` — ``agg`` in {'SUM','AVG','COUNT'}, ``groups`` a
    (possibly empty) list, ``order_by_groups`` True when a bare
    ``ORDER BY <group prefix>`` tail was present, ``cte_prefix`` the
    leading WITH-clause body (or None) whose names may serve as join
    targets — or None. The engine routes the shape to
    plans/adaptive.py's escalation loop (fraction doubles until the
    realized CI half-width is within e% of the estimate — per WORST
    group when grouped); TABLESAMPLE, when present, sets the ladder's
    starting fraction, otherwise the budget picks it (error_ladder).
    Round 9: INNER star joins accepted (the sample predicate hashes
    the FACT key, so Catalyst pushes each rung's filter through the
    join to the fact scan — key-preserving precondition as for the
    other markers). ORDER BY / LIMIT tails and non-SUM aggregates are
    outside the v1 shape. The terminal rung is a pure function of the
    data, so a DuckDB oracle re-derives it rung by rung (the
    adaptive_clt_sum certification pattern)."""
    query = query.strip()
    at = _scan_top_level(query, "WITHIN")
    if at == -1:
        return None
    m = _WITHIN.match(query, at)
    if not m:
        return None  # malformed marker → caller's guidance error
    error_pct = float(m.group(1))
    if not 0.0 < error_pct < 100.0:
        return None
    stripped = (query[: at] + query[m.end() :]).strip()
    cte = None
    join_tables: frozenset | None = None
    if re.match(r"WITH\b", stripped, re.IGNORECASE):
        split = _split_cte_prefix(stripped)
        if split is None:
            return None
        cte, stripped = split
        if (
            _TABLESAMPLE.search(cte)
            or re.search(r"\bAPPROX\s*\(", cte, re.IGNORECASE)
            or re.search(r"(?i)\baqe_\w+\b", cte)
        ):
            return None
        join_tables = frozenset(_cte_names(cte))
    shape = _parse_estimator_from_shape(
        stripped, key_by_table, join_tables, require_sample=False
    )
    if shape is None:
        return None
    table, pct, join_txt, where, groups, tail, items = shape
    order_by_groups = False
    if tail:
        # only a bare ORDER BY over (a prefix of) the group columns —
        # ordering by the estimate would impose a post-hoc readout
        # order the adaptive frame doesn't define.
        m2 = re.fullmatch(
            r"ORDER\s+BY\s+(\w+(?:\s*,\s*\w+)*)", tail.strip(), re.IGNORECASE
        )
        if not m2 or not groups:
            return None
        asked = [c.strip().lower() for c in m2.group(1).split(",")]
        if asked != [g.lower() for g in groups][: len(asked)]:
            return None
        order_by_groups = True
    approxes = [i for i in items if i[0] == "approx"]
    plains = [i[1] for i in items if i[0] == "plain"]
    if len(approxes) != 1 or len(items) != len(approxes) + len(plains):
        return None
    _, agg, expr, alias = approxes[0]
    if agg not in ("SUM", "AVG", "COUNT"):
        return None  # the CLT stop rule covers the moment estimators
    if [p.strip() for p in plains] != groups:
        return None
    return (
        table, agg, expr, alias, where, groups, pct, error_pct, join_txt,
        order_by_groups, cte,
    )


def parse_global_quantile_marker(
    query: str,
    key_by_table: dict[str, str],
):
    """Structured form of the GLOBAL (no GROUP BY, no tail) quantile
    marker: ``SELECT APPROX(MEDIAN(expr)|PERCENTILE(expr, q)) AS alias
    FROM t TABLESAMPLE (p PERCENT) [WHERE w]``. Returns
    ``(table, expr, q, alias, where, spec)`` or None.

    The engine executes this shape through the partition-parallel
    order-statistic selection (plans/quantiles.py::order_stat_marker_ci
    — no single-task whole-sample sort) while the window text from
    ``_rewrite_quantile_sql`` stays the DuckDB oracle; the two pick the
    same values by construction. The GROUPED shape routes through
    ``parse_grouped_quantile_marker`` → ``grouped_order_stat_ci``."""
    query = query.strip()
    if not re.search(
        r"\bAPPROX\s*\(\s*(MEDIAN|PERCENTILE)\s*\(", query, re.IGNORECASE
    ):
        return None
    marker = _extract_marker(query)
    if marker is None or marker[1] is not None:
        return None
    shape = _parse_single_table_shape(query, key_by_table)
    if shape is None:
        return None
    table, pct, where, groups, tail, items = shape
    if groups or tail:
        return None
    quants = [i for i in items if i[0] == "quantile"]
    plains = [i[1] for i in items if i[0] == "plain"]
    if len(quants) != 1 or plains:
        return None
    _, expr, q, alias = quants[0]
    spec = SamplingSpec(
        design="uniform_hash", fraction=pct / 100.0, key=key_by_table[table]
    )
    return table, expr, q, alias, where, spec


def parse_grouped_quantile_marker(
    query: str,
    key_by_table: dict[str, str],
):
    """Structured form of the GROUPED quantile marker: ``SELECT g,
    APPROX(MEDIAN(expr)|PERCENTILE(expr, q)) AS alias FROM t
    TABLESAMPLE (p PERCENT) [WHERE w] GROUP BY g [ORDER BY g]``.
    Returns ``(table, expr, q, alias, where, group, spec, ordered)``
    or None.

    Round 9: the engine executes this shape through the grouped
    partition-parallel rank selection (plans/quantiles.py::
    grouped_order_stat_ci) — the window text's sort parallelism equals
    the GROUP COUNT (three groups ⇒ three tasks each sorting a third
    of the sample), so it is NOT the plan to run at scale. The window
    text stays the DuckDB oracle; values identical by construction.
    Only a bare ``ORDER BY <group>`` tail is accepted (anything else →
    None → the text runs as-is)."""
    query = query.strip()
    if not re.search(
        r"\bAPPROX\s*\(\s*(MEDIAN|PERCENTILE)\s*\(", query, re.IGNORECASE
    ):
        return None
    marker = _extract_marker(query)
    if marker is None or marker[1] is not None:
        return None
    shape = _parse_single_table_shape(query, key_by_table)
    if shape is None:
        return None
    table, pct, where, groups, tail, items = shape
    if len(groups) != 1:
        # multi-column groups keep the window text on both engines —
        # many group cells mean the per-cell sorts are small and the
        # window's parallelism is the cell count (scale-safe regime).
        return None
    group = groups[0]
    ordered = False
    if tail:
        m = re.fullmatch(r"ORDER\s+BY\s+(\w+)", tail.strip(), re.IGNORECASE)
        if not m or m.group(1).lower() != group.lower():
            return None
        ordered = True
    quants = [i for i in items if i[0] == "quantile"]
    plains = [i[1] for i in items if i[0] == "plain"]
    if len(quants) != 1 or [p.strip() for p in plains] != [group]:
        return None
    _, expr, q, alias = quants[0]
    spec = SamplingSpec(
        design="uniform_hash", fraction=pct / 100.0, key=key_by_table[table]
    )
    return table, expr, q, alias, where, group, spec, ordered


def _rewrite_quantile_sql(
    query: str,
    key_by_table: dict[str, str],
    z: float,
) -> str | None:
    """``APPROX(MEDIAN(expr))`` / ``APPROX(PERCENTILE(expr, q))`` over
    the single-table TABLESAMPLE shape → the sampled order-statistic
    estimate with the binomial-rank CI (plans/quantiles.py semantics)
    as ONE portable text. No rounding: order statistics are actual data
    values, identical in both engines by construction. The rank
    arithmetic (ceil/floor over q·n) uses the SQL literal q, which BOTH
    engines type as DECIMAL — exact, so the chosen ranks can never
    disagree. ``HAVING f(APPROX(MEDIAN/PERCENTILE(...)))`` becomes a
    WHERE over the output columns (round 9)."""
    hv = _split_having(query)
    if hv is None:
        return None
    query, having = hv
    shape = _parse_single_table_shape(query, key_by_table)
    if shape is None:
        return None
    table, pct, where, groups, tail, items = shape
    quants = [i for i in items if i[0] == "quantile"]
    plains = [i[1] for i in items if i[0] == "plain"]
    if len(quants) != 1 or len(items) != len(quants) + len(plains):
        return None
    _, expr, q, alias = quants[0]
    if [p.strip() for p in plains] != groups:
        return None
    spec = SamplingSpec(
        design="uniform_hash", fraction=pct / 100.0, key=key_by_table[table]
    )
    x = f"CAST({expr} AS DOUBLE)"
    key = f"CAST({spec.key} AS BIGINT)"
    w = sampling_where_sql(spec)
    if where:
        w = f"({where}) AND {w}"
    # A NULL measurement has no rank, and the engines order NULLs on
    # opposite ends of a sort — exclude in the one shared text.
    w = f"{w} AND ({x}) IS NOT NULL"
    lo, point, hi = order_stat_ranks_sql(q, z)
    gs = [f"aqe_g{i}" for i in range(len(groups))]
    g_sel = "".join(f"{g} AS {a}, " for g, a in zip(groups, gs))
    g_cols = "".join(f"{a}, " for a in gs)
    part = f"PARTITION BY {', '.join(gs)} " if groups else ""
    over_n = f"OVER (PARTITION BY {', '.join(gs)})" if groups else "OVER ()"
    g_out = "".join(f"{a} AS {g}, " for g, a in zip(groups, gs))
    g_grp = f" GROUP BY {', '.join(gs)}" if groups else ""
    sql = f"""
WITH aqe_s AS (
  SELECT {g_sel}{x} AS x, {key} AS k FROM {table} WHERE {w}
),
aqe_r AS (
  SELECT {g_cols}x,
         row_number() OVER ({part}ORDER BY x, k) AS rn,
         count(*) {over_n} AS n
  FROM aqe_s
)
SELECT {g_out}min(CASE WHEN rn = {point} THEN x END) AS {alias},
       min(CASE WHEN rn = {lo} THEN x END) AS ci_lower,
       min(CASE WHEN rn = {hi} THEN x END) AS ci_upper,
       CAST(max(n) AS BIGINT) AS n_samples
FROM aqe_r{g_grp}
""".strip()
    if having is not None:
        pred = _map_having_predicate(having, items)
        if pred is None:
            return None
        sql = f"SELECT * FROM ({sql}) aqe_h WHERE {pred}"
    return f"{sql} {tail}" if tail else sql


def _poststrat_text(
    from_exact: str,
    from_sampled: str,
    expr: str,
    alias: str,
    groups: list[str],
    stratum: str,
    where: str | None,
    z: float,
    round_to: int,
) -> str:
    """Portable post-stratified SUM (Cochran §5A.9, fpc kept) — the
    plans/poststrat.py estimator as one SQL text both engines run:
    exact per-(groups,)stratum counts from the full (unsampled) FROM
    clause, integer-cents sample moments from the sampled one (the
    sample predicate lives inside a derived fact table so it applies
    before any join), per-group-cell order-pinned cumulative folds
    read with max_by. ``groups`` may hold any number of plain output
    group columns (aliased aqe_q0..k in the folds)."""
    c = cents_sql(expr)
    base_where = f" WHERE {where}" if where else ""
    qs = [f"aqe_q{i}" for i in range(len(groups))]
    q_sel = "".join(
        f"{g} AS {q}, " for g, q in zip(groups, qs)
    )
    q_grp = "GROUP BY " + ", ".join(
        str(i + 1) for i in range(len(groups) + 1)
    )
    q_join = "".join(
        f"e.{q} IS NOT DISTINCT FROM s.{q} AND " for q in qs
    )
    q_cols = "".join(f"{q}, " for q in qs)
    q_part = f"PARTITION BY {', '.join(qs)} " if groups else ""
    q_agg_grp = f" GROUP BY {', '.join(qs)}" if groups else ""
    q_out = "".join(f"{q} AS {g}, " for g, q in zip(groups, qs))
    return f"""
WITH aqe_exact AS (
  SELECT {q_sel}{stratum} AS aqe_g, count(*) AS n_pop
  FROM {from_exact}{base_where} {q_grp}
),
aqe_sample AS (
  SELECT {q_sel}{stratum} AS aqe_g, count(*) AS n,
         sum({c}) AS sc,
         sum(CAST({c} AS DECIMAL(18,0)) * CAST({c} AS DECIMAL(18,0))) AS sc2
  FROM {from_sampled}{base_where} {q_grp}
),
aqe_per AS (
  -- /*+ BROADCAST(s) */ is a Spark join hint and a plain comment to
  -- DuckDB: the sample-moment synopsis is O(groups x strata) rows and
  -- must never sort-merge against the exact counts.
  SELECT /*+ BROADCAST(s) */ {''.join(f'e.{q} AS {q}, ' for q in qs)}e.aqe_g, e.n_pop,
         coalesce(s.n, 0) AS n,
         CAST(coalesce(s.sc, 0) AS DOUBLE) AS sc,
         CAST(coalesce(s.sc2, 0) AS DOUBLE) AS sc2
  FROM aqe_exact e LEFT JOIN aqe_sample s
    ON {q_join}e.aqe_g IS NOT DISTINCT FROM s.aqe_g
),
aqe_terms AS (
  SELECT {q_cols}aqe_g, n,
         CASE WHEN n > 0
              THEN CAST(n_pop AS DOUBLE) * sc / n
              ELSE 0.0 END AS t,
         CASE WHEN n > 1
              THEN CAST(n_pop AS DOUBLE) * CAST(n_pop - n AS DOUBLE)
                   * ((sc2 - sc * sc / n) / (n - 1.0)) / n
              ELSE 0.0 END AS v
  FROM aqe_per
),
aqe_folded AS (
  SELECT {q_cols}n,
         row_number() OVER ({q_part}ORDER BY aqe_g NULLS FIRST) AS rid,
         sum(t) OVER ({q_part}ORDER BY aqe_g NULLS FIRST) AS cum_t,
         sum(v) OVER ({q_part}ORDER BY aqe_g NULLS FIRST) AS cum_v
  FROM aqe_terms
),
aqe_agg AS (
  SELECT {q_cols}coalesce(max_by(cum_t, rid), 0.0) AS tot_t,
         coalesce(max_by(cum_v, rid), 0.0) AS tot_v,
         CAST(coalesce(sum(n), 0) AS BIGINT) AS n_samples,
         CAST(count(*) AS BIGINT) AS n_strata,
         CAST(coalesce(sum(CASE WHEN n = 0 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS missing_strata,
         CAST(coalesce(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END), 0)
              AS BIGINT) AS thin_strata
  FROM aqe_folded{q_agg_grp}
)
SELECT {q_out}round(tot_t / 100.0, {round_to}) AS {alias},
       round(tot_t / 100.0
             - {z!r} * sqrt(greatest(tot_v, 0.0)) / 100.0, {round_to}) AS ci_lower,
       round(tot_t / 100.0
             + {z!r} * sqrt(greatest(tot_v, 0.0)) / 100.0, {round_to}) AS ci_upper,
       n_samples, n_strata, missing_strata, thin_strata
FROM aqe_agg
""".strip()


def _regaux_text(
    from_exact: str,
    from_sampled: str,
    expr: str,
    alias: str,
    groups: list[str],
    aux: str,
    where: str | None,
    z: float,
    round_to: int,
) -> str:
    """Portable regression (auxiliary-total) SUM (Cochran ch. 7) — the
    plans/regression.py estimator as one SQL text: exact auxiliary
    totals (per group cell when grouped) from the unsampled FROM
    clause, integer-cents covariance moments from the sampled one,
    identical double chain in both engines. Degenerate cells (n < 3 or
    constant auxiliary) fall back to plain expansion, flagged in
    ``method``. ``groups`` may hold any number of plain group
    columns."""
    y = cents_sql(expr)
    x = cents_sql(aux)
    base_where = f" WHERE {where}" if where else ""
    qs = [f"aqe_q{i}" for i in range(len(groups))]
    q_sel = "".join(f"{g} AS {q}, " for g, q in zip(groups, qs))
    q_grp = (
        " GROUP BY " + ", ".join(str(i + 1) for i in range(len(groups)))
        if groups
        else ""
    )
    q_cols = "".join(f"{q}, " for q in qs)
    q_out = "".join(f"{q} AS {g}, " for g, q in zip(groups, qs))
    q_psel = "".join(f"p.{q} AS {q}, " for q in qs)
    joiner = (
        "FROM aqe_pop p LEFT JOIN aqe_smp s ON "
        + " AND ".join(f"p.{q} IS NOT DISTINCT FROM s.{q}" for q in qs)
        if groups
        else "FROM aqe_smp s CROSS JOIN aqe_pop p"
    )
    return f"""
WITH aqe_pop AS (
  SELECT {q_sel}count(*) AS n_pop, sum({x}) AS tx
  FROM {from_exact}{base_where}{q_grp}
),
aqe_smp AS (
  SELECT {q_sel}count(*) AS n,
         sum({y}) AS sy, sum({x}) AS sx,
         sum(CAST({y} AS DECIMAL(18,0)) * CAST({x} AS DECIMAL(18,0))) AS sxy,
         sum(CAST({x} AS DECIMAL(18,0)) * CAST({x} AS DECIMAL(18,0))) AS sxx,
         sum(CAST({y} AS DECIMAL(18,0)) * CAST({y} AS DECIMAL(18,0))) AS syy
  FROM {from_sampled}{base_where}{q_grp}
),
aqe_m AS (
  -- Spark broadcast hint, DuckDB comment: both synopsis sides are
  -- O(groups) aggregate outputs.
  SELECT /*+ BROADCAST(s) */ {q_psel}p.n_pop,
         CAST(p.tx AS DOUBLE) AS tx,
         CAST(coalesce(s.n, 0) AS DECIMAL(19,0)) AS n,
         CAST(coalesce(s.sy, 0) AS DECIMAL(19,0)) AS sy,
         CAST(coalesce(s.sx, 0) AS DECIMAL(19,0)) AS sx,
         CAST(coalesce(s.sxy, 0) AS DECIMAL(38,0)) AS sxy,
         CAST(coalesce(s.sxx, 0) AS DECIMAL(38,0)) AS sxx,
         CAST(coalesce(s.syy, 0) AS DECIMAL(38,0)) AS syy
  {joiner}
),
aqe_calc AS (
  -- n·Sxy − Sx·Sy etc. stay on the exact integer grid: both engines
  -- cap DECIMAL products/differences at DECIMAL(38,0) (verified), so
  -- the covariance numerators are EXACT up to |·| < 10³⁸ and the ONE
  -- rounding to DOUBLE happens on the finished difference — no
  -- catastrophic cancellation, and the sxx gate below compares exact
  -- decimals (matches plans/regression.py's DECIMAL-first renderer).
  SELECT {q_cols}CAST(n AS BIGINT) AS n, n_pop,
         CAST(n * sxy - sx * sy AS DOUBLE) AS sxy_n,
         CAST(n * sxx - sx * sx AS DOUBLE) AS sxx_n,
         CAST(n * syy - sy * sy AS DOUBLE) AS syy_n,
         CASE WHEN n > 0 THEN CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
              ELSE 0.0 END AS ybar,
         CASE WHEN n > 0 THEN CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
              ELSE 0.0 END AS xbar,
         CASE WHEN n_pop > 0 THEN tx / n_pop ELSE 0.0 END AS xbar_pop,
         (n >= 3 AND n * sxx > sx * sx) AS ok
  FROM aqe_m
),
aqe_est AS (
  SELECT {q_cols}n, ok,
         CASE WHEN ok THEN sxy_n / sxx_n ELSE 0.0 END AS b,
         CAST(n_pop AS DOUBLE)
           * (ybar + (CASE WHEN ok THEN sxy_n / sxx_n ELSE 0.0 END)
              * (xbar_pop - xbar)) AS t_hat,
         CASE WHEN ok
              THEN (syy_n / n
                    - (sxy_n / sxx_n) * (sxy_n / n)) / (n - 2.0)
              WHEN n >= 2 THEN (syy_n / n) / (n - 1.0)
              ELSE 0.0 END AS s2e,
         CASE WHEN n_pop > 0 THEN CAST(n AS DOUBLE) / n_pop ELSE 0.0 END AS f_real,
         CAST(n_pop AS DOUBLE) AS npop
  FROM aqe_calc
)
SELECT {q_out}round(t_hat / 100.0, {round_to}) AS {alias},
       round(t_hat / 100.0
             - {z!r} * (CASE WHEN n > 0
                             THEN sqrt(npop * npop * (1.0 - f_real)
                                       * greatest(s2e, 0.0) / n)
                             ELSE 0.0 END) / 100.0,
             {round_to}) AS ci_lower,
       round(t_hat / 100.0
             + {z!r} * (CASE WHEN n > 0
                             THEN sqrt(npop * npop * (1.0 - f_real)
                                       * greatest(s2e, 0.0) / n)
                             ELSE 0.0 END) / 100.0,
             {round_to}) AS ci_upper,
       CAST(n AS BIGINT) AS n_samples,
       round(b, 6) AS slope,
       CASE WHEN ok THEN 'regression' ELSE 'expansion_fallback' END AS method
FROM aqe_est
""".strip()
