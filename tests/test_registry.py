"""The workload registry (`workload.py`) itself.

What must hold:
- a second registration under a taken name raises instead of silently
  replacing the first entry;
- every ``_CERTIFY_FIRST`` name is registered (a misspelt or renamed
  name raises instead of silently leaving the certification window),
  and ``QUERIES`` starts with exactly that list;
- every oracle belongs to a registered entry, and every entry accepts
  ``(spark, sf_dir)``;
- ``_twin_query`` hands the Spark operator and its SQL twin the same
  table and literals.
"""

from __future__ import annotations

import inspect

import pytest

from approximatequeryengine_spark import workload


def test_duplicate_registration_raises():
    name = next(iter(workload.QUERIES))
    before = workload.QUERIES[name]
    with pytest.raises(ValueError, match=name):
        workload._register(name, lambda spark, sf_dir: None, None)
    assert workload.QUERIES[name] is before


def test_unregistered_certify_first_name_raises(monkeypatch):
    order = list(workload.QUERIES)
    monkeypatch.setattr(
        workload, "_CERTIFY_FIRST", [*workload._CERTIFY_FIRST, "no_such_entry"]
    )
    with pytest.raises(ValueError, match="no_such_entry"):
        workload._finalize_order()
    assert list(workload.QUERIES) == order


def test_certify_first_leads_the_registry():
    front = list(workload.QUERIES)[: len(workload._CERTIFY_FIRST)]
    assert front == workload._CERTIFY_FIRST


def test_every_oracle_has_an_entry():
    assert set(workload.ORACLE) <= set(workload.QUERIES)


def test_every_entry_accepts_spark_and_sf_dir():
    bad = []
    for name, fn in workload.QUERIES.items():
        try:
            inspect.signature(fn).bind(object(), "/sf")
        except TypeError:
            bad.append(name)
    assert bad == []


def test_twin_query_passes_one_argument_list_to_both_twins(monkeypatch):
    calls = []

    class _Catalog:
        def table(self, t):
            return f"<{t}>"

    def op(df, *args, **kw):
        calls.append(("spark", df, args, kw))
        return "frame"

    def op_sql(table, *args, **kw):
        calls.append(("sql", table, args, kw))
        return "SELECT 1"

    monkeypatch.setattr(workload, "QUERIES", {})
    monkeypatch.setattr(workload, "ORACLE", {})
    monkeypatch.setattr(workload, "_catalog", lambda spark, sf_dir: _Catalog())
    workload._twin_query("t", op, op_sql, "lineitem", "l_partkey", 0.1, k=256)
    assert workload.ORACLE == {"t": "SELECT 1"}
    assert workload.QUERIES["t"](object(), "/sf") == "frame"
    assert calls == [
        ("sql", "lineitem", ("l_partkey", 0.1), {"k": 256}),
        ("spark", "<lineitem>", ("l_partkey", 0.1), {"k": 256}),
    ]
