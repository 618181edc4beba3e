"""``tools/explain_all.normalise``: two captures of one plan normalise
equal even when Spark lists an Expand's COUNT(DISTINCT ...) groups in
the other order, and a real difference survives."""

from tools.explain_all import normalise

_PLAN = """(3) Expand
Input [4]: [src#1, da#2L, db#3L]
Arguments: [[src#1, null, null, 0], [src#1, {a}, null, 1], [src#1, null, {b}, 2]], [src#1, {a}, {b}, gid#4]

(4) HashAggregate
Input [4]: [src#1, {a}, {b}, gid#4]
Keys [4]: [src#1, {a}, {b}, gid#4]
Functions [2]: [partial_count(da#2L) FILTER (WHERE (gid#4 = {ga})), partial_count({last}) FILTER (WHERE (gid#4 = {gb}))]
"""


def _plan(order: str, last: str = "db#3L") -> str:
    a, b = ("da#2L", "db#3L") if order == "ab" else ("db#3L", "da#2L")
    ga, gb = ("1", "2") if order == "ab" else ("2", "1")
    return _PLAN.format(a=a, b=b, ga=ga, gb=gb, last=last)


def test_expand_order_normalises_equal():
    assert _plan("ab") != _plan("ba")
    assert normalise(_plan("ab")) == normalise(_plan("ba"))


def test_real_expression_difference_survives():
    assert normalise(_plan("ab")) != normalise(_plan("ab", last="dc#3L"))
    assert normalise(_plan("ab")) != normalise(_plan("ba", last="dc#3L"))
