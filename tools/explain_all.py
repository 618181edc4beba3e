"""Capture .explain("formatted") for registry queries into a directory.

    python tools/explain_all.py <out_dir> [suffix] [query ... | all]

Writes ``<out_dir>/<query>_<suffix>.txt`` for each named query (default:
the bench HEADLINE list; ``all``: every ``QUERIES`` entry, in registry
order). Queries whose entry point does not return a DataFrame plan
directly (driver-orchestrated multi-job entries) still produce the plan
of the FINAL returned frame — the per-pass plans of multi-job entries
are captured by their own plan gates in tests.

Each plan is normalised before it is written, so two captures of
unchanged code diff clean: expression ids, exchange plan ids, adaptive
query-stage ids and whole-stage codegen ids become ``N``, the working
directory (where ``spark-warehouse`` lives) becomes ``<cwd>``, and the
random suffix of a ``tempfile.mkdtemp`` directory becomes ``XXXXXXXX``.
A query with two COUNT(DISTINCT ...) groups lists its Expand
projections in an order Spark takes from a hash of expression ids,
which vary from run to run; ``normalise`` sorts those projections and
renumbers their grouping-id literals to match (``_canonical_expands``).
The plan gate for a change that must not move any plan is then

    SPARK_GRAFT_SF_DIR=/path/to/sf0.01 python tools/explain_all.py out before all
    # ... apply the change ...
    SPARK_GRAFT_SF_DIR=/path/to/sf0.01 python tools/explain_all.py out after all
    for f in out/*_before.txt; do cmp -s "$f" "${f%_before.txt}_after.txt" || echo "$f"; done
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_EXPR_ID = re.compile(r"#\d+")
_PLAN_ID = re.compile(r"plan_id=\d+")
# Adaptive execution numbers query stages (and the whole-stage codegen
# inside them) in the order the stages happened to materialise.
_STAGE_ID = re.compile(r"(QueryStage\nOutput [^\n]*\nArguments: )\d+")
_CODEGEN_ID = re.compile(r"codegen id : \d+")
# mkdtemp appends 8 characters from [a-z0-9_] to its prefix.
_TEMP_DIR = re.compile(
    re.escape(tempfile.gettempdir()) + r"/([^/\s,\]\)]*?)[a-z0-9_]{8}(?=[/\s,\]\)]|$)",
    re.M,
)


_EXPAND = re.compile(r"^(\(\d+\) Expand\nInput [^\n]*\nArguments: )(.*)$", re.M)


def _split(items: str) -> list[str]:
    """The top-level elements of a bracketed list ``[a, f(b, c), [d]]``."""
    out, depth, start = [], 0, 1
    for i, ch in enumerate(items[1:-1], 1):
        depth += (ch in "([") - (ch in ")]")
        if ch == "," and depth == 0:
            out.append(items[start:i].strip())
            start = i + 1
    return [*out, items[start:-1].strip()]


def _canonical_expands(plan: str) -> str:
    """Put each Expand's per-group columns in name order and its
    projections in the order of the columns they fill, renumbering the
    grouping-id literals to match through the rest of the plan (up to
    the next Expand)."""
    for m in reversed(list(_EXPAND.finditer(plan))):
        projs, out = _split(f"[{m.group(2)}]")
        projs, out = [_split(p) for p in _split(projs)], _split(out)
        gid = out[-1]
        # The columns that some projection leaves null: one per group.
        per = [i for i in range(len(out) - 1) if any(p[i] == "null" for p in projs)]
        if not per:
            continue
        cols = sorted(per, key=lambda i: out[i])
        pick = dict(zip(per, cols))
        ranked = sorted(projs, key=lambda p: ([k for k, i in enumerate(cols) if p[i] != "null"], p))
        ids = sorted((p[-1] for p in projs), key=lambda v: (len(v), v))
        new_id = {p[-1]: ids[r] for r, p in enumerate(ranked)}

        def row(p, last):
            return "[" + ", ".join([*(p[pick.get(i, i)] for i in range(len(out) - 1)), last]) + "]"

        args = "[" + ", ".join(row(p, new_id[p[-1]]) for p in ranked) + "], " + row(out, gid)
        rest = plan[m.end():]
        end = rest.find(") Expand\n")
        tail, rest = (rest, "") if end < 0 else (rest[:end], rest[end:])
        tail = tail.replace(", ".join(out[i] for i in per), ", ".join(out[i] for i in cols))
        tail = re.sub(
            re.escape(gid) + r" = (\d+)\)", lambda g: f"{gid} = {new_id.get(g.group(1), g.group(1))})", tail
        )
        plan = plan[: m.start()] + m.group(1) + args + tail + rest
    return plan


def normalise(plan: str) -> str:
    plan = plan.replace(f"file:{os.getcwd()}/", "file:<cwd>/")
    plan = _PLAN_ID.sub("plan_id=N", _EXPR_ID.sub("#N", plan))
    plan = _CODEGEN_ID.sub("codegen id : N", _STAGE_ID.sub(r"\g<1>N", plan))
    plan = _TEMP_DIR.sub(lambda m: f"{tempfile.gettempdir()}/{m.group(1)}XXXXXXXX", plan)
    return _canonical_expands(plan)


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    os.makedirs(out_dir, exist_ok=True)

    from approximatequeryengine_spark import get_spark
    from approximatequeryengine_spark.workload import QUERIES

    if sys.argv[3:] == ["all"]:
        names = list(QUERIES)
    elif len(sys.argv) > 3:
        names = sys.argv[3:]
    else:
        from bench import HEADLINE
        names = list(HEADLINE)

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="explain-all", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        df = QUERIES[name](spark, SF_DIR)
        plan = normalise(df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        ))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
