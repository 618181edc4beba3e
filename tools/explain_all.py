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
One difference survives: a query with two COUNT(DISTINCT ...) groups
may list its Expand projections in either order, because Spark orders
those groups by a hash of their expression ids and the id numbering
varies from run to run. The plan gate for a change that must not move
any plan is then

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


def normalise(plan: str) -> str:
    plan = plan.replace(f"file:{os.getcwd()}/", "file:<cwd>/")
    plan = _PLAN_ID.sub("plan_id=N", _EXPR_ID.sub("#N", plan))
    plan = _CODEGEN_ID.sub("codegen id : N", _STAGE_ID.sub(r"\g<1>N", plan))
    return _TEMP_DIR.sub(lambda m: f"{tempfile.gettempdir()}/{m.group(1)}XXXXXXXX", plan)


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
