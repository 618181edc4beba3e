"""Mimic the driver's correctness gate: run every queries() entry at
sf0.01 on a VANILLA SparkSession and compare against oracle_sql() via
DuckDB (row count + sorted-column value comparison). Exit non-zero on
any mismatch.

    python tools/check_entry.py [dump_dir]

With ``dump_dir``, each entry's Spark rows are also written, sorted, to
``<dump_dir>/<entry>.txt`` (a column line, then one ``repr`` per row, so
floats keep every digit). That makes "answers unchanged" a ``cmp`` loop,
the same as the plan gate of ``tools/explain_all.py``: capture the
parent twice (``before``, ``before2``), then the change (``after``), and

    for f in before/*.txt; do n=${f#before/}
      cmp -s "$f" before2/$n || { echo "varies: $n"; continue; }
      cmp -s "$f" after/$n || echo "moved: $n"
    done

An entry whose rows differ between the two parent captures varies from
run to run (a sampled or timing-dependent readout); list it rather than
gate on it.

``check_one.py`` imports :func:`make_duck`, :func:`get_session`, and
:func:`check_query` for the single-entry fast loop — keep the
comparison semantics (including the dtype gate) in ONE place here.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("AQE_CHECK_SF_DIR", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def get_session():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("check-entry")
        .master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def make_duck(sf_dir: str = SF_DIR):
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _key(row):
    return tuple((v is None, str(type(v)), str(v)) for v in row)


def check_query(spark, con, name, fn, oracle, sf_dir: str = SF_DIR, dump_dir=None):
    """Run one queries() entry and compare to its oracle. Returns
    ``None`` on a match (or a rows-only entry), else the failure reason.
    Raises nothing: exceptions come back as a reason string. With
    ``dump_dir``, the sorted Spark rows go to ``<dump_dir>/<name>.txt``."""
    try:
        sdf = fn(spark, sf_dir)
        cols = sorted(sdf.columns)
        srows = sorted(
            (tuple(row[c] for c in cols) for row in sdf.collect()), key=_key
        )
        if dump_dir is not None:
            with open(os.path.join(dump_dir, f"{name}.txt"), "w") as f:
                f.write("".join(f"{r!r}\n" for r in [tuple(cols), *srows]))
        if oracle is None:
            return None, f"rows-only check, {len(srows)} rows OK"
        res = con.execute(oracle)
        # Fetch via Arrow: DuckDB's Python fetchall() coerces HUGEINT
        # (sum over any integer type) to int, hiding a type mismatch
        # the driver's hasher DOES see (its pandas fetch turns
        # HUGEINT into float64 — 1.0 vs 1). Compare type classes.
        atbl = res.fetch_arrow_table()
        dcols = atbl.column_names
        if sorted(dcols) != cols:
            return f"columns {sorted(dcols)} != {cols}", None
        stypes = dict(sdf.dtypes)
        for c in cols:
            dt = str(atbl.schema.field(c).type)
            st = stypes[c]
            d_int = dt.startswith(("int", "uint"))
            d_float = dt in ("float", "double", "halffloat") or dt.startswith("decimal")
            s_int = st in ("tinyint", "smallint", "int", "bigint")
            s_float = st in ("float", "double")
            if "decimal" in dt and s_int:
                return (
                    f"dtype mismatch {c}: oracle {dt} (HUGEINT?) vs spark {st}"
                    " — CAST the oracle",
                    None,
                )
            if (d_int and s_float) or (d_float and s_int):
                return f"dtype mismatch {c}: oracle {dt} vs spark {st}", None
        draw = [tuple(r.values()) for r in atbl.select(cols).to_pylist()]
        drows = sorted(draw, key=_key)
        if len(srows) != len(drows):
            return f"rowcount spark={len(srows)} duck={len(drows)}", None
        for sr, dr in zip(srows, drows):
            for c, sv, dv in zip(cols, sr, dr):
                if isinstance(sv, float) and isinstance(dv, float):
                    if not (sv == dv or (math.isnan(sv) and math.isnan(dv))):
                        return f"{c}: {sv!r} != {dv!r} (delta={sv - dv})", None
                elif sv != dv:
                    return f"{c}: {sv!r} != {dv!r}", None
        return None, f"MATCH ({len(srows)} rows)"
    except Exception as e:  # noqa: BLE001
        return f"EXCEPTION {type(e).__name__}: {e}", None


def main(dump_dir: str | None = None) -> int:
    import __spark_entry__ as entrymod

    if dump_dir is not None:
        os.makedirs(dump_dir, exist_ok=True)

    spark = get_session()
    con = make_duck()

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    edf = entrymod.entry(spark)
    n = edf.count()
    print(f"entry(): {n} rows, schema={edf.columns}")
    assert n >= 0

    failures = []
    for name, fn in qs.items():
        reason, ok = check_query(
            spark, con, name, fn, oracles.get(name), dump_dir=dump_dir
        )
        if reason:
            failures.append((name, reason))
        else:
            print(f"  {name}: {ok}")

    print()
    if failures:
        for name, why in failures:
            print(f"FAIL {name}: {why}")
        return 1
    print(f"all {len(qs)} queries pass ({len(oracles)} oracle-matched)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1] if len(sys.argv) > 1 else None))
