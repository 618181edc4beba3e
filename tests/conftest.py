import os
import uuid

import duckdb
import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

from approximatequeryengine_spark import AQEngine, get_spark  # noqa: E402
from approximatequeryengine_spark.catalog import TABLES  # noqa: E402

SF_DIR = os.environ.get("AQE_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = os.environ.get("AQE_TEST_SF_DIR_MED", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="aqe-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` under a fresh Spark job group and
    returns ``(fn(), number of Spark jobs it ran)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store fills from the listener bus asynchronously
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def py4j_calls(spark):
    """``py4j_calls(fn)`` returns ``(fn(), py4j round trips fn made)``
    (``session.count_py4j_calls``)."""
    from approximatequeryengine_spark.session import count_py4j_calls

    def run(fn):
        with count_py4j_calls(spark) as calls:
            out = fn()
        return out, calls.n

    return run


@pytest.fixture
def parquet_reads(monkeypatch):
    """Every path handed to ``spark.read...parquet(...)`` while the test
    runs, in call order."""
    from pyspark.sql.readwriter import DataFrameReader

    seen: list[str] = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **options):
        seen.extend(paths)
        return real(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    return seen


@pytest.fixture(scope="session")
def engine(spark):
    return AQEngine(spark, SF_DIR)


@pytest.fixture(scope="session")
def engine_med(spark):
    return AQEngine(spark, SF_DIR_MED)


def _duck(sf_dir):
    con = duckdb.connect()
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


@pytest.fixture(scope="session")
def duck():
    return _duck(SF_DIR)


@pytest.fixture(scope="session")
def duck_med():
    return _duck(SF_DIR_MED)


@pytest.fixture(scope="session")
def null_group_frame(spark):
    """3,000 rows ``(k, g, v)``: the group ``g`` is NULL on a third of
    them, and ``v`` is integer-valued and heavy-tailed (every 97th row is
    about 1,000× the rest)."""
    return spark.range(3000).selectExpr(
        "id AS k",
        "CASE WHEN id % 3 = 0 THEN NULL ELSE CAST(id % 2 AS STRING) END AS g",
        "CAST(CASE WHEN id % 97 = 0 THEN 10000 + id % 7 * 1000 ELSE 10 + id % 13 END"
        " AS DOUBLE) AS v",
    )


def duck_of(**frames):
    """A fresh DuckDB connection with each Spark frame registered under
    its keyword — the table name an operator's ``*_sql`` twin reads."""
    con = duckdb.connect()
    for name, df in frames.items():
        con.register(name, df.toArrow())
    return con


def _sort_key(row):
    # NULL-safe row order: a NULL sorts after every value of its column
    return tuple((v is None, v) for v in row)


def assert_df_matches_sql(sdf, con, sql, rel=1e-9, abs_tol=1e-6):
    """Order-insensitive comparison of a Spark DataFrame against a DuckDB
    query — the same contract as the driver's correctness gate (columns
    sorted by name, rows sorted, values compared)."""
    cols = sorted(sdf.columns)
    spark_rows = sorted(
        (tuple(row[c] for c in cols) for row in sdf.collect()), key=_sort_key
    )
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    assert sorted(duck_cols) == cols, f"columns differ: {sorted(duck_cols)} vs {cols}"
    idx = [duck_cols.index(c) for c in cols]
    duck_rows = sorted((tuple(r[i] for i in idx) for r in res.fetchall()), key=_sort_key)
    assert len(spark_rows) == len(duck_rows), (
        f"row count differs: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    for sr, dr in zip(spark_rows, duck_rows):
        for c, sv, dv in zip(cols, sr, dr):
            if isinstance(sv, float) and isinstance(dv, float):
                assert sv == pytest.approx(dv, rel=rel, abs=abs_tol), (
                    f"column {c}: spark={sv} duck={dv}"
                )
            else:
                assert sv == dv, f"column {c}: spark={sv!r} duck={dv!r}"
