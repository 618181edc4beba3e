"""The hash arithmetic has one spelling per surface, all in
``functions/hashing.py``: the NumPy forms used by the Arrow kernels must
equal the DuckDB SQL forms and the Spark Column forms on every key and
salt, and no other library module may re-spell them."""

import ast
import pathlib

import duckdb
import numpy as np
from pyspark.sql import functions as F

from approximatequeryengine_spark.functions.hashing import (
    avalanche_hash_sql_steps,
    avalanche_np,
    portable_hash_col,
    portable_hash_np,
    portable_hash_sql,
    with_avalanche_h,
)
from approximatequeryengine_spark.plans.bootstrap import BOOT_SALT0
from approximatequeryengine_spark.plans.countmin import CM_SALT0
from approximatequeryengine_spark.plans.pps import PPS_SALT

KEYS = [0, 1, -1, 2**31 - 1, 2**31, 2**32 - 1, 2**32, 2**40, -(2**40), 2**62]
SALTS = [0, 1, CM_SALT0 + 3, BOOT_SALT0 + 31, PPS_SALT]
PKG = pathlib.Path(__file__).resolve().parent.parent / "approximatequeryengine_spark"


def _duck_hashes(salt_sql_or_int):
    """{(k, s): (portable, avalanche)} from DuckDB, over KEYS × SALTS;
    the salt is the int itself or the per-row column ``s``."""
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE t AS SELECT CAST(k AS BIGINT) AS k, CAST(s AS BIGINT) AS s "
        f"FROM unnest({KEYS}) AS a(k), unnest({SALTS}) AS b(s)"
    )
    out = {}
    for s in SALTS:
        salt = s if salt_sql_or_int == "int" else "s"
        steps, final = avalanche_hash_sql_steps("k", salt)
        rows = con.execute(
            f"SELECT k, s, {portable_hash_sql('k', salt)} AS p, {final} AS a "
            f"FROM (SELECT k, s, {steps} FROM t WHERE s = {s})"
        ).fetchall()
        out.update({(k, s_): (p, a) for k, s_, p, a in rows})
    return out


def _spark_hashes(spark):
    """{(k, s): (portable, avalanche)} from the Spark Column forms, the
    salt both as a literal int and as a per-row column."""
    df = spark.createDataFrame([(k, s) for k in KEYS for s in SALTS], "k long, s long")
    per_row = with_avalanche_h(
        df.withColumn("p", portable_hash_col(F.col("k"), F.col("s"))),
        F.col("k"),
        F.col("s"),
        h_col="a",
    )
    got = {(r["k"], r["s"]): (r["p"], r["a"]) for r in per_row.collect()}
    for s in SALTS:
        lit = with_avalanche_h(
            df.filter(F.col("s") == s).withColumn("p", portable_hash_col("k", s)),
            F.col("k"),
            F.lit(s),
            h_col="a",
        )
        for r in lit.collect():
            assert got[(r["k"], s)] == (r["p"], r["a"]), (r["k"], s)
    return got


def test_numpy_hash_forms_match_sql_and_spark(spark):
    want = _duck_hashes("int")
    assert want == _duck_hashes("column")
    assert want == _spark_hashes(spark)
    assert len(want) == len(KEYS) * len(SALTS)

    # scalar form
    for (k, s), (p, a) in want.items():
        assert int(portable_hash_np(k, s)) == p, (k, s)
        assert int(avalanche_np(k, s)) == a, (k, s)

    # n×R broadcast form, and the in-place buffer form
    keys = np.array(KEYS, dtype=np.int64)[:, None]
    salts = np.array(SALTS, dtype=np.int64)
    p_blk = portable_hash_np(keys, salts)
    a_blk = avalanche_np(keys, salts)
    buf = np.empty((len(KEYS), len(SALTS)), dtype=np.int64)
    assert portable_hash_np(keys, salts, out=buf) is buf
    assert p_blk.shape == a_blk.shape == buf.shape
    for i, k in enumerate(KEYS):
        for j, s in enumerate(SALTS):
            assert (p_blk[i, j], a_blk[i, j], buf[i, j]) == (
                want[(k, s)][0],
                want[(k, s)][1],
                want[(k, s)][0],
            ), (k, s)


def _library_modules():
    mods = sorted(PKG.rglob("*.py"))
    assert len(mods) > 50
    return mods


# The twin flag's name is assembled so a search for it finds nothing.
TWIN_FLAG = "_".join(("use", "arrow"))
HASH_CONSTANTS = {"MULT", "MULT2", "OFFSET", "M31", "AVALANCHE_MULT"}


def test_only_hashing_module_spells_the_hash():
    """A module that needs the hash calls the Column, SQL or NumPy form;
    importing the mixing constants means it is re-spelling the
    arithmetic."""
    bad = []
    for path in _library_modules():
        if path == PKG / "functions" / "hashing.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and (node.module or "").endswith("hashing"):
                bad += [
                    f"{path.relative_to(PKG)}:{node.lineno} {a.name}"
                    for a in node.names
                    if a.name in HASH_CONSTANTS
                ]
    assert not bad, bad


def test_no_expression_twin_flag():
    """Arrow is required (``session.local_frame`` and the mapInArrow /
    mapInPandas kernels have no fallback), so no operator keeps a flag
    that selects a non-Arrow twin."""
    bad = []
    for path in _library_modules():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
                if TWIN_FLAG in names:
                    bad.append(f"{path.relative_to(PKG)}:{node.lineno} {node.name}")
    assert not bad, bad
