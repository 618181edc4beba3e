"""NULL-injection regression pins (the tools/null_sweep.py findings).

The shipped fixtures carry no NULLs in feature columns, so these
micro-fixtures pin the cross-engine NULL semantics the full sweep
certifies: NULL text/embedding rows are contentless — excluded from
content-keyed operators in BOTH engines — and NULL is a first-class
stratum for stratified sampling.
"""

import duckdb
import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_word_shingles_null_propagates(spark):
    """concat_ws swallows a NULL array into '' — the gate keeps NULL
    tokens mapping to NULL shingles, not a phantom [''] shingle shared
    by every contentless doc."""
    from approximatequeryengine_spark.functions.text import (
        word_shingles_col,
        ws_tokens_col,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b"), (4, "a b c d")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", word_shingles_col(ws_tokens_col(F.col("text")), 3).alias("sh")
        ).collect()
    }
    assert out[1] is None  # NULL text -> NULL shingles, not ['']
    assert out[2] == [""]  # empty text -> one empty shingle (unchanged)
    assert out[3] == ["a b"]  # < n tokens -> whole text
    assert out[4] == ["a b c", "b c d"]


def test_minhash_pairs_null_text_excluded_both_plans(spark):
    from approximatequeryengine_spark.operators import dedup

    rows = [(i, "the quick brown fox jumps over the lazy dog", "en", "s0", 44)
            for i in range(4)]
    rows += [(10, None, "en", "s0", 0), (11, None, "en", "s0", 0)]
    df = _docs(spark, rows)
    for verify in ("carry", "join"):
        got = dedup.minhash_lsh_pairs(spark, df, verify=verify).collect()
        ids = {r["doc_a"] for r in got} | {r["doc_b"] for r in got}
        assert ids == {0, 1, 2, 3}, verify  # NULL docs never pair


def test_simhash_pairs_null_text_excluded(spark):
    from approximatequeryengine_spark.operators import dedup

    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta", "en", "s0", 40)
            for i in range(3)]
    rows += [(10, None, "en", "s0", 0), (11, None, "en", "s0", 0), (12, "", "en", "s0", 0)]
    df = _docs(spark, rows)
    pairs = dedup.simhash_hamming_pairs(spark, df).collect()
    ids = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
    # NULL docs excluded: they must not cross-match each other or the
    # genuinely-empty doc (sig 0) at hamming 0
    assert 10 not in ids and 11 not in ids


def test_ann_ops_null_embedding_excluded(spark):
    from approximatequeryengine_spark.operators import similarity

    rows = [(9, None, 0)]  # NULL embedding
    rows += [(i, [0.1 * (i + 1), 0.2, 0.3, 0.4], i % 2) for i in range(8)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    for fn in (
        similarity.ann_bruteforce_topk,
        similarity.ann_bruteforce_topk_arrow,
        similarity.ann_bruteforce_topk_int8,
        similarity.ann_lsh_topk,
    ):
        got = fn(spark, df, n_queries=2, k=2).collect()
        ids = {r["query_id"] for r in got} | {r["neighbor_id"] for r in got}
        assert 9 not in ids, fn.__name__  # the NULL vector never appears
        assert got, fn.__name__  # and the op still returns neighbors


def test_stratified_sampling_null_stratum_first_class(spark, duck):
    """A NULL stratum keeps its ALLOCATED fraction on both engines: the
    eqNullSafe when-chain and the IS-NULL SQL case must agree (a plain
    == / equi-join silently reroutes or drops the NULL rows — the
    Neyman-oracle divergence the null sweep caught)."""
    from approximatequeryengine_spark.plans.sampling import (
        SamplingSpec,
        _stratum_match_sql,
        apply_sampling,
        sampling_where_sql,
    )

    rows = [(i, None if i % 3 == 0 else ("a" if i % 2 == 0 else "b"), float(i))
            for i in range(600)]
    df = spark.createDataFrame(rows, "k long, st string, x double")
    spec = SamplingSpec(
        design="stratified", fraction=0.05, key="k", stratum_col="st",
        strata_fractions={None: 0.9, "a": 0.2, "b": 0.1},
    )
    got = apply_sampling(df, spec)
    null_p = {r["__p"] for r in got.filter(F.col("st").isNull()).collect()}
    assert null_p == {0.9}  # allocated, not the 0.05 default
    # SQL twin selects the same membership
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k BIGINT, st VARCHAR, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    want = con.execute(
        f"SELECT k FROM t WHERE {sampling_where_sql(spec, 'k')} ORDER BY k"
    ).fetchall()
    assert sorted(r["k"] for r in got.collect()) == [w[0] for w in want]
    assert _stratum_match_sql("st", None) == "st IS NULL"


def test_finite_gate_cross_engine(spark, duck):
    """finite_col / finite_sql: NaN and ±Infinity map to NULL in both
    engines (one bad telemetry row must not crash a cents cast or
    poison a running moment), finite values and NULL pass through."""
    from approximatequeryengine_spark.plans.estimators import finite_col, finite_sql

    vals = [(1, 1.5), (2, float("nan")), (3, float("inf")),
            (4, float("-inf")), (5, None)]
    df = spark.createDataFrame(vals, "k long, v double")
    got = {
        r["k"]: r["f"]
        for r in df.select("k", finite_col(F.col("v")).alias("f")).collect()
    }
    assert got == {1: 1.5, 2: None, 3: None, 4: None, 5: None}
    want = dict(
        duck.execute(
            f"SELECT k, {finite_sql('v')} FROM (SELECT "
            "unnest([1,2,3,4,5]) AS k, "
            "unnest([1.5, 'NaN'::DOUBLE, 'Infinity'::DOUBLE, "
            "'-Infinity'::DOUBLE, NULL]) AS v)"
        ).fetchall()
    )
    assert got == want
    # the gated cents cast no longer raises on non-finite input
    cents = spark.createDataFrame([(float("inf"),)], "v double").select(
        F.floor(finite_col(F.col("v")) * 100.0 + 0.5).cast("long").alias("c")
    ).collect()
    assert cents[0]["c"] is None


def test_vector_validity_gate_cross_engine(spark, duck):
    """A vector with ANY non-finite dimension is invalid — excluded by
    valid_vec_col/valid_vec_sql in both engines (one NaN dim from a
    broken encoder otherwise poisons hyperplane signs, PQ codes, and
    crashes the drift grid's integer cast)."""
    from approximatequeryengine_spark.operators import similarity

    rows = [
        (1, [0.1, 0.2, 0.3, 0.4], 0),
        # note: the duckdb Python binding stores nan LIST ELEMENTS as
        # NULL — which is exactly the NULL-element case the policy also
        # covers (genuine SQL-side NaN is exercised by tools/null_sweep)
        (2, [float("nan"), 0.2, 0.3, 0.4], 0),
        (3, [0.1, float("inf"), 0.3, 0.4], 0),
        (4, None, 0),
        (5, [0.4, 0.3, 0.2, 0.1], 1),
        (6, [None, 0.2, 0.3, 0.4], 0),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = sorted(
        r["vec_id"]
        for r in df.filter(
            similarity.valid_vec_col(F.col("embedding"))
        ).collect()
    )
    assert got == [1, 5]
    con = duckdb.connect()
    con.execute("CREATE TABLE embeddings (vec_id BIGINT, embedding FLOAT[], label INT)")
    con.executemany("INSERT INTO embeddings VALUES (?, ?, ?)", rows)
    want = sorted(
        r[0]
        for r in con.execute(
            f"SELECT vec_id FROM embeddings WHERE {similarity.valid_vec_sql('embedding')}"
        ).fetchall()
    )
    assert got == want
    # the IVF assignment (shared chokepoint) only ever sees valid rows
    asg = similarity._ivf_assign(df, 4).collect()
    assert sorted(r["vec_id"] for r in asg) == [1, 5]


def test_fingerprints_null_text_is_null_both_engines(spark):
    from approximatequeryengine_spark.operators.text import (
        fingerprint_cols,
        fingerprint_sql_parts,
    )

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "x y")], "doc_id long, text string"
    )
    fps = fingerprint_cols(F.col("text"))
    got = {
        r["doc_id"]: (r["fp_exact"], r["fp_tokenset"])
        for r in df.select("doc_id", *[c.alias(n) for n, c in fps.items()]).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)",
                    [(1, None), (2, ""), (3, "x y")])
    parts = fingerprint_sql_parts()
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT doc_id, {parts['fp_exact']} AS a, {parts['fp_tokenset']} AS b "
            "FROM documents"
        ).fetchall()
    }
    assert got == want
    assert got[1] == (None, None)  # NULL text -> NULL fingerprints
    assert got[2][0] is not None  # empty text still fingerprints
