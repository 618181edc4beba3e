"""LLM-pipeline operators: functional correctness on synthetic inputs
(the fixture corpus has few true near-dups, so these tests construct
known duplicates/neighbors and assert the operators find them)."""

import pytest
from pyspark.sql import functions as F

from approximatequeryengine_spark.functions import text as text_fns
from approximatequeryengine_spark.operators import dedup, multimodal, similarity
from approximatequeryengine_spark.operators.text import predicted_lang_col, quality_columns
from tests.conftest import assert_df_matches_sql, duck_of


@pytest.fixture(scope="module")
def synth_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base, "en", "s1", len(base)),
        # near-dup of 1: one word changed
        (2, base.replace("lazy", "sleepy"), "en", "s1", len(base)),
        # exact dup of 1
        (3, base, "en", "s2", len(base)),
        # shuffled tokens (same token set → tokenset dup, low shingle overlap)
        (4, "dog lazy the over jumps fox brown quick the again and again today", "en", "s2", 60),
        # unrelated German
        (5, "der hund ist nicht auf der wiese und die katze ist mit ihm", "de", "s1", 58),
        # unrelated French
        (6, "le chat est sur la table et les chiens sont pour une promenade", "fr", "s2", 62),
        (7, "", "en", "s1", 0),  # empty doc edge case
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long")


def test_exact_dedup_finds_dups(spark, synth_docs):
    groups = dedup.exact_dup_groups(spark, synth_docs, by="fp_exact").collect()
    assert len(groups) == 1
    assert groups[0]["group_size"] == 2 and groups[0]["keep_doc_id"] == 1

    # token-set fingerprint additionally catches the shuffled doc 4
    tgroups = dedup.exact_dup_groups(spark, synth_docs, by="fp_tokenset").collect()
    assert any(g["group_size"] >= 3 for g in tgroups)


def test_minhash_finds_neardup(spark, synth_docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             dedup.minhash_lsh_pairs(spark, synth_docs, threshold=0.3).collect()}
    assert (1, 3) in pairs and pairs[(1, 3)] == 1.0  # exact dup
    assert (1, 2) in pairs  # one-word-changed near-dup
    assert not any({a, b} == {1, 5} for a, b in pairs)  # unrelated stays apart


def test_minhash_arrow_matches_expression_path(spark, synth_docs):
    """The numpy signature kernel must produce the pairs and jaccards of
    the DuckDB twin (bit-equal hash arithmetic), empty doc included."""
    got = dedup.minhash_lsh_pairs(spark, synth_docs, threshold=0.0)
    assert got.count()
    assert_df_matches_sql(
        got, duck_of(documents=synth_docs), dedup.minhash_lsh_pairs_sql(threshold=0.0)
    )


def test_minhash_join_verify_matches_carry(spark, synth_docs):
    """verify='join' (keys-only band fan-out, shingles joined back from
    the reused signature exchange — the dense-clique scale path) must
    produce the identical pair set and jaccards as the default
    payload-carrying plan; the knob is physical-only."""
    carry = sorted(map(tuple, dedup.minhash_lsh_pairs(
        spark, synth_docs, threshold=0.0).collect()))
    joined = sorted(map(tuple, dedup.minhash_lsh_pairs(
        spark, synth_docs, threshold=0.0, verify="join").collect()))
    assert carry == joined and carry
    import pytest as _pytest

    with _pytest.raises(ValueError, match="verify"):
        dedup.minhash_lsh_pairs(spark, synth_docs, verify="bogus")


def test_minhash_auto_dispatch(spark, synth_docs):
    """verify='auto' measures the exact-dup ratio (the ingest-profile
    statistic) and dispatches: carry at/below AUTO_DENSE_DUP_RATIO,
    join above (the sf10 100-clique regime). The pick itself is pinned
    via _auto_verify_choice; result equality with the explicit plans is
    pinned on both a sparse and a dup-dense corpus (the knob is
    physical-only)."""
    from pyspark.sql import functions as F

    assert dedup._auto_verify_choice(synth_docs) in ("carry", "join")

    # dup-DENSE corpus: every doc under 5 distinct ids → ratio ≈ 0.8 →
    # must pick 'join'; a nearly-distinct corpus must pick 'carry'.
    dense = synth_docs
    for off in (100, 200, 300, 400):
        dense = dense.unionAll(
            synth_docs.withColumn("doc_id", F.col("doc_id") + off)
        )
    assert dedup._auto_verify_choice(dense) == "join"
    distinct_texts = synth_docs.withColumn(
        "text", F.concat_ws(" ", F.col("text"), F.col("doc_id").cast("string"))
    )
    assert dedup._auto_verify_choice(distinct_texts) == "carry"

    # auto == explicit pair sets on both regimes
    a = sorted(map(tuple, dedup.minhash_lsh_pairs(
        spark, dense, threshold=0.0, verify="auto").collect()))
    j = sorted(map(tuple, dedup.minhash_lsh_pairs(
        spark, dense, threshold=0.0, verify="join").collect()))
    assert a == j and a


def test_minhash_auto_reads_persisted_profile(spark, synth_docs, tmp_path):
    """Round-8 (VERDICT r7 #6): when a persisted ingest profile exists,
    verify='auto' reads dup density from its O(sources) rows instead of
    re-scanning the corpus. Pinned by feeding a profile that CONTRADICTS
    the corpus — the choice must follow the profile, proving no probe
    ran — plus the missing-path fallback to the probe."""
    from pyspark.sql import functions as F

    # a dup-SPARSE corpus (unique suffix per doc): the probe says
    # 'carry'; a dup-dense profile (20% accept) must flip the choice to
    # 'join' without touching the corpus.
    sparse = synth_docs.withColumn(
        "text", F.concat_ws(" ", F.col("text"), F.col("doc_id").cast("string"))
    )
    dense_profile = spark.createDataFrame(
        [("web", 1000, 700, 100, 200)],
        "source string, n_incoming long, n_dup_existing long, "
        "n_dup_batch long, n_new long",
    )
    assert dedup._auto_verify_choice(sparse) == "carry"
    assert dedup._auto_verify_choice(sparse, profile=dense_profile) == "join"
    # a dup-sparse profile keeps 'carry'
    sparse_profile = spark.createDataFrame(
        [("web", 1000, 10, 5, 985)],
        "source string, n_incoming long, n_dup_existing long, "
        "n_dup_batch long, n_new long",
    )
    assert dedup._auto_verify_choice(sparse, profile=sparse_profile) == "carry"
    # persisted path: the real pipeline shape
    p = str(tmp_path / "ingest_profile")
    dense_profile.write.parquet(p)
    assert dedup._auto_verify_choice(sparse, profile=p) == "join"
    # missing path → probe fallback (the corpus truth)
    assert (
        dedup._auto_verify_choice(
            sparse, profile=str(tmp_path / "never_written")
        )
        == "carry"
    )
    # end-to-end through the operator: profile-driven auto == explicit
    pj = sorted(map(tuple, dedup.minhash_lsh_pairs(
        spark, sparse, threshold=0.0, verify="auto", profile=p
    ).collect()))
    jj = sorted(map(tuple, dedup.minhash_lsh_pairs(
        spark, sparse, threshold=0.0, verify="join").collect()))
    assert pj == jj and pj


def test_simhash_identical_for_dups(spark, synth_docs):
    sh = {
        r["doc_id"]: r["sh"]
        for r in synth_docs.select(
            "doc_id", dedup.simhash_col(F.col("text")).alias("sh")
        ).collect()
    }
    assert sh[1] == sh[3]  # exact dup
    assert sh[1] == sh[4]  # same token set (simhash is order-insensitive)
    assert sh[1] != sh[5]  # different language content
    assert sh[7] == 0  # empty doc


def test_ngram_jaccard_blocked_pairs(spark, synth_docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             dedup.ngram_jaccard_pairs(spark, synth_docs, threshold=0.5).collect()}
    # 1 and 2 share source s1 and are near-identical char-wise
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.7
    # 1 and 3 are identical but in different sources → blocked apart
    assert (1, 3) not in pairs


def test_ngram_blocking_lossless_on_fixture(spark, engine):
    """The size-class blocked n-gram Jaccard must equal the full
    within-source quadratic bit-for-bit (the blocking is provably
    lossless for τ > 0.5), and the blocks must subdivide sources."""
    docs = engine.catalog.table("documents")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(spark, docs, threshold=0.55).collect()
    }
    grams = docs.select(
        F.col("source"), F.col("doc_id"), dedup._char_ngrams(F.col("text"), 4).alias("g")
    )
    brute = (
        grams.alias("a")
        .join(grams.alias("b"), on="source")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (
                F.size(F.array_intersect(F.col("a.g"), F.col("b.g")))
                / F.size(F.array_union(F.col("a.g"), F.col("b.g"))).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.55)
    )
    want = {
        (r["doc_a"], r["doc_b"]): round(r["jaccard"], 6) for r in brute.collect()
    }
    assert got == want
    # block sizes: (source, size-class) strictly subdivides (source)
    sized = grams.withColumn("blen", F.length(F.bin(F.greatest(F.size("g"), F.lit(1)))))
    per_block = sized.groupBy("source", "blen").count().agg(F.max("count")).collect()[0][0]
    per_source = sized.groupBy("source").count().agg(F.max("count")).collect()[0][0]
    assert per_block < per_source
    # loose thresholds must be rejected (blocking soundness boundary)
    with pytest.raises(ValueError, match="0.5"):
        dedup.ngram_jaccard_pairs(spark, docs, threshold=0.49)


def test_lang_id(spark, synth_docs):
    preds = {
        r["doc_id"]: r["p"]
        for r in synth_docs.select(
            "doc_id", predicted_lang_col(F.col("text")).alias("p")
        ).collect()
    }
    assert preds[1] == "en" and preds[5] == "de" and preds[6] == "fr"
    assert preds[7] == "unknown"


def test_simhash_arrow_matches_expression(spark, synth_docs):
    """The Arrow 32-bit SimHash kernel and the 32-fold expression path
    must agree signature-for-signature (majority votes included) on
    fixture + NULL/empty edge rows."""
    fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    edge = spark.createDataFrame(
        [(90001, None, "s1"), (90002, "", "s2")],
        "doc_id long, text string, source string",
    )
    docs = fixture.select("doc_id", "text", "source").unionByName(
        edge.select("doc_id", "text", "source")
    )
    fast = {
        tuple(r)
        for r in dedup._simhash32_pandas(
            docs.withColumnRenamed("doc_id", "source2").select(
                F.col("source2").cast("string").alias("source"), "text"
            )
        ).collect()
    }
    slow = {
        tuple(r)
        for r in docs.select(
            F.col("doc_id").cast("string").alias("source"),
            dedup.simhash_col(F.col("text")).alias("simhash"),
        ).collect()
    }
    assert fast == slow
    # and the summary operator end-to-end, against its DuckDB twin
    summary = dedup.simhash_summary(spark, docs)
    assert summary.count() > 0
    assert_df_matches_sql(summary, duck_of(documents=docs), dedup.simhash_summary_sql())


def test_quality_arrow_matches_expression_path(spark, synth_docs):
    """The Arrow quality/lang-ID kernels must reproduce the Column
    helpers row for row (bit-equal ratio/score arithmetic, identical
    NULL propagation) and each operator its DuckDB twin, on fixture
    documents plus NULL/empty-text edge rows."""
    from approximatequeryengine_spark.operators.text import (
        _predicted_lang_pandas,
        _quality_pandas,
        lang_id_confusion,
        lang_id_confusion_sql,
        quality_by_lang,
        quality_by_lang_sql,
        quality_threshold_sweep,
        quality_threshold_sweep_sql,
    )

    fixture = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    edge = spark.createDataFrame(
        [(90001, None, "en", "s1", 0), (90002, "", None, "s1", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs = fixture.select("doc_id", "text", "lang", "source").unionByName(
        edge.select("doc_id", "text", "lang", "source")
    )

    def rows(df):
        return sorted(
            [tuple(r) for r in df.collect()],
            key=lambda t: tuple((v is None, v) for v in t),
        )

    q = quality_columns(F.col("text"))
    assert rows(_quality_pandas(docs, ["doc_id"])) == rows(
        docs.select("doc_id", *[c.alias(n) for n, c in q.items()])
    )
    assert rows(_predicted_lang_pandas(docs, ["doc_id"])) == rows(
        docs.select("doc_id", predicted_lang_col(F.col("text")).alias("predicted"))
    )
    con = duck_of(documents=docs)
    for op, twin in (
        (quality_by_lang, quality_by_lang_sql),
        (lang_id_confusion, lang_id_confusion_sql),
        (quality_threshold_sweep, quality_threshold_sweep_sql),
    ):
        got = op(spark, docs)
        assert got.count() > 0, op.__name__
        assert_df_matches_sql(got, con, twin())


def test_quality_empty_doc(spark, synth_docs):
    cols = quality_columns(F.col("text"))
    row = (
        synth_docs.filter("doc_id = 7")
        .select(*[c.alias(n) for n, c in cols.items()])
        .collect()[0]
    )
    assert row["n_tokens"] == 0 and row["n_chars"] == 0
    assert 0.0 <= row["quality_score"] <= 1.0


@pytest.fixture(scope="module")
def synth_emb(spark):
    import math

    def vec(theta, dim=8):
        # unit vectors in a 2D subspace, padded — cosine = cos(Δtheta)
        v = [math.cos(theta), math.sin(theta)] + [0.0] * (dim - 2)
        return [float(x) for x in v]

    rows = [
        (0, vec(0.00), 0),
        (1, vec(0.05), 0),   # near-dup of 0 (cos ≈ 0.9988)
        (2, vec(1.50), 0),   # far from 0
        (3, vec(3.10), 1),
        (4, vec(0.02), 1),   # near 0 but different label block
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_bruteforce_topk(spark, synth_emb):
    res = similarity.ann_bruteforce_topk(spark, synth_emb, n_queries=1, k=2).collect()
    ranked = [r["neighbor_id"] for r in sorted(res, key=lambda r: r["rank"])]
    assert ranked == [4, 1]  # closest first (0.02 rad then 0.05 rad)


def test_bruteforce_arrow_matches_expression_path(spark, engine):
    """The Arrow matmul kernel must reproduce the expression path's
    top-k EXACTLY (fold-order parity ⇒ bit-identical cosines, same
    tie-breaks) on the fixture corpus."""
    from approximatequeryengine_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_bruteforce_topk_arrow,
    )

    emb = engine.catalog.table("embeddings")
    want = sorted(map(tuple, ann_bruteforce_topk(spark, emb).collect()))
    got = sorted(map(tuple, ann_bruteforce_topk_arrow(spark, emb).collect()))
    assert got == want and got


def test_ivf_expr_builders_match_column_path(spark, engine, synth_emb):
    """The SQL-text builders (_ivf_cell_expr / _pq_codes_expr — one
    F.expr parse instead of hundreds of py4j literal Columns) must
    reproduce the Column builders bit-for-bit: same slice bounds, same
    DOUBLE sign literals, same left-to-right folds, same integer
    packing. Checked on the fixture embeddings AND the short-vector
    synth set (slice/least truncation path)."""
    from approximatequeryengine_spark.operators.similarity import (
        DIM,
        PQ_M,
        PQ_SUB,
        _hyperplane_bit_col,
        _ivf_cell_expr,
        _pq_code_col,
        _pq_codes_expr,
        _vec_double,
        valid_vec_col,
    )

    for emb in (engine.catalog.table("embeddings"), synth_emb):
        base = emb.filter(valid_vec_col(F.col("embedding"))).select(
            F.col("vec_id"), _vec_double(F.col("embedding")).alias("v")
        )
        cell_col = F.lit(0).cast("long")
        for b in range(4):
            cell_col = cell_col + _hyperplane_bit_col(F.col("v"), b) * F.lit(
                2**b
            ).cast("long")
        codes_col = F.array(
            *[
                _pq_code_col(F.slice(F.col("v"), m * PQ_SUB + 1, PQ_SUB), m)
                for m in range(PQ_M)
            ]
        )
        rows = base.select(
            "vec_id",
            cell_col.cast("int").alias("cell_a"),
            F.expr(_ivf_cell_expr("v", 4)).alias("cell_b"),
            codes_col.alias("codes_a"),
            F.expr(_pq_codes_expr("v")).alias("codes_b"),
        ).collect()
        assert rows
        for r in rows:
            assert r["cell_a"] == r["cell_b"], r
            assert list(r["codes_a"]) == list(r["codes_b"]), r


def test_embedding_neardup_blocked(spark, synth_emb):
    pairs = {(r["vec_a"], r["vec_b"]) for r in
             similarity.embedding_neardup_pairs(spark, synth_emb, threshold=0.99).collect()}
    assert (0, 1) in pairs          # same label, cosine ~0.9988
    assert (0, 4) not in pairs      # cosine ~0.9998 but different label block


def test_lsh_bucket_invariants_on_fixture(spark, engine):
    """Multi-table LSH candidates must share ≥1 table key with the
    query, and their cosine must agree with the brute-force scan for
    the same pair."""
    emb = engine.catalog.table("embeddings")
    keys = similarity.lsh_band_keys_col(
        F.transform(F.col("embedding"), lambda v: v.cast("double")),
        similarity.ANN_TABLES,
        similarity.ANN_BITS,
    )
    sigs = {
        r["vec_id"]: [r[f"k{t}"] for t in range(similarity.ANN_TABLES)]
        for r in emb.select(
            "vec_id", *[k.alias(f"k{t}") for t, k in enumerate(keys)]
        ).collect()
    }
    lsh = similarity.ann_lsh_topk(spark, emb, n_queries=5, k=3).collect()
    assert lsh, "expected bucket collisions on 500 vectors"
    bf_all = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in similarity.ann_bruteforce_topk(spark, emb, n_queries=5, k=10**6).collect()
    }
    for r in lsh:
        shared = sum(
            a == b for a, b in zip(sigs[r["query_id"]], sigs[r["neighbor_id"]])
        )
        assert shared >= 1
        assert r["cos_sim"] == pytest.approx(bf_all[(r["query_id"], r["neighbor_id"])], abs=1e-9)


def test_band_keys_arrow_matches_expression(spark, engine):
    """The vectorized signature kernel must produce bit-identical band
    keys to the expression path (sequential float64 accumulation —
    same fold order, so the proj>0 sign can never differ)."""
    emb = engine.catalog.table("embeddings").limit(200)
    fast = {
        r["vec_id"]: list(r["keys"])
        for r in similarity.lsh_band_keys_arrow(
            emb, similarity.ANN_TABLES, similarity.ANN_BITS
        ).collect()
    }
    keys = similarity.lsh_band_keys_col(
        F.transform(F.col("embedding"), lambda v: v.cast("double")),
        similarity.ANN_TABLES,
        similarity.ANN_BITS,
    )
    slow = {
        r["vec_id"]: [r[f"k{t}"] for t in range(similarity.ANN_TABLES)]
        for r in emb.select(
            "vec_id", *[k.alias(f"k{t}") for t, k in enumerate(keys)]
        ).collect()
    }
    assert fast == slow and fast


def test_ann_lsh_recall_on_fixture(spark, engine):
    """Multi-table banded LSH (16×4 default) must recall ≥0.9 of the
    brute-force top-3 for the 5 fixture queries — the round-1 review's
    acceptance bar for the widened signature scheme."""
    emb = engine.catalog.table("embeddings")
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_bruteforce_topk(spark, emb, n_queries=5, k=3).collect()
    }
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_lsh_topk(spark, emb, n_queries=5, k=3).collect()
    }
    assert len(bf & lsh) / len(bf) >= 0.9


def test_neardup_blocks_bounded_and_verified(spark, engine):
    """Banded-LSH near-dup blocking must (a) subdivide every label
    stratum (max bucket ≪ max stratum) and (b) return only
    cosine-verified pairs that the full quadratic would also emit."""
    emb = engine.catalog.table("embeddings")
    keys = similarity.lsh_band_keys_col(
        F.transform(F.col("embedding"), lambda v: v.cast("double")),
        similarity.NEARDUP_BANDS,
        similarity.NEARDUP_BITS,
    )
    buckets = (
        emb.select(F.col("label"), *[k.alias(f"k{t}") for t, k in enumerate(keys)])
        .groupBy("label", "k0")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]["mx"]
    )
    stratum = (
        emb.groupBy("label").count().agg(F.max("count").alias("mx")).collect()[0]["mx"]
    )
    assert buckets < stratum  # blocking subdivides the label stratum
    got = similarity.embedding_neardup_pairs(spark, emb, threshold=0.35).collect()
    assert got, "τ=0.35 must stay non-vacuous on the fixture"
    # every emitted pair is genuine (verification is exact)
    full = {
        (r["vec_a"], r["vec_b"])
        for r in spark.createDataFrame(got).collect()
    }
    base = emb.select("label", "vec_id", F.col("embedding"))
    brute = (
        base.alias("a")
        .join(base.alias("b"), on="label")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            similarity.cosine_sim(
                F.transform(F.col("a.embedding"), lambda v: v.cast("double")),
                F.transform(F.col("b.embedding"), lambda v: v.cast("double")),
            ).alias("cos"),
        )
        .filter(F.col("cos") >= 0.35)
    )
    brute_pairs = {(r["vec_a"], r["vec_b"]) for r in brute.collect()}
    assert full <= brute_pairs  # no false positives
    assert len(full) / len(brute_pairs) >= 0.5  # candidate recall sanity


def test_frame_sample_counts(spark, synth_docs):
    # Each blob expands to (payload_len % 5) + 1 frames.
    from approximatequeryengine_spark.operators.multimodal import video_frame_sample

    rows = video_frame_sample(spark, synth_docs).collect()
    got = {r["media_type"]: (r["n_videos"], r["n_frames"]) for r in rows}
    texts = {r["doc_id"]: r["text"] for r in synth_docs.collect()}
    expect = {"image/png": [0, 0], "audio/wav": [0, 0]}
    for doc_id, text in texts.items():
        mt = "image/png" if doc_id % 2 == 0 else "audio/wav"
        expect[mt][0] += 1
        expect[mt][1] += len(text.encode()) % 5 + 1
    assert got == {k: tuple(v) for k, v in expect.items()}


def test_resize_media_real_roundtrip():
    """Round 3: PNG resize is real (decode → nearest → re-encode);
    audio/video resize still declares itself unsupported."""
    import numpy as np

    from approximatequeryengine_spark.functions.media import decode_png, encode_png
    from approximatequeryengine_spark.operators.multimodal import resize_media

    arr = (np.arange(64, dtype=np.uint8) * 3).reshape(8, 8)
    out = resize_media(encode_png(arr), "image/png", 4, 4)
    small = decode_png(out)
    assert small.shape == (4, 4, 1)
    assert (small[:, :, 0] == arr[::2, ::2]).all()
    with pytest.raises(NotImplementedError):
        resize_media(b"", "video/mp4", 64, 64)


def test_corpus_clean_pipeline(spark, synth_docs):
    """Docs 1/3 are exact dups and 4 is a token-set dup of them; 5/6 are
    non-English; 7 is empty (filtered by quality)."""
    from approximatequeryengine_spark.operators.text import corpus_clean_pipeline

    row = corpus_clean_pipeline(spark, synth_docs).collect()[0]
    # kept: one of {1,3,4} + doc 2 → 2 docs, 2 dups removed
    assert row["n_docs_kept"] == 2
    assert row["n_dups_removed"] == 2
    assert 0.5 <= row["avg_quality_kept"] <= 1.0


def test_corpus_clean_arrow_matches_expression_path(spark):
    """The Arrow enrichment kernel must produce the aggregates of the
    DuckDB twin (bit-equal score arithmetic and fingerprints) on real
    fixture documents."""
    from approximatequeryengine_spark.operators.text import (
        corpus_clean_pipeline,
        corpus_clean_pipeline_sql,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = corpus_clean_pipeline(spark, docs)
    assert got.collect()[0]["n_docs_kept"] > 0
    assert_df_matches_sql(got, duck_of(documents=docs), corpus_clean_pipeline_sql())


def test_asof_and_range_join(spark):
    from datetime import datetime, timedelta

    from approximatequeryengine_spark.operators import temporal

    t0 = datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, etype, minutes, uid=1):
        return (eid, t0 + timedelta(minutes=minutes), uid, etype, 1.0, "")

    events = spark.createDataFrame(
        [
            ev(1, "click", 0),
            ev(2, "click", 90),
            ev(3, "purchase", 50),    # asof → click 1 (gap 50m); range: 1 click
            ev(4, "purchase", 90),    # same-ts click 2 → gap 0; range: click 2 only (click1 is 90m back)
            ev(5, "purchase", 200),   # asof → click 2 (gap 110m); range: none
            ev(6, "purchase", 10, uid=2),  # user 2: no clicks at all
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    asof = {r["purchase_id"]: r for r in temporal.asof_purchase_click(spark, events).collect()}
    assert asof[3]["click_id"] == 1 and asof[3]["gap_s"] == 50 * 60
    assert asof[4]["click_id"] == 2 and asof[4]["gap_s"] == 0
    assert asof[5]["click_id"] == 2 and asof[5]["gap_s"] == 110 * 60
    assert asof[6]["click_id"] is None and asof[6]["gap_s"] is None

    rng = {r["purchase_id"]: r["n_clicks_1h"] for r in
           temporal.range_join_purchase_clicks(spark, events).collect()}
    assert rng == {3: 1, 4: 1, 5: 0, 6: 0}


def test_unigram_logprob_flags_gibberish(spark):
    """A document of unique gibberish tokens must score far below docs
    built from the corpus's common vocabulary."""
    from approximatequeryengine_spark.operators.text import unigram_logprob_stats

    common = "the cat sat on the mat and the dog sat on the rug"
    rows = [
        (1, common, "en", "s1", len(common)),
        (2, "the dog and the cat on the mat", "en", "s1", 30),
        (3, "zqx vbnm kjhg wers plmo qazx", "xx", "s2", 28),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {r["lang"]: r for r in unigram_logprob_stats(spark, docs).collect()}
    assert got["en"]["avg_logprob"] > got["xx"]["avg_logprob"]
    assert got["xx"]["n_below_global"] == 1 and got["xx"]["share_below"] == 1.0
    assert got["en"]["n_docs"] == 2


def test_unigram_logprob_oracle_parity(spark, engine, duck):
    from approximatequeryengine_spark.operators.text import (
        unigram_logprob_stats,
        unigram_logprob_stats_sql,
    )
    from tests.conftest import assert_df_matches_sql

    docs = engine.catalog.table("documents")
    assert_df_matches_sql(
        unigram_logprob_stats(spark, docs), duck, unigram_logprob_stats_sql()
    )


def test_funnel_strict_ordering(spark):
    """A user whose click precedes every view must NOT count as
    view→click; only in-order sequences advance the funnel."""
    from datetime import datetime

    from approximatequeryengine_spark.operators.temporal import funnel_conversion

    def t(s):
        return datetime.fromisoformat(s)

    rows = [
        # u1: full in-order funnel
        (1, t("2024-01-01 09:00:00"), 1, "view", 1.0, "{}"),
        (2, t("2024-01-01 09:05:00"), 1, "click", 1.0, "{}"),
        (3, t("2024-01-01 09:10:00"), 1, "purchase", 1.0, "{}"),
        # u2: click BEFORE view → funnel stops at view
        (4, t("2024-01-01 08:00:00"), 2, "click", 1.0, "{}"),
        (5, t("2024-01-01 09:00:00"), 2, "view", 1.0, "{}"),
        # u3: view then purchase, no click → stops after view
        (6, t("2024-01-01 09:00:00"), 3, "view", 1.0, "{}"),
        (7, t("2024-01-01 09:30:00"), 3, "purchase", 1.0, "{}"),
        # u4: no view at all
        (8, t("2024-01-01 09:00:00"), 4, "error", 1.0, "{}"),
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    row = funnel_conversion(spark, events).collect()[0]
    assert row["n_users"] == 4
    assert row["n_view"] == 3
    assert row["n_view_click"] == 1
    assert row["n_full_funnel"] == 1
    assert row["rate_full_funnel"] == pytest.approx(1 / 3, abs=1e-6)


def test_funnel_oracle_parity(spark, engine, duck):
    from approximatequeryengine_spark.operators.temporal import (
        funnel_conversion,
        funnel_conversion_sql,
    )
    from tests.conftest import assert_df_matches_sql

    events = engine.catalog.table("events")
    row = funnel_conversion(spark, events).collect()[0]
    assert row["n_users"] >= row["n_view"] >= row["n_view_click"] >= row["n_full_funnel"]
    assert_df_matches_sql(
        funnel_conversion(spark, events), duck, funnel_conversion_sql()
    )


def test_cohort_retention_invariants(spark, engine, duck):
    from approximatequeryengine_spark.operators.temporal import (
        cohort_retention,
        cohort_retention_sql,
    )
    from tests.conftest import assert_df_matches_sql

    events = engine.catalog.table("events")
    rows = cohort_retention(spark, events).collect()
    assert rows
    for r in rows:
        assert r["week_offset"] >= 0
        assert 0 < r["n_active"] <= r["cohort_size"]
        assert 0 < r["retention"] <= 1.0
        if r["week_offset"] == 0:
            assert r["retention"] == 1.0
    # cohort sizes sum to the distinct-user count (every user is in
    # exactly one cohort)
    sizes = {r["cohort_week"]: r["cohort_size"] for r in rows}
    assert sum(sizes.values()) == events.select("user_id").distinct().count()
    assert_df_matches_sql(
        cohort_retention(spark, events), duck, cohort_retention_sql()
    )


def test_salted_join_matches_plain_join(spark):
    """Salting changes the physical key distribution only — results must
    equal the plain equi-join on skewed data (one key = 90% of rows)."""
    from approximatequeryengine_spark.operators.joins import salted_join

    big = spark.range(0, 2000).select(
        F.when(F.col("id") < 1800, F.lit(7)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 50).select(F.col("id").alias("k"), (F.col("id") * 10).alias("dim_val"))
    plain = big.join(dim, on="k", how="inner")
    salted = salted_join(big, dim, on="k", how="inner", salt_buckets=8)
    assert salted.count() == plain.count()
    a = sorted(map(tuple, plain.select("k", "payload", "dim_val").collect()))
    b = sorted(map(tuple, salted.select("k", "payload", "dim_val").collect()))
    assert a == b
    # left join keeps unmatched rows too
    dim_small = dim.filter("k < 10")
    pl = big.join(dim_small, on="k", how="left")
    sl = salted_join(big, dim_small, on="k", how="left", salt_buckets=4)
    assert sl.count() == pl.count()


def test_skew_split_join_matches_plain_join(spark):
    """The hot/cold split is a disjoint key partition — results must
    equal the plain inner join on skewed data, including NULL join
    keys (dropped by inner-join semantics on both paths) and the
    all-keys-hot edge (hot_top larger than the key space)."""
    import pytest as _pytest

    from approximatequeryengine_spark.operators.joins import skew_split_join

    big = spark.range(0, 2000).select(
        F.when(F.col("id") < 1700, F.lit(7))
        .when(F.col("id") < 1900, F.lit(None))
        .otherwise(F.col("id") % 50)
        .alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("dim_val")
    )
    plain = sorted(
        map(tuple, big.join(dim, on="k", how="inner").select("k", "payload", "dim_val").collect())
    )
    for hot_top in (1, 4, 100):
        split = sorted(
            map(
                tuple,
                skew_split_join(big, dim, on="k", hot_top=hot_top)
                .select("k", "payload", "dim_val")
                .collect(),
            )
        )
        assert split == plain, f"hot_top={hot_top}"
    with _pytest.raises(ValueError):
        skew_split_join(big, dim, on="k", how="left")
    with _pytest.raises(ValueError):
        skew_split_join(big, dim, on="k", hot_top=0)


def test_key_skew_profile(spark, engine, duck):
    from approximatequeryengine_spark.operators.joins import (
        profile_key_skew,
        profile_key_skew_sql,
    )
    from tests.conftest import assert_df_matches_sql

    # synthetic 90%-hot-key table: the profile must expose the straggler
    big = spark.range(0, 2000).select(
        F.when(F.col("id") < 1800, F.lit(7)).otherwise(F.col("id") % 50).alias("k")
    )
    row = profile_key_skew(big, "k").collect()[0]
    assert row["n_rows"] == 2000
    assert row["max_freq"] >= 1800
    assert row["max_share"] >= 0.9
    assert row["skew_ratio"] > 10
    # near-uniform key: ratio close to 1
    uni = spark.range(0, 2000).select((F.col("id") % 50).alias("k"))
    assert profile_key_skew(uni, "k").collect()[0]["skew_ratio"] == 1.0
    # oracle parity on the fixture
    assert_df_matches_sql(
        profile_key_skew(engine.catalog.table("lineitem"), "l_suppkey"),
        duck,
        profile_key_skew_sql("lineitem", "l_suppkey"),
    )


def test_ivf_cosines_match_bruteforce(spark, engine):
    """IVF results must carry exact cosines (verified against the
    brute-force scan) and only neighbors from probed clusters."""
    emb = engine.catalog.table("embeddings")
    ivf = similarity.ann_ivf_topk(spark, emb, n_queries=5, k=3).collect()
    assert ivf
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in similarity.ann_bruteforce_topk(spark, emb, n_queries=5, k=10**6).collect()
    }
    for r in ivf:
        assert r["cos_sim"] == pytest.approx(bf[(r["query_id"], r["neighbor_id"])], abs=1e-9)
        assert 1 <= r["rank"] <= 3


def test_ivf_recall_on_clustered_data(spark):
    """On well-separated clusters, probing the nearest centroid(s) must
    recover the true top-k (which lives in the query's own cluster)."""
    import math
    import random

    rng = random.Random(7)
    dim, per_cluster = 8, 30
    rows = []
    vid = 0
    for c in range(4):
        center = [0.0] * dim
        center[2 * c] = 10.0  # orthogonal, far-apart cluster centers
        for _ in range(per_cluster):
            v = [x + rng.gauss(0, 0.05) for x in center]
            rows.append((vid, [float(x) for x in v], c))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    ivf = similarity.ann_ivf_topk(
        spark, emb, n_queries=4, k=5, n_centroids=4, n_probe=1
    ).collect()
    bf = similarity.ann_bruteforce_topk(spark, emb, n_queries=4, k=5).collect()
    ivf_sets = {}
    bf_sets = {}
    for r in ivf:
        ivf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in bf:
        bf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(ivf_sets.get(q, set()) & bf_sets[q]) / len(bf_sets[q]) for q in bf_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.95, recalls


def test_multimodal_decode_stub_raises(spark, synth_docs):
    blobs = multimodal.make_blob_table(synth_docs)
    with pytest.raises(NotImplementedError):
        multimodal.extract_blob_features(spark, blobs, allow_fake=False).collect()


def test_multimodal_features(spark, synth_docs):
    import hashlib

    blobs = multimodal.make_blob_table(synth_docs)
    feats = {r["doc_id"]: r for r in
             multimodal.extract_blob_features(spark, blobs).collect()}
    base = "the quick brown fox jumps over the lazy dog again and again today"
    assert feats[1]["payload_len"] == len(base.encode())
    assert feats[1]["checksum32"] == int(hashlib.md5(base.encode()).hexdigest()[:8], 16)
    assert feats[1]["media_type"] == "audio/wav"  # odd doc_id
    assert feats[7]["payload_len"] == 0


def test_media_header_roundtrip_per_row(spark):
    """Parsing the generated PNG/WAV headers must recover the exact
    per-row metadata the generator embedded (byte-level inverse)."""
    from approximatequeryengine_spark.operators.multimodal import (
        make_media_blob_table,
        parse_media_metadata,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    meta = {r["doc_id"]: r for r in parse_media_metadata(
        make_media_blob_table(docs)
    ).collect()}
    assert len(meta) == 200
    for doc_id, r in meta.items():
        if doc_id % 2 == 0:
            assert r["kind"] == "png"
            assert r["width"] == 16 + doc_id % 1024
            assert r["height"] == 16 + (doc_id * 7) % 768
            assert r["sample_rate"] is None
        else:
            assert r["kind"] == "wav"
            assert r["sample_rate"] == 8000 + (doc_id % 8) * 4000
            n = 1000 + doc_id % 9000
            assert r["duration_ms"] == n * 1000.0 / r["sample_rate"]
            assert r["width"] is None


def test_int8_topk_overlap(spark):
    """int8-quantized brute-force top-k must agree with the float path
    on >= 80% of (query, neighbor) pairs — the quantization error is
    ~1/254 per dimension, far below typical neighbor gaps."""
    from approximatequeryengine_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_bruteforce_topk_int8,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_bruteforce_topk(spark, emb, n_queries=5, k=5).collect()
    }
    quant = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_bruteforce_topk_int8(spark, emb, n_queries=5, k=5).collect()
    }
    assert len(exact) == len(quant) == 25
    assert len(exact & quant) / len(exact) >= 0.80


def test_corpus_mix_balances_languages(spark):
    """The balanced mix must bring every language's kept count close to
    the smallest stratum (within binomial noise), shrinking the
    max/min imbalance by at least 2x when input is imbalanced."""
    from approximatequeryengine_spark.operators.text import corpus_mix_balanced

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    rows = corpus_mix_balanced(spark, docs).collect()
    assert len(rows) >= 3
    before = [r["n_before"] for r in rows]
    kept = [r["n_kept"] for r in rows]
    min_before = min(before)
    for r in rows:
        # Expected kept ≈ min_before; allow 4σ binomial slack.
        import math

        slack = 4 * math.sqrt(min_before) + 1
        assert abs(r["n_kept"] - min_before) <= slack, (r, min_before)
    if max(before) / min(before) > 1.5:
        assert (max(kept) / max(1, min(kept))) < (max(before) / min(before)) / 2


# -- curation layer (operators/curation.py) ---------------------------------


def test_pack_sequences_invariants(spark, engine):
    from approximatequeryengine_spark.operators import curation

    docs = engine.catalog.table("documents")
    rows = curation.pack_sequences(spark, docs).collect()
    assert len(rows) == curation.PACK_SHARDS
    assert sum(r["n_docs"] for r in rows) == docs.count()
    for r in rows:
        assert 0 < r["fill_ratio"] <= 1.0
        # the packed stream can't need more sequences than tokens/capacity + 1
        assert r["n_sequences"] >= r["total_tokens"] // curation.PACK_CAPACITY
        assert r["n_straddlers"] <= r["n_docs"]


def test_contamination_flags_eval_duplicates(spark):
    from approximatequeryengine_spark.operators import curation

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        # doc_id 0 → eval set (0 % 97 == 0)
        (0, text, "en", "s1", len(text)),
        # exact copy in the train split → must be contaminated
        (1, text, "en", "s1", len(text)),
        # shares no 8-gram with eval → clean
        (2, "one two three four five six seven eight nine ten", "en", "s2", 48),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        r["source"]: (r["n_train_docs"], r["n_contaminated"])
        for r in curation.contamination_screen(spark, docs).collect()
    }
    assert got["s1"] == (1, 1)
    assert got["s2"] == (1, 0)


def test_contamination_arrow_matches_expression(spark, synth_docs):
    """The shingle-hash Arrow kernel must agree with the higher-order
    Column chain on the exploded hash rows (bit-equal md5-prefix ints,
    same distinct collapse, same short-doc/empty/NULL handling), and the
    screen with its DuckDB twin."""
    from approximatequeryengine_spark.operators import curation

    edge = spark.createDataFrame(
        [
            (97, None, "en", "s1", 0),        # NULL text → no shingle rows
            (98, "", "en", "s1", 0),          # empty → the '' shingle
            (99, "   ", "en", "s2", 3),       # whitespace-only → ''
            (100, "two words", "en", "s2", 9) # < n tokens → whole text
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs = synth_docs.unionByName(edge)
    screen = curation.contamination_screen(spark, docs)
    assert screen.count()
    assert_df_matches_sql(
        screen, duck_of(documents=docs), curation.contamination_screen_sql()
    )
    # Pin the per-row hash stream itself, not just the aggregate.
    kern = sorted(
        map(
            tuple,
            curation._shingle_hash_rows_pandas(
                docs, curation.CONTAM_NGRAM
            ).collect(),
        )
    )
    toks = text_fns.ws_tokens_col(F.col("text"))
    sh = text_fns.word_shingles_col(toks, curation.CONTAM_NGRAM)
    expr = sorted(
        map(
            tuple,
            docs.select(
                "doc_id",
                "source",
                F.explode(
                    F.array_distinct(F.transform(sh, text_fns.str_hash32_col))
                ).alias("h"),
            ).collect(),
        )
    )
    assert kern == expr and kern


def test_repetition_scores_degenerate_text(spark):
    from approximatequeryengine_spark.operators import curation

    rows = [
        (1, "spam spam spam spam eggs", "en", "s1", 24),   # top_freq 0.8
        (2, "all tokens here are unique words", "en", "s1", 32),  # 1/6 < 0.2
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    row = curation.repetition_stats(spark, docs).collect()[0]
    assert row["n_repetitive"] == 1
    assert row["avg_distinct_ratio"] == pytest.approx((2 / 5 + 1.0) / 2, abs=1e-6)


def test_pii_stats_counts_matches(spark):
    from approximatequeryengine_spark.operators import curation

    rows = [
        (1, "contact me at jane.doe@example.com or 555-123-4567", "en", "s1", 50),
        (2, "serial 123456789 has no contact info", "en", "s1", 36),
        (3, "nothing sensitive here", "en", "s2", 22),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {r["source"]: r for r in curation.pii_scrub_stats(spark, docs).collect()}
    assert got["s1"]["n_docs_with_pii"] == 1
    assert got["s1"]["n_emails"] == 1
    assert got["s1"]["n_phones"] == 1
    assert got["s1"]["n_digit_runs"] == 2  # 4567 tail + 123456789
    assert got["s2"]["n_docs_with_pii"] == 0


def test_dataset_split_deterministic_and_balanced(spark, engine, duck):
    from approximatequeryengine_spark.operators import curation
    from tests.conftest import assert_df_matches_sql

    docs = engine.catalog.table("documents")
    rows = {r["split"]: r for r in curation.dataset_split(spark, docs).collect()}
    assert set(rows) == {"train", "val", "test"}
    total = sum(r["n_docs"] for r in rows.values())
    assert total == docs.count()
    # 80/10/10 cuts within sampling noise on the fixture corpus
    assert rows["train"]["n_docs"] / total == pytest.approx(0.8, abs=0.1)
    assert rows["val"]["n_docs"] / total == pytest.approx(0.1, abs=0.07)
    assert sum(r["share"] for r in rows.values()) == pytest.approx(1.0, abs=1e-5)
    # deterministic: a second run assigns identically
    again = {r["split"]: r["n_docs"] for r in curation.dataset_split(spark, docs).collect()}
    assert again == {k: r["n_docs"] for k, r in rows.items()}
    # growth-stable: dropping documents never moves a survivor's split
    half = docs.filter(F.col("doc_id") % 2 == 0)
    half_rows = {r["split"]: r["n_docs"] for r in curation.dataset_split(spark, half).collect()}
    assert sum(half_rows.values()) == half.count()
    assert_df_matches_sql(
        curation.dataset_split(spark, docs), duck, curation.dataset_split_sql()
    )


def test_sample_per_source_deterministic(spark, engine, duck):
    from approximatequeryengine_spark.operators import curation
    from tests.conftest import assert_df_matches_sql

    docs = engine.catalog.table("documents")
    rows = curation.sample_per_source(spark, docs, k=4).collect()
    per_src = {}
    for r in rows:
        per_src.setdefault(r["source"], []).append(r["doc_id"])
    n_sources = docs.select("source").distinct().count()
    assert len(per_src) == n_sources
    assert all(len(v) <= 4 for v in per_src.values())
    # deterministic across runs
    again = curation.sample_per_source(spark, docs, k=4).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]
    assert_df_matches_sql(
        curation.sample_per_source(spark, docs), duck, curation.sample_per_source_sql()
    )


def test_mixture_plan_caps_rates(spark, engine, duck):
    from approximatequeryengine_spark.operators import curation
    from tests.conftest import assert_df_matches_sql

    docs = engine.catalog.table("documents")
    rows = curation.mixture_plan(spark, docs).collect()
    assert len(rows) == docs.select("lang").distinct().count()
    for r in rows:
        assert 0.0 < r["sampling_rate"] <= 1.0
        assert r["expected_tokens"] <= r["avail_tokens"]
        assert r["expected_tokens"] <= r["target_tokens"]
        if r["feasible"]:
            assert r["expected_tokens"] == r["target_tokens"]
        else:
            assert r["sampling_rate"] == 1.0
    # the plan never promises more than the budget
    total_avail = sum(r["avail_tokens"] for r in rows)
    assert sum(r["expected_tokens"] for r in rows) <= total_avail * 0.5 + len(rows)
    assert_df_matches_sql(
        curation.mixture_plan(spark, docs), duck, curation.mixture_plan_sql()
    )


def test_chunk_inventory_arithmetic(spark, engine, duck):
    from approximatequeryengine_spark.operators import curation
    from tests.conftest import assert_df_matches_sql

    # 300 tokens, size 128, overlap 32 → stride 96 → ceil(268/96) = 3 chunks
    text300 = " ".join(f"w{i}" for i in range(300))
    short = "just a few tokens here"
    rows = [
        (1, text300, "en", "s1", len(text300)),
        (2, short, "en", "s1", len(short)),
        (3, "", "en", "s1", 0),  # empty doc → ZERO chunks, not one
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    row = curation.chunk_inventory(spark, docs).collect()[0]
    assert row["n_docs"] == 3
    assert row["n_chunks"] == 3 + 1
    assert row["total_tokens"] == 300 + 5
    # emitted = 300 + 2*32 (long doc) + 5 (short doc)
    emitted = 300 + 2 * 32 + 5
    assert row["overlap_overhead"] == pytest.approx(
        (emitted - 305) / emitted, abs=1e-6
    )
    assert 0 < row["fill_ratio"] <= 1.0
    assert_df_matches_sql(
        curation.chunk_inventory(spark, engine.catalog.table("documents")),
        duck,
        curation.chunk_inventory_sql(),
    )


def test_ingest_dedup_classifies_three_ways(spark, engine, duck):
    from approximatequeryengine_spark.operators.dedup import ingest_dedup_stats
    from tests.conftest import assert_df_matches_sql

    # Incoming slice = portable_hash(doc_id, INGEST_SALT) in the 10%
    # window; doc_ids 6/15/22/37 are in it (verified against the hash),
    # 1/2 are not. Doc 6 duplicates existing doc 1, docs 15/22
    # duplicate each other (within batch), doc 37 is new.
    rows = [
        (1, "alpha beta gamma", "en", "s1", 16),
        (2, "some existing corpus text", "en", "s1", 25),
        (6, "alpha beta gamma", "en", "s1", 16),
        (15, "fresh duplicate pair", "en", "s1", 20),
        (22, "fresh duplicate pair", "en", "s1", 20),
        (37, "entirely new document", "en", "s1", 21),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    row = ingest_dedup_stats(spark, docs).collect()[0]
    assert row["n_incoming"] == 4
    assert row["n_dup_existing"] == 1  # doc 6
    assert row["n_dup_batch"] == 1  # doc 22 (15 survives)
    assert row["n_new"] == 2  # docs 15, 37
    assert row["accept_rate"] == 0.5
    from approximatequeryengine_spark.operators.dedup import ingest_dedup_stats_sql

    assert_df_matches_sql(
        ingest_dedup_stats(spark, engine.catalog.table("documents")),
        duck,
        ingest_dedup_stats_sql(),
    )


def test_connected_clusters_resolve_transitive_dups(spark):
    """A≈B and B≈C near-dup pairs must land in ONE cluster with the min
    doc_id as survivor, even when A and C alone wouldn't pair."""
    from approximatequeryengine_spark.operators.dedup import dedup_connected_clusters

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (10, base, "en", "s1", len(base)),
        (11, base.replace("lazy", "sleepy"), "en", "s1", len(base)),
        (12, base.replace("lazy", "sleepy").replace("quick", "rapid"), "en", "s1", len(base)),
        (13, "voellig anderer deutscher text ohne jede ueberlappung hier", "de", "s2", 58),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        r["cluster_id"]: (r["n_members"], r["n_dups_removed"])
        for r in dedup_connected_clusters(spark, docs, threshold=0.3).collect()
    }
    assert got == {10: (3, 2)}


# ---------------------------------------------------------------------------
# Round-3: LSH parameter autotuning


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """LSH-friendly corpus: 50 very tight clusters of 10 (member-member
    cosine ≈ 0.9998) in 64 dims — strong contrast against the
    ~N(0, 1/64) background cosines of random unit vectors. Looser
    variants (16 dims, or noise scale ≥ 0.01) were tried first and the
    tuner correctly refused them: hyperplane bits over few dimensions
    are rank-limited, and moderate-cosine neighbors need more tables
    than a 5% candidate budget admits — exactly the regimes where IVF
    is the right index."""
    import numpy as np

    rng = np.random.default_rng(7)
    n_clusters, per, dim = 50, 10, 64
    centers = rng.normal(size=(n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(n_clusters * per):
        c = i % n_clusters
        v = centers[c] + rng.normal(scale=0.005, size=dim)
        v /= np.linalg.norm(v)
        rows.append((i, [float(x) for x in v], c))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_ann_autotune_weak_corpus_recommends_ivf(spark, engine):
    """On the fixture corpus (99th-pct pair cosine ≈ 0.28, barely above
    background) no (T, b) on the grid can hit recall 0.9 within a 5%
    candidate budget — round 2's ~60%-candidates admission. The tuner
    must say so and route to IVF instead of shipping a bad index."""
    emb = engine.catalog.table("embeddings")
    row = similarity.ann_tune_profile(spark, emb).collect()[0]
    assert row["method"] == "ivf"
    assert row["n_pairs"] == 64 * 63 // 2


def test_ann_autotune_clustered_feasible_bounded_recall(spark, clustered_emb):
    """On a clusterable corpus the tuner must find a feasible (T, b):
    predicted candidate fraction ≤ 5%, and the ACTUAL bucket-join
    candidate fraction and brute-force recall must honor the model
    (recall ≥ 0.9, candidates ≲ 2× the sampled-moment prediction)."""
    row = similarity.ann_tune_profile(spark, clustered_emb).collect()[0]
    assert row["method"] == "lsh"
    assert row["n_tables"] <= similarity.TUNE_MAX_TABLES
    assert row["est_cand_frac"] <= similarity.TUNE_MAX_CAND

    t, b = int(row["n_tables"]), int(row["bits"])
    keys = similarity.lsh_band_keys_col(
        F.transform(F.col("embedding"), lambda v: v.cast("double")), t, b
    )
    sigs = {
        r["vec_id"]: [r[f"k{i}"] for i in range(t)]
        for r in clustered_emb.select(
            "vec_id", *[k.alias(f"k{i}") for i, k in enumerate(keys)]
        ).collect()
    }
    n = len(sigs)
    fracs = []
    for q in range(5):
        cands = sum(
            1
            for v, s in sigs.items()
            if v != q and any(a == c for a, c in zip(sigs[q], s))
        )
        fracs.append(cands / (n - 1))
    mean_frac = sum(fracs) / len(fracs)
    assert mean_frac <= max(2 * row["est_cand_frac"], 0.10), (row, fracs)

    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_bruteforce_topk(
            spark, clustered_emb, n_queries=5, k=3
        ).collect()
    }
    tuned = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ann_lsh_topk(
            spark, clustered_emb, n_queries=5, k=3, n_tables=t, bits_per_table=b
        ).collect()
    }
    assert len(bf & tuned) / len(bf) >= 0.9, (row, len(bf & tuned), len(bf))


def test_ann_auto_topk_dispatches_both_ways(spark, engine, clustered_emb):
    """ann_auto_topk must return the same result shape whichever index
    the tuner picks: LSH on the clustered corpus, IVF on the weak one."""
    lsh_res = similarity.ann_auto_topk(spark, clustered_emb, n_queries=2, k=2)
    assert lsh_res.columns == ["query_id", "neighbor_id", "rank", "cos_sim"]
    assert lsh_res.count() > 0
    ivf_res = similarity.ann_auto_topk(
        spark, engine.catalog.table("embeddings"), n_queries=2, k=2
    )
    assert ivf_res.columns == ["query_id", "neighbor_id", "rank", "cos_sim"]
    assert ivf_res.count() > 0


def test_ann_autotune_arrow_matches_expression(spark, clustered_emb):
    """The Arrow probe-key path must reach the tuning decision the
    DuckDB twin renders."""
    got = similarity.ann_tune_profile(spark, clustered_emb)
    assert got.count() == 1
    assert_df_matches_sql(
        got, duck_of(embeddings=clustered_emb), similarity.ann_tune_profile_sql()
    )


def test_bm25_search_ranking_invariants(spark, synth_docs):
    """BM25 top-k on the synthetic corpus: contiguous ranks, scores
    non-increasing, every hit matches >=1 of the 3 query terms, and the
    empty doc (id 7) can never appear."""
    from approximatequeryengine_spark.operators.text import bm25_search_top10

    rows = bm25_search_top10(spark, synth_docs).collect()
    assert rows, "corpus has repeated tokens; top-k must be non-empty"
    ranks = [r["rank"] for r in rows]
    assert ranks == list(range(1, len(rows) + 1))
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert all(1 <= r["n_terms_matched"] <= 3 for r in rows)
    assert all(r["doc_id"] != 7 for r in rows)


def test_dedup_yield_curve_monotone_and_consistent(spark):
    """Pair and affected-doc counts must be non-increasing in the
    threshold, the 0.5 row must equal the raw pair search at 0.5, and
    percentages must be counts/corpus."""
    from approximatequeryengine_spark.operators.dedup import (
        dedup_yield_curve,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = dedup_yield_curve(spark, docs).collect()
    assert [r["threshold"] for r in rows] == [0.5, 0.6, 0.7, 0.8, 0.9]
    np = [r["n_pairs"] for r in rows]
    nd = [r["n_docs_affected"] for r in rows]
    assert np == sorted(np, reverse=True) and nd == sorted(nd, reverse=True)
    base = minhash_lsh_pairs(spark, docs, threshold=0.5).count()
    assert rows[0]["n_pairs"] == base > 0
    n_docs = docs.count()
    for r in rows:
        assert abs(r["pct_docs_affected"] - r["n_docs_affected"] / n_docs) < 1e-6


def test_split_leakage_labels_cross_split_pairs(spark):
    """12 identical documents → every C(12,2) pair is a near-dup; the
    (split_a, split_b) histogram must equal the prediction from a pure
    Python mirror of the split hash, and cross-split rows carry
    leaky=true."""
    from collections import Counter
    from itertools import combinations

    from approximatequeryengine_spark.functions.hashing import (
        HASH_SPACE,
        M31,
        MULT,
        MULT2,
        OFFSET,
        SALT_STRIDE,
        fraction_threshold,
    )
    from approximatequeryengine_spark.operators.curation import (
        SPLIT_CUTS,
        SPLIT_SALT,
        split_leakage,
    )

    def ph(k: int, salt: int) -> int:
        t1 = (abs(k) + salt * SALT_STRIDE) % M31
        t2 = (t1 * MULT + OFFSET) % HASH_SPACE
        return ((t2 % M31) * MULT2 + 144) % HASH_SPACE

    def split(d: int) -> str:
        h = ph(d, SPLIT_SALT)
        for name, cut in SPLIT_CUTS[:-1]:
            if h < fraction_threshold(cut):
                return name
        return SPLIT_CUTS[-1][0]

    ids = list(range(100, 112))
    text = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(d, text, "en", "s", len(text)) for d in ids],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    want = Counter(
        tuple(sorted((split(a), split(b)))) for a, b in combinations(ids, 2)
    )
    got = {
        (r["split_a"], r["split_b"]): (r["n_pairs"], r["leaky"])
        for r in split_leakage(spark, docs).collect()
    }
    assert {k: v[0] for k, v in got.items()} == dict(want)
    assert all(leaky == (a != b) for (a, b), (_, leaky) in got.items())
    assert any(a != b for a, b in got), "fixture ids must span splits"


def test_repetition_filter_flags_loops_not_prose(spark):
    """A degenerate looping document ('spam ham' ×50) must be flagged
    (top 2-gram carries ~all 2-gram mass); a fully varied document
    (all-distinct tokens → every n-gram unique) must not. Short and
    empty documents contribute fraction 0 and never crash."""
    from approximatequeryengine_spark.operators.text import (
        repetition_filter_by_lang,
    )

    rows = [
        (1, "spam ham " * 50, "looped", "s", 10),
        (2, " ".join(f"tok{i}" for i in range(100)), "varied", "s", 10),
        (3, "one", "tiny", "s", 3),
        (4, "", "tiny", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {r["lang"]: r for r in repetition_filter_by_lang(spark, docs).collect()}
    assert got["looped"]["n_flagged"] == 1
    assert got["looped"]["mean_top2gram_frac"] > 0.4
    assert got["varied"]["n_flagged"] == 0
    assert got["varied"]["mean_dup3gram_frac"] == 0.0
    assert got["tiny"]["n_docs"] == 2 and got["tiny"]["n_flagged"] == 0
    assert got["tiny"]["mean_top2gram_frac"] == 0.0


def test_quality_threshold_sweep_monotone(spark, synth_docs):
    """Survival counts must be non-increasing in the threshold, start at
    the full corpus for a 0.2 cutoff... (the synthetic empty doc scores
    below mid thresholds), and report consistent percentages."""
    from approximatequeryengine_spark.operators.text import quality_threshold_sweep

    rows = quality_threshold_sweep(spark, synth_docs).collect()
    assert [r["threshold"] for r in rows] == [0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8]
    docs_kept = [r["n_docs_kept"] for r in rows]
    toks_kept = [r["n_tokens_kept"] for r in rows]
    assert docs_kept == sorted(docs_kept, reverse=True)
    assert toks_kept == sorted(toks_kept, reverse=True)
    n = synth_docs.count()
    for r in rows:
        assert abs(r["pct_docs_kept"] - r["n_docs_kept"] / n) < 1e-6  # 6dp rounding


def test_ivf_index_matches_in_memory_and_prunes_partitions(spark, engine, tmp_path):
    """The persisted IVF index must (a) return exactly what the
    in-memory operator returns, and (b) show the probed cells as
    PartitionFilters on the vector scan — the index read touches only
    ~n_probe/n_cells of the corpus directories."""
    import re

    emb = engine.catalog.table("embeddings")
    path = str(tmp_path / "ivf_idx")
    similarity.ann_ivf_write_index(spark, emb, path)
    out = similarity.ann_ivf_query_index(spark, emb, path)
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"], r["cluster"])
        for r in out.collect()
    )
    want = sorted(
        (r["query_id"], r["neighbor_id"], r["rank"], r["cos_sim"], r["cluster"])
        for r in similarity.ann_ivf_topk(spark, emb).collect()
    )
    assert got == want
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster" in m.group(1), plan[:1500]
    # the filter enumerates probed cells only — an IN list, not a full scan
    assert "IN" in m.group(1) or "in(" in m.group(1).lower(), m.group(1)


def test_ivf_index_append_refresh_equals_rebuild(spark, engine, tmp_path):
    """Hyperplane cells are data-independent, so append + centroid
    refresh must reproduce a from-scratch rebuild exactly — the index
    never needs re-clustering (the k-means IVF drift problem)."""
    from pyspark.sql import functions as F

    emb = engine.catalog.table("embeddings")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    inc = str(tmp_path / "ivf_inc")
    full = str(tmp_path / "ivf_full")
    similarity.ann_ivf_write_index(spark, half_a, inc)
    similarity.ann_ivf_append_index(spark, half_b, inc)
    similarity.ann_ivf_refresh_centroids(spark, inc)
    similarity.ann_ivf_write_index(spark, emb, full)
    got = sorted(
        tuple(r) for r in similarity.ann_ivf_query_index(spark, emb, inc).collect()
    )
    want = sorted(
        tuple(r) for r in similarity.ann_ivf_query_index(spark, emb, full).collect()
    )
    assert got == want and got


def test_ivfpq_index_matches_in_memory_and_prunes_partitions(spark, engine, tmp_path):
    """The persisted IVF-PQ index must return exactly what the
    in-memory operator returns (shared encode/score/rerank definitions
    make this structural) and show the probed cells as PartitionFilters
    on the vector scan — queries pay ADC + rerank over ~n_probe/n_cells
    of the corpus, never the full-table re-encode."""
    import re

    emb = engine.catalog.table("embeddings")
    path = str(tmp_path / "ivfpq_idx")
    similarity.ann_ivfpq_write_index(spark, emb, path)
    out = similarity.ann_ivfpq_query_index(spark, emb, path)
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(tuple(r) for r in similarity.ann_ivfpq_topk(spark, emb).collect())
    assert got == want and got
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cluster" in m.group(1), plan[:1500]
    assert "IN" in m.group(1) or "in(" in m.group(1).lower(), m.group(1)


def test_ivfpq_index_append_refresh_equals_rebuild(spark, engine, tmp_path):
    """Cells AND codes are data-independent hyperplane signs, so
    append + model refresh must reproduce a from-scratch rebuild
    exactly — including the PQ codebook (grouped means over the same
    row set on the same grid)."""
    from pyspark.sql import functions as F

    emb = engine.catalog.table("embeddings")
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    inc = str(tmp_path / "ivfpq_inc")
    full = str(tmp_path / "ivfpq_full")
    similarity.ann_ivfpq_write_index(spark, half_a, inc)
    similarity.ann_ivfpq_append_index(spark, half_b, inc)
    similarity.ann_ivfpq_refresh(spark, inc)
    similarity.ann_ivfpq_write_index(spark, emb, full)
    for table in ("centroids", "pq_codebook"):
        got = sorted(
            tuple(r) for r in spark.read.parquet(f"{inc}/{table}").collect()
        )
        want = sorted(
            tuple(r) for r in spark.read.parquet(f"{full}/{table}").collect()
        )
        assert got == want and got, table
    got = sorted(
        tuple(r) for r in similarity.ann_ivfpq_query_index(spark, emb, inc).collect()
    )
    want = sorted(
        tuple(r) for r in similarity.ann_ivfpq_query_index(spark, emb, full).collect()
    )
    assert got == want and got


def test_neardup_index_query_matches_batch_pairs(spark, engine, tmp_path, duck):
    """Index-query near-dups must equal the cross-split subset of the
    full batch pairs operator, and match the SQL oracle that re-derives
    both sides from the corpus split."""
    from pyspark.sql import functions as F

    from approximatequeryengine_spark.functions.hashing import (
        fraction_threshold,
        portable_hash_col,
    )
    from approximatequeryengine_spark.operators import dedup as D
    from tests.conftest import assert_df_matches_sql

    docs = engine.catalog.table("documents")
    inc = portable_hash_col(F.col("doc_id"), salt=D.INGEST_SALT) < F.lit(
        fraction_threshold(D.INGEST_FRACTION)
    )
    path = str(tmp_path / "nd_idx")
    D.neardup_index_write(spark, docs.filter(~inc), path)
    out = D.neardup_index_query(spark, docs.filter(inc), path)
    got = {(r["batch_doc"], r["index_doc"], r["jaccard"]) for r in out.collect()}
    # the full pairs operator over ALL docs, restricted to cross-split
    # pairs, must agree (unordered pair -> directed batch->index)
    batch_ids = {
        r["doc_id"] for r in docs.filter(inc).select("doc_id").collect()
    }
    full = set()
    for r in D.minhash_lsh_pairs(spark, docs).collect():
        a, b, j = r["doc_a"], r["doc_b"], r["jaccard"]
        if (a in batch_ids) != (b in batch_ids):
            bd, ix = (a, b) if a in batch_ids else (b, a)
            full.add((bd, ix, j))
    assert got == full and got
    assert_df_matches_sql(out, duck, D.neardup_index_query_sql())


def test_ivfpq_matches_oracle(spark, engine, duck):
    """IVF-PQ end-to-end parity: codebook training, encoding, probing,
    the integer ADC table, shortlist, and exact rerank all re-derive in
    DuckDB with identical arithmetic and tie-breaks."""
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        similarity.ann_ivfpq_topk(spark, engine.catalog.table("embeddings")),
        duck,
        similarity.ann_ivfpq_topk_sql(),
    )


def test_ivfpq_rerank_cosines_exact(spark, engine):
    """The rerank stage reports EXACT cosines (the ADC approximation is
    only used to pick the shortlist), and neighbors come from probed
    cells only — every reported pair must match the brute-force cosine."""
    emb = engine.catalog.table("embeddings")
    pq = similarity.ann_ivfpq_topk(spark, emb, n_queries=5, k=3).collect()
    assert pq
    bf = {
        (r["query_id"], r["neighbor_id"]): r["cos_sim"]
        for r in similarity.ann_bruteforce_topk(spark, emb, n_queries=5, k=10**6).collect()
    }
    for r in pq:
        assert r["cos_sim"] == pytest.approx(bf[(r["query_id"], r["neighbor_id"])], abs=1e-9)
        assert 1 <= r["rank"] <= 3


def test_ivfpq_recall_on_clustered_data(spark):
    """On well-separated 64-dim clusters the ADC shortlist + exact
    rerank recovers the true top-k (measured 1.0 at shortlist=40 on this
    fixture; pinned with slack). The shortlist is the accuracy dial —
    PQ codes capture cluster identity, not within-cluster offsets, so a
    too-small shortlist loses same-cluster neighbors before the rerank."""
    import random

    rng = random.Random(7)
    dim, per = 64, 25
    rows, vid = [], 0
    for c in range(8):
        center = [0.0] * dim
        center[8 * c] = 10.0
        for _ in range(per):
            rows.append((vid, [float(x + rng.gauss(0, 0.5)) for x in center], c))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    bf_sets, pq_sets = {}, {}
    for r in similarity.ann_bruteforce_topk(spark, emb, n_queries=6, k=5).collect():
        bf_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in similarity.ann_ivfpq_topk(
        spark, emb, n_queries=6, k=5, n_centroids=8, n_probe=2, shortlist=40
    ).collect():
        pq_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(pq_sets.get(q, set()) & bf_sets[q]) / len(bf_sets[q]) for q in bf_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_ivfpq_codes_bounded(spark, engine):
    """Every PQ code must lie in [0, 2^PQ_BITS) and every vector gets
    exactly PQ_M codes — the compression contract (64 floats → 8 small
    ints per vector)."""
    emb = engine.catalog.table("embeddings")
    assigned = similarity._ivf_assign(emb, 16)
    codes = assigned.select(
        F.array(*[
            similarity._pq_code_col(
                F.slice(F.col("v"), m * similarity.PQ_SUB + 1, similarity.PQ_SUB), m
            )
            for m in range(similarity.PQ_M)
        ]).alias("codes")
    )
    row = codes.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.min(F.size("codes")).alias("m_lo"),
        F.max(F.size("codes")).alias("m_hi"),
    ).collect()[0]
    assert row["lo"] >= 0 and row["hi"] < 2 ** similarity.PQ_BITS
    assert row["m_lo"] == row["m_hi"] == similarity.PQ_M


def test_universe_join_matches_oracle(spark, engine, duck):
    from approximatequeryengine_spark.operators.joins import (
        universe_join_pairs,
        universe_join_pairs_sql,
    )
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        universe_join_pairs(spark, engine.catalog.table("events")),
        duck,
        universe_join_pairs_sql(),
    )


def test_universe_join_ci_covers_exact(spark, engine_med, duck_med):
    """At p=0.2 on the sf0.01 events the HT estimate must land near the
    exact pair count with a covering CI (measured 8.6% error)."""
    from approximatequeryengine_spark.operators.joins import universe_join_pairs

    row = universe_join_pairs(spark, engine_med.catalog.table("events")).collect()[0]
    exact = duck_med.execute(
        "WITH l AS (SELECT user_id, count(*) n_l FROM events "
        "           WHERE event_type='click' GROUP BY 1), "
        "     r AS (SELECT user_id, count(*) n_r FROM events "
        "           WHERE event_type='purchase' GROUP BY 1) "
        "SELECT CAST(sum(l.n_l * r.n_r) AS BIGINT) FROM l JOIN r USING (user_id)"
    ).fetchone()[0]
    assert row["ci_lower"] <= exact <= row["ci_upper"]
    assert abs(row["est_pairs"] - exact) / exact < 0.25


def test_universe_join_coordinated_beats_per_side(spark, engine_med):
    """The structural property universe sampling buys: the SAME keys
    survive on both sides, so every surviving key contributes its FULL
    pair block. Per-side independent sampling at the same p keeps only
    ~p of each side's rows per key — on a per-key basis the coordinated
    sample observes t_u exactly while per-side sampling observes a
    noisy p²-thinned subset. Verified structurally: every sampled key's
    observed pair count equals its exact pair count."""
    import duckdb

    from approximatequeryengine_spark.functions.hashing import (
        fraction_threshold,
        portable_hash_sql,
    )
    from approximatequeryengine_spark.operators.joins import UNIVERSE_SALT

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * "
        "FROM '/root/testdata/sf0.01/events.parquet'"
    )
    pred = f"{portable_hash_sql('user_id', UNIVERSE_SALT)} < {fraction_threshold(0.2)}"
    mismatches = con.execute(
        f"""
WITH l AS (SELECT user_id, count(*) n_l FROM events
           WHERE event_type='click' GROUP BY 1),
     r AS (SELECT user_id, count(*) n_r FROM events
           WHERE event_type='purchase' GROUP BY 1),
     exact AS (SELECT l.user_id, l.n_l * r.n_r AS t
               FROM l JOIN r ON l.user_id = r.user_id),
     sampled AS (SELECT user_id, t FROM exact WHERE {pred})
SELECT count(*) FROM sampled s JOIN exact e ON s.user_id = e.user_id
WHERE s.t != e.t
"""
    ).fetchone()[0]
    assert mismatches == 0


def test_incremental_state_merge_equals_rebuild(spark, engine, tmp_path):
    """merge(state(base), delta) must equal state(base ∪ delta)
    bit-for-bit (integer state), including a delta that introduces a
    brand-new group, and folding a second delta must stay exact."""
    from approximatequeryengine_spark.plans import incremental as inc

    ev = engine.catalog.table("events")
    base = ev.filter(F.col("event_id") % 3 == 0)
    d1 = ev.filter(F.col("event_id") % 3 == 1)
    d2 = ev.filter(F.col("event_id") % 3 == 2).withColumn(
        "event_type", F.lit("brand_new_type")
    )
    p = str(tmp_path / "state")
    inc.agg_state_write(spark, base, "event_type", "value", p)
    m1 = inc.agg_state_merge(spark, p, d1, "event_type", "value")
    want1 = sorted(map(tuple, inc.agg_state(base.unionByName(d1), "event_type", "value").collect()))
    assert sorted(map(tuple, m1.collect())) == want1
    # fold the second delta on top of the persisted+merged state
    m1.write.mode("overwrite").parquet(p)
    m2 = inc.agg_state_merge(spark, p, d2, "event_type", "value")
    want2 = sorted(map(tuple, inc.agg_state(
        base.unionByName(d1).unionByName(d2), "event_type", "value"
    ).collect()))
    got2 = sorted(map(tuple, m2.collect()))
    assert got2 == want2
    assert any(r[0] == "brand_new_type" for r in got2)


def test_incremental_readout_matches_oracle(spark, engine, duck):
    from approximatequeryengine_spark.workload import QUERIES
    from approximatequeryengine_spark.plans.incremental import incremental_readout_sql
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        QUERIES["incremental_state_merge"](spark, "/root/testdata/sf0.001"),
        duck,
        incremental_readout_sql("events", "event_type", "value"),
    )


def test_semantic_dedup_matches_oracle(spark, engine, duck):
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        similarity.semantic_dedup_cells(spark, engine.catalog.table("embeddings")),
        duck,
        similarity.semantic_dedup_cells_sql(),
    )


def test_semantic_dedup_keep_min_semantics(spark):
    """Planted near-dups: a cell's cosine-similar vectors collapse to
    the lowest id; dissimilar vectors all survive; accounting adds up."""
    import random

    rng = random.Random(3)
    dim = 64
    base = [rng.gauss(0, 1) for _ in range(dim)]
    rows = []
    # three near-identical copies of `base` (cos ≈ 1) and three
    # independent vectors
    for vid in range(3):
        rows.append((vid, [float(x + rng.gauss(0, 0.01)) for x in base], 0))
    for vid in range(3, 6):
        rows.append((vid, [float(rng.gauss(0, 1)) for _ in range(dim)], 0))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = similarity.semantic_dedup_cells(spark, emb, threshold=0.9, n_cells=2).collect()
    # the three ≈-identical copies share every hyperplane sign → same
    # cell → two of them drop (keep-min); the independent vectors are
    # far below τ=0.9 and all survive, wherever they land.
    assert sum(r["n_docs"] for r in out) == 6
    assert sum(r["n_dropped"] for r in out) == 2
    assert all(r["n_docs"] == r["n_dropped"] + r["n_kept"] for r in out)


def test_semantic_dedup_replica_collapse_matches_row_rule(spark):
    """Round-7 replica collapse: the pairwise step runs over DISTINCT
    vectors per cell, and a group of n bit-identical copies expands
    arithmetically (dominated → n drop; else self-similar → n−1; zero
    vector → NaN self-cosine → copies all survive). Must equal a
    Python brute force of the row-level keep-min rule, including the
    zero-vector group the collapse could silently get wrong."""
    import math
    import random

    rng = random.Random(11)
    dim = 64
    base = [rng.gauss(0, 1) for _ in range(dim)]
    other = [rng.gauss(0, 1) for _ in range(dim)]
    rows = []
    # 4 exact copies of `base` (ids 0-3), 3 exact copies of a scaled
    # base (cos = 1 with base; ids 10-12), 2 copies of an independent
    # vector (ids 20-21), and 3 zero vectors (ids 30-32).
    for vid in range(4):
        rows.append((vid, [float(x) for x in base]))
    for vid in (10, 11, 12):
        rows.append((vid, [float(2.0 * x) for x in base]))
    for vid in (20, 21):
        rows.append((vid, [float(x) for x in other]))
    for vid in (30, 31, 32):
        rows.append((vid, [0.0] * dim))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.semantic_dedup_cells(
        spark, emb, threshold=0.9, n_cells=2
    ).collect()

    # Python brute force of the row-level rule over the same cells.
    from approximatequeryengine_spark.operators.similarity import _ivf_assign

    cells = {
        r["vec_id"]: (r["cluster"], r["v"])
        for r in _ivf_assign(emb, 2).collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(y * y for y in b))
        return dot / (na * nb) if na * nb else float("nan")

    dropped = 0
    for vid, (cl, v) in cells.items():
        if any(
            o_vid < vid and o_cl == cl and cos(ov, v) >= 0.9
            for o_vid, (o_cl, ov) in cells.items()
        ):
            dropped += 1
    assert sum(r["n_docs"] for r in out) == len(rows)
    assert sum(r["n_dropped"] for r in out) == dropped
    # the zero-vector copies must all be kept (NaN cosine never >= t)
    assert dropped <= len(rows) - 3 - 2  # 3 zeros + >=2 group minima


def test_ivf_assign_arrow_matches_expression(spark, engine):
    """The NumPy hyperplane-projection kernel must reproduce the cell
    ids of the interpreted fold (the Spark-SQL text ``_ivf_cell_expr``)
    bit for bit — on the fixture corpus (both bit widths the registry
    uses) and on the edge frame (empty vector → cell 0, short vector →
    sliced fold, >DIM vector → truncated at DIM, negative components)."""
    from approximatequeryengine_spark.operators.similarity import (
        _ivf_assign,
        _ivf_cell_expr,
        _vec_double,
        valid_vec_col,
    )

    def cells(df, with_v=True):
        return sorted(
            (r["vec_id"], r["cluster"]) + ((tuple(r["v"]),) if with_v else ())
            for r in df.collect()
        )

    def reference(emb, n_cells):
        bits = (n_cells - 1).bit_length()
        return (
            emb.filter(valid_vec_col(F.col("embedding")))
            .select("vec_id", _vec_double(F.col("embedding")).alias("v"))
            .withColumn("cluster", F.expr(_ivf_cell_expr("v", bits)))
        )

    emb = engine.catalog.table("embeddings")
    for n_cells in (16, 128):
        got = cells(_ivf_assign(emb, n_cells))
        assert got == cells(reference(emb, n_cells)) and got

    rows = [(0, [1.0] * 64), (1, []), (2, [0.5] * 3), (3, [-1.0] * 80)]
    edge = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = cells(_ivf_assign(edge, 16), with_v=False)
    assert got == cells(reference(edge, 16), with_v=False) and got


def test_semantic_dedup_arrow_matches_expression(spark, engine):
    """The NumPy pair-scoring kernel must reproduce the DuckDB twin's
    per-cell counts — on the fixture corpus AND on the edge frame (zero
    vectors → NULL cosine → kept; unequal lengths → NULL-padded dot →
    pair never dominates; exact replicas → collapse arithmetic
    unchanged)."""
    emb = engine.catalog.table("embeddings")
    got = similarity.semantic_dedup_cells(spark, emb)
    assert got.count()
    assert_df_matches_sql(
        got, duck_of(embeddings=emb), similarity.semantic_dedup_cells_sql()
    )
    # plan gate: the quadratic filter runs in ONE Arrow kernel node
    assert "MapInPandas" in got._jdf.queryExecution().executedPlan().toString()

    dim = 8
    rows = [
        (0, [1.0] * dim),           # replicas 0/1 → one survives
        (1, [1.0] * dim),
        (2, [0.0] * dim),           # zero vector: NaN cosine, never drops
        (3, [1.0] * (dim // 2)),    # short vector: length-mismatched pairs
        (4, [-1.0] * dim),
        (5, [1.0] * (dim // 2)),    # short replica pair with id 3
    ]
    edge = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    con = duck_of(embeddings=edge)
    for t in (0.35, 0.9):
        got = similarity.semantic_dedup_cells(spark, edge, threshold=t, n_cells=2)
        assert got.count()
        assert_df_matches_sql(
            got, con, similarity.semantic_dedup_cells_sql(threshold=t, n_cells=2)
        )


def test_semdedup_scaled_bits_ladder():
    """Integer cells∝corpus rule: smallest power-of-two grid holding
    ~SEMDEDUP_TARGET_CELL vectors per cell, clamped to [2^4, 2^10] —
    exact boundary behavior (ceil division) so the SQL CASE ladder can
    never disagree with the Python side."""
    from approximatequeryengine_spark.operators.similarity import semdedup_scaled_bits

    assert semdedup_scaled_bits(0) == 4
    assert semdedup_scaled_bits(1) == 4
    assert semdedup_scaled_bits(16 * 20) == 4  # cn = 16 → still 4 bits
    assert semdedup_scaled_bits(16 * 20 + 1) == 5  # cn = 17 → 5 bits
    assert semdedup_scaled_bits(500) == 5  # sf0.01: cn = 25 → 32 cells
    assert semdedup_scaled_bits(2000) == 7  # sf0.1: cn = 100 → 128 cells
    assert semdedup_scaled_bits(20000) == 10  # sf1: 1024 cells (measured config)
    assert semdedup_scaled_bits(10**9) == 10  # capped


def test_semantic_dedup_scaled_matches_oracle_and_base(spark, engine, duck):
    """The scale-configuration entry: oracle parity (the SQL re-derives
    the cell grid from count(*)), and global accounting must agree with
    the base operator run at the same explicit cell count (cells change
    WHICH cell a doc sits in, chunking never changes totals)."""
    from tests.conftest import assert_df_matches_sql

    emb = engine.catalog.table("embeddings")
    out = similarity.semantic_dedup_cells_scaled(spark, emb)
    assert_df_matches_sql(out, duck, similarity.semantic_dedup_cells_scaled_sql())
    n_cells = 2 ** similarity.semdedup_scaled_bits(emb.count())
    base = similarity.semantic_dedup_cells(spark, emb, n_cells=n_cells)
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(tuple(r) for r in base.collect())
    assert got == want and got


def test_weighted_sample_matches_oracle(spark, engine, duck):
    from approximatequeryengine_spark.operators.curation import (
        weighted_sample_docs,
        weighted_sample_docs_sql,
    )
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        weighted_sample_docs(spark, engine.catalog.table("documents")),
        duck,
        weighted_sample_docs_sql(),
    )


def test_weighted_sample_inclusion_proportional_to_weight():
    """E-S guarantee: inclusion rate ∝ weight. Replayed over 40
    independent salt bases with the exact hash arithmetic (Python-side —
    identical integers to both engines): the fixture has weights {1, 2}
    and the measured rate ratio is ≈2.4 (theory 2, slight
    without-replacement inflation at k/N=5%); pinned with slack."""
    from collections import Counter

    import duckdb

    from approximatequeryengine_spark.functions.hashing import (
        HASH_SPACE,
        M31,
        MULT,
        MULT2,
        OFFSET,
        SALT_STRIDE,
    )

    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, least(1 + n_chars // 400, 8) "
        "FROM '/root/testdata/sf0.01/documents.parquet'"
    ).fetchall()

    def h(doc, s, base):
        t1 = (abs(doc) + (base + s) * SALT_STRIDE) % M31
        t2 = (t1 * MULT + OFFSET) % HASH_SPACE
        return ((t2 % M31) * MULT2 + 144) % HASH_SPACE

    wcount = Counter(w for _, w in rows)
    assert set(wcount) == {1, 2}
    inc = Counter()
    k, trials = 25, 40
    for base in range(1000, 1000 + trials * 50, 50):
        keyed = sorted(
            ((max(h(d, s, base) for s in range(1, w + 1)), d, w) for d, w in rows),
            key=lambda t: (-t[0], t[1]),
        )
        for _, d, w in keyed[:k]:
            inc[w] += 1
    rate = {w: inc[w] / (wcount[w] * trials) for w in wcount}
    ratio = rate[2] / rate[1]
    assert 1.6 <= ratio <= 3.0, ratio


def test_adaptive_join_matches_oracle(spark, engine_med, duck_med):
    from approximatequeryengine_spark.operators.joins import (
        adaptive_universe_join,
        adaptive_universe_join_sql,
    )
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        adaptive_universe_join(engine_med.catalog.table("events"), error_bp=500),
        duck_med,
        adaptive_universe_join_sql(error_bp=500),
    )


def test_adaptive_join_meets_budget_and_covers(engine_med, duck_med):
    """The walk stops only when margin ≤ 5% of the estimate, and the
    resulting CI covers the exact pair count."""
    from approximatequeryengine_spark.operators.joins import adaptive_universe_join

    row = adaptive_universe_join(
        engine_med.catalog.table("events"), error_bp=500
    ).collect()[0]
    margin = row["est_pairs"] - row["ci_lower"]
    assert margin * 10_000 <= row["est_pairs"] * 500
    exact = duck_med.execute(
        "SELECT count(*) FROM events l JOIN events r ON l.user_id = r.user_id "
        "WHERE l.event_type = 'click' AND r.event_type = 'purchase'"
    ).fetchone()[0]
    assert row["ci_lower"] <= exact <= row["ci_upper"]


def test_adaptive_join_tighter_budget_walks_further(engine_med):
    """Escalation monotonicity: a 1% budget needs at least as many
    rungs (and fraction) as a 20% budget; an impossible 0-bp budget
    walks to fraction 1.0 where the estimate is exact (margin 0)."""
    from approximatequeryengine_spark.operators.joins import adaptive_universe_join

    ev = engine_med.catalog.table("events")
    loose = adaptive_universe_join(ev, error_bp=2000).collect()[0]
    tight = adaptive_universe_join(ev, error_bp=100).collect()[0]
    full = adaptive_universe_join(ev, error_bp=0).collect()[0]
    assert tight["rungs"] >= loose["rungs"]
    assert tight["fraction_used"] >= loose["fraction_used"]
    assert full["fraction_used"] == 1.0
    assert full["ci_lower"] == full["est_pairs"] == full["ci_upper"]


def test_decayed_sum_matches_oracle(spark, engine_med, duck_med):
    from approximatequeryengine_spark.operators.temporal import (
        decayed_sum_by_type,
        decayed_sum_by_type_sql,
    )
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        decayed_sum_by_type(spark, engine_med.catalog.table("events")),
        duck_med,
        decayed_sum_by_type_sql(),
    )


def test_decayed_sum_mergeable_at_fixed_anchor(spark, engine_med):
    """Backward-decay mergeability: the decayed total of the union is
    the sum of per-shard decayed totals (integer weight-cents
    accumulation is exact, so equality is to the output grid)."""
    import pyspark.sql.functions as F

    from approximatequeryengine_spark.operators.temporal import decayed_sum_by_type

    ev = engine_med.catalog.table("events")
    whole = {
        r["event_type"]: r["decayed_sum"]
        for r in decayed_sum_by_type(spark, ev).collect()
    }
    a = decayed_sum_by_type(spark, ev.filter(F.col("event_id") % 2 == 0)).collect()
    b = decayed_sum_by_type(spark, ev.filter(F.col("event_id") % 2 == 1)).collect()
    merged: dict = {}
    for r in [*a, *b]:
        merged[r["event_type"]] = merged.get(r["event_type"], 0.0) + r["decayed_sum"]
    for k, v in whole.items():
        assert abs(merged[k] - v) < 0.025  # two 2-decimal roundings


def test_decayed_sum_discounts_old_events(spark):
    """An event 7 half-lives old contributes ~1/128 of its value."""
    import datetime

    import pyspark.sql.functions as F

    from approximatequeryengine_spark.operators.temporal import decayed_sum_by_type

    rows = [
        ("old", datetime.datetime(2024, 1, 1), 100.0),
        ("new", datetime.datetime(2024, 1, 31), 100.0),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = {
        r["event_type"]: r["decayed_sum"]
        for r in decayed_sum_by_type(spark, df, anchor="2024-01-31", half_life_days=5).collect()
    }
    assert out["new"] == 100.0
    assert 100.0 * 2 ** (-30 / 5) * 0.9 < out["old"] < 100.0 * 2 ** (-30 / 5) * 1.1


def test_adaptive_join_single_key_matches_oracle(spark, tmp_path):
    """One joined key only: no rung satisfies n_keys_sampled >= 2, so
    BOTH the Spark walk and the oracle must fall back to the LAST rung
    (fraction 1.0) and agree."""
    import duckdb

    from approximatequeryengine_spark.operators.joins import (
        adaptive_universe_join,
        adaptive_universe_join_sql,
    )
    from tests.conftest import assert_df_matches_sql

    rows = [
        (1, 77, "click", 1.0),
        (2, 77, "click", 2.0),
        (3, 77, "purchase", 30.0),
        (4, 12, "view", 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, value double"
    )
    path = str(tmp_path / "events.parquet")
    df.coalesce(1).write.parquet(path)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}/*.parquet')")
    out = adaptive_universe_join(spark.read.parquet(path), error_bp=500)
    assert_df_matches_sql(out, con, adaptive_universe_join_sql(error_bp=500))
    row = out.collect()[0]
    assert row["fraction_used"] == 1.0 and row["n_keys_sampled"] == 1


def test_simhash_hamming_pairs_pigeonhole_lossless(spark, synth_docs):
    """The k+1-block candidate index must reproduce the quadratic
    popcount scan exactly (pigeonhole completeness), find the known
    near-dups at distance 0, and keep unrelated docs out."""
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_hamming_pairs(spark, synth_docs, k=3).collect()
    }
    # brute-force reference over the same (wide) signatures
    sh = {
        r["doc_id"]: r["sh"]
        for r in dedup.simhash_wide_sig(synth_docs).collect()
    }
    ids = sorted(sh)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = bin(sh[a] ^ sh[b]).count("1")
            if d <= 3:
                want[(a, b)] = d
    assert got == want
    assert got[(1, 3)] == 0  # exact dup
    assert (1, 4) in got and got[(1, 4)] == 0  # same token set
    assert not any({a, b} == {1, 5} for a, b in got)  # unrelated apart


def test_simhash_hamming_stats_rolls_up(spark, synth_docs):
    stats = {
        r["hamming"]: r["n_pairs"]
        for r in dedup.simhash_hamming_stats(spark, synth_docs, k=3).collect()
    }
    pairs = dedup.simhash_hamming_pairs(spark, synth_docs, k=3).collect()
    assert sum(stats.values()) == len(pairs)
    assert all(0 <= h <= 3 for h in stats)


# --- FastSS edit-distance-1 pairs (operators/dedup.py) ----------------------


def test_editdist1_pairs_complete_vs_quadratic_scan(spark):
    """The deletion-neighborhood candidate set must be LOSSLESS for
    k = 1: on the sf0.001 customers the verified pair count equals a
    brute-force n^2 levenshtein scan."""
    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    got = dedup.editdist1_pairs(cust, "c_name").collect()[0]
    names = cust.select(F.col("c_name").alias("s")).distinct()
    brute = (
        names.alias("a")
        .join(names.alias("b"), F.col("a.s") < F.col("b.s"))
        .filter(F.levenshtein(F.col("a.s"), F.col("b.s")) <= 1)
        .count()
    )
    assert got["n_verified_pairs"] == brute > 0
    assert got["n_candidate_pairs"] >= got["n_verified_pairs"]
    assert got["n_values"] == names.count()


def test_editdist1_pairs_variable_length_insert_delete(spark):
    """Insert/delete neighbors (different lengths) come from the
    variant-to-original rule, substitutions from the same-position
    rule; unrelated strings never pair."""
    vals = ["spark", "spar", "sparks", "stark", "spork", "duck", "ducks", "query"]
    df = spark.createDataFrame([(v,) for v in vals], "name string")
    got = dedup.editdist1_pairs(df, "name").collect()[0]
    # expected: (spar,spark) deletion, (spark,sparks) + (duck,ducks)
    # insertions, (spark,stark) + (spark,spork) substitutions = 5
    brute = (
        df.alias("a")
        .join(df.alias("b"), F.col("a.name") < F.col("b.name"))
        .filter(F.levenshtein(F.col("a.name"), F.col("b.name")) <= 1)
        .count()
    )
    assert got["n_verified_pairs"] == brute == 5
    # the candidate set may include dist-2 same-position matches like
    # (spar, star); verification removes them
    assert got["n_candidate_pairs"] >= got["n_verified_pairs"]


# --- Hybrid BM25 + vector RRF retrieval (operators/similarity.py) ----------


def test_hybrid_rrf_scores_consistent_with_leg_ranks(spark):
    """Every fused row's rrf_score must recompute exactly from its own
    leg ranks (1/(60+r) per present leg), and the output must be
    ordered by (score desc, doc_id asc)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = similarity.search_hybrid_rrf(spark, docs, emb).collect()
    assert len(rows) == 10
    prev = None
    for r in rows:
        want = 0.0
        if r["bm25_rank"] is not None:
            want += 1.0 / (60 + r["bm25_rank"])
        if r["ann_rank"] is not None:
            want += 1.0 / (60 + r["ann_rank"])
        assert r["bm25_rank"] is not None or r["ann_rank"] is not None
        assert abs(r["rrf_score"] - want) < 1e-9, r
        if prev is not None:
            assert (r["rrf_score"], -r["doc_id"]) <= (prev["rrf_score"], -prev["doc_id"])
        prev = r
    # a doc present in BOTH legs must beat a doc present in one leg at
    # the same best rank (the point of fusion)
    both = [r for r in rows if r["bm25_rank"] and r["ann_rank"]]
    if both:
        only = [r for r in rows if (r["bm25_rank"] is None) != (r["ann_rank"] is None)]
        for b in both:
            br = min(b["bm25_rank"], b["ann_rank"])
            for o in only:
                orank = o["bm25_rank"] or o["ann_rank"]
                if orank >= br:
                    assert b["rrf_score"] > o["rrf_score"]


# --- MERGE / upsert (operators/merge.py) ------------------------------------


def test_merge_upsert_classifies_and_merges(spark):
    from approximatequeryengine_spark.operators.merge import (
        merge_upsert,
        merge_upsert_stats,
    )

    target = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    source = spark.createDataFrame(
        [(2, 25.0), (3, 30.0), (4, 40.0)], "k long, v double"
    )
    cents = F.floor(F.col("v") * 100.0 + 0.5)
    row = merge_upsert_stats(target, source, key="k", value_cents=cents).collect()[0]
    assert row["n_target"] == 3 and row["n_source"] == 3
    assert row["n_inserted"] == 1   # k=4
    assert row["n_updated"] == 1    # k=2: 20 -> 25
    assert row["n_unchanged"] == 1  # k=3
    assert row["n_result"] == row["n_target"] + row["n_inserted"] == 4
    assert row["sum_after"] == 10.0 + 25.0 + 30.0 + 40.0

    merged = {
        r["k"]: r["value_cents"]
        for r in merge_upsert(target, source, key="k", value_cents=cents).collect()
    }
    assert merged == {1: 1000, 2: 2500, 3: 3000, 4: 4000}


def test_merge_upsert_empty_source_is_identity(spark):
    from approximatequeryengine_spark.operators.merge import merge_upsert_stats

    target = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    source = spark.createDataFrame([], "k long, v double")
    cents = F.floor(F.col("v") * 100.0 + 0.5)
    row = merge_upsert_stats(target, source, key="k", value_cents=cents).collect()[0]
    assert row["n_inserted"] == row["n_updated"] == row["n_unchanged"] == 0
    assert row["n_result"] == row["n_target"] == 2
    assert row["sum_after"] == 30.0


# --- Filtered vector search (operators/similarity.py) -----------------------


def test_filtered_ann_prefilter_returns_k_postfilter_often_cannot(spark):
    """Pre-filtering returns exactly k label-matching neighbors per
    query; the postfilter_hits column shows how many the unfiltered
    global top-k would have kept (the post-filter deficit)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = similarity.ann_filtered_topk(spark, emb, n_queries=5, k=3).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    for q, rs in by_q.items():
        assert sorted(r["rank"] for r in rs) == [1, 2, 3]
        for r in rs:
            assert labels[r["neighbor_id"]] == labels[q]  # predicate holds
            assert 0 <= r["postfilter_hits"] <= 3
    # with 16 labels, at least one query's global top-3 misses some
    # same-label neighbor — otherwise the deficit column proves nothing
    assert any(rs[0]["postfilter_hits"] < 3 for rs in by_q.values())


# --- Anomaly days (operators/temporal.py) -----------------------------------


def test_anomaly_days_flags_injected_spike(spark):
    """A synthetic event stream with one 10x-volume day must rank that
    day first for its type with a large positive z."""
    from datetime import datetime

    from approximatequeryengine_spark.operators.temporal import anomaly_days_by_type

    rows = []
    eid = 0
    for d in range(1, 21):  # 20 days, 5 events/day baseline
        n = 50 if d == 7 else 5  # spike on day 7
        for i in range(n):
            rows.append((eid, datetime(2024, 1, d, 12, 0, 0), eid % 10, "click", 1.0))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    got = anomaly_days_by_type(spark, df).collect()
    assert got[0]["event_type"] == "click"
    assert str(got[0]["day"]) == "2024-01-07"
    assert got[0]["n_events"] == 50 and got[0]["z"] > 4.0


def test_anomaly_days_zero_variance_excluded(spark):
    """Uniform volume (variance 0) must yield no rows, not a
    divide-by-zero."""
    from datetime import datetime

    from approximatequeryengine_spark.operators.temporal import anomaly_days_by_type

    rows = [
        (i, datetime(2024, 1, 1 + i % 5, 8, 0, 0), i, "view", 1.0) for i in range(25)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    assert anomaly_days_by_type(spark, df).count() == 0


def test_hybrid_rrf_k_reaches_both_legs(spark):
    """k must bound BOTH legs: with k=5 no fused row carries a leg rank
    beyond 5."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = similarity.search_hybrid_rrf(spark, docs, emb, k=5).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["bm25_rank"] is None or r["bm25_rank"] <= 5
        assert r["ann_rank"] is None or r["ann_rank"] <= 5


# --- Token PageRank (operators/graph.py) ------------------------------------


def test_pagerank_mass_conservation_and_hub_dominance(spark):
    """On a synthetic hub-and-spoke graph the hub must outrank every
    spoke, and total fixed-point mass stays within the documented
    flooring loss of SCALE."""
    from approximatequeryengine_spark.operators.graph import (
        PR_SCALE,
        token_pagerank_topk,
    )

    # docs: hub token co-occurs with every spoke; spokes only with hub
    rows = [(i, f"hub spoke{i}", "en", "s", 10) for i in range(8)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = token_pagerank_topk(spark, docs, iters=5, k=9).collect()
    assert got[0]["tok"] == "hub" and got[0]["rank"] == 1
    spokes = [r for r in got if r["tok"] != "hub"]
    assert len(spokes) == 8
    assert all(r["pr"] < got[0]["pr"] for r in spokes)
    assert len({r["pr"] for r in spokes}) == 1  # symmetric spokes tie
    total = sum(r["pr"] for r in got)
    assert 0.9 * PR_SCALE <= total <= PR_SCALE  # flooring only loses mass


def test_token_edges_arrow_matches_expression(spark, engine):
    """The per-task pair kernel must produce the SAME distinct edge set
    as a Python windowed-pair walk over Spark's own ``ws_tokens_col`` +
    ``lower`` tokens — on the fixture corpus and on the edge frame (NULL
    text, whitespace-only text, single token, replica docs, self-loop
    tokens, tab-leading text)."""
    from approximatequeryengine_spark.operators.graph import PR_WINDOW, _token_edges

    def reference(docs):
        toks = docs.select(
            F.transform(text_fns.ws_tokens_col(F.col("text")), lambda t: F.lower(t)).alias("t")
        )
        edges = set()
        for r in toks.collect():
            t = r["t"] or []
            for i, a in enumerate(t):
                for b in t[i + 1 : i + 1 + PR_WINDOW]:
                    if a != b:
                        edges |= {(a, b), (b, a)}
        return sorted(edges)

    docs = engine.catalog.table("documents")
    got = sorted(map(tuple, _token_edges(docs).collect()))
    assert got == reference(docs) and got

    rows = [
        (0, "a b a c", "en", "s", 7),
        (1, None, "en", "s", 0),
        (2, "   ", "en", "s", 3),
        (3, "solo", "en", "s", 4),
        (4, "a b a c", "en", "s", 7),   # replica of doc 0
        (5, "x x x", "en", "s", 5),     # self-loops only → no edges
        (6, "\tTab  Mixed\ncase", "en", "s", 16),
    ]
    edge = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = sorted(map(tuple, _token_edges(edge).collect()))
    assert got == reference(edge) and got


def test_ann_recall_curve_monotone_and_exact_at_full_probe(spark):
    """Recall must be non-decreasing in n_probe and exactly 1.0 when
    every cell is probed (the index degenerates to the exact scan)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = similarity.ann_recall_profile(spark, emb).collect()
    assert [r["n_probe"] for r in rows] == [2, 4, 8, 16]
    mr = [r["mean_recall"] for r in rows]
    assert all(a <= b for a, b in zip(mr, mr[1:]))
    assert rows[-1]["mean_recall"] == 1.0 and rows[-1]["worst_recall"] == 1.0


def test_mixture_temperature_upsamples_rare_langs(spark, engine, duck):
    import math

    from approximatequeryengine_spark.operators import curation
    from tests.conftest import assert_df_matches_sql

    docs = engine.catalog.table("documents")
    rows = curation.mixture_temperature(spark, docs).collect()
    assert len(rows) == docs.select("lang").distinct().count()
    # weight is exactly isqrt(avail_tokens)
    for r in rows:
        assert r["weight"] == math.isqrt(r["avail_tokens"])
        assert 0 <= r["rate_ppm"] <= 1_000_000
        assert 0 <= r["share_ppm"] <= 1_000_000
    # floor-division readouts under-shoot by < 1 ppm per language
    n = len(rows)
    assert 1_000_000 - n <= sum(r["rate_ppm"] for r in rows) <= 1_000_000
    assert 1_000_000 - n <= sum(r["share_ppm"] for r in rows) <= 1_000_000
    # alpha = 1/2 compresses the mixture toward uniform: the rarest
    # language is upsampled (rate > share), the most common damped
    lo = min(rows, key=lambda r: r["avail_tokens"])
    hi = max(rows, key=lambda r: r["avail_tokens"])
    assert lo["rate_ppm"] >= lo["share_ppm"]
    assert hi["rate_ppm"] <= hi["share_ppm"]
    assert_df_matches_sql(
        curation.mixture_temperature(spark, docs),
        duck,
        curation.mixture_temperature_sql(),
    )


def test_mixture_share_ppm_survives_100tb_token_counts(spark, duck):
    """The share numerator avail_tokens × 10⁶ crosses 2⁶³ at ~9.2e12
    tokens — a 100 TB corpus holds ~10¹³. Pin that BOTH engines'
    actual share expressions (the module constants the operator and
    oracle consume) stay exact at that magnitude instead of raising
    ARITHMETIC_OVERFLOW (Spark ANSI) or wrapping."""
    from approximatequeryengine_spark.operators.curation import (
        SHARE_PPM_DUCK,
        SHARE_PPM_SPARK,
    )

    avail, total = 20_000_000_000_000, 60_000_000_000_000  # 2e13 of 6e13
    got_spark = spark.sql(
        f"SELECT {SHARE_PPM_SPARK} AS p FROM (SELECT "
        f"CAST({avail} AS BIGINT) AS avail_tokens, "
        f"CAST({total} AS BIGINT) AS total_tokens)"
    ).collect()[0]["p"]
    got_duck = duck.execute(
        f"SELECT {SHARE_PPM_DUCK} AS p FROM (SELECT "
        f"CAST({avail} AS BIGINT) AS avail_tokens, "
        f"CAST({total} AS BIGINT) AS total_tokens)"
    ).fetchone()[0]
    assert got_spark == got_duck == 333_333


def test_scd2_priority_intervals_islands_and_currency(spark, engine):
    """Micro-fixture pin of the SCD2 interval build, including the
    currency trap the entry's comment documents: a run whose earlier
    day carries a LARGER order key than the truly-current run's last
    order (position-based currency must win over key-based)."""
    import duckdb as _duckdb

    from approximatequeryengine_spark.workload import ORACLE, QUERIES

    import datetime as dt
    import os
    import tempfile

    rows = [
        # customer 1: P1 (2 orders) -> P2 -> P1 again = 3 islands;
        # current = the last P1 run.
        (101, 1, "1-URGENT", dt.datetime(2024, 1, 1)),
        (102, 1, "1-URGENT", dt.datetime(2024, 1, 2)),
        (103, 1, "2-HIGH", dt.datetime(2024, 1, 3)),
        (104, 1, "1-URGENT", dt.datetime(2024, 1, 4)),
        # customer 2: the non-monotone-okey trap. Run X = P2 spanning
        # (day1, okey 900), (day2, okey 100); run Y = P3 at
        # (day2, okey 200). Y holds the latest order by (day, okey)
        # even though X's max okey (900) is larger.
        (900, 2, "2-HIGH", dt.datetime(2024, 2, 1)),
        (100, 2, "2-HIGH", dt.datetime(2024, 2, 2)),
        (200, 2, "3-MEDIUM", dt.datetime(2024, 2, 2)),
    ]
    sdf = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderpriority string, o_orderdate timestamp"
    )
    sdf.createOrReplaceTempView("orders")
    sql = ORACLE["scd2_priority_intervals"]
    got = {r["priority"]: r for r in spark.sql(sql).collect()}

    assert got["1-URGENT"]["n_intervals"] == 2
    assert got["1-URGENT"]["n_orders"] == 3
    assert got["1-URGENT"]["max_run_len"] == 2
    assert got["1-URGENT"]["n_current"] == 1  # customer 1's last run
    assert got["2-HIGH"]["n_intervals"] == 2  # cust 1 middle + cust 2 run X
    assert got["2-HIGH"]["n_current"] == 0  # run X is NOT current
    assert got["3-MEDIUM"]["n_intervals"] == 1
    assert got["3-MEDIUM"]["n_current"] == 1  # run Y is current
    # exactly one current interval per customer
    assert sum(r["n_current"] for r in got.values()) == 2

    # cross-engine parity on the same micro-fixture
    with tempfile.TemporaryDirectory() as td:
        path = os.path.join(td, "orders.parquet")
        sdf.toPandas().to_parquet(path)
        con = _duckdb.connect()
        con.execute(f"CREATE VIEW orders AS SELECT * FROM '{path}'")
        from tests.conftest import assert_df_matches_sql

        try:
            assert_df_matches_sql(spark.sql(sql), con, sql)
        finally:
            # restore the session's fixture-backed view for later tests
            engine.catalog.refresh_views()


def test_ngram_jaccard_random_corpora_match_bruteforce_truth(spark):
    """Property test: on seeded random corpora BOTH physical plans must
    emit exactly the brute-force O(n²) Python truth — including at
    thresholds engineered to land pairs exactly ON the Jaccard boundary
    (τ = 0.5 with even-sized gram sets), where a strict-vs-relaxed
    comparison or a float slack applied in the wrong direction would
    show up as a one-pair diff."""
    import random as _random

    from approximatequeryengine_spark.operators import dedup

    def py_grams(text: str, n: int = 4) -> frozenset:
        # mirror _char_ngrams exactly: positions 0..max(len-n, 0), so a
        # short (or empty) text still yields its single truncated gram
        return frozenset(
            text[i : i + n] for i in range(0, max(len(text) - n, 0) + 1)
        )

    def truth(rows, threshold, n=4):
        out = set()
        for i, (ida, ta, sa) in enumerate(rows):
            ga = py_grams(ta, n)
            for idb, tb, sb in rows[i + 1 :]:
                if sb != sa:
                    continue
                gb = py_grams(tb, n)
                inter = len(ga & gb)
                union = len(ga | gb)
                if union and inter / union >= threshold:
                    a, b = sorted((ida, idb))
                    out.add((sa, a, b, round(inter / union, 6)))
        return sorted(out)

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    for seed, threshold in [(1, 0.5), (2, 0.55), (3, 2 / 3), (4, 0.75)]:
        rng = _random.Random(seed)
        rows = []
        for did in range(24):
            base = " ".join(rng.choices(vocab, k=rng.randint(1, 6)))
            # clone a prior doc sometimes so near-dup pairs exist
            if rows and rng.random() < 0.4:
                base = rows[rng.randrange(len(rows))][1]
                if rng.random() < 0.5:
                    base = base + rng.choice(vocab)[0]
            rows.append((did, base, f"s{rng.randint(0, 1)}"))
        df = spark.createDataFrame(
            [(d, t, "en", s, len(t)) for d, t, s in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        want = truth(rows, threshold)
        for plan in ("prefix", "sizeclass"):
            got = sorted(
                (r["source"], r["doc_a"], r["doc_b"], r["jaccard"])
                for r in dedup.ngram_jaccard_pairs(
                    spark, df, threshold=threshold, plan=plan
                ).collect()
            )
            assert got == want, (seed, threshold, plan)


def test_exact_grouped_quantiles_match_python_reference(spark, engine):
    """The integer-interpolation contract is cross-engine-identical by
    construction (one shared SQL text) — this pins that it computes the
    RIGHT quantile: an independent Python implementation of the
    declared math (order statistics on the cents grid, exact integer
    interpolation, half-up to cents) reproduces every output, and the
    result sits within one cent of numpy's linear-interpolation
    percentile (same definition, float arithmetic)."""
    import numpy as np

    from approximatequeryengine_spark.workload import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {
        r["l_returnflag"]: r
        for r in QUERIES["exact_grouped_quantiles"](spark, sf).collect()
    }
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice"
    ).collect()
    by_flag: dict = {}
    for r in li:
        by_flag.setdefault(r["l_returnflag"], []).append(
            int(np.floor(r["l_extendedprice"] * 100.0 + 0.5))
        )
    for flag, cents in by_flag.items():
        cents.sort()
        n = len(cents)
        for s, k, m in [("25", 1, 4), ("50", 1, 2), ("75", 3, 4), ("95", 19, 20)]:
            lo = (n - 1) * k // m
            rem = (n - 1) * k - m * lo
            a = cents[lo]
            b = cents[lo + 1] if lo + 1 < n else a
            scaled = a * (m - rem) + b * rem  # quantile in cents·m
            half_up = (2 * scaled + m) // (2 * m)
            want = half_up / 100.0
            assert got[flag][f"p{s}"] == want, (flag, s)
            np_ref = np.percentile(
                np.array(cents, dtype=np.float64) / 100.0, [25, 50, 75, 95]
            )[["25", "50", "75", "95"].index(s)]
            assert abs(got[flag][f"p{s}"] - np_ref) <= 0.01 + 1e-9, (flag, s)


def test_ngram_jaccard_prefix_plan_equivalence(spark, engine):
    """The prefix-filter plan (default) and the size-class blocking
    plan must emit the IDENTICAL pair set — including on a
    uniform-length near-dup corpus, the shape where size-class blocks
    degenerate to quadratic (the sf1 sweep finding that motivated the
    prefix plan)."""
    from approximatequeryengine_spark.operators import dedup

    def pairs(df, plan):
        rows = dedup.ngram_jaccard_pairs(spark, df, plan=plan).collect()
        return sorted((r["doc_a"], r["doc_b"], r["jaccard"]) for r in rows)

    docs = engine.catalog.table("documents")
    assert pairs(docs, "prefix") == pairs(docs, "sizeclass")

    # uniform-length clique corpus: 8 docs, one shared base text with a
    # 1-char tail tweak -> every pair is near-dup AND same size class
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, base + str(i % 4), "en", "s0", len(base) + 1) for i in range(8)]
    crafted = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got_prefix = pairs(crafted, "prefix")
    assert got_prefix == pairs(crafted, "sizeclass")
    assert len(got_prefix) >= 6  # the tail tweak keeps J >= 0.55 for all

    # threshold guard unchanged
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.ngram_jaccard_pairs(spark, crafted, threshold=0.4)
    with _pytest.raises(ValueError):
        dedup.ngram_jaccard_pairs(spark, crafted, plan="bogus")
