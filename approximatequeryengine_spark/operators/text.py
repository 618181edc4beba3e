"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, fingerprinting.

All hot-path logic is JVM-side built-ins (split/filter/transform/
aggregate inside whole-stage codegen) — no Python UDFs — so each
operator is a narrow scan + one partial-aggregated groupBy and scales
linearly with the corpus. Every operator has an exactly-equivalent
DuckDB SQL rendering (suffix ``_SQL``) used as the driver oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from approximatequeryengine_spark.operators import ensure_parallelism

from approximatequeryengine_spark.functions.text import (
    TOKEN_REGEX,
    ws_tokens_col,
    ws_tokens_sql,
)

# Minimal public stopword profiles (language ID by stopword hits — the
# classic cheap heuristic; n-gram-free variant chosen because the fixture
# corpus is whitespace-tokenized word soup).
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "you", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "auf", "sie"],
    "fr": ["le", "la", "et", "les", "des", "un", "une", "est", "pour", "que"],
    "es": ["el", "los", "se", "las", "por", "para", "con", "una", "del", "como"],
    "zh": ["的", "是", "不", "了", "在", "人", "有", "我", "他", "这"],
}
LANG_ORDER = ["en", "de", "fr", "es", "zh"]  # deterministic tie-break priority


def _hits(tokens: Column, words: list[str]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(words)))


def _hits_sql(tokens: str, words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({tokens}, t -> t IN ({lst})))"


def predicted_lang_col(text: Column) -> Column:
    toks = F.transform(ws_tokens_col(text), lambda t: F.lower(t))
    scores = {lang: _hits(toks, ws) for lang, ws in LANG_PROFILES.items()}
    # argmax with LANG_ORDER tie-break: first language whose score equals
    # the max and is > 0.
    mx = F.greatest(*[scores[lg] for lg in LANG_ORDER])
    pred = F.lit("unknown")
    for lg in reversed(LANG_ORDER):
        pred = F.when((scores[lg] == mx) & (mx > 0), F.lit(lg)).otherwise(pred)
    return pred


def predicted_lang_sql(text_expr: str) -> str:
    toks = f"list_transform({ws_tokens_sql(text_expr)}, t -> lower(t))"
    scores = {lg: _hits_sql(toks, ws) for lg, ws in LANG_PROFILES.items()}
    mx = f"greatest({', '.join(scores[lg] for lg in LANG_ORDER)})"
    expr = "'unknown'"
    for lg in reversed(LANG_ORDER):
        expr = (
            f"CASE WHEN ({scores[lg]}) = ({mx}) AND ({mx}) > 0 "
            f"THEN '{lg}' ELSE ({expr}) END"
        )
    return expr


def _predicted_lang_pandas(docs: DataFrame, extra_cols: list[str]) -> DataFrame:
    """Arrow kernel for language ID: stopword-hit argmax computed once
    per row, with the semantics of ``predicted_lang_col`` /
    ``predicted_lang_sql`` (same ``_JAVA_WS`` strip + Java-``\\s+``
    split, same per-token lower + profile-set membership, same
    LANG_ORDER tie-break, NULL text → 'unknown' — the Column when-chain
    bottoms out at the 'unknown' literal because every score is NULL).
    Pinned per row against ``predicted_lang_col`` and end to end against
    ``lang_id_confusion_sql`` in DuckDB. Why: the Column argmax
    when-chain re-inlines every per-language score (itself an
    interpreted higher-order filter) into each branch and into the
    greatest() — ~30 interpreted filter evaluations per document."""
    import re

    import pandas as pd

    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s
    profiles = {lg: frozenset(ws) for lg, ws in LANG_PROFILES.items()}

    def batches(it):
        # Per-task memo: identical texts share one prediction (replica-
        # dense corpora); capped at 64k entries.
        memo: dict[str, str] = {}
        for pdf in it:
            cols: dict[str, list] = {c: [] for c in extra_cols}
            preds: list[str] = []
            for row in zip(*(pdf[c] for c in extra_cols), pdf["text"]):
                *extras, text = row
                for c, v in zip(extra_cols, extras):
                    cols[c].append(v)
                if text is None:
                    preds.append("unknown")
                    continue
                hit = memo.get(text)
                if hit is not None:
                    preds.append(hit)
                    continue
                t = text.strip(_JAVA_WS)
                low = [tk.lower() for tk in ws_re.split(t)] if t else []
                counts = {
                    lg: sum(1 for tk in low if tk in ws)
                    for lg, ws in profiles.items()
                }
                mx = max(counts[lg] for lg in LANG_ORDER)
                pred = (
                    next(lg for lg in LANG_ORDER if counts[lg] == mx)
                    if mx > 0 else "unknown"
                )
                if len(memo) < 65536:
                    memo[text] = pred
                preds.append(pred)
            yield pd.DataFrame({**cols, "predicted": preds}, dtype=object)

    in_schema = docs.select(*extra_cols).schema
    extra_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in in_schema)
    schema = (extra_ddl + ", " if extra_ddl else "") + "predicted string"
    return docs.select(*extra_cols, "text").mapInPandas(batches, schema=schema)


def lang_id_confusion(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Predicted-vs-labeled language counts (the operator's primary
    correctness artifact — deterministic, oracle-checkable)."""
    per_doc = _predicted_lang_pandas(ensure_parallelism(docs), ["lang"])
    return (
        per_doc.groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def lang_id_confusion_sql() -> str:
    return (
        f"SELECT lang, {predicted_lang_sql('text')} AS predicted, "
        f"count(*) AS n_docs FROM documents GROUP BY 1, 2"
    )


# -- quality scoring --------------------------------------------------------


def _char_class_count(text: Column, pattern: str) -> Column:
    return F.length(text) - F.length(F.regexp_replace(text, pattern, ""))


def quality_columns(text: Column) -> dict[str, Column]:
    """Per-document quality signals (length / punctuation / stopword
    ratios + a composite score in [0,1])."""
    toks = ws_tokens_col(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    alpha = _char_class_count(text, "[A-Za-z]")
    digit = _char_class_count(text, "[0-9]")
    punct = _char_class_count(text, "[^A-Za-z0-9\\s]")
    stop_hits = _hits(F.transform(toks, lambda t: F.lower(t)), LANG_PROFILES["en"])
    safe_chars = F.greatest(n_chars, F.lit(1))
    safe_toks = F.greatest(n_tokens, F.lit(1))
    alpha_ratio = alpha / safe_chars
    punct_ratio = punct / safe_chars
    stop_ratio = stop_hits / safe_toks
    score = (
        F.lit(0.25) * alpha_ratio
        + F.lit(0.25) * F.least(F.lit(1.0), n_tokens / F.lit(20.0))
        + F.lit(0.25) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.25) * F.least(F.lit(1.0), stop_ratio * 5)
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "alpha_ratio": alpha_ratio,
        "digit_ratio": digit / safe_chars,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "quality_score": score,
    }


def _quality_sql_parts(text: str = "text") -> dict[str, str]:
    toks = ws_tokens_sql(text)
    n_chars = f"length({text})"
    n_tokens = f"len({toks})"
    alpha = f"({n_chars} - length(regexp_replace({text}, '[A-Za-z]', '', 'g')))"
    digit = f"({n_chars} - length(regexp_replace({text}, '[0-9]', '', 'g')))"
    punct = f"({n_chars} - length(regexp_replace({text}, '[^A-Za-z0-9\\s]', '', 'g')))"
    stop = _hits_sql(f"list_transform({toks}, t -> lower(t))", LANG_PROFILES["en"])
    safe_chars = f"greatest({n_chars}, 1)"
    safe_toks = f"greatest({n_tokens}, 1)"
    alpha_ratio = f"(CAST({alpha} AS DOUBLE) / {safe_chars})"
    punct_ratio = f"(CAST({punct} AS DOUBLE) / {safe_chars})"
    stop_ratio = f"(CAST({stop} AS DOUBLE) / {safe_toks})"
    score = (
        f"(0.25 * {alpha_ratio} + 0.25 * least(1.0, CAST({n_tokens} AS DOUBLE) / 20.0) "
        f"+ 0.25 * (1.0 - {punct_ratio}) + 0.25 * least(1.0, {stop_ratio} * 5))"
    )
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "alpha_ratio": alpha_ratio,
        "digit_ratio": f"(CAST({digit} AS DOUBLE) / {safe_chars})",
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
        "quality_score": score,
    }


_QUALITY_SIGNALS = (
    "n_chars", "n_tokens", "alpha_ratio", "digit_ratio", "punct_ratio",
    "stopword_ratio", "quality_score",
)


def _quality_pandas(docs: DataFrame, extra_cols: list[str]) -> DataFrame:
    """Arrow kernel for the per-document quality signals: one
    vectorized kernel computing every signal ONCE per row, with the
    semantics of ``quality_columns`` (same Java-regex char classes, same
    ``_JAVA_WS`` strip + ``\\s+`` split tokenization as the certified
    ``_enrich_pandas``, same IEEE-double arithmetic in the same order;
    NULL text keeps its row with all-NULL signals, exactly as the
    Column path's NULL propagation) — pinned per row against
    ``quality_columns`` and end to end against ``quality_by_lang_sql``
    and ``quality_threshold_sweep_sql`` in DuckDB
    (``test_quality_arrow_matches_expression_path``).

    Why it exists (guide §4.2): ``quality_columns`` returns independent
    Column trees, and the score column re-inlines the ratio columns —
    higher-order array expressions have no codegen, so the whole
    projection drops to interpreted row-at-a-time eval with NO
    common-subexpression elimination: the split ran ~4× and the
    regexp_replace char-class strips ~6× per document (measured 5.8 s
    of task CPU for a 5000-doc corpus). The kernel computes each
    signal once; profiling puts the same work at ~0.4 s single-threaded.
    """
    import re

    import pandas as pd

    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s
    alpha_re = re.compile(r"[A-Za-z]")
    digit_re = re.compile(r"[0-9]")
    punct_re = re.compile(r"[^A-Za-z0-9 \t\n\x0b\f\r]")  # [^A-Za-z0-9\s], Java \s
    en = frozenset(LANG_PROFILES["en"])

    def batches(it):
        # Per-task memo: identical texts share one signal computation
        # (replica-dense corpora); capped at 64k entries.
        memo: dict[str, tuple] = {}
        for pdf in it:
            cols: dict[str, list] = {c: [] for c in extra_cols}
            sig: dict[str, list] = {c: [] for c in _QUALITY_SIGNALS}
            for row in zip(*(pdf[c] for c in extra_cols), pdf["text"]):
                *extras, text = row
                for c, v in zip(extra_cols, extras):
                    cols[c].append(v)
                if text is None:
                    for c in _QUALITY_SIGNALS:
                        sig[c].append(None)
                    continue
                hit = memo.get(text)
                if hit is not None:
                    for c, v in zip(_QUALITY_SIGNALS, hit):
                        sig[c].append(v)
                    continue
                t = text.strip(_JAVA_WS)
                toks = ws_re.split(t) if t else []
                n_chars = len(text)
                n_tokens = len(toks)
                alpha = len(alpha_re.findall(text))
                digit = len(digit_re.findall(text))
                punct = len(punct_re.findall(text))
                stop_hits = sum(1 for tk in toks if tk.lower() in en)
                safe_chars = max(n_chars, 1)
                safe_toks = max(n_tokens, 1)
                alpha_ratio = alpha / safe_chars
                punct_ratio = punct / safe_chars
                stop_ratio = stop_hits / safe_toks
                vals = (
                    n_chars,
                    n_tokens,
                    alpha_ratio,
                    digit / safe_chars,
                    punct_ratio,
                    stop_ratio,
                    0.25 * alpha_ratio
                    + 0.25 * min(1.0, n_tokens / 20.0)
                    + 0.25 * (1.0 - punct_ratio)
                    + 0.25 * min(1.0, stop_ratio * 5),
                )
                if len(memo) < 65536:
                    memo[text] = vals
                for c, v in zip(_QUALITY_SIGNALS, vals):
                    sig[c].append(v)
            yield pd.DataFrame({**cols, **sig}, dtype=object)

    in_schema = docs.select(*extra_cols).schema
    extra_ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in in_schema)
    schema = (extra_ddl + ", " if extra_ddl else "") + (
        "n_chars int, n_tokens int, alpha_ratio double, digit_ratio double, "
        "punct_ratio double, stopword_ratio double, quality_score double"
    )
    return docs.select(*extra_cols, "text").mapInPandas(batches, schema=schema)


def quality_by_lang(spark: SparkSession, docs: DataFrame) -> DataFrame:
    per_doc = _quality_pandas(ensure_parallelism(docs), ["lang"])
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("alpha_ratio"), 6).alias("avg_alpha_ratio"),
        F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
        F.round(F.avg("stopword_ratio"), 6).alias("avg_stopword_ratio"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
    )


def quality_by_lang_sql() -> str:
    p = _quality_sql_parts()
    return (
        "SELECT lang, count(*) AS n_docs, "
        f"round(avg({p['n_chars']}), 4) AS avg_chars, "
        f"round(avg({p['n_tokens']}), 4) AS avg_tokens, "
        f"round(avg({p['alpha_ratio']}), 6) AS avg_alpha_ratio, "
        f"round(avg({p['punct_ratio']}), 6) AS avg_punct_ratio, "
        f"round(avg({p['stopword_ratio']}), 6) AS avg_stopword_ratio, "
        f"round(avg({p['quality_score']}), 6) AS avg_quality "
        "FROM documents GROUP BY lang"
    )


# -- token counting ---------------------------------------------------------


def token_stats(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Corpus token accounting: whitespace tokens and BPE-ish regex
    tokens (letter runs / digit runs / punctuation marks)."""
    docs = ensure_parallelism(docs)
    text = F.col("text")
    ws = F.size(ws_tokens_col(text))
    bpe = F.size(F.regexp_extract_all(text, F.lit(TOKEN_REGEX), 0))
    per_doc = docs.select(ws.alias("ws"), bpe.alias("bpe"))
    return per_doc.agg(
        F.sum("ws").alias("total_ws_tokens"),
        F.sum("bpe").alias("total_bpe_tokens"),
        F.max("ws").alias("max_ws_tokens"),
        F.round(F.avg("ws"), 6).alias("avg_ws_tokens"),
    )


def token_stats_sql() -> str:
    ws = f"len({ws_tokens_sql('text')})"
    bpe = f"len(regexp_extract_all(text, '{TOKEN_REGEX}'))"
    return (
        # DuckDB types sum(integer) as HUGEINT (int128), which its Arrow
        # fetch surfaces as float64 while Spark's side is LongType — the
        # driver's value hash distinguishes 1.0 from 1, so cast to BIGINT.
        f"SELECT CAST(sum(ws) AS BIGINT) AS total_ws_tokens, "
        f"CAST(sum(bpe) AS BIGINT) AS total_bpe_tokens, "
        f"max(ws) AS max_ws_tokens, round(avg(ws), 6) AS avg_ws_tokens "
        f"FROM (SELECT {ws} AS ws, {bpe} AS bpe FROM documents) __t"
    )


# -- fingerprinting ---------------------------------------------------------


def fingerprint_cols(text: Column) -> dict[str, Column]:
    """Exact fingerprint (md5 of raw text) and an order-insensitive
    token-set fingerprint (md5 of the sorted distinct tokens) — the
    rolling-hash-style canonical form for shuffle-resistant dedup."""
    toks = ws_tokens_col(text)
    # concat_ws SWALLOWS a NULL array into '' (unlike DuckDB's
    # array_to_string, which NULL-propagates) — gate on the text so a
    # NULL document fingerprints as NULL in both engines instead of
    # colliding with the genuinely-empty document's md5('').
    canon = F.when(
        text.isNotNull(), F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))
    )
    return {
        "fp_exact": F.md5(text.cast("binary")),
        "fp_tokenset": F.md5(canon.cast("binary")),
    }


def fingerprint_sql_parts(text: str = "text") -> dict[str, str]:
    toks = ws_tokens_sql(text)
    # coalesce: DuckDB's array_to_string([]) is NULL where Spark's
    # concat_ws over an empty array is '' — an empty document must
    # fingerprint as md5('') in both engines, while a NULL document
    # stays NULL (the outer CASE).
    canon = f"coalesce(array_to_string(list_sort(list_distinct({toks})), ' '), '')"
    return {
        "fp_exact": f"md5({text})",
        "fp_tokenset": f"md5(CASE WHEN {text} IS NOT NULL THEN {canon} END)",
    }


def fingerprint_summary(spark: SparkSession, docs: DataFrame) -> DataFrame:
    docs = ensure_parallelism(docs)
    fps = fingerprint_cols(F.col("text"))
    per_doc = docs.select(F.col("source"), *[c.alias(n) for n, c in fps.items()])
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp_exact").alias("n_exact_distinct"),
        F.countDistinct("fp_tokenset").alias("n_tokenset_distinct"),
    )


_JAVA_WS = "".join(chr(c) for c in range(0x21))  # String.trim strips ≤ U+0020


def _enrich_pandas(docs: DataFrame, n_parts: int) -> DataFrame:
    """Arrow kernel for the corpus-clean enrichment: per-batch Python
    computing (plang, score, n_tokens, fp) with the *en+quality filter
    applied inside the kernel*. Same Java-regex tokenization,
    IEEE-double score arithmetic in the same order and md5 token-set
    fingerprint as ``predicted_lang_sql`` / ``_quality_sql_parts`` /
    ``fingerprint_sql_parts`` — pinned against
    ``corpus_clean_pipeline_sql`` in DuckDB by
    ``test_corpus_clean_arrow_matches_expression_path``.

    Why it exists: the language-ID / quality / fingerprint chains are
    interpreted higher-order array expressions, and Catalyst's
    filter-through-project pushdown re-inlines ``plang`` and ``score``
    into the filter — computing each chain twice per row. The kernel
    computes everything once per row and filters before returning, so
    only surviving (doc_id, score, n_tokens, fp) rows cross Arrow."""
    import hashlib
    import re

    import pandas as pd

    ws_re = re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s
    alpha_re = re.compile(r"[A-Za-z]")
    punct_re = re.compile(r"[^A-Za-z0-9 \t\n\x0b\f\r]")  # [^A-Za-z0-9\s], Java \s
    profiles = {lg: frozenset(ws) for lg, ws in LANG_PROFILES.items()}

    def batches(it):
        # Per-task memo: identical texts produce identical (keep, score,
        # n_tokens, fp) — in replica-dense corpora (the ingest dedup
        # case this pipeline exists for) most rows hit the memo and skip
        # the tokenize/score/md5 work entirely. Capped so a task over
        # all-distinct data holds at most 64k entries; past the cap rows
        # just compute (no eviction churn).
        memo: dict[str, tuple | None] = {}
        for pdf in it:
            ids, scores, ntoks, fps = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    # expression-path parity: NULL text -> NULL plang
                    # -> dropped by the en+quality filter
                    continue
                hit = memo.get(text, False)
                if hit is not False:
                    if hit is not None:
                        ids.append(doc_id)
                        scores.append(hit[0])
                        ntoks.append(hit[1])
                        fps.append(hit[2])
                    continue
                t = text.strip(_JAVA_WS)
                toks = ws_re.split(t) if t else []
                low = [tk.lower() for tk in toks]
                counts = {
                    lg: sum(1 for tk in low if tk in ws)
                    for lg, ws in profiles.items()
                }
                mx = max(counts[lg] for lg in LANG_ORDER)
                if mx <= 0 or next(lg for lg in LANG_ORDER if counts[lg] == mx) != "en":
                    if len(memo) < 65536:
                        memo[text] = None
                    continue
                n_chars = len(text)
                n_tokens = len(toks)
                alpha = len(alpha_re.findall(text))
                punct = len(punct_re.findall(text))
                stop_hits = counts["en"]
                safe_chars = max(n_chars, 1)
                safe_toks = max(n_tokens, 1)
                score = (
                    0.25 * (alpha / safe_chars)
                    + 0.25 * min(1.0, n_tokens / 20.0)
                    + 0.25 * (1.0 - punct / safe_chars)
                    + 0.25 * min(1.0, (stop_hits / safe_toks) * 5)
                )
                if score < 0.5:
                    if len(memo) < 65536:
                        memo[text] = None
                    continue
                canon = " ".join(sorted(set(toks)))
                fp = hashlib.md5(canon.encode("utf-8")).hexdigest()
                if len(memo) < 65536:
                    memo[text] = (score, n_tokens, fp)
                ids.append(doc_id)
                scores.append(score)
                ntoks.append(n_tokens)
                fps.append(fp)
            yield pd.DataFrame(
                {"doc_id": ids, "score": scores, "n_tokens": ntoks, "fp": fps}
            )

    from approximatequeryengine_spark.operators import _num_partitions

    slim = docs.select("doc_id", "text")
    # Fan out only when the input is narrower than the size-derived
    # target — repartitioning an already-parallel scan (the 100 TB
    # case: thousands of splits) would pay a full payload shuffle for
    # nothing (guide §2.4).
    if n_parts > 1 and _num_partitions(slim) < n_parts:
        slim = slim.repartition(n_parts, "doc_id")
    return slim.mapInPandas(
        batches, schema="doc_id long, score double, n_tokens int, fp string"
    )


def corpus_clean_pipeline(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """End-to-end training-data cleaning pass, composed from the
    operator layers: language-ID filter (predicted en) → quality filter
    (score ≥ 0.5) → token-set-fingerprint dedup (keep lowest doc_id) →
    corpus accounting. One Spark job: the filters are scan-time
    predicates, the dedup is a single shuffle on the fingerprint. The
    enrichment runs in one vectorized Arrow kernel (``_enrich_pandas``).
    """
    from approximatequeryengine_spark.operators import parallelism_target

    # Size-proportional kernel fan-out (guide §2): the old constant
    # defaultParallelism fanned a 5000-doc corpus to 32 Python-worker
    # round trips ON TOP of the ensure_parallelism shuffle — two full
    # payload shuffles where at most one is needed.
    t = parallelism_target(docs, weight=4.0)
    n_parts = t if t else docs.sparkSession.sparkContext.defaultParallelism
    enriched = _enrich_pandas(docs, n_parts)
    kept = enriched.groupBy("fp").agg(
        F.min_by(F.struct("doc_id", "score", "n_tokens"), F.col("doc_id")).alias("k"),
        F.count(F.lit(1)).alias("group_size"),
    )
    return kept.agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        (F.sum("group_size") - F.count(F.lit(1))).alias("n_dups_removed"),
        F.sum("k.n_tokens").alias("total_tokens_kept"),
        F.round(F.avg("k.score"), 6).alias("avg_quality_kept"),
    )


def corpus_clean_pipeline_sql() -> str:
    p = _quality_sql_parts()
    fp = fingerprint_sql_parts()["fp_tokenset"]
    return (
        "WITH enriched AS ("
        f"  SELECT doc_id, {p['quality_score']} AS score, {p['n_tokens']} AS n_tokens, "
        f"         {fp} AS fp FROM documents "
        f"  WHERE {predicted_lang_sql('text')} = 'en' AND {p['quality_score']} >= 0.5"
        "), kept AS ("
        "  SELECT fp, min_by(score, doc_id) AS score, "
        "         min_by(n_tokens, doc_id) AS n_tokens, count(*) AS group_size "
        "  FROM enriched GROUP BY fp) "
        "SELECT count(*) AS n_docs_kept, "
        "       CAST(sum(group_size) - count(*) AS BIGINT) AS n_dups_removed, "
        "       CAST(sum(n_tokens) AS BIGINT) AS total_tokens_kept, "
        "       round(avg(score), 6) AS avg_quality_kept FROM kept"
    )


def fingerprint_summary_sql() -> str:
    p = fingerprint_sql_parts()
    return (
        "SELECT source, count(*) AS n_docs, "
        f"count(DISTINCT {p['fp_exact']}) AS n_exact_distinct, "
        f"count(DISTINCT {p['fp_tokenset']}) AS n_tokenset_distinct "
        "FROM documents GROUP BY source"
    )


def corpus_mix_balanced(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Data mixing: downsample every language stratum to the size of the
    smallest one, so the output corpus is language-balanced — the
    pre-training mix-rebalancing operation, as a deterministic two-pass
    plan: pass 1 counts strata (tiny aggregate, broadcast back); pass 2
    keeps a row iff its avalanche-hash u < min_count/count(lang). The
    hash is keyed on doc_id with a mixing-specific salt, so membership
    is reproducible across engines and independent of the sampling
    designs' hash family. Expected kept count per language ≈ min_count;
    realized counts are exactly oracle-checkable."""
    from approximatequeryengine_spark.functions.hashing import (
        HASH_SPACE,
        with_avalanche_u,
    )

    docs = ensure_parallelism(docs)
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    min_n = counts.agg(F.min("n_lang").alias("min_n"))
    hashed = with_avalanche_u(
        docs.select("doc_id", "lang", "n_chars"), F.col("doc_id"), F.lit(401)
    )
    kept = (
        hashed.join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(min_n))
        .filter(
            F.col("__u")
            < F.col("min_n").cast("double") / F.col("n_lang").cast("double")
        )
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.max("n_lang").alias("n_before"),
            F.sum("n_chars").alias("chars_kept"),
        )
        .orderBy("lang")
    )


def corpus_mix_balanced_sql() -> str:
    from approximatequeryengine_spark.functions.hashing import (
        HASH_SPACE,
        avalanche_hash_sql_steps,
    )

    steps, final = avalanche_hash_sql_steps("doc_id", 401)
    u = f"(CAST({final} AS DOUBLE) / {float(HASH_SPACE)!r})"
    return f"""
WITH counts AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
mn AS (SELECT min(n_lang) AS min_n FROM counts),
hashed AS (SELECT d.doc_id, d.lang, d.n_chars, {steps}
           FROM documents d),
kept AS (SELECT h.lang, h.n_chars, c.n_lang
         FROM hashed h JOIN counts c ON h.lang = c.lang
         WHERE {u} < CAST((SELECT min_n FROM mn) AS DOUBLE) / CAST(c.n_lang AS DOUBLE))
SELECT lang, count(*) AS n_kept, max(n_lang) AS n_before, CAST(sum(n_chars) AS BIGINT) AS chars_kept
FROM kept GROUP BY lang ORDER BY lang
"""


# ---------------------------------------------------------------------------
# BM25 ranking (round 3). Classic Okapi BM25 as a pure DataFrame plan:
# the "search query" is itself derived from the corpus (the 3 most
# frequent tokens, ties broken lexically) so the whole thing — query
# selection, document frequencies, length normalization, scoring,
# ranking — is deterministic and re-runs as ONE DuckDB oracle.
#
# Float discipline: per-(doc, term) scores are single arithmetic chains
# (no order-dependent summation) rounded to 9dp; the per-doc total adds
# the ≤3 term scores in FIXED query-rank order (CASE-pivoted columns,
# not an aggregate over rows), then rounds to 6dp — so no float sum
# depends on row order in either engine, and only ln()'s last ulp needs
# the rounding grid.
#
# At 100 TB: tokenize+explode is partition-local; tf is one shuffle on
# (doc_id, token) with map-side combine; df/query-term selection
# reduces to |vocabulary| rows; qterms (3 rows) and the corpus stats
# (1 row) broadcast back — the scan dominates, as it should.

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QTERMS = 3
BM25_TOPK = 10


def bm25_search_top10(
    spark: SparkSession, docs: DataFrame, k: int = BM25_TOPK
) -> DataFrame:
    """Top-k (default 10) documents by BM25 for the corpus' 3 hottest
    tokens. Output: ``(rank, doc_id, n_terms_matched, score)``."""
    docs = ensure_parallelism(docs)
    toks_arr = F.transform(ws_tokens_col(F.col("text")), lambda t: F.lower(t))
    lens = docs.select("doc_id", F.size(toks_arr).alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    toks = docs.select("doc_id", F.explode(toks_arr).alias("tok"))
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    vocab = tf.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cnt")
    )
    # TakeOrdered (distributed top-N), not a global row_number window —
    # a single-partition sort of the whole vocabulary would not scale;
    # the rank window then runs over BM25_QTERMS rows only.
    top_toks = vocab.orderBy(F.desc("cnt"), F.asc("tok")).limit(BM25_QTERMS)
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))
    qterms = top_toks.withColumn("qrank", F.row_number().over(w)).select(
        "tok", "df", "qrank"
    )
    scored = (
        tf.join(F.broadcast(qterms), on="tok")
        .join(lens, on="doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_d = F.col("tf").cast("double")
    denom = tf_d + F.lit(BM25_K1) * (
        F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
    )
    s = F.round(idf * tf_d * F.lit(BM25_K1 + 1.0) / denom, 9)
    per_term = scored.select("doc_id", "qrank", s.alias("s"))
    # Fixed-order total: one column per query rank (each holds ≤1 value,
    # so the aggregate itself never sums floats), then q1+q2+q3.
    parts = [
        F.coalesce(
            F.sum(F.when(F.col("qrank") == i + 1, F.col("s"))), F.lit(0.0)
        ).alias(f"s{i + 1}")
        for i in range(BM25_QTERMS)
    ]
    per_doc = per_term.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_matched"), *parts
    )
    total = F.col("s1")
    for i in range(1, BM25_QTERMS):
        total = total + F.col(f"s{i + 1}")
    ranked = per_doc.select(
        "doc_id", "n_terms_matched", F.round(total, 6).alias("score")
    )
    # Same shape for the final ranking: top-K via TakeOrdered, then the
    # contiguous rank numbers come from a window over K rows.
    topk = ranked.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    w2 = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return topk.withColumn("rank", F.row_number().over(w2)).select(
        "rank", "doc_id", "n_terms_matched", "score"
    )


def bm25_search_top10_sql(k: int = BM25_TOPK) -> str:
    toks = f"list_transform({ws_tokens_sql('text')}, t -> lower(t))"
    s_parts = " + ".join(f"s{i + 1}" for i in range(BM25_QTERMS))
    pivot = ",\n         ".join(
        f"coalesce(sum(CASE WHEN qrank = {i + 1} THEN s END), 0.0) AS s{i + 1}"
        for i in range(BM25_QTERMS)
    )
    return f"""
WITH lens AS (
  SELECT doc_id, len({toks}) AS dl FROM documents
),
stats AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM lens
),
toks AS (
  SELECT doc_id, unnest({toks}) AS tok FROM documents
),
tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
),
vocab AS (
  SELECT tok, count(*) AS df, sum(tf) AS cnt FROM tf GROUP BY tok
),
qterms AS (
  SELECT tok, df, row_number() OVER (ORDER BY cnt DESC, tok) AS qrank
  FROM vocab QUALIFY qrank <= {BM25_QTERMS}
),
per_term AS (
  SELECT t.doc_id, q.qrank,
         round(ln((s.n_docs - q.df + 0.5) / (q.df + 0.5) + 1.0)
               * CAST(t.tf AS DOUBLE) * {BM25_K1 + 1.0}
               / (CAST(t.tf AS DOUBLE)
                  + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * l.dl / s.avgdl)),
               9) AS s
  FROM tf t JOIN qterms q ON t.tok = q.tok
  JOIN lens l ON t.doc_id = l.doc_id
  CROSS JOIN stats s
),
per_doc AS (
  SELECT doc_id, count(*) AS n_terms_matched,
         {pivot}
  FROM per_term GROUP BY doc_id
),
ranked AS (
  SELECT doc_id, n_terms_matched, round({s_parts}, 6) AS score,
         row_number() OVER (ORDER BY round({s_parts}, 6) DESC, doc_id) AS rank
  FROM per_doc
)
SELECT rank, doc_id, n_terms_matched, score
FROM ranked WHERE rank <= {k} ORDER BY rank
"""


# ---------------------------------------------------------------------------
# Quality-filter calibration (round 3): before committing a corpus to a
# quality cutoff, a pipeline wants the survival curve — how many
# documents and tokens each candidate threshold keeps. ONE pass over
# the corpus computes every threshold's counts as conditional sums
# (no per-threshold rescans); the curve unpivots from the single
# aggregate row. Threshold comparisons are safe cross-engine because
# the quality score is a ratio of small integers (bit-identical in
# both engines — the certified corpus_clean_pipeline already filters
# on `quality_score >= 0.5`).

QUALITY_THRESHOLDS = (0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)


def quality_threshold_sweep(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Survival curve: ``(threshold, n_docs_kept, n_tokens_kept,
    pct_docs_kept)``, one row per candidate cutoff, one corpus scan."""
    per_doc = _quality_pandas(ensure_parallelism(docs), []).select(
        F.col("quality_score").alias("score"), F.col("n_tokens").alias("nt")
    )
    aggs = [F.count(F.lit(1)).alias("n_total")]
    for i, t in enumerate(QUALITY_THRESHOLDS):
        keep = F.col("score") >= F.lit(t)
        aggs.append(F.sum(F.when(keep, 1).otherwise(0)).alias(f"d{i}"))
        aggs.append(F.sum(F.when(keep, F.col("nt")).otherwise(0)).alias(f"t{i}"))
    one = per_doc.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(t).alias("threshold"),
                F.col(f"d{i}").cast("long").alias("n_docs_kept"),
                F.col(f"t{i}").cast("long").alias("n_tokens_kept"),
                F.round(F.col(f"d{i}") / F.col("n_total"), 6).alias(
                    "pct_docs_kept"
                ),
            )
            for i, t in enumerate(QUALITY_THRESHOLDS)
        ]
    )
    return (
        one.select(F.explode(rows).alias("x"))
        .select("x.threshold", "x.n_docs_kept", "x.n_tokens_kept", "x.pct_docs_kept")
        .orderBy("threshold")
    )


def quality_threshold_sweep_sql() -> str:
    p = _quality_sql_parts()
    conds = ",\n         ".join(
        f"CAST(sum(CASE WHEN score >= {t} THEN 1 ELSE 0 END) AS BIGINT) AS d{i},\n         "
        f"CAST(sum(CASE WHEN score >= {t} THEN nt ELSE 0 END) AS BIGINT) AS t{i}"
        for i, t in enumerate(QUALITY_THRESHOLDS)
    )
    case_d = " ".join(f"WHEN {t} THEN d{i}" for i, t in enumerate(QUALITY_THRESHOLDS))
    case_t = " ".join(f"WHEN {t} THEN t{i}" for i, t in enumerate(QUALITY_THRESHOLDS))
    grid = ", ".join(f"({t})" for t in QUALITY_THRESHOLDS)
    return f"""
WITH per_doc AS (
  SELECT {p['quality_score']} AS score, {p['n_tokens']} AS nt FROM documents
),
one AS (
  SELECT count(*) AS n_total,
         {conds}
  FROM per_doc
)
SELECT CAST(threshold AS DOUBLE) AS threshold,
       CASE threshold {case_d} END AS n_docs_kept,
       CASE threshold {case_t} END AS n_tokens_kept,
       round(CAST(CASE threshold {case_d} END AS DOUBLE) / n_total, 6) AS pct_docs_kept
FROM one CROSS JOIN (VALUES {grid}) g(threshold)
ORDER BY threshold
"""


# -- unigram log-probability quality scoring --------------------------------


def unigram_logprob_stats(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The perplexity-proxy quality filter (the CCNet-style pass every
    web-scale pipeline runs): score each document by its mean unigram
    log-probability under the corpus's own add-one-smoothed unigram
    model, then report per language how many documents fall below the
    corpus-wide mean — the outlier tail a filter would drop.

    lp(t) = ln((count(t) + 1) / (N + V)); doc score = mean over its
    tokens; empty documents carry no token rows and are excluded.

    Plan shape at scale: the tokenized corpus materializes ONCE through
    a doc_id exchange both consumers reuse (plan-gated single scan),
    then one token shuffle for the frequency table, the per-token score
    joined back BROADCAST (the model is |vocab| rows — switch to a
    shuffle join past ~10M types), one (doc, lang) combine for the
    per-doc means, a 1-row global mean broadcast, and a |langs|-row
    rollup. No window over an unpartitioned frame anywhere, so nothing
    serializes on one task."""
    docs = ensure_parallelism(docs)
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(ws_tokens_col(F.col("text")), lambda t: F.lower(t))
        ).alias("token"),
        # Exchange barrier: the tokenize+explode chain feeds BOTH the
        # frequency-table build and the probe side of the score join —
        # materialize it once through a shuffle (ReusedExchange) instead
        # of re-tokenizing the whole corpus per subtree.
    ).repartition(n_parts, "doc_id")
    freqs = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    totals = freqs.agg(
        F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v")
    )
    model = freqs.crossJoin(F.broadcast(totals)).select(
        "token",
        F.log((F.col("c") + 1) / (F.col("n_total") + F.col("v"))).alias("lp"),
    )
    # doc_lp and g are rounded to 9 decimals BEFORE the below-mean
    # comparison: both carry engine- and fold-order-dependent float
    # summation noise (~1 ulp), and a document landing exactly on the
    # global mean would otherwise flip n_below_global between engines —
    # the same determinism discipline as the integer centers elsewhere.
    per_doc = (
        toks.join(F.broadcast(model), on="token")
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg("lp"), 9).alias("doc_lp"))
    )
    global_mean = per_doc.agg(F.round(F.avg("doc_lp"), 9).alias("g"))
    return (
        per_doc.crossJoin(F.broadcast(global_mean))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("doc_lp"), 6).alias("avg_logprob"),
            F.sum((F.col("doc_lp") < F.col("g")).cast("long")).alias("n_below_global"),
            F.round(
                F.sum((F.col("doc_lp") < F.col("g")).cast("long"))
                / F.count(F.lit(1)),
                6,
            ).alias("share_below"),
        )
        .orderBy("lang")
    )


def unigram_logprob_stats_sql() -> str:
    toks = ws_tokens_sql("text")
    return f"""
WITH tok AS (
  SELECT doc_id, lang,
         unnest(list_transform({toks}, t -> lower(t))) AS token
  FROM documents
),
freqs AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
totals AS (SELECT sum(c) AS n_total, count(*) AS v FROM freqs),
model AS (
  SELECT token,
         ln(CAST(c + 1 AS DOUBLE) / ((SELECT n_total FROM totals)
                                     + (SELECT v FROM totals))) AS lp
  FROM freqs
),
per_doc AS (
  SELECT t.doc_id, t.lang, round(avg(m.lp), 9) AS doc_lp
  FROM tok t JOIN model m USING (token)
  GROUP BY t.doc_id, t.lang
),
g AS (SELECT round(avg(doc_lp), 9) AS g FROM per_doc)
SELECT lang, count(*) AS n_docs,
       round(avg(doc_lp), 6) AS avg_logprob,
       CAST(sum(CASE WHEN doc_lp < (SELECT g FROM g) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_below_global,
       round(CAST(sum(CASE WHEN doc_lp < (SELECT g FROM g) THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS share_below
FROM per_doc GROUP BY lang ORDER BY lang
"""


def token_entropy_by_lang(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Per-language token-distribution statistics: Shannon entropy (in
    bits) of the language's unigram distribution and its KL divergence
    from the whole-corpus distribution — the corpus-mixture diagnostics
    a curation pipeline reads before reweighting sources. Output:
    (lang, n_tokens, n_types, entropy_bits, kl_vs_corpus_bits).

    One explode+group pass produces (lang, token) counts; every later
    stage runs on O(langs × vocabulary) rows. All probabilities are
    exact integer ratios; the only transcendental is log2 on identical
    doubles (6-decimal rounding absorbs libm ulps). KL is finite by
    construction: every language token IS a corpus token, so q > 0
    wherever p > 0 — no smoothing needed (unlike the PSI monitor,
    whose two sides bin independently)."""
    toks = docs.select(
        "lang", F.explode(F.transform(ws_tokens_col(F.col("text")), lambda t: F.lower(t))).alias("tok")
    )
    lt = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    lang_tot = lt.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    corpus = lt.groupBy("tok").agg(F.sum("c").cast("long").alias("cc"))
    total = lt.agg(F.sum("c").cast("long").alias("n"))
    j = (
        lt.join(F.broadcast(lang_tot), on="lang")
        .join(F.broadcast(corpus), on="tok")
        .crossJoin(F.broadcast(total))
    )
    p = F.col("c").cast("double") / F.col("n_tokens")
    q = F.col("cc").cast("double") / F.col("n")
    ent_term = -p * F.log2(p)
    kl_term = p * F.log2(p / q)
    return (
        j.groupBy("lang", "n_tokens", "n_types")
        .agg(
            F.round(F.sum(ent_term), 6).alias("entropy_bits"),
            F.round(F.sum(kl_term), 6).alias("kl_vs_corpus_bits"),
        )
        .orderBy("lang")
    )


def token_entropy_by_lang_sql() -> str:
    toks = f"list_transform({ws_tokens_sql('text')}, t -> lower(t))"
    return f"""
WITH toks AS (
  SELECT lang, unnest({toks}) AS tok FROM documents
),
lt AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
lang_tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
                    CAST(count(*) AS BIGINT) AS n_types
             FROM lt GROUP BY 1),
corpus AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cc FROM lt GROUP BY 1),
total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM lt)
SELECT lang, n_tokens, n_types,
       round(sum(-(CAST(c AS DOUBLE) / n_tokens)
                 * log2(CAST(c AS DOUBLE) / n_tokens)), 6) AS entropy_bits,
       round(sum((CAST(c AS DOUBLE) / n_tokens)
                 * log2((CAST(c AS DOUBLE) / n_tokens)
                        / (CAST(cc AS DOUBLE) / n))), 6) AS kl_vs_corpus_bits
FROM lt JOIN lang_tot USING (lang) JOIN corpus USING (tok) CROSS JOIN total
GROUP BY lang, n_tokens, n_types
ORDER BY lang
"""


# --- within-document repetition filter (Gopher-style) -----------------------

# Flag thresholds in exact micro-fractions (integer arithmetic on both
# engines — the comparison never sits on a float boundary): a document
# is repetitive if its single most frequent 2-gram carries > 10% of all
# 2-gram occurrences, or if 3-grams occurring more than once carry
# > 30% of all 3-gram mass. These are the word-n-gram members of the
# Gopher/MassiveText repetition-filter family (Rae et al. 2021 §A1.1);
# the fixture text has no newlines, so the line/paragraph members are
# vacuous here and deliberately omitted.
REP_TOP2_MICROFRAC = 100_000
REP_DUP3_MICROFRAC = 300_000
_REP_SCALE = 1_000_000


def repetition_filter_by_lang(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Per-language repetition-filter summary: how many documents the
    Gopher-style word-n-gram repetition rules would drop, plus the
    language's mean repetition fractions. Output: (lang, n_docs,
    n_flagged, mean_top2gram_frac, mean_dup3gram_frac).

    Per document (one n-gram explode + one (doc, gram) group per size):

    - ``top-2-gram fraction`` — occurrences of the most frequent
      2-gram / total 2-gram occurrences;
    - ``duplicate-3-gram fraction`` — mass of 3-grams occurring ≥ 2
      times / total 3-gram mass.

    Both are stored as exact integer micro-fractions
    (``floor(part · 10⁶ / whole)``, floor-exact in doubles), so the
    flag comparisons and the per-language means are engine-identical
    without float-summation hazards. Documents too short to have a
    2-gram (resp. 3-gram) contribute fraction 0.

    Scale shape: the per-document statistics never leave the row —
    n-grams are sorted and run-length-scanned IN PLACE with
    ``array_sort`` + ``aggregate`` higher-order functions (JVM
    whole-stage codegen), so the plan's only exchange is the final
    O(docs)→O(langs) rollup. The first cut exploded (doc, gram) rows
    and shuffled ~2× the corpus token count — measured 4.3× for 10×
    data; this shape removes that shuffle entirely. (The DuckDB
    oracle keeps the relational unnest+group rendering — an oracle
    need not be scale-safe, only exact.) No collects, no windows.
    """
    tk = F.transform(ws_tokens_col(F.col("text")), lambda t: F.lower(t))
    base = docs.select("doc_id", "lang", tk.alias("tk"))

    def grams_sql(n: int) -> str:
        parts = ", ".join(f"tk[i + {j}]" for j in range(n))
        return (
            f"CASE WHEN size(tk) >= {n} THEN "
            f"array_sort(transform(sequence(0, size(tk) - {n}), "
            f"i -> concat_ws(' ', {parts}))) "
            f"ELSE array() END"
        )

    zero = "CAST(0 AS BIGINT)"
    one = "CAST(1 AS BIGINT)"
    # Max run length over the sorted 2-grams = count of the most
    # frequent 2-gram; run-length scan in one aggregate().
    maxrun2 = (
        f"aggregate({grams_sql(2)}, "
        f"named_struct('prev', '', 'run', {zero}, 'mx', {zero}), "
        f"(s, g) -> CASE WHEN g = s.prev THEN "
        f"named_struct('prev', g, 'run', s.run + {one}, "
        f"             'mx', greatest(s.mx, s.run + {one})) "
        f"ELSE named_struct('prev', g, 'run', {one}, "
        f"                  'mx', greatest(s.mx, {one})) END, "
        f"s -> s.mx)"
    )
    # Total mass of 3-grams occurring >= 2 times: a run reaching 2
    # contributes 2, each further extension 1 — total r per run of r.
    dup3 = (
        f"aggregate({grams_sql(3)}, "
        f"named_struct('prev', '', 'run', {zero}, 'dup', {zero}), "
        f"(s, g) -> CASE WHEN g = s.prev THEN "
        f"named_struct('prev', g, 'run', s.run + {one}, "
        f"  'dup', s.dup + CASE WHEN s.run = 1 THEN CAST(2 AS BIGINT) "
        f"                      ELSE {one} END) "
        f"ELSE named_struct('prev', g, 'run', {one}, 'dup', s.dup) END, "
        f"s -> s.dup)"
    )
    tot2 = "CAST(CASE WHEN size(tk) >= 2 THEN size(tk) - 1 ELSE 0 END AS BIGINT)"
    tot3 = "CAST(CASE WHEN size(tk) >= 3 THEN size(tk) - 2 ELSE 0 END AS BIGINT)"
    per_doc = base.select(
        "doc_id",
        "lang",
        F.expr(
            f"CASE WHEN {tot2} > 0 THEN "
            f"CAST(floor(({maxrun2} * {_REP_SCALE}) / ({tot2} * 1.0)) AS BIGINT) "
            f"ELSE {zero} END"
        ).alias("f2u"),
        F.expr(
            f"CASE WHEN {tot3} > 0 THEN "
            f"CAST(floor(({dup3} * {_REP_SCALE}) / ({tot3} * 1.0)) AS BIGINT) "
            f"ELSE {zero} END"
        ).alias("f3u"),
    )
    flagged = (F.col("f2u") > REP_TOP2_MICROFRAC) | (
        F.col("f3u") > REP_DUP3_MICROFRAC
    )
    n = F.count(F.lit(1))
    return (
        per_doc.groupBy("lang")
        .agg(
            n.cast("long").alias("n_docs"),
            F.sum(F.when(flagged, 1).otherwise(0)).cast("long").alias("n_flagged"),
            F.round(
                F.sum("f2u").cast("double") / (n * F.lit(float(_REP_SCALE))), 6
            ).alias("mean_top2gram_frac"),
            F.round(
                F.sum("f3u").cast("double") / (n * F.lit(float(_REP_SCALE))), 6
            ).alias("mean_dup3gram_frac"),
        )
        .orderBy("lang")
    )


def repetition_filter_by_lang_sql() -> str:
    toks = f"list_transform({ws_tokens_sql('text')}, t -> lower(t))"
    return f"""
WITH lists AS (
  SELECT doc_id, lang, {toks} AS l FROM documents
),
g2 AS (
  SELECT doc_id, lang, l[i] || ' ' || l[i + 1] AS gram
  FROM (SELECT doc_id, lang, l,
               unnest(generate_series(1, len(l) - 1)) AS i
        FROM lists) t
),
c2 AS (SELECT doc_id, lang, gram, CAST(count(*) AS BIGINT) AS c
       FROM g2 GROUP BY 1, 2, 3),
d2 AS (SELECT doc_id, lang,
              CAST(floor((max(c) * {_REP_SCALE}) / (sum(c) * 1.0)) AS BIGINT)
                AS f2u
       FROM c2 GROUP BY 1, 2),
g3 AS (
  SELECT doc_id, lang, l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS gram
  FROM (SELECT doc_id, lang, l,
               unnest(generate_series(1, len(l) - 2)) AS i
        FROM lists) t
),
c3 AS (SELECT doc_id, lang, gram, CAST(count(*) AS BIGINT) AS c
       FROM g3 GROUP BY 1, 2, 3),
d3 AS (SELECT doc_id, lang,
              CAST(floor((sum(CASE WHEN c >= 2 THEN c ELSE 0 END)
                          * {_REP_SCALE}) / (sum(c) * 1.0)) AS BIGINT) AS f3u
       FROM c3 GROUP BY 1, 2),
per_doc AS (
  -- join on doc_id ALONE (it is unique): including lang in the USING
  -- list silently zeroes every NULL-lang document's fractions, since
  -- NULL = NULL is not a match in an equi-join
  SELECT d.doc_id, d.lang, coalesce(d2.f2u, 0) AS f2u,
         coalesce(d3.f3u, 0) AS f3u
  FROM (SELECT doc_id, lang FROM documents) d
  LEFT JOIN d2 ON d.doc_id = d2.doc_id
  LEFT JOIN d3 ON d.doc_id = d3.doc_id
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN f2u > {REP_TOP2_MICROFRAC}
                      OR f3u > {REP_DUP3_MICROFRAC}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       round(CAST(sum(f2u) AS DOUBLE) / (count(*) * {_REP_SCALE}.0), 6)
         AS mean_top2gram_frac,
       round(CAST(sum(f3u) AS DOUBLE) / (count(*) * {_REP_SCALE}.0), 6)
         AS mean_dup3gram_frac
FROM per_doc GROUP BY lang ORDER BY lang
"""
