"""Portable deterministic hashing for reproducible, oracle-checkable sampling.

The reference samples via ``rowid % step = offset`` predicates injected
into SQLite SQL (``executor.cpp:21-26,36-41``) — deterministic, so its
approximate answers are exactly reproducible. Spark's ``df.sample`` is
seeded but partition-layout-dependent and not reproducible in any other
engine, which would make the DuckDB correctness oracle impossible for
approximate queries.

Instead we hash a unique integer row key with a two-round multiplicative
(Knuth-style) mix written in plain 64-bit-safe integer arithmetic that
evaluates identically in Spark SQL and DuckDB SQL:

    t1 = (abs(k) + salt·1000003) % 2^31
    t2 = (t1 · 2654435761 + 2654435769) % 2^32
    h  = ((t2 % 2^31) · 1779033703 + 144) % 2^32

A row is in a fraction-``f`` sample iff ``h(k) < f·2^32``. The salt is
folded into the *input* and two mixing rounds follow, so different salts
give (empirically verified) near-independent samples — one round with
the salt in the additive constant only shifts the inclusion window and
produces heavily-correlated "independent" estimates. Properties:

- deterministic across engines, partitionings, and Spark versions;
- samples are *nested*: growing ``f`` grows the sample monotonically,
  which the adaptive CLT executor exploits (escalation reuses all
  previously sampled rows — no wasted work, matching the reference's
  "grow the sample until converged" semantics R8-R10);
- per-row independent inclusion (Bernoulli-like), so Horvitz-Thompson
  scaling ``1/f`` is unbiased;
- no overflow: (2^31-1) * 2654435761 < 2^63-1.

This is the *default* sampler; seeded ``df.sample`` (true Bernoulli) and
the other designs live in ``plans/sampling.py``.

Each hash has exactly one spelling per evaluation surface, all in this
module and all taking the same raw ``salt`` (the stride multiply
happens inside):

=============  =========================  ============================  ======================
hash           Spark Column               SQL text (Spark / DuckDB)     NumPy (Arrow kernels)
=============  =========================  ============================  ======================
portable       :func:`portable_hash_col`  :func:`portable_hash_sql`     :func:`portable_hash_np`
avalanche      :func:`with_avalanche_h`   :func:`avalanche_hash_sql_steps`  :func:`avalanche_np`
=============  =========================  ============================  ======================

The avalanche hash (xorshift-multiply, two rounds) is the family for
register-indexed sketches and replicate weights; see
:func:`with_avalanche_h`. ``tests/test_hashing.py`` pins the three forms
of each against one another, and forbids any other module from
importing the mixing constants.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

M31 = 2_147_483_648  # 2^31
HASH_SPACE = 4_294_967_296  # 2^32
MULT = 2_654_435_761  # Knuth's multiplicative constant, floor(2^32/phi)
OFFSET = 2_654_435_769
MULT2 = 1_779_033_703  # SHA-256 H0 — any odd constant with good mixing
SALT_STRIDE = 1_000_003
# Overflow safety: (2^31-1)·2654435761 < 2^63-1 and (2^31-1)·1779033703 < 2^63-1.


def portable_hash_col(key: Column | str, salt: int | Column = 0) -> Column:
    """Spark Column: h(key) in [0, 2^32). ``salt`` derives
    near-independent hash functions (minhash, validation resamples); a
    Column salt supports per-row hash families (e.g. the weighted
    sampler's max-of-w keys) with the same arithmetic."""
    k = F.col(key) if isinstance(key, str) else key
    salt_term = (
        F.lit(salt * SALT_STRIDE)
        if isinstance(salt, int)
        else salt.cast("long") * F.lit(SALT_STRIDE)
    )
    t1 = (F.abs(k.cast("long")) + salt_term) % F.lit(M31)
    t2 = (t1 * F.lit(MULT) + F.lit(OFFSET)) % F.lit(HASH_SPACE)
    return ((t2 % F.lit(M31)) * F.lit(MULT2) + F.lit(144)) % F.lit(HASH_SPACE)


def portable_hash_sql(key_expr: str, salt: int | str = 0) -> str:
    """The same hash as ANSI SQL for the DuckDB oracle. A str ``salt``
    is an SQL expression (per-row hash families), mirroring the Column
    salt on the Spark side."""
    salt_term = (
        f"{salt * SALT_STRIDE}"
        if isinstance(salt, int)
        else f"(({salt}) * {SALT_STRIDE})"
    )
    t1 = f"((abs({key_expr}) + {salt_term}) % {M31})"
    t2 = f"(({t1} * {MULT} + {OFFSET}) % {HASH_SPACE})"
    return f"((({t2} % {M31}) * {MULT2} + 144) % {HASH_SPACE})"


AVALANCHE_MULT = 73_244_475  # 0x45d9f3b (Wellons' hash32 constant, < 2^31)


def with_avalanche_h(
    df: DataFrame,
    key: Column,
    salt: Column,
    h_col: str = "__h",
    prefix: str = "__av",
) -> DataFrame:
    """Attach ``h_col`` = 32-bit avalanche hash(key, salt) via STEPWISE
    projections (one withColumn per round). Building the hash as a
    single Column tree is exponentially large — every xor round
    references its operand twice — and measurably slower through
    codegen; distinct steps evaluate each stage once per row
    (CollapseProject's reference-count guard preserves the sharing).
    Intermediates are dropped. Unlike ``portable_hash_col`` (two
    multiplicative rounds, good enough for threshold sampling), this
    xorshift-multiply construction avalanches well enough for
    register-indexed sketches (HLL) and validation resampling."""
    df = df.withColumn(
        f"{prefix}0",
        (F.abs(key.cast("long")) + salt.cast("long") * F.lit(SALT_STRIDE))
        % F.lit(HASH_SPACE),
    )
    cur = f"{prefix}0"
    tmp = [cur]
    for i in range(2):
        a, b = f"{prefix}a{i}", f"{prefix}{i + 1}"
        df = df.withColumn(
            a, F.col(cur).bitwiseXOR((F.col(cur) / F.lit(65536)).cast("long"))
        ).withColumn(b, (F.col(a) * F.lit(AVALANCHE_MULT)) % F.lit(HASH_SPACE))
        tmp += [a, b]
        cur = b
    df = df.withColumn(
        h_col,
        F.col(cur).bitwiseXOR((F.col(cur) / F.lit(65536)).cast("long")),
    )
    return df.drop(*tmp)


def with_avalanche_u(
    df: DataFrame,
    key: Column,
    salt: Column,
    u_col: str = "__u",
    prefix: str = "__av",
) -> DataFrame:
    """Attach ``u_col`` = avalanche_hash(key, salt)/2³² ∈ [0,1); see
    :func:`with_avalanche_h`."""
    df = with_avalanche_h(df, key, salt, h_col=f"{prefix}h", prefix=prefix)
    df = df.withColumn(
        u_col, F.col(f"{prefix}h").cast("double") / F.lit(float(HASH_SPACE))
    )
    return df.drop(f"{prefix}h")


def avalanche_hash_sql_steps(
    key_expr: str, salt: int | str = 0, prefix: str = "__h"
) -> tuple[str, str]:
    """DuckDB spelling as chained lateral-alias SELECT expressions.

    ``salt`` is the raw salt, as for :func:`with_avalanche_h`: an int,
    or an SQL expression for per-row families (replicate or sketch-row
    salts). Returns ``(select_fragment, final_name)``: the fragment
    defines the intermediate columns step by step (DuckDB resolves
    aliases defined earlier in the same SELECT), avoiding exponential
    text blowup from inlining each xor twice."""
    salt_term = (
        f"{salt * SALT_STRIDE}"
        if isinstance(salt, int)
        else f"(({salt}) * {SALT_STRIDE})"
    )
    steps = []
    cur = f"((abs({key_expr}) + {salt_term}) % {HASH_SPACE})"
    names = []
    for i in range(2):
        a = f"{prefix}a{i}"
        steps.append(f"{cur if i == 0 else names[-1]} AS {prefix}x{i}")
        base = f"{prefix}x{i}"
        steps.append(f"xor({base}, ({base} // 65536)) AS {a}")
        names.append(f"(({a} * {AVALANCHE_MULT}) % {HASH_SPACE})")
    steps.append(f"{names[-1]} AS {prefix}x2")
    steps.append(f"xor({prefix}x2, ({prefix}x2 // 65536)) AS {prefix}final")
    return ", ".join(steps), f"{prefix}final"


def portable_hash_np(k, salt=0, out: np.ndarray | None = None):
    """NumPy form of :func:`portable_hash_col` for Arrow kernels:
    int64 ``k`` and raw ``salt`` (scalars or arrays) broadcast, so an
    ``(n, 1)`` key column against ``(R,)`` salts gives the ``(n, R)``
    block. ``out`` (shape of the broadcast result) makes every step run
    in place — the AMS kernel reuses one buffer across its salts. The
    ``% 2^31`` / ``% 2^32`` reductions are bit masks: every value in
    play is non-negative and below 2^63 ((2^31-1)·MULT < 2^63)."""
    k = np.asarray(k, dtype=np.int64)
    s = np.asarray(salt, dtype=np.int64) * SALT_STRIDE
    if out is None:
        out = np.abs(k) + s
    else:
        np.add(np.abs(k, out=out), s, out=out)
    out &= M31 - 1
    out *= MULT
    out += OFFSET
    out &= HASH_SPACE - 1
    out &= M31 - 1
    out *= MULT2
    out += 144
    out &= HASH_SPACE - 1
    return out


def avalanche_np(k, salt=0):
    """NumPy form of :func:`with_avalanche_h` (same raw ``salt``,
    broadcasting like :func:`portable_hash_np`; ``% 2^32`` as a mask,
    ``// 65536`` as a shift — exact on the non-negative values in play,
    all below 2^59)."""
    h = np.abs(np.asarray(k, dtype=np.int64)) + (
        np.asarray(salt, dtype=np.int64) * SALT_STRIDE
    )
    h &= HASH_SPACE - 1
    for _ in range(2):
        h ^= h >> 16
        h *= AVALANCHE_MULT
        h &= HASH_SPACE - 1
    h ^= h >> 16
    return h


def fraction_threshold(fraction: float) -> int:
    """Inclusion threshold for a given sampling fraction."""
    if not 0.0 < fraction <= 1.0:
        raise ValueError(f"fraction must be in (0, 1], got {fraction}")
    return int(fraction * HASH_SPACE)
