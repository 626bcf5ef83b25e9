"""Vector scalar functions as native Spark column expressions.

All distance math runs JVM-side via higher-order functions (whole-stage
codegen, no Python in the hot path) and accumulates in DOUBLE end-to-end —
the deterministic-hash-oracle strategy from SURVEY.md §7.3. The reference
computes in float32 numpy (``app/indexes/base.py:207-221``); we intentionally
use float64 so Spark and DuckDB oracles agree bit-for-bit after round(·, 6).

Reference parity:
- euclidean_distance: ``app/indexes/base.py:207-211`` (‖v1−v2‖₂).
- cosine_distance:    ``app/indexes/base.py:213-221`` — including the
  zero-norm guard (norms == 0 ⇒ distance 1.0, lines 218-219).
- fake_embedding:     ``app/clients/embedding.py:95-127`` — the deterministic
  text→vector formula (char_sum/length/word_count mix) that makes the whole
  text→embed→kNN pipeline oracle-checkable without a real model.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from stackai_vector_db_spark.functions.memo import memoized_expr


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


@memoized_expr
def squared_euclidean(a: Column | str, b: Column | str) -> Column:
    """Sum of squared element differences, DOUBLE accumulation."""
    a, b = _c(a), _c(b)
    pairs = F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2)
    return F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x)


@memoized_expr
def euclidean_distance(a: Column | str, b: Column | str) -> Column:
    """L2 distance (reference ``base.py:207-211``)."""
    return F.sqrt(squared_euclidean(a, b))


def _dot(a: Column, b: Column) -> Column:
    pairs = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(pairs, F.lit(0.0), lambda acc, x: acc + x)


@memoized_expr
def cosine_distance(a: Column | str, b: Column | str) -> Column:
    """1 − cosine similarity, with the reference's zero-norm guard
    (``base.py:218-219``: zero norm ⇒ max distance 1.0)."""
    a, b = _c(a), _c(b)
    dot = _dot(a, b)
    norms = F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b))
    return F.when(norms == 0.0, F.lit(1.0)).otherwise(F.lit(1.0) - dot / norms)


@memoized_expr
def vector_norm(a: Column | str) -> Column:
    """‖a‖₂ as the exact subexpression cosine_distance uses (sqrt of the
    same DOUBLE dot-product aggregate) — for hoisting out of joins."""
    a = _c(a)
    return F.sqrt(_dot(a, a))


@memoized_expr
def cosine_distance_prenormed(
    a: Column | str, b: Column | str, norm_a: Column | str, norm_b: Column | str
) -> Column:
    """``cosine_distance`` with the two self-norms supplied as columns.

    Bit-identical to :func:`cosine_distance` (same dot aggregate, same
    sqrt-product denominator, same zero guard) but lets a plan compute each
    row's norm ONCE before a join instead of once per pair — higher-order
    functions are interpreted, not codegen'd, so cutting the per-pair HOF
    count from 3 aggregates to 1 is a ~3× win on any pairwise operator
    (kNN cross join, similarity self-join)."""
    a, b = _c(a), _c(b)
    norms = _c(norm_a) * _c(norm_b)
    return F.when(norms == 0.0, F.lit(1.0)).otherwise(F.lit(1.0) - _dot(a, b) / norms)


# Python's str whitespace set (chars str.strip()/str.split() treat as
# whitespace — every codepoint where str.isspace() is True). The reference
# uses Python semantics (embedding.py:103: text.strip().lower(), .split()),
# and Spark's trim()/'\\s' only cover the ASCII subset — property testing
# caught the divergence on \\x1c-\\x1f (tests/test_properties.py).
PY_WS_CODEPOINTS: tuple[int, ...] = (
    0x09, 0x0A, 0x0B, 0x0C, 0x0D, 0x1C, 0x1D, 0x1E, 0x1F, 0x20,
    0x85, 0xA0, 0x1680,
    *range(0x2000, 0x200B), 0x2028, 0x2029, 0x202F, 0x205F, 0x3000,
)
_PY_WS_CLASS = "[" + "".join(chr(c) for c in PY_WS_CODEPOINTS) + "]"


def py_trim(t: Column) -> Column:
    """Python ``str.strip()`` semantics (strips the full unicode whitespace
    set, unlike Spark ``trim`` which strips only ASCII spaces)."""
    return F.regexp_replace(
        F.regexp_replace(t, f"^{_PY_WS_CLASS}+", ""), f"{_PY_WS_CLASS}+$", ""
    )


def py_word_count(clean: Column) -> Column:
    """Python ``str.split()`` word count over an already-trimmed string."""
    return F.when(F.length(clean) == 0, F.lit(0).cast("long")).otherwise(
        F.size(F.split(clean, f"{_PY_WS_CLASS}+")).cast("long")
    )


@memoized_expr
def fake_embedding(text: Column | str, dim: int) -> Column:
    """Deterministic fake embedding (reference ``app/clients/embedding.py:95-127``).

    On ``clean = lower(trim(text))``:
      char_sum = Σ codepoint(c); L = len(clean); W = word count (ws-split)
      component_i = ((char_sum·(i+1) + L·(i+7) + W·(i+13)) mod 1000)/1000 − 0.5

    Codepoint-safe: Spark ``ascii()`` returns the full Unicode codepoint of a
    1-char string (verified vs Python ``ord`` incl. CJK), and ``split(s, '')``
    splits into codepoints. Integer math stays in LONG until the final exact
    /1000.0, so Spark and DuckDB agree exactly.

    Performance note: the O(len) char-sum aggregate is bound as a lambda
    variable via a 1-element ``transform`` so it is evaluated once per ROW,
    not once per component — inlining it into the component lambda costs
    dim× (Catalyst's CollapseProject will inline it even through separate
    projections, measured 5.5× at dim 16).
    """
    t = _c(text) if not isinstance(text, str) else F.col(text)
    clean = F.lower(py_trim(t))
    cs = F.aggregate(
        F.split(clean, ""), F.lit(0).cast("long"), lambda acc, ch: acc + F.ascii(ch)
    )
    length = F.length(clean).cast("long")
    words = py_word_count(clean)
    props = F.array(F.struct(cs.alias("cs"), length.alias("l"), words.alias("w")))
    idx = F.sequence(F.lit(0), F.lit(dim - 1))

    def components(p: Column) -> Column:
        return F.transform(
            idx,
            lambda i: (
                (
                    p["cs"] * (i + 1).cast("long")
                    + p["l"] * (i + 7).cast("long")
                    + p["w"] * (i + 13).cast("long")
                )
                % 1000
            ).cast("double")
            / 1000.0
            - 0.5,
        )

    return F.element_at(F.transform(props, components), 1)


def fake_embedding_py(text: str, dim: int) -> list[float]:
    """:func:`fake_embedding` of one string, computed in Python with no
    Spark job — for a single query text on the driver. The reference
    formula itself (``str.strip``/``lower``/``split`` and codepoint sums),
    which the Column form reproduces value for value."""
    clean = text.strip().lower()
    cs, length, words = sum(map(ord, clean)), len(clean), len(clean.split())
    return [
        ((cs * (i + 1) + length * (i + 7) + words * (i + 13)) % 1000) / 1000.0 - 0.5
        for i in range(dim)
    ]


def _char_sum_arrow() -> Column:
    """Arrow-batched char-sum kernel: Σ codepoint(c) per row.

    UTF-32-LE bytes *are* the codepoints, so ``np.frombuffer(...).sum()``
    reproduces Python ``sum(map(ord, s))`` exactly — same integers as the
    JVM ``aggregate(split(s,''), ascii)`` form, ~10× cheaper: no per-char
    string array is materialized, and the loop is C, not codegen'd
    string-slicing. Used by the ``arrow`` strategy of ``fake_embedding``.
    """
    import numpy as np
    import pandas as pd

    def cs(s):
        return s.map(
            lambda t: int(
                np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).sum()
            )
            if t
            else 0
        )

    # Real annotation objects (not strings): ``from __future__ import
    # annotations`` would stringify inline hints and pandas_udf rejects those.
    cs.__annotations__ = {"s": pd.Series, "return": pd.Series}
    return F.pandas_udf(cs, "long")


def fake_embedding_arrow(text: Column | str, dim: int) -> Column:
    """``fake_embedding`` with the char-sum computed by the Arrow kernel.

    Value-identical to the native form (integer math is exact either way);
    preferred when the embed is the hot path (long texts × many rows). The
    clean/lower/word-count steps stay JVM-side so Python sees one string
    column in, one LONG out.
    """
    t = _c(text) if not isinstance(text, str) else F.col(text)
    clean = F.lower(py_trim(t))
    cs = _char_sum_arrow()(clean)
    length = F.length(clean).cast("long")
    words = py_word_count(clean)
    props = F.array(F.struct(cs.alias("cs"), length.alias("l"), words.alias("w")))
    idx = F.sequence(F.lit(0), F.lit(dim - 1))

    def components(p: Column) -> Column:
        return F.transform(
            idx,
            lambda i: (
                (
                    p["cs"] * (i + 1).cast("long")
                    + p["l"] * (i + 7).cast("long")
                    + p["w"] * (i + 13).cast("long")
                )
                % 1000
            ).cast("double")
            / 1000.0
            - 0.5,
        )

    return F.element_at(F.transform(props, components), 1)


def add_fake_embedding(
    df,
    text_col: str = "text",
    dim: int = 16,
    out_col: str = "emb",
    strategy: str = "native",
):
    """DataFrame-level convenience: ``df`` plus a fake-embedding column.

    ``strategy="arrow"`` swaps in the Arrow char-sum kernel (identical
    values, faster on long texts)."""
    fn = fake_embedding_arrow if strategy == "arrow" else fake_embedding
    return df.withColumn(out_col, fn(F.col(text_col), dim))


def enforce_dim_consistency(vectors, vec_col: str = "embedding"):
    """Fail the job if non-empty embeddings disagree on dimension — the
    enforce side of A9 (reference raises EmbeddingDimensionMismatchError,
    ``app/services/index_service.py:426-428``, ``app/indexes/base.py:107-123``).

    The check is a 1-row aggregate broadcast-crossed into the plan: zero
    extra shuffle on the data side, and the error surfaces on the first
    action touching the result."""
    check = (
        vectors.filter(F.size(vec_col) > 0)
        .agg(F.count_distinct(F.size(F.col(vec_col))).alias("__ndims"))
        .select(
            F.assert_true(
                F.col("__ndims") <= 1,
                F.lit("embedding dimension mismatch across rows"),
            ).alias("__ok")
        )
    )
    # Filter on the assert output (NULL when the check passes) so Catalyst
    # cannot prune the unevaluated assertion out of a count()-style action.
    return (
        vectors.crossJoin(F.broadcast(check))
        .filter(F.col("__ok").isNull())
        .drop("__ok")
    )
