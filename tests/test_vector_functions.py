"""Tier-2 operator tests mirroring the reference's micro-fixtures
(FIXTURES.md §reference-derived; reference tests/test_indexes.py,
tests/test_embedding_client.py)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from stackai_vector_db_spark.functions.vector import (
    cosine_distance,
    euclidean_distance,
    fake_embedding,
)


def py_fake_embedding(text: str, dim: int) -> list[float]:
    """Straight transcription of the reference formula
    (app/clients/embedding.py:95-127) for test parity."""
    clean = text.strip().lower()
    cs = sum(ord(c) for c in clean)
    length = len(clean)
    words = len(clean.split())
    return [
        ((cs * (i + 1) + length * (i + 7) + words * (i + 13)) % 1000) / 1000.0 - 0.5
        for i in range(dim)
    ]


def test_euclidean_exact(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0, 0.0], [0.0, 1.0, 0.0])], "a array<float>, b array<float>"
    )
    got = df.select(euclidean_distance("a", "b").alias("d")).first()["d"]
    assert abs(got - math.sqrt(2.0)) < 1e-12


def test_cosine_orthogonal_and_guard(spark):
    df = spark.createDataFrame(
        [
            ([1.0, 0.0], [0.0, 1.0]),  # orthogonal → 1.0
            ([1.0, 0.0], [1.0, 0.0]),  # identical → 0.0
            ([0.0, 0.0], [1.0, 0.0]),  # zero-norm guard (base.py:218-219) → 1.0
        ],
        "a array<float>, b array<float>",
    )
    got = [r["d"] for r in df.select(cosine_distance("a", "b").alias("d")).collect()]
    assert abs(got[0] - 1.0) < 1e-12
    assert abs(got[1]) < 1e-12
    assert got[2] == 1.0


def test_fake_embedding_matches_reference_formula(spark):
    texts = ["Hello World", "  padded  ", "one", "a b c d e", "中文 mixed ascii"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = df.select(
        "text", fake_embedding(F.col("text"), 8).alias("emb")
    ).collect()
    by_text = {r["text"]: r["emb"] for r in rows}
    for t in texts:
        expect = py_fake_embedding(t, 8)
        got = by_text[t]
        assert len(got) == 8
        for g, e in zip(got, expect):
            assert abs(g - e) < 1e-12, (t, got, expect)


def test_fake_embedding_deterministic(spark):
    df = spark.createDataFrame([("same text",), ("same text",), ("other",)], "text string")
    rows = df.select(fake_embedding(F.col("text"), 4).alias("e")).collect()
    assert rows[0]["e"] == rows[1]["e"]
    assert rows[0]["e"] != rows[2]["e"]


def test_enforce_dim_consistency(spark):
    """A9 enforce path: inconsistent dims must fail on action; consistent
    (plus empty-embedding rows, which the check ignores) must pass through
    (reference raises EmbeddingDimensionMismatchError, base.py:107-123)."""
    import pytest

    from stackai_vector_db_spark.functions.vector import enforce_dim_consistency

    ok = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0]), (3, [])],
        "id long, embedding array<double>",
    )
    assert enforce_dim_consistency(ok).count() == 3

    bad = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0, 5.0])],
        "id long, embedding array<double>",
    )
    with pytest.raises(Exception, match="(?i)dimension mismatch"):
        enforce_dim_consistency(bad).count()


def test_fake_embedding_arrow_parity(spark):
    """The Arrow char-sum strategy is value-identical to the native HOF form
    on the real fixture texts (multilingual: es/zh/de/fr rows included)."""
    from pyspark.sql import functions as F

    from stackai_vector_db_spark.catalog import load_table
    from stackai_vector_db_spark.functions.vector import add_fake_embedding

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = add_fake_embedding(docs, "text", 8, "emb", strategy="native").select(
        "doc_id", "emb"
    )
    b = add_fake_embedding(docs, "text", 8, "emb", strategy="arrow").select(
        "doc_id", F.col("emb").alias("emb2")
    )
    assert a.join(b, "doc_id").filter(F.expr("emb <> emb2")).count() == 0


def test_fake_embedding_py_equals_the_column_form(spark):
    """The Python twin a search embeds its query text with returns exactly
    the Column form's values, over unicode case mapping and whitespace."""
    from stackai_vector_db_spark.functions.vector import fake_embedding_py

    texts = ["Straße", "İstanbul", "ΟΔΟΣ", "λόγος ΚΑΙ ΟΔΟΣ", "中文 混合 text", "emoji 😀 end",
             "　 padded \x85", "\x85　 \t", "", "Hello   World", "a\xa0b"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = df.select("text", fake_embedding(F.col("text"), 16).alias("e")).collect()
    assert len(got) == len(texts)
    for r in got:
        assert fake_embedding_py(r["text"], 16) == list(r["e"]), repr(r["text"])
