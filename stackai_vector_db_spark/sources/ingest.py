"""Validated ingest source — the reference's create/batch-create path
(``app/routers/chunks.py:109-148``, ``app/schemas/chunk.py:124-147``,
``app/utils/validation.py:6-51``) as a DataFrame source with an errors
side-output.

The reference rejects a whole HTTP request on the first invalid chunk
(Pydantic). At pipeline scale rejection must be row-level and observable:
``validate_chunks`` splits input into (valid, errors) where errors carry a
``reject_reason`` — the standard dead-letter pattern. All checks are plain
``when`` predicates: JVM-side, one pass, no shuffle.

Bounds enforced (reference sources cited per rule):
- non-empty trimmed text            (validation.py:6-24)
- start_index ≥ 0                   (entities.py:229-231)
- end_index ≥ start_index (if set)  (entities.py:232-233)
- embedding values within ±1e6      (schemas/chunk.py:43-54, search.py:61-68)
- similarity_threshold in [0, 10]   (schemas/chunk.py:43-54 validator)
- end_index defaults to start + len(trim(text))  (entities.py:255)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

CHUNK_JSON_SCHEMA = (
    "chunk_id long, document_id long, library_id long, text string, "
    "embedding array<double>, start_index int, end_index int, "
    "similarity_threshold double"
)

MAX_EMBED_VALUE = 1e6  # reference schemas/search.py:61-68
MAX_SIMILARITY_THRESHOLD = 10.0  # reference schemas/chunk.py:43-54


def from_json_lines(spark: SparkSession, lines: DataFrame,
                    json_col: str = "value") -> DataFrame:
    """Parse a DataFrame of JSON strings (one chunk per line) into typed
    rows — the batch analog of the HTTP JSON body. Malformed JSON yields
    nulls which the validator routes to the error output."""
    parsed = lines.select(
        F.from_json(F.col(json_col), CHUNK_JSON_SCHEMA).alias("c"), F.col(json_col)
    )
    return parsed.select("c.*", F.col(json_col).alias("_raw"))


def validate_chunks(rows: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split into (valid, errors). Valid rows get the end_index default
    applied; error rows keep their payload plus ``reject_reason``.

    Sources that predate the similarity_threshold column (csv fixtures,
    older JSON shapes) validate as all-null — additive schema evolution,
    same rule as plans/store.read_chunks."""
    if "similarity_threshold" not in rows.columns:
        rows = rows.withColumn(
            "similarity_threshold", F.lit(None).cast("double")
        )
    reason = (
        F.when(F.col("chunk_id").isNull(), "missing chunk_id")
        .when(F.col("text").isNull() | (F.length(F.trim("text")) == 0), "empty text")
        .when(F.col("start_index").isNull() | (F.col("start_index") < 0),
              "negative start_index")
        .when(
            F.col("end_index").isNotNull()
            & (F.col("end_index") < F.col("start_index")),
            "end_index before start_index",
        )
        .when(
            F.col("embedding").isNotNull()
            & F.exists(
                "embedding", lambda x: F.abs(x) > F.lit(MAX_EMBED_VALUE)
            ),
            "embedding value out of range",
        )
        .when(
            F.col("similarity_threshold").isNotNull()
            & (
                (F.col("similarity_threshold") < 0)
                | (F.col("similarity_threshold") > MAX_SIMILARITY_THRESHOLD)
            ),
            "similarity_threshold out of range",
        )
    )
    flagged = rows.withColumn("reject_reason", reason)
    errors = flagged.filter(F.col("reject_reason").isNotNull())
    valid = (
        flagged.filter(F.col("reject_reason").isNull())
        .drop("reject_reason")
        .withColumn(
            "end_index",
            F.coalesce(
                F.col("end_index"),
                F.col("start_index") + F.length(F.trim("text")),
            ).cast("int"),
        )
    )
    return valid, errors
