"""Fixed metadata schemas as nested StructType columns (SURVEY.md §1.5).

The reference pins closed metadata dataclasses on every entity —
``DocumentMetadata`` (/root/reference/app/domain/entities.py:20-36),
``ChunkMetadata`` (entities.py:39-54) and ``LibraryMetadata``
(entities.py:57-72). Spark-first, a frozen dataclass is a typed nested
struct column: fields stay individually filterable/projectable (Catalyst
pushes ``metadata.category = 'x'`` and ``array_contains(metadata.tags, t)``
into the parquet scan and prunes the unread struct fields), while the
closed schema is enforced by the cast — unknown keys fail loudly instead
of landing in a schemaless map.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# (field, spark DDL type) — order mirrors the reference dataclasses.
DOCUMENT_METADATA_FIELDS: list[tuple[str, str]] = [
    ("author", "string"),
    ("source", "string"),
    ("language", "string"),
    ("format", "string"),
    ("created_at", "string"),
    ("modified_at", "string"),
    ("tags", "array<string>"),
    ("category", "string"),
    ("is_public", "boolean"),
    ("processed", "boolean"),
    ("chunk_count", "int"),
    ("word_count", "int"),
]

CHUNK_METADATA_FIELDS: list[tuple[str, str]] = [
    ("chunk_type", "string"),
    ("section", "string"),
    ("page_number", "int"),
    ("confidence", "float"),
    ("language", "string"),
    ("tags", "array<string>"),
    ("embedding_model", "string"),
    ("embedding_dim", "int"),
    ("similarity_threshold", "float"),
    ("processed_at", "string"),
]

LIBRARY_METADATA_FIELDS: list[tuple[str, str]] = [
    ("author", "string"),
    ("version", "string"),
    ("tags", "array<string>"),
    ("created_by", "string"),
    ("project", "string"),
    ("category", "string"),
    ("is_public", "boolean"),
    ("test", "boolean"),
    ("updated", "boolean"),
    ("original", "boolean"),
    ("workflow", "string"),
]


def struct_ddl(fields: list[tuple[str, str]]) -> str:
    return "struct<" + ", ".join(f"{n}: {t}" for n, t in fields) + ">"


DOCUMENT_METADATA_DDL = struct_ddl(DOCUMENT_METADATA_FIELDS)
CHUNK_METADATA_DDL = struct_ddl(CHUNK_METADATA_FIELDS)
LIBRARY_METADATA_DDL = struct_ddl(LIBRARY_METADATA_FIELDS)


def null_metadata(fields: list[tuple[str, str]]) -> Column:
    """A NULL of the full struct type — rows ingested without metadata."""
    return F.lit(None).cast(struct_ddl(fields))


# (field → (kind, bound)) — the reference's Pydantic Field constraints for
# the two control-plane metadata schemas; 'len' = max string length,
# 'min' = numeric lower bound. app/schemas/document.py:11-34 and
# app/schemas/library.py:11-33 (max_name_length = 255, core/config.py:53).
MAX_NAME_LENGTH = 255  # reference core/config.py:53

DOCUMENT_METADATA_BOUNDS: dict[str, tuple[str, int]] = {
    "author": ("len", MAX_NAME_LENGTH),
    "source": ("len", 500),
    "language": ("len", 50),
    "format": ("len", 50),
    "category": ("len", 100),
    "chunk_count": ("min", 0),
    "word_count": ("min", 0),
}

CHUNK_METADATA_BOUNDS: dict[str, tuple] = {
    "chunk_type": ("len", 100),
    "section": ("len", MAX_NAME_LENGTH),
    "language": ("len", 50),
    "embedding_model": ("len", 100),
    "page_number": ("min", 1),
    "confidence": ("range", 0.0, 1.0),
    "embedding_dim": ("min", 1),
    "similarity_threshold": ("range", 0.0, 10.0),
}

LIBRARY_METADATA_BOUNDS: dict[str, tuple[str, int]] = {
    "author": ("len", 255),
    "version": ("len", 50),
    "created_by": ("len", 255),
    "project": ("len", 255),
    "category": ("len", 100),
    "workflow": ("len", 100),
}


def _is_int(v) -> bool:
    return isinstance(v, int) and not isinstance(v, bool)


# DDL type → whether a Python value has it; an ``int`` field is 32-bit.
_TYPE_CHECKS = {
    "string": lambda v: isinstance(v, str),
    "int": lambda v: _is_int(v) and -(2**31) <= v < 2**31,
    "float": lambda v: _is_int(v) or isinstance(v, float),
    "boolean": lambda v: isinstance(v, bool),
    "array<string>": lambda v: isinstance(v, list) and all(isinstance(x, str) for x in v),
}


def metadata_values(fields: list[tuple[str, str]], values: dict | None,
                    bounds: dict) -> dict | None:
    """The full metadata dict (absent fields None) of a (possibly partial)
    ``values``, validating the closed schema — the dataclass constructor's
    unknown-field error (reference entities.py: frozen dataclasses reject
    unexpected kwargs) — each value's declared type, and the per-field
    Pydantic ``bounds`` (the 422-equivalents; this path is driver-side by
    design: metadata arrives as an API payload, not as data). None stays
    None: no metadata."""
    if values is None:
        return None
    known = {n for n, _ in fields}
    unknown = set(values) - known
    if unknown:
        raise ValueError(f"unknown metadata fields: {sorted(unknown)}")
    for name, typ in fields:
        v = values.get(name)
        if v is not None and not _TYPE_CHECKS[typ](v):
            raise ValueError(f"metadata field {name!r} must be of type {typ}, got {v!r}")
    for name, spec in bounds.items():
        v = values.get(name)
        if v is None:
            continue
        kind = spec[0]
        if kind == "len" and len(v) > spec[1]:
            raise ValueError(f"metadata field {name!r} longer than {spec[1]} chars")
        if kind == "min" and v < spec[1]:
            raise ValueError(f"metadata field {name!r} must be >= {spec[1]}")
        if kind == "range" and not spec[1] <= v <= spec[2]:
            raise ValueError(
                f"metadata field {name!r} must be in [{spec[1]}, {spec[2]}]"
            )
    return {name: values.get(name) for name, _ in fields}


def chunk_metadata_valid(col: Column) -> Column:
    """Reference ``ChunkMetadataSchema`` field bounds
    (app/schemas/chunk.py:14-54) as one JVM-side predicate — null metadata
    and null fields pass (every bound is Optional there):
    chunk_type ≤ 100 chars, section ≤ 255 (settings.max_name_length),
    page_number ≥ 1, confidence ∈ [0, 1], language ≤ 50 chars,
    embedding_model ≤ 100 chars, embedding_dim ≥ 1,
    similarity_threshold ∈ [0, 10] (the field_validator)."""

    def len_ok(name: str, n: int) -> Column:
        f = col.getField(name)
        return f.isNull() | (F.length(f) <= n)

    def range_ok(name: str, lo: float, hi: float | None = None) -> Column:
        f = col.getField(name)
        ok = f >= lo
        if hi is not None:
            ok = ok & (f <= hi)
        return f.isNull() | ok

    return col.isNull() | (
        len_ok("chunk_type", 100)
        & len_ok("section", MAX_NAME_LENGTH)
        & range_ok("page_number", 1)
        & range_ok("confidence", 0.0, 1.0)
        & len_ok("language", 50)
        & len_ok("embedding_model", 100)
        & range_ok("embedding_dim", 1)
        & range_ok("similarity_threshold", 0.0, 10.0)
    )


def coerce_metadata(col: Column, fields: list[tuple[str, str]]) -> Column:
    """Rebuild an incoming struct column against the closed schema by field
    NAME (a bare ``cast(struct<...>)`` maps positionally and would silently
    scramble a reordered writer); a missing field fails analysis — the
    closed-schema guarantee."""
    rebuilt = F.struct(
        *(col.getField(n).cast(t).alias(n) for n, t in fields)
    )
    # NULL struct in → NULL struct out (not a struct of NULLs).
    return F.when(col.isNull(), null_metadata(fields)).otherwise(rebuilt)
