"""Versioned vector store: the reference's service lifecycle on Parquet.

Maps the reference's in-memory machinery to immutable-table conventions
(SURVEY.md §3.1-3.3, §4.1):

- per-library ``IndexSnapshot`` + atomic swap (``index_service.py:34-52``,
  ``270-283``) → versioned directories (``chunks/…``, ``index/vM``), a
  build record per index version and one atomically-replaced pointer
  file. Each operation reads the pointer once, then only touches immutable
  files — the snapshot-isolation the reference gets from RWLocks falls
  out of storage immutability, zero locking.
- library/document repositories (dicts keyed by id) → the same dicts on
  the driver: each version of ``control/{libraries,documents}_vN.parquet``
  the pointer names is read once and written with pyarrow, no Spark job;
  an entity write and its chunk cascade (``library_service.py:67-77``)
  commit with one pointer swap.
- per-library RWLock (``utils/rwlock.py``) → single-writer job discipline;
  readers never block.
- tombstone deletes (``base.py:196-206``) → merge-on-read delete files;
  a search skips those newer than its index build.
- dirty counters + rebuild threshold (``index_service.py:88-97``,
  ``163-196``) → per-library dirty and live-row counts that each write
  commits with its one pointer swap: the rebuild decision is a JSON read.
- lazy embedding backfill (``index_service.py:436-500``) → fake-embed rows
  with empty embeddings at build time.
- IVF inverted lists (``ivf.py:54-130``) → KMeans centroids +
  ``partitionBy("cluster_id")`` layout; probe filters prune directories.
- in-memory numpy search (``linear.py:45-61``, ``ivf.py:142-166``) → one
  numpy search on the driver at every index size, no Spark job: it scans
  the probed inverted lists block by block, keeping a running top-k. An
  index version within a size gate (``DRIVER_SEARCH_MAX_VALUES``) is read
  once with pyarrow and held, the copies of all libraries within a byte
  budget; a larger one streams its probed ``cluster_id=`` directories.
- chunk repository (``chunk_service.py``, a dict) → get, update and
  delete read and write one chunk id's rows with pyarrow, and
  ``count_chunks`` reads the manifest: no Spark job at any store size.

The store is the serving-side composition of the operators in
``operators/``; every batch chunk step (ingest, cascade delete,
compaction) and every index build is a plain DataFrame job that would run
unchanged on a multi-node cluster.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from collections import Counter
from functools import cache, reduce
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from stackai_vector_db_spark.functions.vector import fake_embedding, fake_embedding_py
from stackai_vector_db_spark.operators.ivf import assign_clusters, kmeans_centroids, probe_pairs_local
from stackai_vector_db_spark.operators.knn import ROUND

from stackai_vector_db_spark.plans.metadata import (
    CHUNK_METADATA_BOUNDS,
    CHUNK_METADATA_DDL,
    CHUNK_METADATA_FIELDS,
    DOCUMENT_METADATA_DDL,
    DOCUMENT_METADATA_FIELDS,
    LIBRARY_METADATA_DDL,
    LIBRARY_METADATA_FIELDS,
    DOCUMENT_METADATA_BOUNDS,
    LIBRARY_METADATA_BOUNDS,
    chunk_metadata_valid,
    coerce_metadata,
    metadata_values,
    null_metadata,
)

_CHUNK_TYPES = [
    ("chunk_id", "long"),
    ("document_id", "long"),
    ("library_id", "long"),
    ("text", "string"),
    ("embedding", "array<float>"),
    ("start_index", "int"),
    ("end_index", "int"),
    ("similarity_threshold", "float"),
    # ChunkMetadata (reference entities.py:39-54) as a typed nested struct
    ("metadata", CHUNK_METADATA_DDL),
]
CHUNK_SCHEMA = ", ".join(f"{n} {t}" for n, t in _CHUNK_TYPES)
_CHUNK_COLS = [c for c, _ in _CHUNK_TYPES]
_CONTROL_SCHEMAS = {
    "libraries": "library_id long, name string, description string, "
    f"metadata {LIBRARY_METADATA_DDL}",
    "documents": "document_id long, library_id long, title string, "
    f"metadata {DOCUMENT_METADATA_DDL}",
}
# A search's result rows, as a Spark plan over the index types them.
_HITS_SCHEMA = ("qid long, chunk_id long, document_id long, dist double, rank int, "
                f"text string, metadata {CHUNK_METADATA_DDL}")
# The index columns a hit carries through the search unchanged.
_PAYLOAD_COLS = ["document_id", "text", "metadata"]

DEFAULT_DIM = 16
REBUILD_THRESHOLD = 0.1  # reference config.py:58
MAX_KNN_RESULTS = 1000  # reference config.py:49, schemas/search.py:22-27
MAX_QUERY_TEXT_LEN = 10_000  # reference schemas/search.py:15-19
MAX_QUERY_EMBED_VALUE = 1e6  # reference schemas/search.py:61-68
MAX_SIMILARITY_THRESHOLD = 10.0  # reference schemas/chunk.py:43-54
# A library's index rows are held on the driver between searches when
# they hold at most this many vector components (the build record's size ×
# dim); a larger index is streamed from its files by every search. Both
# run the same search. The value is a driver-memory budget, not a speed
# crossover: one library's float32 matrix stays under 4 × 2**24 bytes =
# 64 MiB, and the copies held across libraries (embeddings, ids and
# payload) stay under the same 64 MiB, save the copy just searched.
DRIVER_SEARCH_MAX_VALUES = 2**24
# Vector components per block, read and scored at once: decoding a Parquet
# batch peaks at ~3× its values and scoring it at ~2× in float64, so a
# load or a streamed search holds ~1 MiB beyond what it keeps.
_BLOCK_VALUES = 2**16


def _validate_search(k: int, nprobe: int) -> None:
    """Reference k bounds (schemas/search.py:22-27: 1 ≤ k ≤ 1000, a 422
    validation error, not a silent clamp), and nprobe ≥ 1: both ints."""
    _require_id(k=k, nprobe=nprobe)
    if not 1 <= k <= MAX_KNN_RESULTS:
        raise ValueError(f"k must be in [1, {MAX_KNN_RESULTS}], got {k}")
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")


def _validate_query_text(text: str) -> str:
    """Reference text bounds (schemas/search.py:15-33: 1..10000 chars,
    whitespace-only rejected, stripped before use)."""
    if not text.strip():
        raise ValueError("search text cannot be empty or whitespace only")
    if len(text) > MAX_QUERY_TEXT_LEN:
        raise ValueError(f"search text longer than {MAX_QUERY_TEXT_LEN} chars")
    return text.strip()


@cache
def _arrow_schema(table: str) -> pa.Schema:
    """Control ``table``'s Arrow schema, or the hits' for ``"hits"`` and
    the chunk rows' for ``"chunks"``, parsed once from its DDL."""
    ddl = {**_CONTROL_SCHEMAS, "hits": _HITS_SCHEMA, "chunks": CHUNK_SCHEMA}[table]
    return to_arrow_schema(StructType.fromDDL(ddl))


def _row(d: dict) -> Row:
    """A control or chunk row dict as the Row its listing's ``collect()``
    returns, nested metadata struct included."""
    return Row(**{k: _row(v) if isinstance(v, dict) else v for k, v in d.items()})


def _named(libs: dict | None, name: str) -> dict | None:
    """The library of ``libs`` named ``name`` casefolded — the key the
    create path keeps unique (reference ``library_repository.py:18-19``)."""
    key = name.strip().casefold()
    return next((r for r in (libs or {}).values() if r["name"].casefold() == key), None)


def _require(kind: type, **fields) -> None:
    """Each of ``fields`` that is not None is a ``kind`` (a bool is no
    int): a clean ValueError before anything is written, not an Arrow
    error at the write."""
    for field, value in fields.items():
        if value is not None and (not isinstance(value, kind) or isinstance(value, bool)):
            raise ValueError(f"{field} must be of type {kind.__name__}, got {value!r}")


def _require_id(**ids) -> None:
    """Each of ``ids`` is an int (not a bool, not None): an entity or chunk
    id always names one, and so do a search's k and nprobe, so None is no
    "not given" here."""
    for field, value in ids.items():
        if value is None:
            raise ValueError(f"{field} must be of type int, got None")
    _require(int, **ids)


def _plus(counts: dict, delta: dict, sign: int = 1) -> dict:
    """Per-library counters ``counts + sign * delta``."""
    return {k: counts.get(k, 0) + sign * delta.get(k, 0) for k in {**counts, **delta}}


class _Snapshot(NamedTuple):
    """What one store operation reads, from ONE pointer read: a concurrent
    writer cannot pair one build's index with another's tombstones."""

    chunks: int
    manifest: dict
    index: int  # 0: nothing built
    record: dict | None  # the build record of ``index``; None if unbuilt
    dead: tuple  # delete files newer than the build: skipped by searches
    dirty: dict  # {"<library_id>": rows written since its last build}
    control: dict  # {"libraries": n, "documents": m}; missing or 0: no table


class _LocalIndex(NamedTuple):
    """One library's rows of one index version, held on the driver."""

    blocks: list  # the blocks of VectorStore._blocks, as read
    centroids: list  # the build's centroid rows, {"cluster_id", "centroid"}
    nbytes: int  # of the blocks' arrays and payloads, which the cache bounds


def _top_k(blocks, q: np.ndarray, k: int, dead: np.ndarray) -> tuple:
    """The k rows of ``blocks`` nearest ``q`` by (dist, chunk_id), skipping
    ids in ``dead``: (chunk ids, dists, thresholds, payload). Each block is
    (chunk ids, float32 matrix, threshold, payload batch); its distances
    are float64 difference-form, rounded to ROUND, and its own k best merge
    into the running k by a stable lexsort, so what is alive at once is one
    block plus k rows, and ties rank as in one sort over every row."""
    ids, dist, threshold = np.empty(0, np.int64), np.empty(0), np.empty(0)
    payload = _arrow_schema("hits").empty_table().select(_PAYLOAD_COLS)
    for b_ids, mat, b_threshold, b_payload in blocks:
        diff = mat - q
        b_dist = np.round(np.sqrt((diff * diff).sum(axis=1)), ROUND)
        live = np.flatnonzero(~np.isin(b_ids, dead))
        best = live[np.lexsort((b_ids[live], b_dist[live]))[:k]]
        order = np.lexsort((np.concatenate([ids, b_ids[best]]),
                            np.concatenate([dist, b_dist[best]])))[:k]
        entering = order >= len(ids)
        if not entering.any():
            continue
        # Only the block's rows that enter are taken from its payload; they
        # follow the running rows, in rank order.
        new = best[order[entering] - len(ids)]
        at = np.where(entering, len(ids) + np.cumsum(entering) - 1, order)
        ids = np.concatenate([ids, b_ids[new]])[at]
        dist = np.concatenate([dist, b_dist[new]])[at]
        threshold = np.concatenate([threshold, b_threshold[new]])[at]
        payload = pa.concat_tables([payload, pa.Table.from_batches([b_payload.take(new)])]).take(at)
    return ids, dist, threshold, payload


class VectorStore:
    """Chunks, index and control tables carry independent versions behind
    one pointer file, ``{"chunks": N, "index": M, "libraries": {"<lib>":
    M_lib}, "dirty": {"<lib>": n}, "control": {"libraries": n,
    "documents": m}}``; every public write swaps it exactly once, as its
    last filesystem write. A chunk write commits manifest
    ``_meta/chunks_vN.json`` and adds its rows to ``dirty``; a build of
    library L writes index version M with its record ``_meta/index_vM.json``
    (``library_id``, ``algorithm``, ``chunks``, ``size``), points only L at
    it and sets ``dirty[L] = 0``. An entity write writes the next immutable
    version of its control table; a delete commits it together with the
    tombstone of the entity's chunks."""

    def __init__(self, spark: SparkSession, root: str, dim: int = DEFAULT_DIM):
        self.spark = spark
        self.root = root
        self.dim = dim
        # The newest version read of each control table, and per library
        # of its held index rows and its dead ids — see _latest,
        # _driver_copy and _dead_ids.
        self._opened: dict = {}
        os.makedirs(os.path.join(root, "_meta"), exist_ok=True)

    # ---- version pointer (snapshot swap) ---------------------------------

    def _pointer_path(self) -> str:
        return os.path.join(self.root, "_meta", "CURRENT")

    def versions(self) -> dict:
        try:
            with open(self._pointer_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"chunks": 0, "index": 0, "libraries": {}, "dirty": {}, "control": {}}

    def _swap_pointer(self, **updates) -> None:
        """Atomic pointer swap (write-temp + os.replace) — the
        IndexSnapshot version bump of index_service.py:270-283. A
        ``libraries``, ``dirty`` or ``control`` update merges into its map."""
        vs = self.versions()
        payload = {**vs, **updates}
        for key in ("libraries", "dirty", "control"):
            payload[key] = {**vs.get(key, {}), **updates.get(key, {})}
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "_meta"))
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(payload, f)
            os.replace(tmp, self._pointer_path())
        except BaseException:
            os.unlink(tmp)
            raise

    def _snapshot(self, library_id=None, version=None) -> _Snapshot:
        """Read the pointer once. The index is ``version`` if pinned (a
        build of another library is an error), else the library's build,
        else the latest build — which holds none of an unbuilt library's
        rows, so searching that library is empty."""
        vs = self.versions()
        index = version
        if index is None:
            index = vs["libraries"].get(str(library_id), vs["index"])
        record, dead = None, ()
        manifest = self._chunks_sources(vs["chunks"]) or {"data": [], "deletes": [], "rows": {}}
        if 1 <= index <= vs["index"]:  # committed builds only
            with open(self._index_record_path(index)) as f:
                record = json.load(f)
            owner = record["library_id"]
            if version is not None and library_id not in (None, owner):
                raise ValueError(f"index v{version} was built for library {owner}")
            dead = tuple(p for p, seq in manifest["deletes"] if seq > record["chunks"])
        return _Snapshot(vs["chunks"], manifest, index, record, dead, vs["dirty"],
                         vs.get("control", {}))

    def _latest(self, key: tuple, version, load):
        """``load()`` once per committed ``version`` of ``key``, holding
        only the newest version loaded: a superseded version is read again
        only by a pinned search, so it is not kept. Only files a committed
        pointer names are loaded, as the next writer may rewrite
        uncommitted ones; concurrent first callers may both load."""
        got = self._opened.get(key)
        if got is None or got[0] != version:
            got = (version, load())
            held = self._opened.get(key)
            if held is None or version > held[0]:
                self._opened[key] = got
        return got[1]

    def _chunks_path(self, version: int) -> str:
        return os.path.join(self.root, "chunks", f"v{version}")

    def _chunks_manifest_path(self, version: int) -> str:
        return os.path.join(self.root, "_meta", f"chunks_v{version}.json")

    def _chunks_sources(self, version: int) -> dict | None:
        """The MANIFEST of a chunks version, None if it has none:
        ``{"data": [[dir, seq]…], "deletes": [[file, seq]…], "rows":
        {"<lib>": n}}`` — immutable segments (append-only ingest, or one
        compacted dir), merge-on-read delete files, and the version's live
        rows per library. A delete file tombstones a chunk_id in data
        segments with a LOWER seq only, so re-ingesting a previously deleted
        id behaves like delete-then-create (Iceberg-style sequence rule)."""
        try:
            with open(self._chunks_manifest_path(version)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _index_path(self, version: int) -> str:
        return os.path.join(self.root, "index", f"v{version}")

    def _index_record_path(self, version: int) -> str:
        return os.path.join(self.root, "_meta", f"index_v{version}.json")

    # ---- ingest (trace §3.3) ---------------------------------------------

    def ingest_chunks(self, rows: DataFrame, compute_embedding: bool = True) -> int:
        """Validate (P7), default end_index (F6), optionally eager-embed
        (F3), write the next chunks version; its commit adds the rows to
        the live and dirty counters."""
        if "similarity_threshold" not in rows.columns:
            rows = rows.withColumn(
                "similarity_threshold", F.lit(None).cast("float")
            )
        if "metadata" not in rows.columns:
            rows = rows.withColumn(
                "metadata", null_metadata(CHUNK_METADATA_FIELDS)
            )
        else:
            rows = rows.withColumn(
                "metadata",
                coerce_metadata(F.col("metadata"), CHUNK_METADATA_FIELDS),
            )
        validated = (
            rows.filter(F.length(F.trim(F.col("text"))) > 0)
            # reference schemas/chunk.py:43-54: similarity_threshold must
            # sit in [0, 10]; out-of-range rows are rejected (the batch
            # analog of the Pydantic 422), null passes through.
            .filter(
                F.col("similarity_threshold").isNull()
                | (
                    (F.col("similarity_threshold") >= 0)
                    & (F.col("similarity_threshold") <= MAX_SIMILARITY_THRESHOLD)
                )
            )
            # reference schemas/chunk.py:14-54: ChunkMetadataSchema field
            # bounds (chunk_type/section/language/model lengths,
            # page_number, confidence, embedding_dim, threshold).
            .filter(chunk_metadata_valid(F.col("metadata")))
            .withColumn(
                "end_index",
                F.coalesce(
                    F.col("end_index"),
                    F.col("start_index") + F.length(F.trim(F.col("text"))),
                ).cast("int"),
            )
            .withColumn(
                "embedding",
                F.coalesce(F.col("embedding"), F.array().cast("array<float>")),
            )
            # update_chunk's dim check, per row: an embedding is empty (the
            # build embeds it) or of the store's dim; other rows are rejected.
            .filter(F.size("embedding").isin(0, self.dim))
        )
        if compute_embedding:
            validated = validated.withColumn(
                "embedding",
                F.when(F.size("embedding") > 0, F.col("embedding")).otherwise(
                    fake_embedding(F.col("text"), self.dim).cast("array<float>")
                ),
            )
        # Append-only ingest: the batch is written as ONE new immutable
        # segment and the next version's manifest = previous sources + the
        # segment. Nothing existing is rewritten — at 100 TB a small batch
        # costs O(batch), not O(corpus) (the old full-rewrite path cost a
        # corpus copy per ingest). Segments carry library_id as a data
        # column (no partitionBy); compact_chunks() folds them into the
        # partition-pruned layout.
        snap = self._snapshot()
        v = snap.chunks + 1
        seg = os.path.join(self.root, "chunks", f"seg_{v}")
        # Stored in the chunk schema, which read_chunks pins: a source's
        # wider types (array<double>, double) would not read back narrowed.
        validated.select(
            *(F.col(c).cast(t).alias(c) for c, t in _CHUNK_TYPES)
        ).write.mode("overwrite").parquet(seg)
        added = self._library_rows(seg)
        m = snap.manifest
        return self._commit_chunks(
            v,
            {"data": m["data"] + [[seg, v]], "deletes": m["deletes"],
             "rows": _plus(m["rows"], added)},
            dirty=_plus(snap.dirty, added),
        )

    def _library_rows(self, path: str) -> dict:
        """``{"<lib>": rows}`` of the file a write just produced: one
        single-task job (after coalesce(1) the grouping needs no shuffle),
        its schema given so no inference job runs."""
        rows = self.spark.read.schema("library_id long").parquet(path).coalesce(1)
        return {
            str(r["library_id"]): r["count"]
            for r in rows.groupBy("library_id").count().collect()
        }

    def _commit_chunks(self, v: int, manifest: dict, **pointer) -> int:
        """Write chunks version ``v``'s manifest, then commit it and the
        ``pointer`` counter updates with the write's one pointer swap."""
        with open(self._chunks_manifest_path(v), "w") as f:
            json.dump(manifest, f)
        self._swap_pointer(chunks=v, **pointer)
        return v

    @staticmethod
    def _write_part(path: str, table: pa.Table) -> None:
        """Write ``table`` as directory ``path``'s one parquet file, first
        removing a failed writer's leftovers, as Spark's overwrite does:
        their rows would read back, or their ids be tombstoned."""
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))

    def _tombstone(
        self, snap: _Snapshot, matched: DataFrame | pa.Table, new_data: tuple = (),
        bump: bool = False, **pointer,
    ) -> int:
        """Merge-on-read delete: write the matched rows' (chunk_id,
        library_id) as one small delete file, then commit the next chunks
        version — O(matched), never a corpus rewrite. Readers anti-join
        tombstones onto lower-seq segments only. ``matched`` is a Spark plan
        or an Arrow table in hand. The matched rows leave the live counts;
        ``bump`` adds them to the dirty counts; ``pointer`` updates ride the
        commit. ``new_data`` adds an update's segment, which re-adds each
        matched row: the live counts stay."""
        v, m = snap.chunks + 1, snap.manifest
        path = os.path.join(self.root, "chunks", f"del_{v}")
        if isinstance(matched, DataFrame):
            matched.select("chunk_id", "library_id").coalesce(1).write.mode("overwrite").parquet(path)
            gone = self._library_rows(path)
        else:
            self._write_part(path, matched.select(["chunk_id", "library_id"]))
            gone = Counter(map(str, matched["library_id"].to_pylist()))
        if bump:
            pointer["dirty"] = _plus(snap.dirty, gone)
        return self._commit_chunks(
            v,
            {"data": m["data"] + list(new_data), "deletes": m["deletes"] + [[path, v]],
             "rows": m["rows"] if new_data else _plus(m["rows"], gone, -1)},
            **pointer,
        )

    def read_chunks(self, version: int | None = None) -> DataFrame | None:
        sources = (
            self._snapshot().manifest if version is None
            else self._chunks_sources(version)
        )
        if sources is None:
            return None
        # Pinned schemas: no inference job per source. A segment written
        # before a column existed reads it as nulls (the additive-column
        # rule); the select puts a compacted dir's partition column back.
        parts = [
            self.spark.read.schema(CHUNK_SCHEMA).parquet(p)
            .select(*_CHUNK_COLS, F.lit(seq).alias("__seq"))
            for p, seq in sources["data"]
        ]
        if not parts:
            return None
        out = reduce(DataFrame.unionByName, parts)
        if sources["deletes"]:
            dels = reduce(DataFrame.unionByName, (
                self.spark.read.schema("chunk_id long").parquet(p).select(
                    F.col("chunk_id").alias("__del_id"), F.lit(seq).alias("__del_seq")
                )
                for p, seq in sources["deletes"]
            ))
            out = out.join(
                F.broadcast(dels),
                (F.col("chunk_id") == F.col("__del_id"))
                & (F.col("__del_seq") > F.col("__seq")),
                "left_anti",
            )
        return out.drop("__seq")

    def _live_rows(self, snap: _Snapshot, chunk_id: int) -> pa.Table:
        """Every live row of ``chunk_id`` in ``snap``, read with pyarrow, or
        a clean not-found. By the sequence rule only segments whose seq is
        at least the newest delete file naming the id's are live; each is
        read with a chunk_id filter that skips row groups by statistics."""
        _require_id(chunk_id=chunk_id)
        m, hit = snap.manifest, ds.field("chunk_id") == chunk_id
        killed = next((seq for p, seq in reversed(m["deletes"]) if ds.dataset(
            p, schema=pa.schema([("chunk_id", pa.int64())])).count_rows(filter=hit)), 0)
        # A compacted segment keeps library_id in its partition directories.
        part = ds.partitioning(pa.schema([("library_id", pa.int64())]), flavor="hive")
        rows = pa.concat_tables([_arrow_schema("chunks").empty_table()] + [
            ds.dataset(p, schema=_arrow_schema("chunks"), partitioning=part).to_table(filter=hit)
            for p, seq in m["data"] if seq >= killed])
        if not rows.num_rows:
            raise ValueError(f"chunk {chunk_id} not found")
        return rows

    def get_chunk(self, chunk_id: int) -> Row:
        """Point lookup (reference GET /chunks/{id},
        chunk_service.py get_chunk): the chunk row, or a clean
        ChunkNotFoundError equivalent."""
        return _row(self._live_rows(self._snapshot(), chunk_id).to_pylist()[0])

    def list_chunks(
        self,
        library_id: int | None = None,
        document_id: int | None = None,
    ) -> DataFrame | None:
        """Scoped chunk listing (reference GET /documents/{id}/chunks and
        /libraries/{id}/chunks, chunk_repository.py list_by_*): plain
        pushed-down filters over the current snapshot."""
        cur = self.read_chunks()
        if cur is None:
            return None
        if library_id is not None:
            cur = cur.filter(F.col("library_id") == library_id)
        if document_id is not None:
            cur = cur.filter(F.col("document_id") == document_id)
        return cur

    def count_chunks(self, library_id: int | None = None) -> int:
        """Chunk count (reference chunk_service.py count_chunks): the live
        rows the snapshot's manifest holds, no scan."""
        rows = self._snapshot().manifest["rows"]
        return sum(rows.values()) if library_id is None else rows.get(str(library_id), 0)

    def compact_chunks(self) -> int:
        """Fold the manifest's segments into one partition-pruned rewrite —
        the maintenance job that bounds small-file count and restores
        partitionBy(library_id) pruning after a run of appends. Readers
        pinned to older versions are untouched (segments are immutable).
        Delete files stay listed: their lower seq never masks the compacted
        data, and searches still skip those newer than their build."""
        snap = self._snapshot()
        cur = self.read_chunks(snap.chunks)
        if cur is None:
            raise ValueError("empty store")
        v = snap.chunks + 1
        path = self._chunks_path(v)
        cur.write.mode("overwrite").partitionBy("library_id").parquet(path)
        return self._commit_chunks(v, {**snap.manifest, "data": [[path, v]]})

    def update_chunk(
        self,
        chunk_id: int,
        text: str | None = None,
        embedding: list[float] | None = None,
        start_index: int | None = None,
        end_index: int | None = None,
        metadata: dict | None = None,
        compute_embedding: bool = False,
    ) -> int:
        """Copy-on-write partial update — the reference's ChunkUpdate PATCH
        (``schemas/chunk.py:150-180``, ``entities.py:259-294``: updates
        return new immutable instances): rewrite the row with the given
        fields into the next chunks version; readers pinned to the old
        version are untouched. Marks the library dirty
        (``chunk_service.py:117-120``). Validators mirror the schema:
        non-blank text, start/end >= 0 and end >= start, embedding dim
        matched to the store, metadata per the closed-schema bounds."""
        _require(str, text=text)
        _require(int, start_index=start_index, end_index=end_index)
        if text is not None and not text.strip():
            raise ValueError("chunk text must be non-empty")
        if start_index is not None and start_index < 0:
            raise ValueError("start_index must be >= 0")
        if end_index is not None:
            if end_index < 0:
                raise ValueError("end_index must be >= 0")
            if start_index is not None and end_index < start_index:
                raise ValueError("end_index must be >= start_index")
        if embedding is not None and len(embedding) != self.dim:
            raise ValueError(f"embedding dim {len(embedding)} != store dim {self.dim}")
        changes = {k: v for k, v in (("text", text), ("start_index", start_index),
                                     ("end_index", end_index)) if v is not None}
        if embedding is not None:
            changes["embedding"] = [float(x) for x in embedding]
        elif compute_embedding and text is not None:
            changes["embedding"] = fake_embedding_py(text, self.dim)
        if metadata is not None:
            changes["metadata"] = metadata_values(
                CHUNK_METADATA_FIELDS, metadata, CHUNK_METADATA_BOUNDS)
        snap = self._snapshot()
        old = self._live_rows(snap, chunk_id)
        # Merge-on-read update = tombstone(old) + one-row segment(new):
        # O(1 row) written, never a corpus rewrite. The new segment's seq
        # equals the tombstone's, so only the OLD row is masked.
        new = [{**r, **changes} for r in old.to_pylist()]
        v = snap.chunks + 1
        seg = os.path.join(self.root, "chunks", f"seg_{v}")
        self._write_part(seg, pa.Table.from_pylist(new, schema=_arrow_schema("chunks")))
        return self._tombstone(snap, old, ([seg, v],), bump=True)

    def delete_chunk(self, chunk_id: int) -> int:
        """Single-chunk delete — the reference's DELETE /chunks/{id}
        (``api/v1/routers/chunks.py:62-77`` → ``chunk_service.py:166-175``:
        existence check first, then delete, then mark the library index
        dirty). Merge-on-read: one tombstone row written, no segment
        rewrite; readers pinned to the old version are untouched."""
        snap = self._snapshot()
        return self._tombstone(snap, self._live_rows(snap, chunk_id), bump=True)

    # ---- cascade delete (J4, trace library_service.py:67-77) -------------

    def delete_documents(self, doc_ids: DataFrame) -> int:
        """Cascade delete, merge-on-read: resolve the affected chunk ids
        (left-semi on document_id) into one tombstone file — O(matched)
        written; compaction reclaims the space later."""
        snap = self._snapshot()
        cur = self.read_chunks(snap.chunks)
        if cur is None:
            raise ValueError("empty store")
        matched = cur.join(
            doc_ids.select(F.col("document_id")), "document_id", "left_semi"
        )
        return self._tombstone(snap, matched)

    # ---- dirty counters (A7): JSON the snapshot holds, no Spark job -------

    def dirty_count(self, library_id: int) -> int:
        return self.versions()["dirty"].get(str(library_id), 0)

    def needs_rebuild(self, library_id: int) -> bool:
        """dirty_count / live rows >= 0.1 (index_service.py:88-97)."""
        return self.index_status(library_id)["needs_rebuild"]

    # ---- index build (trace §3.2) ----------------------------------------

    @staticmethod
    def select_algorithm(n: int, dim: int) -> str:
        """Auto index selection (reference ``app/indexes/manager.py:39-63``):
        linear for <1,000 vectors; IVF for ≥10,000 vectors or >50 dims.
        The reference's middle tier (kdtree: dim ≤ 20 and n < 50k) is
        intentionally folded into linear — SURVEY.md §4.1 drops the KD-tree
        (sequential pointer-chasing is an anti-pattern on Spark); its exact
        contract is covered by the linear scan, its pruning contract by the
        IVF partition layout."""
        if n >= 10_000 or dim > 50:
            return "ivf"
        return "linear"

    def build_index(
        self,
        library_id: int,
        n_clusters: int = 8,
        algorithm: str | None = None,
    ) -> int:
        """Backfill embeddings, KMeans centroids, cluster-partitioned write,
        then one pointer swap that also resets the library's dirty count —
        the full build trace as one batch job.
        ``algorithm`` None → auto-selected from (n, dim); "linear" writes a
        single-cluster layout (every probe scans everything — exact)."""
        snap = self._snapshot()
        cur = self.read_chunks(snap.chunks)
        if cur is None:
            raise ValueError("empty store")
        lib = cur.filter(F.col("library_id") == library_id)
        if lib.isEmpty():
            raise ValueError(f"library {library_id} is empty")  # EmptyLibraryError
        lib = lib.withColumn(
            "embedding",
            F.when(F.size("embedding") > 0, F.col("embedding")).otherwise(
                fake_embedding(F.col("text"), self.dim).cast("array<float>")
            ),
        )
        vectors = lib.select(F.col("chunk_id").alias("vec_id"), "embedding")
        n = vectors.count()
        if algorithm is None:
            algorithm = self.select_algorithm(n, self.dim)
        if algorithm not in ("linear", "ivf"):
            # reference manager.py:17-36: the index factory rejects unknown
            # algorithm names instead of silently picking one.
            raise ValueError(f"unknown index algorithm: {algorithm!r}")
        if n < 2:
            # MLlib KMeans requires k >= 2; a 0/1-vector library is exactly
            # the linear layout anyway.
            algorithm = "linear"
        if algorithm == "linear":
            # Degenerate one-cluster layout: centroid = origin, all vectors
            # in cluster 0 (probe filter passes everything → exact scan).
            cents = self.spark.createDataFrame(
                [(0, [0.0] * self.dim)], "cluster_id int, centroid array<double>"
            )
            assigned = vectors.select("vec_id", F.lit(0).alias("cluster_id"))
        else:
            # k must not exceed the vector count (MLlib contract; the
            # reference sizes C ≈ √(n/2) with the same effect for tiny n).
            cents = kmeans_centroids(
                vectors, n_clusters=max(2, min(n_clusters, n))
            )
            assigned = assign_clusters(vectors, cents)
        new_v = snap.index + 1  # no library named: the latest allocated
        (
            lib.join(
                assigned.select(F.col("vec_id").alias("chunk_id"), "cluster_id"),
                "chunk_id",
            )
            .write.mode("overwrite")
            .partitionBy("cluster_id")
            .parquet(self._index_path(new_v))
        )
        cents.write.mode("overwrite").parquet(
            os.path.join(self._index_path(new_v), "_centroids")
        )
        # The build record names the chunks version the index reflects:
        # query-time tombstone-skip applies only deletes NEWER than this
        # (older ones were already excluded by the merge-on-read build scan).
        with open(self._index_record_path(new_v), "w") as f:
            json.dump({"library_id": int(library_id), "algorithm": algorithm,
                       "chunks": snap.chunks, "size": n}, f)
        lib = str(library_id)
        self._swap_pointer(index=new_v, libraries={lib: new_v}, dirty={lib: 0})
        return new_v

    def read_index(self, version: int | None = None) -> tuple[DataFrame, DataFrame]:
        """(index rows, centroids) of build ``version``, else the latest, as
        DataFrames with pinned schemas: opening them runs no Spark job."""
        snap = self._snapshot(version=version)
        self._check_built(snap)
        path = self._index_path(snap.index)
        read = self.spark.read.schema
        return (read(CHUNK_SCHEMA + ", cluster_id int").parquet(path),
                read("cluster_id int, centroid array<double>").parquet(path + "/_centroids"))

    @staticmethod
    def _check_built(snap: _Snapshot) -> None:
        if snap.record is None:
            # reference base.py IndexNotBuiltError: querying before build is
            # a clean domain error, not a storage-layer stack trace.
            raise ValueError(f"index not built (version {snap.index})")

    # ---- search (trace §3.1) ---------------------------------------------

    def search_text(
        self,
        library_id: int,
        text: str,
        k: int = 10,
        nprobe: int = 2,
        version: int | None = None,
    ) -> DataFrame:
        """Embed query text (F3) in Python on the driver, then
        :meth:`search_vector`'s search. Passing ``version`` pins a snapshot
        (reads are stable while a new build runs)."""
        _validate_search(k, nprobe)
        text = _validate_query_text(text)
        snap = self._snapshot(library_id, version)
        self._check_library_exists(snap, library_id)
        return self._search(snap, library_id, fake_embedding_py(text, self.dim), k, nprobe)

    def _check_library_exists(self, snap: _Snapshot, library_id: int) -> None:
        """Reference LibraryNotFoundError (search_service.py: a query names
        a library; unknown ids 404). Checked against the snapshot's
        libraries table when one exists — stores driven purely through
        ingest_chunks (no library CRUD) skip it, since chunk rows are then
        the only library record. The search itself additionally keeps only
        the library's index rows, so a wrong id can never return another
        library's hits."""
        libs = self._control(snap, "libraries")
        if libs is not None and library_id not in libs:
            raise ValueError(f"library {library_id} not found")

    def search_vector(
        self,
        library_id: int,
        vector: list[float],
        k: int = 10,
        nprobe: int = 2,
        version: int | None = None,
    ) -> DataFrame:
        """Raw-vector search (reference ``POST /query`` with an embedding
        payload): k-bounded (schemas/search.py:22-27) and dimension-checked
        against the store dim (422-equivalent, ``search_service.py:126-135``),
        then probe→topk→hydrate (:meth:`_search`)."""
        _validate_search(k, nprobe)
        if len(vector) != self.dim:
            raise ValueError(
                f"query dim {len(vector)} != index dim {self.dim}"
            )  # DimensionMismatchError
        for i, x in enumerate(vector):
            # reference schemas/search.py:61-68: each query-embedding value
            # bounded to ±1e6 (422-equivalent, not a clamp).
            if not -MAX_QUERY_EMBED_VALUE <= float(x) <= MAX_QUERY_EMBED_VALUE:
                raise ValueError(
                    f"embedding value at index {i} is out of range (±1e6)"
                )
        snap = self._snapshot(library_id, version)
        self._check_library_exists(snap, library_id)
        return self._search(snap, library_id, vector, k, nprobe)

    def _search(
        self, snap: _Snapshot, library_id: int, vector: list[float], k: int, nprobe: int
    ) -> DataFrame:
        """The one search, over ``snap``'s index, in numpy: probes by
        probe_pairs_local, the k best probed rows skipping the snapshot's
        tombstones (:func:`_top_k`), then the threshold filter, which leaves
        a gap in rank where it drops a hit. The rows are the library's held
        copy (:meth:`_driver_copy`) if its index fits the gate and the
        search is not pinned older than the copy, else the probed cluster
        files, streamed. The hits come back as a DataFrame over an Arrow
        table, whose ``collect()`` runs no Spark job."""
        self._check_built(snap)
        # Round-trip the query through float32 FIRST: the rows are scored
        # against the float32-quantized query a Spark plan over the index
        # scores, so probe selection must see the same values — a raw
        # float64 component near a rounding boundary (±1e6 inputs are
        # allowed, where float32 truncation ~0.06 ≫ the 0.5e-6 round-6
        # granularity) could otherwise pick a different cluster.
        q = np.asarray(vector, dtype=np.float32).astype(np.float64)
        held = self._opened.get(("index", library_id))
        if (snap.record["size"] * self.dim <= DRIVER_SEARCH_MAX_VALUES
                and (held is None or snap.index >= held[0])):
            ix = self._driver_copy(snap, library_id)
            probes = {c for _, c in probe_pairs_local([(0, q.tolist())], ix.centroids, nprobe)}
            blocks = (b[1:] for b in ix.blocks if b[0] in probes)
        else:
            centroids = self._centroids(snap.index)
            probes = {c for _, c in probe_pairs_local([(0, q.tolist())], centroids, nprobe)}
            blocks = (b[1:] for b in self._blocks(snap.index, library_id, probes))
        ids, dist, threshold, payload = _top_k(blocks, q, k, self._dead_ids(snap, library_id))
        hit = np.flatnonzero(dist <= threshold)
        payload = payload.take(hit)
        return self.spark.createDataFrame(pa.table({
            "qid": np.zeros(len(hit), np.int64),
            "chunk_id": ids[hit],
            "document_id": payload["document_id"],
            "dist": dist[hit],
            "rank": hit.astype(np.int32) + 1,
            "text": payload["text"],
            "metadata": payload["metadata"],
        }, schema=_arrow_schema("hits")))

    def _driver_copy(self, snap: _Snapshot, library_id: int) -> _LocalIndex:
        """The library's copy of ``snap``'s index version, loaded once per
        version (:meth:`_latest`). Past 4 × DRIVER_SEARCH_MAX_VALUES bytes
        held across libraries, the copies and dead ids of the least
        recently searched libraries are dropped, never the copy just
        searched. Racing searches may drop or load a copy twice; each
        still uses the copy of its own snapshot."""
        key = ("index", library_id)
        ix = self._latest(key, snap.index, lambda: self._load_local(snap.index, library_id))
        held = self._opened.pop(key, None)
        if held is not None:
            self._opened[key] = held  # the most recently searched last
        copies = [(k, v[1].nbytes) for k, v in list(self._opened.items()) if k[0] == "index"]
        total = sum(n for _, n in copies)
        for k, n in copies[:-1]:
            if total <= 4 * DRIVER_SEARCH_MAX_VALUES:
                break
            self._opened.pop(k, None)
            self._opened.pop(("dead", k[1]), None)
            total -= n
        return ix

    def _dead_ids(self, snap: _Snapshot, library_id: int) -> np.ndarray:
        """The chunk ids the snapshot's delete files newer than its build
        name. Held per library for its newest index version with the files
        read so far, so a later chunks version reads only the delete files
        added since, whichever rows the search scans."""
        key = ("dead", library_id)
        held = self._opened.get(key)
        if held is None or held[0] != snap.index or snap.dead[:len(held[1])] != held[1]:
            held = (snap.index, (), np.empty(0, np.int64))
        new = snap.dead[len(held[1]):]
        if new:
            held = (snap.index, snap.dead, np.concatenate(
                [held[2]] + [pq.read_table(p, columns=["chunk_id"])["chunk_id"].to_numpy()
                             for p in new]))
            if snap.index >= self._opened.get(key, (0,))[0]:
                self._opened[key] = held
        return held[2]

    def _blocks(self, version: int, library_id: int, clusters=None):
        """Library ``library_id``'s rows of index ``version``, in the
        clusters ``clusters`` names (all if None), read with pyarrow: no
        Spark job. Each file streams in batches of ``_BLOCK_VALUES`` values
        (a dataset scan decodes whole row groups at once), each yielded as a
        block (cluster_id, chunk ids, float32 matrix, similarity_threshold
        with null → inf, payload batch in the hits' types)."""
        dataset = ds.dataset(
            self._index_path(version), format="parquet",
            partitioning=ds.partitioning(pa.schema([("cluster_id", pa.int32())]), flavor="hive"),
        )
        hits = _arrow_schema("hits")
        probed = None if clusters is None else ds.field("cluster_id").isin(list(clusters))
        for frag in dataset.get_fragments(probed):
            cid = ds.get_partition_keys(frag.partition_expression)["cluster_id"]
            with pq.ParquetFile(frag.path) as f:
                for b in f.iter_batches(
                    max(1, _BLOCK_VALUES // self.dim),
                    columns=["library_id", "chunk_id", "embedding", "similarity_threshold",
                             *_PAYLOAD_COLS],
                ):
                    mine = pc.equal(b["library_id"], library_id)
                    if not pc.all(mine, skip_nulls=False).as_py():  # filter copies every column
                        b = b.filter(mine)
                    if not b.num_rows:
                        continue
                    emb = b["embedding"]
                    if emb.null_count or (np.diff(emb.offsets.to_numpy()) != self.dim).any():
                        raise ValueError(
                            f"index v{version} holds embeddings whose dim is not {self.dim}")
                    flat = pc.list_flatten(emb).to_numpy(zero_copy_only=False)
                    payload = [b[c].cast(hits.field(c).type) for c in _PAYLOAD_COLS]
                    yield (cid, b["chunk_id"].to_numpy(), flat.reshape(-1, self.dim),
                           pc.fill_null(b["similarity_threshold"], np.inf).to_numpy(),
                           pa.record_batch(payload, _PAYLOAD_COLS))

    def _centroids(self, version: int) -> list:
        """The centroid rows of index ``version``."""
        return pq.read_table(os.path.join(self._index_path(version), "_centroids")).to_pylist()

    def _load_local(self, version: int, library_id: int) -> _LocalIndex:
        """Library ``library_id``'s blocks of index ``version`` and its
        centroid rows, as the driver holds them: the load peaks at what it
        keeps plus one batch."""
        blocks = list(self._blocks(version, library_id))
        nbytes = sum(a.nbytes for b in blocks for a in b[1:])
        return _LocalIndex(blocks, self._centroids(version), nbytes)

    def index_status(self, library_id: int) -> dict:
        """IndexStatus analog (reference ``index_service.py:285-302``):
        built?, version, algorithm, size, dirty count, rebuild flag — all
        of the library's own build, read from the snapshot's JSON with no
        Spark job."""
        snap = self._snapshot(library_id)
        built = snap.record is not None and snap.record["library_id"] == library_id
        lib = str(library_id)
        dirty = snap.dirty.get(lib, 0)
        live = snap.manifest["rows"].get(lib, 0)
        return {
            "is_built": built,
            "index_version": snap.index if built else 0,
            "chunks_version": snap.chunks,
            "algorithm": snap.record["algorithm"] if built else None,
            "size": snap.record["size"] if built else 0,
            "dirty_count": dirty,
            "needs_rebuild": dirty / max(live, 1) >= REBUILD_THRESHOLD,
        }

    # ---- control tables (libraries, documents) ----------------------------

    MAX_CONTROL_ROWS = 1_000_000

    def _control_path(self, table: str, version: int) -> str:
        return os.path.join(self.root, "control", f"{table}_v{version}.parquet")

    def _control(self, snap: _Snapshot, table: str) -> dict | None:
        """The snapshot's version of control ``table`` as ``{id: row}``
        dicts, read once with pyarrow; None if the store has none. Every
        reader shares it: never mutate it or its rows."""
        v = snap.control.get(table, 0)
        if not v:
            return None
        path = self._control_path(table, v)
        schema = _arrow_schema(table)
        return self._latest(("control", table), v, lambda: {
            r[schema.names[0]]: r for r in pq.read_table(path, schema=schema).to_pylist()
        })

    def _control_with(self, snap: _Snapshot, table: str, key: str, value: int) -> dict:
        """Control ``table``, which must hold the entity ``key == value``."""
        rows = self._control(snap, table) or {}
        if value not in rows:
            raise ValueError(f"{key.removesuffix('_id')} {value} not found")
        return rows

    def _write_control(self, snap: _Snapshot, table: str, rows: dict) -> dict:
        """Write ``rows`` as the next immutable version of control
        ``table``, one parquet file; return the ``control`` pointer update
        naming it, which the caller commits with its one swap. A failed
        writer's leftover file is never named, and the next writer
        overwrites it. The single-writer rewrite is legal ONLY for
        control-plane metadata, whose cardinality is entities, not chunks:
        a table grown toward data scale fails loudly before anything is
        written."""
        if len(rows) > self.MAX_CONTROL_ROWS:
            raise RuntimeError(
                f"control table {table} would have {len(rows)} rows "
                f"(> {self.MAX_CONTROL_ROWS}); single-writer metadata "
                "rewrite is out of contract at this size"
            )
        v = snap.control.get(table, 0) + 1
        path = self._control_path(table, v)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pylist(list(rows.values()), schema=_arrow_schema(table)), path)
        return {table: v}

    def _listing(self, table: str, rows, key: str) -> DataFrame:
        """``rows`` of control ``table`` ordered by lower(``key``), as a
        DataFrame over an Arrow table: a local relation, so its
        ``collect()`` runs no Spark job."""
        rows = sorted(rows, key=lambda r: r[key].lower())
        return self.spark.createDataFrame(pa.Table.from_pylist(rows, schema=_arrow_schema(table)))

    # ---- library entities (reference routers/libraries.py) ----------------

    def list_libraries(self) -> DataFrame | None:
        libs = self._control(self._snapshot(), "libraries")
        return None if libs is None else self._listing("libraries", libs.values(), "name")

    def get_library(self, library_id: int) -> Row:
        """Point lookup (reference GET /libraries/{id},
        library_service.py get_library): the row or a clean not-found."""
        libs = self._control_with(self._snapshot(), "libraries", "library_id", library_id)
        return _row(libs[library_id])

    def get_library_by_name(self, name: str) -> Row:
        """Name lookup, casefolded — the uniqueness invariant the create
        path enforces makes the casefolded name a key (reference
        library_service.py get_library_by_name + repository name index)."""
        row = _named(self._control(self._snapshot(), "libraries"), name)
        if row is None:
            raise ValueError(f"library named {name!r} not found")
        return _row(row)

    def library_exists(self, library_id: int) -> bool:
        return library_id in (self._control(self._snapshot(), "libraries") or {})

    def library_name_exists(self, name: str) -> bool:
        return _named(self._control(self._snapshot(), "libraries"), name) is not None

    def get_document(self, document_id: int) -> Row:
        """Point lookup (reference GET /documents/{id})."""
        docs = self._control_with(self._snapshot(), "documents", "document_id", document_id)
        return _row(docs[document_id])

    def create_library(
        self,
        library_id: int,
        name: str,
        description: str = "",
        metadata: dict | None = None,
    ) -> None:
        """Create with casefolded name uniqueness (reference
        ``library_repository.py:18-19``, ``36-39``: casefolded unique
        index; duplicate → error). ``metadata`` is the closed
        LibraryMetadata schema (entities.py:57-72) stored as a typed
        struct column; unknown keys raise."""
        _require_id(library_id=library_id)
        _require(str, name=name, description=description)
        if not name.strip():
            raise ValueError("library name must be non-empty")
        if len(name) > 255:
            raise ValueError("library name too long")  # config.py:53-54
        snap = self._snapshot()
        libs = self._control(snap, "libraries") or {}
        meta = metadata_values(LIBRARY_METADATA_FIELDS, metadata, LIBRARY_METADATA_BOUNDS)
        if library_id in libs or _named(libs, name) is not None:
            raise ValueError(f"library name/id already exists: {name!r}")
        libs = {**libs, library_id: {"library_id": library_id, "name": name.strip(),
                                     "description": description, "metadata": meta}}
        self._swap_pointer(control=self._write_control(snap, "libraries", libs))

    def update_library(
        self, library_id: int, name: str | None = None, description: str | None = None
    ) -> None:
        """Copy-on-write update (reference ``entities.py:114-135``: updates
        return new instances; ``routers/libraries.py`` PATCH). Name keeps
        the casefolded uniqueness invariant against OTHER libraries."""
        _require_id(library_id=library_id)
        _require(str, name=name, description=description)
        snap = self._snapshot()
        libs = self._control_with(snap, "libraries", "library_id", library_id)
        changes = {}
        if name is not None:
            if not name.strip():
                raise ValueError("library name must be non-empty")
            if len(name) > 255:
                raise ValueError("library name too long")
            other = _named(libs, name)
            if other is not None and other["library_id"] != library_id:
                raise ValueError(f"library name already exists: {name!r}")
            changes["name"] = name.strip()
        if description is not None:
            changes["description"] = description
        libs = {**libs, library_id: {**libs[library_id], **changes}}
        self._swap_pointer(control=self._write_control(snap, "libraries", libs))

    # ---- document entities (reference routers/documents.py) ---------------

    def list_documents(self, library_id: int | None = None) -> DataFrame | None:
        """Documents ordered by lower(title) (reference
        ``document_repository.py:24-27``)."""
        docs = self._control(self._snapshot(), "documents")
        if docs is None:
            return None
        mine = [r for r in docs.values() if library_id is None or r["library_id"] == library_id]
        return self._listing("documents", mine, "title")

    def create_document(
        self,
        document_id: int,
        library_id: int,
        title: str,
        metadata: dict | None = None,
    ) -> None:
        """FK-guarded create (reference J5: parent library must exist,
        ``document_service.py:64-65``); title non-empty, ≤ 255.
        ``metadata`` is the closed DocumentMetadata schema
        (entities.py:20-36) stored as a typed struct column."""
        _require_id(document_id=document_id, library_id=library_id)
        _require(str, title=title)
        if not title.strip():
            raise ValueError("document title must be non-empty")
        if len(title) > 255:
            raise ValueError("document title too long")
        snap = self._snapshot()
        self._control_with(snap, "libraries", "library_id", library_id)
        meta = metadata_values(DOCUMENT_METADATA_FIELDS, metadata, DOCUMENT_METADATA_BOUNDS)
        docs = self._control(snap, "documents") or {}
        if document_id in docs:
            raise ValueError(f"document {document_id} already exists")
        docs = {**docs, document_id: {"document_id": document_id, "library_id": library_id,
                                      "title": title.strip(), "metadata": meta}}
        self._swap_pointer(control=self._write_control(snap, "documents", docs))

    def update_document(self, document_id: int, title: str) -> None:
        """Copy-on-write title update (reference ``entities.py:177-199``,
        ``routers/documents.py`` PATCH); same title invariants as create."""
        _require_id(document_id=document_id)
        _require(str, title=title)
        if not title.strip():
            raise ValueError("document title must be non-empty")
        if len(title) > 255:
            raise ValueError("document title too long")
        snap = self._snapshot()
        docs = self._control_with(snap, "documents", "document_id", document_id)
        docs = {**docs, document_id: {**docs[document_id], "title": title.strip()}}
        self._swap_pointer(control=self._write_control(snap, "documents", docs))

    def delete_document(self, document_id: int) -> None:
        """Cascade: drop the document row and its chunks (reference
        ``document_repository.py:70-81`` + chunk cascade)."""
        self._delete_entity("documents", "document_id", document_id)

    def delete_library(self, library_id: int) -> None:
        """Cascade: drop the library row, its documents and its chunks, and
        reset its dirty count (reference ``library_service.py:67-77``)."""
        self._delete_entity(
            "libraries", "library_id", library_id, dirty={str(library_id): 0}
        )

    def _delete_entity(self, table: str, key: str, value: int, **pointer) -> None:
        """Drop the entity ``key == value`` of control ``table``, the rows
        of every control table with ``key == value`` and its chunks: all,
        with the ``pointer`` updates, in one commit."""
        snap = self._snapshot()
        self._control_with(snap, table, key, value)
        control = {}
        for name in _CONTROL_SCHEMAS:
            rows = self._control(snap, name) or {}
            kept = {k: r for k, r in rows.items() if r.get(key) != value}
            if len(kept) < len(rows):
                control.update(self._write_control(snap, name, kept))
        chunks = self.read_chunks(snap.chunks)
        if chunks is None:
            self._swap_pointer(control=control, **pointer)
        else:
            self._tombstone(snap, chunks.filter(F.col(key) == value), control=control, **pointer)
