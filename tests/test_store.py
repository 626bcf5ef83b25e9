"""Lifecycle tests for the versioned VectorStore — mirrors the reference's
service/concurrency tiers (SURVEY.md §5.1 tiers 3-5): build/search round
trip, dirty lifecycle, cascade delete, snapshot stability during rebuild."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from stackai_vector_db_spark.plans import store as store_mod
from stackai_vector_db_spark.plans.metadata import CHUNK_METADATA_DDL, CHUNK_METADATA_FIELDS
from stackai_vector_db_spark.plans.store import VectorStore


@pytest.fixture()
def store(spark):
    root = tempfile.mkdtemp(prefix="vstore_")
    yield VectorStore(spark, root, dim=16)
    shutil.rmtree(root, ignore_errors=True)


def _jobs(spark, group, fn):
    """(Spark jobs ``fn()`` ran, its result), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _chunk_rows(spark, n=60, library_id=1, start_doc=0):
    rows = [
        (
            library_id * 100000 + start_doc * 100 + i,
            start_doc + (i % 5),
            library_id,
            f"chunk text number {i} for library {library_id} with words",
            None,
            0,
            None,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "chunk_id long, document_id long, library_id long, text string, "
        "embedding array<float>, start_index int, end_index int",
    )


def test_ingest_build_search_roundtrip(spark, store):
    store.ingest_chunks(_chunk_rows(spark, 60))
    assert store.versions()["chunks"] == 1
    store.build_index(1, n_clusters=4)

    # searching for an existing chunk's text must return it at rank 1, dist 0
    hits = store.search_text(1, "chunk text number 7 for library 1 with words", k=3)
    top = sorted(hits.collect(), key=lambda r: r["rank"])[0]
    assert top["dist"] == 0.0
    assert "number 7" in top["text"]


def test_end_index_default_and_validation(spark, store):
    df = spark.createDataFrame(
        [
            (1, 0, 1, "  hello world  ", None, 0, None),
            (2, 0, 1, "   ", None, 0, None),  # blank text → rejected
        ],
        "chunk_id long, document_id long, library_id long, text string, "
        "embedding array<float>, start_index int, end_index int",
    )
    store.ingest_chunks(df)
    rows = store.read_chunks().collect()
    assert len(rows) == 1  # invalid row dropped
    assert rows[0]["end_index"] == len("hello world")  # F6 default
    assert len(rows[0]["embedding"]) == 16  # eager embed


def test_dirty_lifecycle(spark, store):
    store.ingest_chunks(_chunk_rows(spark, 50))
    assert store.needs_rebuild(1)  # everything is new
    store.build_index(1, n_clusters=4)
    assert not store.needs_rebuild(1)  # reset on build
    store.ingest_chunks(_chunk_rows(spark, 3, start_doc=50))
    assert not store.needs_rebuild(1)  # 3/53 < 0.1
    store.ingest_chunks(_chunk_rows(spark, 10, start_doc=60))
    assert store.needs_rebuild(1)  # 13/63 >= 0.1


def test_cascade_delete(spark, store):
    store.ingest_chunks(_chunk_rows(spark, 50))
    before = store.read_chunks().count()
    doomed = spark.createDataFrame([(0,), (1,)], "document_id long")
    store.delete_documents(doomed)
    after = store.read_chunks()
    assert after.count() < before
    assert after.filter(F.col("document_id").isin(0, 1)).count() == 0


def test_search_vector_and_dim_check(spark, store):
    store.ingest_chunks(_chunk_rows(spark, 40))
    store.build_index(1, n_clusters=4)
    # take an existing chunk's embedding → it must be its own top hit
    row = store.read_chunks().filter(F.col("chunk_id") == 100007).collect()[0]
    hits = store.search_vector(1, list(row["embedding"]), k=3)
    top = sorted(hits.collect(), key=lambda r: r["rank"])[0]
    assert top["chunk_id"] == 100007 and top["dist"] == 0.0

    with pytest.raises(ValueError, match="dim"):
        store.search_vector(1, [0.0] * 5)


def test_index_status_and_auto_algorithm(spark, store):
    store.ingest_chunks(_chunk_rows(spark, 30))
    st = store.index_status(1)
    assert not st["is_built"] and st["needs_rebuild"]
    store.build_index(1)  # auto: 30 vectors, dim 16 → linear
    st = store.index_status(1)
    assert st["is_built"] and st["algorithm"] == "linear"
    assert st["size"] == 30 and not st["needs_rebuild"]
    # exactness of the linear layout: every probe scans everything
    hits = store.search_text(1, "chunk text number 7 for library 1 with words", k=1)
    assert hits.collect()[0]["dist"] == 0.0


def test_select_algorithm_heuristic():
    assert VectorStore.select_algorithm(500, 16) == "linear"
    assert VectorStore.select_algorithm(20_000, 16) == "ivf"
    assert VectorStore.select_algorithm(500, 64) == "ivf"


def test_library_crud_and_cascade(spark, store):
    store.create_library(1, "Research Papers")
    store.create_library(2, "Notes")
    store.create_library(5, "Straße")
    store.create_document(10, 1, "paper")
    store.create_document(20, 2, "note")
    for clash in ("research papers", "STRASSE"):  # casefolded clash
        with pytest.raises(ValueError, match="exists"):
            store.create_library(3, clash)
    with pytest.raises(ValueError, match="non-empty"):
        store.create_library(4, "   ")
    assert [r["name"] for r in store.list_libraries().collect()] == [
        "Notes",
        "Research Papers",
        "Straße",
    ]

    store.ingest_chunks(_chunk_rows(spark, 20, library_id=1))
    store.ingest_chunks(_chunk_rows(spark, 20, library_id=2))
    store.delete_library(1)
    assert [r["name"] for r in store.list_libraries().collect()] == ["Notes", "Straße"]
    # the cascade drops the library's documents too (library_service.py:67-77)
    with pytest.raises(ValueError, match="document 10 not found"):
        store.get_document(10)
    assert [r["document_id"] for r in store.list_documents().collect()] == [20]
    assert store.read_chunks().filter(F.col("library_id") == 1).count() == 0
    assert store.read_chunks().filter(F.col("library_id") == 2).count() == 20


def test_similarity_threshold_post_filter(spark, store):
    """P6 (reference search_service.py:187-191): a chunk carrying a
    similarity_threshold is dropped when its distance exceeds it; null
    threshold keeps the row."""
    rows = spark.createDataFrame(
        [
            (1, 0, 1, "alpha beta gamma delta words", None, 0, None, None),
            (2, 0, 1, "totally different content here now", None, 0, None, 0.0001),
            (3, 0, 1, "alpha beta gamma delta words", None, 0, None, 9.9),
        ],
        "chunk_id long, document_id long, library_id long, text string, "
        "embedding array<float>, start_index int, end_index int, "
        "similarity_threshold float",
    )
    store.ingest_chunks(rows)
    store.build_index(1, n_clusters=1)
    hits = store.search_text(1, "alpha beta gamma delta words", k=3).collect()
    ids = {r["chunk_id"] for r in hits}
    # chunk 1 (null thr, dist 0) and chunk 3 (thr 9.9 ≥ dist) survive;
    # chunk 2's tight threshold kills its non-zero distance
    assert ids == {1, 3}


def test_update_chunk_copy_on_write(spark, store):
    store.ingest_chunks(_chunk_rows(spark, 10))
    v1 = store.versions()["chunks"]
    old = store.read_chunks(v1).filter(F.col("chunk_id") == 100003).collect()[0]

    store.update_chunk(100003, text="fresh replacement text", compute_embedding=True)
    new = store.read_chunks().filter(F.col("chunk_id") == 100003).collect()[0]
    assert new["text"] == "fresh replacement text"
    assert list(new["embedding"]) != list(old["embedding"])  # re-embedded
    # old version still readable and unchanged (copy-on-write)
    pinned = store.read_chunks(v1).filter(F.col("chunk_id") == 100003).collect()[0]
    assert pinned["text"] == old["text"]
    assert store.dirty_count(1) > 0

    with pytest.raises(ValueError, match="not found"):
        store.update_chunk(999999, text="x", compute_embedding=True)
    with pytest.raises(ValueError, match="non-empty"):
        store.update_chunk(100003, text="   ", compute_embedding=True)


def test_document_crud_and_cascade(spark, store):
    store.create_library(1, "Lib")
    with pytest.raises(ValueError, match="not found"):
        store.create_document(10, 99, "orphan")  # FK guard (J5)
    store.create_document(10, 1, "Beta doc")
    store.create_document(11, 1, "alpha doc")
    with pytest.raises(ValueError, match="exists"):
        store.create_document(10, 1, "dup id")
    # ordered by lower(title)
    assert [r["title"] for r in store.list_documents(1).collect()] == [
        "alpha doc",
        "Beta doc",
    ]
    # chunks of doc 0..4 exist; deleting document 10 cascades only its chunks
    store.ingest_chunks(_chunk_rows(spark, 20))  # document_ids 0..4
    store.create_document(0, 1, "doc zero")
    before = store.read_chunks().count()
    store.delete_document(0)
    after = store.read_chunks()
    assert after.filter(F.col("document_id") == 0).count() == 0
    assert after.count() < before
    assert [r["document_id"] for r in store.list_documents(1).collect()] == [11, 10]


def test_parallel_readers_during_rebuild(spark, store):
    """Tier-5 concurrency (reference tests/test_concurrency.py:25-92):
    reader threads pinned to index v1 run concurrently with a writer
    building v2 — every read must return the v1 result, no locks involved
    (immutability replaces the reference's RWLock)."""
    import threading

    store.ingest_chunks(_chunk_rows(spark, 40))
    store.build_index(1, n_clusters=4)
    q = "chunk text number 3 for library 1 with words"
    want = sorted(map(tuple, store.search_text(1, q, k=5, version=1).collect()))

    results, errors = [], []

    def reader():
        try:
            for _ in range(3):
                got = sorted(
                    map(tuple, store.search_text(1, q, k=5, version=1).collect())
                )
                results.append(got)
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    def writer():
        try:
            store.ingest_chunks(_chunk_rows(spark, 40, start_doc=80))
            store.build_index(1, n_clusters=4)
        except Exception as e:  # pragma: no cover - failure reporting
            errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(3)]
    threads.append(threading.Thread(target=writer))
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors
    assert len(results) == 9 and all(r == want for r in results)
    assert store.versions()["index"] == 2  # writer finished


def test_snapshot_stable_during_rebuild(spark, store):
    """Reader pinned to index v1 sees identical results after v2 is built
    from different data — the RWLock/snapshot guarantee via immutability."""
    store.ingest_chunks(_chunk_rows(spark, 40))
    store.build_index(1, n_clusters=4)
    q = "chunk text number 3 for library 1 with words"
    before = sorted(map(tuple, store.search_text(1, q, k=5, version=1).collect()))

    store.ingest_chunks(_chunk_rows(spark, 40, start_doc=90))
    store.build_index(1, n_clusters=4)
    assert store.versions()["index"] == 2

    pinned = sorted(map(tuple, store.search_text(1, q, k=5, version=1).collect()))
    assert pinned == before
    fresh = store.search_text(1, q, k=5)  # new snapshot sees more data
    assert fresh.count() == 5


def test_update_library_and_document(spark, tmp_path):
    """Copy-on-write entity updates (reference entities.py:114-199: updates
    return new instances; name/title invariants re-checked)."""
    import pytest

    from stackai_vector_db_spark.plans.store import VectorStore

    st = VectorStore(spark, str(tmp_path / "store_upd"))
    st.create_library(1, "Alpha")
    st.create_library(2, "Beta")
    st.create_document(10, 1, "Doc One")

    st.update_library(1, name="Gamma", description="renamed")
    libs = {r["library_id"]: r for r in st.list_libraries().collect()}
    assert libs[1]["name"] == "Gamma" and libs[1]["description"] == "renamed"
    assert libs[2]["name"] == "Beta"

    # case-insensitive uniqueness vs OTHER libraries (library_repository.py:18-19)
    with pytest.raises(ValueError, match="already exists"):
        st.update_library(1, name="beta")
    # renaming to own name (case change) is allowed
    st.update_library(1, name="GAMMA")

    st.update_document(10, "Doc One Revised")
    docs = st.list_documents().collect()
    assert docs[0]["title"] == "Doc One Revised"
    with pytest.raises(ValueError, match="not found"):
        st.update_document(99, "nope")
    with pytest.raises(ValueError, match="non-empty"):
        st.update_document(10, "   ")


def test_ingest_is_append_only_and_compaction_folds(spark, store):
    """Ingest must cost O(batch), not O(corpus): each batch lands as one new
    immutable segment plus a manifest — earlier segments' files are never
    rewritten. compact_chunks() folds the segment list back into a single
    partition-pruned layout with identical content; readers pinned to the
    pre-compaction version still see their snapshot."""
    import os

    store.ingest_chunks(_chunk_rows(spark, 30, library_id=1))
    seg1 = os.path.join(store.root, "chunks", "seg_1")
    assert os.path.isdir(seg1)
    mtimes = {
        f: os.path.getmtime(os.path.join(seg1, f)) for f in os.listdir(seg1)
    }
    store.ingest_chunks(_chunk_rows(spark, 20, library_id=2, start_doc=50))
    store.ingest_chunks(_chunk_rows(spark, 10, library_id=1, start_doc=90))
    # three versions = three manifests, segment 1 untouched by later ingests
    assert os.path.exists(store._chunks_manifest_path(3))
    assert {
        f: os.path.getmtime(os.path.join(seg1, f)) for f in os.listdir(seg1)
    } == mtimes
    before = sorted(
        (r.chunk_id, r.library_id, r.text)
        for r in store.read_chunks().collect()
    )
    assert len(before) == 60

    v = store.compact_chunks()
    after = sorted(
        (r.chunk_id, r.library_id, r.text)
        for r in store.read_chunks().collect()
    )
    assert after == before
    # compacted layout is a plain partitioned dir (pruning restored)
    assert any(
        d.startswith("library_id=")
        for d in os.listdir(store._chunks_path(v))
    )
    # pinned reader: version 3 (manifest) still readable post-compaction
    pinned = store.read_chunks(version=3)
    assert pinned.count() == 60


def test_merge_on_read_tombstones_and_sequence_rule(spark, store):
    """Deletes/updates are O(matched) tombstone files, not corpus rewrites —
    and a chunk_id re-ingested AFTER its tombstone is visible again
    (sequence rule: a delete masks only lower-seq segments)."""
    import os

    store.ingest_chunks(_chunk_rows(spark, 20, library_id=1))
    seg1 = os.path.join(store.root, "chunks", "seg_1")
    mtimes = {
        f: os.path.getmtime(os.path.join(seg1, f)) for f in os.listdir(seg1)
    }
    victim_doc = 2  # doc_ids are 0..4 (i % 5)
    n_victim = (
        store.read_chunks().filter(F.col("document_id") == victim_doc).count()
    )
    assert n_victim > 0
    store.delete_documents(
        spark.createDataFrame([(victim_doc,)], "document_id long")
    )
    after = store.read_chunks()
    assert after.filter(F.col("document_id") == victim_doc).count() == 0
    assert after.count() == 20 - n_victim
    # the delete wrote a tombstone, not a rewrite: segment files untouched,
    # no new full version dir
    assert {
        f: os.path.getmtime(os.path.join(seg1, f)) for f in os.listdir(seg1)
    } == mtimes
    assert not os.path.exists(store._chunks_path(2))

    # re-ingest one of the deleted chunk ids -> visible (newer seq wins)
    revived = store.read_chunks(version=1).filter(
        F.col("document_id") == victim_doc
    ).limit(1)
    rid = revived.collect()[0]["chunk_id"]
    store.ingest_chunks(revived.drop("similarity_threshold"))
    assert (
        store.read_chunks().filter(F.col("chunk_id") == rid).count() == 1
    )

    # update: old text masked, new visible, exactly one row for the id
    store.update_chunk(
        rid, text="replacement text for revived chunk", compute_embedding=True
    )
    rows = store.read_chunks().filter(F.col("chunk_id") == rid).collect()
    assert len(rows) == 1 and rows[0]["text"].startswith("replacement")


def test_search_skips_tombstones_without_rebuild(spark, store):
    """Reference parity (linear.py:53-54): chunks deleted AFTER the index
    build must not surface in search results even before a rebuild — the
    query-time tombstone skip over the (tiny) delete files."""
    store.ingest_chunks(_chunk_rows(spark, 30, library_id=1))
    store.build_index(1, n_clusters=2)
    text = "chunk text number 7 for library 1 with words"
    pre = store.search_text(1, text, k=5)
    assert pre.count() > 0
    victim = pre.collect()[0]["chunk_id"]
    victim_doc = pre.collect()[0]["document_id"]
    store.delete_documents(
        spark.createDataFrame([(victim_doc,)], "document_id long")
    )
    post = store.search_text(1, text, k=5)
    got_ids = {r["chunk_id"] for r in post.collect()}
    assert victim not in got_ids
    # rebuild reclaims: same query, still no victim, index size shrank
    store.build_index(1, n_clusters=2)
    idx, _ = store.read_index()
    assert idx.filter(F.col("chunk_id") == victim).isEmpty()


def test_each_library_keeps_its_own_index(spark, store):
    """Reference per-library IndexSnapshot (index_service.py:34-52):
    building library 2 must not hide library 1's index; each library's
    search and index_status read its own build."""
    store.ingest_chunks(_chunk_rows(spark, 30, library_id=1))
    store.ingest_chunks(_chunk_rows(spark, 12, library_id=2))
    v1 = store.build_index(1, algorithm="ivf", n_clusters=2)
    v2 = store.build_index(2, algorithm="linear")
    for lib in (1, 2):
        text = f"chunk text number 4 for library {lib} with words"
        top = sorted(store.search_text(lib, text, k=3).collect(), key=lambda r: r["rank"])
        assert top and top[0]["chunk_id"] == lib * 100000 + 4
        assert top[0]["dist"] == 0.0
    st1, st2 = store.index_status(1), store.index_status(2)
    assert (st1["index_version"], st1["algorithm"], st1["size"]) == (v1, "ivf", 30)
    assert (st2["index_version"], st2["algorithm"], st2["size"]) == (v2, "linear", 12)
    assert st1["is_built"] and st2["is_built"]
    # a pinned build of another library is a clean error
    with pytest.raises(ValueError, match="built for library 2"):
        store.search_text(1, "chunk text number 4", version=v2)


def test_pinned_version_skips_later_deletes(spark, store):
    """A search pinned to an old build skips every delete made after that
    build — also after a rebuild, whose own build record must not decide
    the pinned read's tombstones."""
    store.ingest_chunks(_chunk_rows(spark, 30))
    store.build_index(1, n_clusters=2)
    text = "chunk text number 7 for library 1 with words"
    row = store.read_chunks().filter(F.col("chunk_id") == 100007).collect()[0]
    vec = list(row["embedding"])
    assert store.search_text(1, text, k=3, version=1).collect()[0]["chunk_id"] == 100007
    store.delete_chunk(100007)
    store.build_index(1, n_clusters=2)
    for hits in (
        store.search_text(1, text, k=5, version=1),
        store.search_vector(1, vec, k=5, version=1),
        store.search_text(1, text, k=5),
    ):
        ids = {r["chunk_id"] for r in hits.collect()}
        assert len(ids) == 5 and 100007 not in ids


def test_search_reads_pointer_once(spark, store, monkeypatch):
    """A search resolves one snapshot: one read of the pointer file, so a
    concurrent build between reads can never pair one build's index with
    another build's tombstone cut-off — with or without a libraries
    table."""
    store.ingest_chunks(_chunk_rows(spark, 20))
    store.build_index(1, n_clusters=2)
    store.delete_chunk(100003)
    reads = []
    orig = VectorStore.versions

    def counting(self):
        reads.append(1)
        return orig(self)

    for libraries in (False, True):
        if libraries:  # the library check reads the search's own snapshot
            store.create_library(1, "lib-one")
        with monkeypatch.context() as m:
            m.setattr(VectorStore, "versions", counting)
            reads.clear()
            store.search_vector(1, [0.0] * 16, k=3).collect()
            assert len(reads) == 1
            reads.clear()
            store.search_text(1, "chunk text number 3", k=3).collect()
            assert len(reads) == 1


# ---- serving-path parity guards (reference schemas/search.py:22-27,
# search_service.py:126-135) + closed metadata schemas (entities.py:20-72)


def test_search_k_bounds_enforced(spark, store, monkeypatch):
    """k is an int in [1, 1000] and nprobe an int of at least 1 (not
    bools): anything else is a ValueError before the snapshot is read."""
    store.ingest_chunks(_chunk_rows(spark, 30))
    store.build_index(1, n_clusters=2)
    bad = [({"k": k}, "k must be in") for k in (0, -1, 1001)]
    bad += [({"k": k}, "k must be of type int") for k in (2.5, True, "3", None)]
    bad += [({"nprobe": n}, "nprobe must be >= 1") for n in (0, -1)]
    bad += [({"nprobe": n}, "nprobe must be of type int") for n in (2.5, True, None)]

    def unread(self):
        raise AssertionError("the snapshot was read")

    with monkeypatch.context() as m:
        m.setattr(VectorStore, "versions", unread)
        for kwargs, match in bad:
            with pytest.raises(ValueError, match=match):
                store.search_text(1, "chunk text number 1", **kwargs)
            with pytest.raises(ValueError, match=match):
                store.search_vector(1, [0.0] * 16, **kwargs)
    # boundary values are legal
    assert store.search_text(1, "chunk text number 1", k=1).count() >= 1
    assert store.search_vector(1, [0.0] * 16, k=1000).count() >= 1


def test_search_text_bounds_enforced(spark, store):
    store.ingest_chunks(_chunk_rows(spark, 30))
    store.build_index(1, n_clusters=2)
    with pytest.raises(ValueError, match="empty or whitespace"):
        store.search_text(1, "   ")
    with pytest.raises(ValueError, match="longer than"):
        store.search_text(1, "x" * 10_001)


def test_search_vector_dim_mismatch(spark, store):
    store.ingest_chunks(_chunk_rows(spark, 30))
    store.build_index(1, n_clusters=2)
    with pytest.raises(ValueError, match="query dim"):
        store.search_vector(1, [0.0] * 5)


def test_library_document_read_surface(spark, store):
    """Reference read endpoints: get-by-id / get-by-name (case-insensitive,
    per the create path's uniqueness invariant) / exists checks, each with
    a clean not-found."""
    store.create_library(1, "My Library", "desc")
    store.create_library(2, "Straße")
    store.create_document(10, 1, "Doc Title")
    assert store.get_library(1)["name"] == "My Library"
    assert store.get_library_by_name("my library")["library_id"] == 1
    assert store.get_library_by_name("strasse")["library_id"] == 2  # casefolded
    assert store.library_exists(1) and not store.library_exists(9)
    assert store.library_name_exists("MY LIBRARY")
    assert not store.library_name_exists("other")
    assert store.get_document(10)["title"] == "Doc Title"
    with pytest.raises(ValueError, match="library 9 not found"):
        store.get_library(9)
    with pytest.raises(ValueError, match="not found"):
        store.get_library_by_name("nope")
    with pytest.raises(ValueError, match="document 99 not found"):
        store.get_document(99)


def test_update_chunk_partial_fields(spark, store):
    """Reference ChunkUpdate PATCH (schemas/chunk.py:150-180): partial
    updates of embedding/indices/metadata with the schema's validators;
    text updates only recompute the embedding when asked."""
    store.ingest_chunks(_chunk_rows(spark, 5))
    cid = 100000 + 2
    store.update_chunk(cid, start_index=7, end_index=9,
                       metadata={"confidence": 0.75, "page_number": 3})
    row = store.get_chunk(cid)
    assert (row["start_index"], row["end_index"]) == (7, 9)
    assert abs(row["metadata"]["confidence"] - 0.75) < 1e-6
    # explicit embedding replaces; dim checked
    store.update_chunk(cid, embedding=[0.5] * 16)
    assert store.get_chunk(cid)["embedding"][0] == 0.5
    with pytest.raises(ValueError, match="dim"):
        store.update_chunk(cid, embedding=[0.5] * 4)
    # validators mirror the schema
    with pytest.raises(ValueError, match="end_index"):
        store.update_chunk(cid, start_index=5, end_index=3)
    with pytest.raises(ValueError, match="non-empty"):
        store.update_chunk(cid, text="   ")
    with pytest.raises(ValueError, match="confidence"):
        store.update_chunk(cid, metadata={"confidence": 1.5})
    # text update without compute_embedding keeps the stored embedding
    before = store.get_chunk(cid)["embedding"]
    store.update_chunk(cid, text="new text, embedding kept")
    after = store.get_chunk(cid)
    assert after["text"] == "new text, embedding kept"
    assert list(after["embedding"]) == list(before)


def test_chunk_get_list_count(spark, store):
    """Reference chunk read surface (GET /chunks/{id}, list-by-document,
    list-by-library, count): point lookup returns the row or a clean
    not-found; listings scope by pushed-down filters; counts agree."""
    store.ingest_chunks(_chunk_rows(spark, 20, library_id=1))
    store.ingest_chunks(_chunk_rows(spark, 10, library_id=2))
    some_id = 1 * 100000 + 0 * 100 + 3
    got = store.get_chunk(some_id)
    assert got["chunk_id"] == some_id and got["library_id"] == 1
    with pytest.raises(ValueError, match="chunk 42424242 not found"):
        store.get_chunk(42424242)
    assert store.count_chunks() == 30
    assert store.count_chunks(library_id=1) == 20
    assert store.list_chunks(library_id=2).count() == 10
    by_doc = store.list_chunks(library_id=1, document_id=0)
    assert by_doc.count() == 4  # docs cycle i % 5 over 20 rows
    # deletes are visible to the read surface (merge-on-read tombstones)
    store.delete_documents(spark.createDataFrame([(0,)], "document_id long"))
    assert store.count_chunks(library_id=1) == 16


def test_query_before_build_fails(spark, store):
    """Reference IndexNotBuiltError (tests/test_indexes.py
    query_before_build_fails): searching an ingested-but-unbuilt store is
    a clean domain error, not a storage stack trace."""
    store.ingest_chunks(_chunk_rows(spark, 10))
    with pytest.raises(ValueError, match="index not built"):
        store.search_text(1, "chunk text number 1")
    with pytest.raises(ValueError, match="index not built"):
        store.search_vector(1, [0.0] * 16)


def test_invalid_index_algorithm_rejected(spark, store):
    """Reference index factory (manager.py:17-36; tests/test_indexes.py
    create_invalid_index_type): unknown algorithm names raise — including
    'kdtree', which this engine intentionally folds into linear/IVF
    (SURVEY.md §4.1)."""
    store.ingest_chunks(_chunk_rows(spark, 10))
    for bad in ("bogus", "kdtree"):
        with pytest.raises(ValueError, match="unknown index algorithm"):
            store.build_index(1, algorithm=bad)


def test_single_vector_index(spark, store):
    """Reference tests/test_indexes.py single_vector_index: a one-chunk
    library builds (cluster count clamps to n) and returns its chunk."""
    store.ingest_chunks(_chunk_rows(spark, 1))
    store.build_index(1, algorithm="ivf", n_clusters=8)
    hits = store.search_text(1, "chunk text number 0 for library 1 with words", k=5)
    rows = hits.collect()
    assert len(rows) == 1 and rows[0]["rank"] == 1 and rows[0]["dist"] == 0.0


def test_search_scoped_to_library(spark, store):
    """Reference LibraryNotFoundError + per-library result scoping: a
    search against a different library id never returns another library's
    hits, and an id missing from the control table raises."""
    store.ingest_chunks(_chunk_rows(spark, 20, library_id=1))
    store.build_index(1, n_clusters=2)
    # no control table → filter-only path: wrong id yields zero hits
    assert store.search_text(9, "chunk text number 1 for library 1 with words").count() == 0
    # with a control table, unknown ids are a clean 404-equivalent
    store.create_library(1, "lib-one")
    with pytest.raises(ValueError, match="not found"):
        store.search_text(9, "chunk text number 1")
    with pytest.raises(ValueError, match="not found"):
        store.search_vector(9, [0.0] * 16)
    assert store.search_text(1, "chunk text number 1 for library 1 with words").count() > 0


def test_search_vector_value_bounds(spark, store):
    """Reference schemas/search.py:61-68: every query-embedding value
    bounded to ±1e6 — a validation error, not a clamp; exactly ±1e6 legal."""
    store.ingest_chunks(_chunk_rows(spark, 30))
    store.build_index(1, n_clusters=2)
    for bad in (1e6 + 1, -1e6 - 1, 2e9):
        with pytest.raises(ValueError, match="out of range"):
            store.search_vector(1, [bad] + [0.0] * 15)
    assert store.search_vector(1, [1e6, -1e6] + [0.0] * 14, k=1).count() >= 0


def test_ingest_similarity_threshold_bounds(spark, store):
    """Reference schemas/chunk.py:43-54: similarity_threshold in [0, 10];
    out-of-range rows rejected at ingest, null and boundary values kept."""
    rows = [
        (1, 0, 1, "row with null threshold kept", None, 0, None, None),
        (2, 0, 1, "row at lower boundary kept", None, 0, None, 0.0),
        (3, 0, 1, "row at upper boundary kept", None, 0, None, 10.0),
        (4, 0, 1, "row above bound rejected", None, 0, None, 10.5),
        (5, 0, 1, "row below bound rejected", None, 0, None, -0.1),
    ]
    df = spark.createDataFrame(
        rows,
        "chunk_id long, document_id long, library_id long, text string, "
        "embedding array<float>, start_index int, end_index int, "
        "similarity_threshold float",
    )
    store.ingest_chunks(df)
    kept = {r["chunk_id"] for r in store.read_chunks().collect()}
    assert kept == {1, 2, 3}


def test_library_document_metadata_bounds(spark, store):
    """Reference DocumentMetadataSchema / LibraryMetadataSchema Field
    bounds (schemas/document.py:11-34, schemas/library.py:11-33): string
    max lengths and non-negative counters raise at create time."""
    with pytest.raises(ValueError, match="longer than 255"):
        store.create_library(1, "lib", metadata={"author": "x" * 256})
    with pytest.raises(ValueError, match="longer than 50"):
        store.create_library(1, "lib", metadata={"version": "x" * 51})
    with pytest.raises(ValueError, match=">= 0"):
        store.create_library(2, "lib2", metadata={"author": "ok"})
        store.create_document(1, 2, "doc", metadata={"chunk_count": -1})
    # boundary-legal values pass
    store.create_document(2, 2, "doc2", metadata={"source": "s" * 500,
                                                  "word_count": 0})


def test_ingest_chunk_metadata_field_bounds(spark, store):
    """Reference ChunkMetadataSchema bounds (schemas/chunk.py:14-54):
    page_number >= 1, confidence in [0,1], chunk_type <= 100 chars,
    embedding_dim >= 1 — violating rows rejected at ingest, null fields
    and boundary values kept."""
    import pyspark.sql.functions as SF

    def meta(page, conf, ctype, dim):
        return SF.struct(
            SF.lit(ctype).alias("chunk_type"),
            SF.lit(None).cast("string").alias("section"),
            SF.lit(page).cast("int").alias("page_number"),
            SF.lit(conf).cast("float").alias("confidence"),
            SF.lit(None).cast("string").alias("language"),
            SF.lit(None).cast("array<string>").alias("tags"),
            SF.lit(None).cast("string").alias("embedding_model"),
            SF.lit(dim).cast("int").alias("embedding_dim"),
            SF.lit(None).cast("float").alias("similarity_threshold"),
            SF.lit(None).cast("string").alias("processed_at"),
        )

    cases = {
        1: meta(1, 0.0, "p", 16),          # all boundaries legal
        2: meta(0, 0.5, "p", 16),          # page_number < 1 → rejected
        3: meta(2, 1.5, "p", 16),          # confidence > 1 → rejected
        4: meta(2, 0.5, "x" * 101, 16),    # chunk_type > 100 chars → rejected
        5: meta(2, 0.5, "p", 0),           # embedding_dim < 1 → rejected
        6: meta(None, None, None, None),   # all-null fields → kept
    }
    rows = _chunk_rows(spark, 6, start_doc=7)
    ids = sorted(r["chunk_id"] for r in rows.select("chunk_id").collect())
    m = SF.lit(None).cast(
        "struct<chunk_type:string,section:string,page_number:int,"
        "confidence:float,language:string,tags:array<string>,"
        "embedding_model:string,embedding_dim:int,"
        "similarity_threshold:float,processed_at:string>"
    )
    for case_no, (cid, mm) in enumerate(zip(ids, cases.values())):
        m = SF.when(SF.col("chunk_id") == cid, mm).otherwise(m)
    rows = rows.withColumn("metadata", m)
    store.ingest_chunks(rows)
    kept = {r["chunk_id"] for r in store.read_chunks().collect()}
    want = {ids[0], ids[5]}  # cases 1 and 6
    assert kept == want


def test_read_chunks_pre_metadata_segment(spark, store):
    """Segments written before a column existed (no metadata /
    similarity_threshold) must read back with typed nulls, not fail
    analysis — the additive-schema-evolution rule."""
    import json as _json
    import os as _os

    store.ingest_chunks(_chunk_rows(spark, 5))
    old_seg = _os.path.join(store.root, "chunks", "seg_old")
    spark.createDataFrame(
        [(999, 0, 1, "legacy segment row", [0.0] * 16, 0, 18)],
        "chunk_id long, document_id long, library_id long, text string, "
        "embedding array<float>, start_index int, end_index int",
    ).write.parquet(old_seg)
    v = store.versions()["chunks"]
    with open(store._chunks_manifest_path(v)) as f:
        m = _json.load(f)
    m["data"].append([old_seg, 0])
    with open(store._chunks_manifest_path(v + 1), "w") as f:
        _json.dump(m, f)
    store._swap_pointer(chunks=v + 1)
    out = store.read_chunks()
    legacy = [r for r in out.collect() if r["chunk_id"] == 999]
    assert len(legacy) == 1
    assert legacy[0]["metadata"] is None
    assert legacy[0]["similarity_threshold"] is None


def test_chunk_metadata_roundtrip(spark, store):
    """ChunkMetadata as a typed struct column survives ingest → build →
    search hydration, and rows without metadata read back as NULL struct."""
    import pyspark.sql.functions as SF

    rows = _chunk_rows(spark, 20).withColumn(
        "metadata",
        SF.when(
            SF.col("chunk_id") % 2 == 0,
            SF.struct(
                SF.lit("paragraph").alias("chunk_type"),
                SF.lit("intro").alias("section"),
                ((SF.col("chunk_id") % 7) + 1).cast("int").alias("page_number"),
                SF.lit(0.9).cast("float").alias("confidence"),
                SF.lit("en").alias("language"),
                SF.array(SF.lit("t1"), SF.lit("t2")).alias("tags"),
                SF.lit("fake").alias("embedding_model"),
                SF.lit(16).alias("embedding_dim"),
                SF.lit(None).cast("float").alias("similarity_threshold"),
                SF.lit(None).cast("string").alias("processed_at"),
            ),
        ),
    )
    store.ingest_chunks(rows)
    back = store.read_chunks()
    assert "metadata" in back.columns
    tagged = back.filter(SF.array_contains("metadata.tags", "t1"))
    assert tagged.count() == 10
    assert back.filter(SF.col("metadata").isNull()).count() == 10
    # struct fields filter/project like ordinary columns
    assert (
        back.filter(SF.col("metadata.chunk_type") == "paragraph").count() == 10
    )
    # metadata rides through the index build into search hydration
    store.build_index(1, n_clusters=2)
    hits = store.search_text(1, "chunk text number 2 for library 1 with words", k=4)
    assert "metadata" in hits.columns


def test_library_document_metadata(spark, store):
    store.create_library(
        7, "lib-meta", metadata={"tags": ["prod"], "is_public": False}
    )
    libs = store.list_libraries().collect()
    assert libs[0]["metadata"]["tags"] == ["prod"]
    assert libs[0]["metadata"]["is_public"] is False
    store.create_document(
        70, 7, "doc-meta", metadata={"category": "report", "word_count": 12}
    )
    docs = store.list_documents(7).collect()
    assert docs[0]["metadata"]["category"] == "report"
    assert docs[0]["metadata"]["word_count"] == 12
    # closed schema: unknown keys rejected (frozen dataclass parity)
    with pytest.raises(ValueError, match="unknown metadata"):
        store.create_library(8, "lib-bad", metadata={"nope": 1})


def test_delete_chunk_single(spark, store):
    """DELETE /chunks/{id} twin: tombstone one row, 404 on missing, dirty
    bump, old version still readable (merge-on-read)."""
    store.ingest_chunks(_chunk_rows(spark, 6))
    v1 = store.versions()["chunks"]
    n0 = store.count_chunks()

    store.delete_chunk(100002)
    assert store.count_chunks() == n0 - 1
    assert store.read_chunks().filter(F.col("chunk_id") == 100002).isEmpty()
    # pinned reader still sees the pre-delete version
    assert (
        store.read_chunks(v1).filter(F.col("chunk_id") == 100002).count() == 1
    )
    assert store.dirty_count(1) > 0

    with pytest.raises(ValueError, match="not found"):
        store.delete_chunk(100002)  # already gone
    with pytest.raises(ValueError, match="not found"):
        store.delete_chunk(424242)


def test_control_rewrite_size_guard(spark, store):
    """The single-writer coalesce(1) metadata rewrite is legal ONLY for
    O(entities) control tables — a create that would grow one past the
    contract fails loudly, before anything is written."""
    import os

    store.MAX_CONTROL_ROWS = 2  # shrink the contract for the test
    store.create_library(1, "one")
    store.create_library(2, "two")
    before = sorted(store.list_libraries().collect(), key=lambda r: r["library_id"])
    control = store.versions()["control"]
    dirs = sorted(os.listdir(os.path.join(store.root, "control")))
    with pytest.raises(RuntimeError, match="out of contract"):
        store.create_library(3, "three")
    after = sorted(store.list_libraries().collect(), key=lambda r: r["library_id"])
    assert after == before
    assert store.versions()["control"] == control  # nothing committed
    assert sorted(os.listdir(os.path.join(store.root, "control"))) == dirs  # nor written
    # within contract: an update still commits
    store.update_library(1, name="uno")
    assert store.get_library(1)["name"] == "uno"
    assert store.versions()["control"]["libraries"] == control["libraries"] + 1


def test_compaction_keeps_deletes(spark, store):
    """A chunk deleted after the last build stays out of searches across a
    compaction, and the compaction leaves read_chunks() unchanged."""
    store.ingest_chunks(_chunk_rows(spark, 20))
    store.build_index(1, algorithm="linear")
    vec = list(store.get_chunk(100007)["embedding"])
    store.delete_chunk(100007)
    before = sorted(store.read_chunks().collect(), key=lambda r: r["chunk_id"])
    store.compact_chunks()
    assert sorted(store.read_chunks().collect(), key=lambda r: r["chunk_id"]) == before
    text = "chunk text number 7 for library 1 with words"
    for hits in (store.search_text(1, text, k=5), store.search_vector(1, vec, k=5)):
        ids = {r["chunk_id"] for r in hits.collect()}
        assert len(ids) == 5 and 100007 not in ids


class _Fault(Exception):
    pass


def test_failed_write_leaves_old_state(spark, store, monkeypatch):
    """Fail each parquet write (Spark's and pyarrow's), then the pointer
    replace, of every chunk, index and entity write in turn: a reopened
    store reads exactly the old state (pointer, rows, libraries, documents,
    dirty count, rebuild flag, index status), no pointer temp file is left
    behind, and the store then accepts the same write."""
    import os
    from functools import reduce

    import pyarrow.parquet as pq
    from pyspark.sql import DataFrame, DataFrameWriter

    store.ingest_chunks(_chunk_rows(spark, 40))
    store.build_index(1, algorithm="linear")
    # Libraries 21.. hold two chunks and one document (51..) each; library
    # 2 holds documents 31.. and 41.., the latter with one chunk each.
    store.ingest_chunks(reduce(DataFrame.unionByName, [
        *(_chunk_rows(spark, 2, library_id=20 + k) for k in range(1, 6)),
        *(_chunk_rows(spark, 1, library_id=2, start_doc=40 + k) for k in range(1, 6)),
    ]))
    store.create_library(2, "documents")
    for k in range(1, 6):
        store.create_library(20 + k, f"doomed {k}")
        store.create_document(50 + k, 20 + k, f"cascaded {k}")
        store.create_document(30 + k, 2, f"title {k}")
        store.create_document(40 + k, 2, f"doomed {k}")
    meta = os.path.join(store.root, "_meta")

    def reopen():
        return VectorStore(spark, store.root, dim=16)

    def state():
        st = reopen()
        rows = sorted(st.read_chunks().collect(), key=lambda r: r["chunk_id"])
        libs = sorted(st.list_libraries().collect(), key=lambda r: r["library_id"])
        docs = sorted(st.list_documents().collect(), key=lambda r: r["document_id"])
        return (st.versions(), rows, libs, docs, st.dirty_count(1),
                st.needs_rebuild(1), st.index_status(1))

    writes = {  # write k of each kind touches entities and rows no other write touches
        "ingest": lambda st, k: st.ingest_chunks(_chunk_rows(spark, 3, start_doc=100 + k)),
        "update": lambda st, k: st.update_chunk(100000 + k, text=f"pass {k}"),
        "delete": lambda st, k: st.delete_chunk(100020 + k),
        "build": lambda st, k: st.build_index(1, algorithm="linear"),
        "create_library": lambda st, k: st.create_library(10 + k, f"new {k}"),
        "update_document": lambda st, k: st.update_document(30 + k, f"pass {k}"),
        "delete_library": lambda st, k: st.delete_library(20 + k),
        "delete_document": lambda st, k: st.delete_document(40 + k),
    }
    for name, write in writes.items():
        k = 1
        while True:
            calls = []

            def failing(orig):
                def call(*args, **kwargs):
                    calls.append(1)
                    if len(calls) == k:
                        raise _Fault(f"{name}: step {k}")
                    return orig(*args, **kwargs)
                return call

            before = state()
            with monkeypatch.context() as m:
                m.setattr(DataFrameWriter, "parquet", failing(DataFrameWriter.parquet))
                m.setattr(pq, "write_table", failing(pq.write_table))
                m.setattr(os, "replace", failing(os.replace))
                try:
                    write(reopen(), k)
                except _Fault:
                    pass
                else:
                    break  # k is past the last step: the write went through
            assert state() == before, f"{name} failed at step {k}"
            assert not [f for f in os.listdir(meta) if f.startswith("tmp")], name
            write(reopen(), k)
            k += 1
        assert k >= 3, name  # at least one parquet write and the swap


def test_point_writes_clear_a_failed_writers_leftovers(spark, store, monkeypatch):
    """A write that fails after its parquet write and before its commit
    leaves files at the next version's directory; a point write there
    removes them first, so their rows never read back and their ids are
    never tombstoned."""
    def fail(**_):
        raise _Fault("before the swap")

    store.ingest_chunks(_chunk_rows(spark, 10))
    with monkeypatch.context() as m:
        m.setattr(store, "_swap_pointer", fail)
        with pytest.raises(_Fault):  # its delete file names 100001 and 100006
            store.delete_documents(spark.createDataFrame([(1,)], "document_id long"))
    store.delete_chunk(100000)
    want = [100000 + i for i in range(1, 10)]
    assert sorted(r["chunk_id"] for r in store.read_chunks().collect()) == want
    assert store.count_chunks() == 9

    with monkeypatch.context() as m:
        m.setattr(store, "_swap_pointer", fail)
        with pytest.raises(_Fault):
            store.ingest_chunks(_chunk_rows(spark, 5, start_doc=50))
    store.update_chunk(100001, text="updated after a failed ingest")
    assert sorted(r["chunk_id"] for r in store.read_chunks().collect()) == want
    assert store.get_chunk(100001)["text"] == "updated after a failed ingest"
    assert store.count_chunks() == 9


def test_count_chunks_reads_the_manifest(spark, store):
    """count_chunks reads the manifest's live rows, which agree with a scan
    after every kind of chunk write — a duplicated live id included, whose
    update rewrites and whose delete tombstones every live row."""
    store.create_library(1, "one")
    store.create_library(2, "two")

    def agrees():
        for lib in (None, 1, 2):
            assert store.count_chunks(lib) == store.list_chunks(library_id=lib).count(), lib

    store.ingest_chunks(_chunk_rows(spark, 10))
    store.ingest_chunks(_chunk_rows(spark, 6, library_id=2))
    agrees()
    store.ingest_chunks(_chunk_rows(spark, 1))  # 100000 again: two live rows
    agrees()
    dirty = store.dirty_count(1)
    store.update_chunk(100000, text="both copies rewritten")
    agrees()
    twins = store.list_chunks().filter(F.col("chunk_id") == 100000).collect()
    assert [r["text"] for r in twins] == ["both copies rewritten"] * 2
    assert store.dirty_count(1) == dirty + 2
    store.delete_chunk(100000)
    agrees()
    assert store.count_chunks(1) == 9 and store.dirty_count(1) == dirty + 4
    store.delete_documents(spark.createDataFrame([(1,)], "document_id long"))
    agrees()
    store.delete_library(2)
    agrees()
    assert store.count_chunks(2) == 0
    store.compact_chunks()
    agrees()
    store.ingest_chunks(_chunk_rows(spark, 1))  # 100000 after its delete
    agrees()
    assert store.count_chunks() == 8


def test_rebuild_state_reads_run_no_spark_job(spark, store):
    """needs_rebuild and index_status read JSON the snapshot holds."""
    store.ingest_chunks(_chunk_rows(spark, 30))
    store.build_index(1, algorithm="linear")
    store.delete_chunk(100003)
    assert _jobs(spark, "read-chunks", store.read_chunks().count)[0] > 0  # the tracker sees jobs
    n, (rebuild, st) = _jobs(
        spark, "rebuild-state", lambda: (store.needs_rebuild(1), store.index_status(1))
    )
    assert n == 0
    assert not rebuild and (st["size"], st["dirty_count"]) == (30, 1)


def test_library_check_adds_no_search_job(spark, store):
    """A search checks its library against the snapshot's libraries table,
    read once per table version: once warm, a search with a libraries
    table runs no more jobs than one without."""
    store.ingest_chunks(_chunk_rows(spark, 40))
    store.build_index(1, algorithm="linear")

    def search():
        return store.search_vector(1, [0.1] * 16, k=3).collect()

    search()
    without, want = _jobs(spark, "search-no-libraries", search)
    store.create_library(1, "lib-one")
    search()  # warm-up: reads the new table version
    with_table, got = _jobs(spark, "search-libraries", search)
    assert got == want
    assert with_table <= without


def test_ingest_stores_the_chunk_schema(spark, store):
    """Rows in wider types than the chunk schema — embedding array<double>
    and similarity_threshold double, as sources/ingest.py parses JSON —
    are stored in the chunk schema, so every later read of the store
    works."""
    rows = spark.createDataFrame(
        [(i, 0, 1, f"wide typed chunk {i}", [float(i)] * 16, 0, None, 5.0)
         for i in range(10)],
        "chunk_id long, document_id long, library_id long, text string, "
        "embedding array<double>, start_index long, end_index long, "
        "similarity_threshold double",
    )
    store.ingest_chunks(rows)
    assert len(store.read_chunks().collect()) == 10
    assert store.get_chunk(3)["similarity_threshold"] == 5.0
    store.build_index(1, algorithm="linear")
    hits = store.search_vector(1, [3.0] * 16, k=1).collect()
    assert [r["chunk_id"] for r in hits] == [3]
    store.update_chunk(4, text="updated wide chunk")
    store.delete_chunk(3)
    assert store.count_chunks(1) == 9


def test_pointer_without_control_key(spark, store):
    """A pointer written before the ``control`` key existed reads as a
    store with no library or document table: its chunks and index still
    serve, and the first entity write adds the key."""
    import json
    import os

    store.ingest_chunks(_chunk_rows(spark, 10))
    store.build_index(1, algorithm="linear")
    vs = store.versions()
    del vs["control"]
    with open(os.path.join(store.root, "_meta", "CURRENT"), "w") as f:
        json.dump(vs, f)
    old = VectorStore(spark, store.root, dim=16)
    assert old.list_libraries() is None and old.count_chunks(1) == 10
    assert len(old.search_vector(1, [0.1] * 16, k=3).collect()) == 3
    old.create_library(1, "one")
    assert old.versions()["control"] == {"libraries": 1}
    assert old.get_library(1)["name"] == "one"


def test_only_latest_control_versions_stay_open(spark, store):
    """Superseded library and document table versions are not kept open:
    after many entity writes, one table per kind remains."""
    store.ingest_chunks(_chunk_rows(spark, 10))
    store.build_index(1, algorithm="linear")
    store.create_library(1, "one")
    for k in range(4):
        store.create_document(k, 1, f"title {k}")
        store.update_library(1, description=f"pass {k}")
        store.search_vector(1, [0.1] * 16, k=3)
        assert store.list_documents().count() == k + 1
    control = [key for key in store._opened if isinstance(key, tuple)
               and key[0] in ("control", "library ids")]
    assert sorted(control) == [("control", "documents"), ("control", "libraries")]
    assert store._opened[("control", "libraries")][0] == store.versions()["control"]["libraries"]


def test_entity_ops_run_no_spark_job(spark, store, monkeypatch):
    """Libraries and documents live on the driver: on a store without
    chunks every entity operation runs no Spark job, and a point lookup
    returns the row its listing collects, nested metadata included. On a
    store with chunks, a cascade delete runs only its tombstone's jobs."""
    ops = {
        "create_library": lambda: store.create_library(
            1, "one", "first", metadata={"tags": ["a"], "is_public": True}),
        "create_library 2": lambda: store.create_library(2, "two"),
        "create_document": lambda: store.create_document(
            10, 1, "doc", metadata={"word_count": 3}),
        "create_document 2": lambda: store.create_document(11, 2, "other"),
        "update_library": lambda: store.update_library(2, name="Two", description="2nd"),
        "update_document": lambda: store.update_document(10, "Doc"),
        "get_library": lambda: store.get_library(1),
        "get_library_by_name": lambda: store.get_library_by_name("TWO"),
        "get_document": lambda: store.get_document(10),
        "library_exists": lambda: store.library_exists(1),
        "library_name_exists": lambda: store.library_name_exists("one"),
        "list_libraries": lambda: store.list_libraries().collect(),
        "list_documents": lambda: store.list_documents(1).collect(),
    }
    for name, op in ops.items():
        assert _jobs(spark, f"entity-{name}", op)[0] == 0, name
    lib = store.get_library(1)
    assert [r for r in store.list_libraries().collect() if r["library_id"] == 1] == [lib]
    assert lib["metadata"]["tags"] == ["a"] and lib["metadata"]["is_public"] is True
    doc = store.get_document(10)
    assert store.list_documents(1).collect() == [doc]
    assert doc["metadata"]["word_count"] == 3
    for name, op in {"delete_document": lambda: store.delete_document(11),
                     "delete_library": lambda: store.delete_library(2)}.items():
        assert _jobs(spark, f"entity-{name}", op)[0] == 0, name
    assert [r["library_id"] for r in store.list_libraries().collect()] == [1]

    store.ingest_chunks(_chunk_rows(spark, 4))
    tombstone, inner = store._tombstone, []

    def counted(*args, **kwargs):  # the commit's last step: no job follows it
        n, out = _jobs(spark, "entity-cascade-tombstone", lambda: tombstone(*args, **kwargs))
        inner.append(n)
        return out

    monkeypatch.setattr(store, "_tombstone", counted)
    assert _jobs(spark, "entity-cascade", lambda: store.delete_library(1))[0] == 0
    assert inner[0] > 0 and store.count_chunks() == 0


@pytest.mark.parametrize("write, metadata", [
    ("library", {"author": 5}),
    ("library", {"tags": "a"}),
    ("library", {"is_public": "yes"}),
    ("document", {"word_count": "x"}),
    ("document", {"chunk_count": True}),
    ("document", {"word_count": 2**31}),
    ("chunk", {"page_number": "1"}),
    ("chunk", {"confidence": "high"}),
    ("chunk", {"tags": ["a", 1]}),
])
def test_metadata_of_wrong_type_is_a_value_error(spark, store, write, metadata):
    """A metadata value that is not of its field's declared type is a clean
    ValueError, before anything is written."""
    store.create_library(1, "lib")
    if write == "chunk":
        store.ingest_chunks(_chunk_rows(spark, 2))
    before = store.versions()
    with pytest.raises(ValueError, match="must be of type"):
        if write == "library":
            store.create_library(2, "lib2", metadata=metadata)
        elif write == "document":
            store.create_document(10, 1, "doc", metadata=metadata)
        else:
            store.update_chunk(100001, metadata=metadata)
    assert store.versions() == before


def test_read_index_runs_no_spark_job(spark, store):
    """A new index version opens with pinned schemas — the schemas and rows
    an inferring read finds — so no inference job runs."""
    import os

    store.ingest_chunks(_chunk_rows(spark, 20))
    v = store.build_index(1, n_clusters=2, algorithm="ivf")
    n, (idx, cents) = _jobs(spark, "read-index", store.read_index)
    assert n == 0
    path = os.path.join(store.root, "index", f"v{v}")
    for got, inferred in ((idx, spark.read.parquet(path)),
                          (cents, spark.read.parquet(path + "/_centroids"))):
        assert got.schema == inferred.schema
        assert sorted(got.collect()) == sorted(inferred.collect())


@pytest.mark.parametrize("method, args, kwargs", [
    ("create_library", (2, "x"), {"description": 5}),
    ("create_library", ("3", "y"), {}),
    ("create_library", (True, "z"), {}),
    ("create_library", (4, 4), {}),
    ("update_library", (1,), {"name": 5}),
    ("update_library", ("1",), {"description": "d"}),
    ("create_document", (10, 1, 7), {}),
    ("create_document", (10.0, 1, "t"), {}),
    ("create_document", (10, "1", "t"), {}),
    ("update_document", (11, b"t"), {}),
    ("update_document", (True, "t"), {}),
    *((method, (bad,), {}) for method in ("get_chunk", "update_chunk", "delete_chunk")
      for bad in ("3", True, 3.5, None)),
    ("update_chunk", (100001,), {"text": 5}),
    ("update_chunk", (100001,), {"start_index": "7"}),
    ("create_library", (None, "nameless"), {}),
    ("create_document", (None, None, "doc"), {}),
    ("create_document", (None, 1, "doc"), {}),
    ("create_document", (12, None, "doc"), {}),
])
def test_scalar_field_of_wrong_type_is_a_value_error(spark, store, method, args, kwargs):
    """Ids and chunk indices are ints (not bools); names, titles,
    descriptions and chunk texts are strings: anything else is a clean
    ValueError, before anything is written. An id is never None."""
    store.create_library(1, "lib")
    store.create_document(11, 1, "doc")
    if method.endswith("_chunk"):
        store.ingest_chunks(_chunk_rows(spark, 2))
    before = store.versions()
    with pytest.raises(ValueError, match="must be of type"):
        getattr(store, method)(*args, **kwargs)
    assert store.versions() == before


# ---- one search: held copies, streamed files and the Spark reference ---------


def _streamed(monkeypatch):
    """Hold no library's index rows: every search of any size streams its
    probed cluster files, as a search above the size gate does."""
    monkeypatch.setattr(store_mod, "DRIVER_SEARCH_MAX_VALUES", 0)


def _hits(df):
    return sorted((r.asDict(recursive=True) for r in df.collect()),
                  key=lambda r: (r["rank"], r["chunk_id"]))


def _spark_search(spark, store, library_id, vector, k, nprobe, version=None):
    """The search as a Spark plan over ``read_index()``: probes from the
    stored centroids, the exact top-k of the probed rows minus the
    snapshot's tombstones, then the payload join and the threshold filter,
    which keeps a null threshold. The store's numpy search must equal it."""
    import numpy as np
    from functools import reduce

    from pyspark.sql import DataFrame

    from stackai_vector_db_spark.operators.ivf import local_probes_df
    from stackai_vector_db_spark.operators.knn import brute_force_topk, local_queries_df

    snap = store._snapshot(library_id, version)
    idx, cents = store.read_index(snap.index)
    qpair = (0, [float(x) for x in np.asarray(vector, dtype=np.float32)])
    idx = idx.filter(F.col("library_id") == library_id)
    probes = local_probes_df(spark, [qpair], cents, cents.collect(), nprobe)
    cand = idx.join(F.broadcast(probes.select("cluster_id").distinct()), "cluster_id")
    if snap.dead:
        dead = reduce(DataFrame.unionByName,
                      (spark.read.schema("chunk_id long").parquet(p) for p in snap.dead))
        cand = cand.join(F.broadcast(dead), "chunk_id", "left_anti")
    hits = brute_force_topk(
        local_queries_df(spark, [qpair]), cand, k, id_col="chunk_id", vec_col="embedding"
    ).withColumnRenamed("vec_id", "chunk_id")
    payload = idx.select("chunk_id", "document_id", "text", "similarity_threshold", "metadata")
    return (
        F.broadcast(hits).join(payload, "chunk_id")
        .filter(F.col("similarity_threshold").isNull()
                | (F.col("dist") <= F.col("similarity_threshold")))
        .select("qid", "chunk_id", "document_id", "dist", "rank", "text", "metadata")
    )


def test_driver_and_spark_paths_return_the_same_hits(spark, store, monkeypatch):
    """A search over a held copy, a streamed search and a streamed search
    of three rows per block each return the dtypes and rows of the Spark
    reference plan, nested metadata included — on IVF and linear indexes,
    with tombstones newer than the build, thresholds (one dropping a
    middle-ranked hit), ties on id between duplicate vectors, k past the
    candidate count, a pinned version, and an empty result where every
    probed row is deleted."""
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((48, 16)).astype(np.float32)
    vecs[3] = vecs[2] + np.float32(0.01)  # rank 3 of a search at chunk 2
    blank = {n: None for n, _ in CHUNK_METADATA_FIELDS}
    rows = []
    for i, v in enumerate(vecs):
        thr = 0.0 if i % 7 == 3 else 9.9 if i % 7 == 5 else None
        meta = {**blank, "chunk_type": "p", "page_number": i + 1, "tags": ["t", str(i)]}
        rows.append((i, i // 4, 1, f"chunk {i}", v.tolist(), thr, meta if i % 2 else None))
    for j in range(6):  # duplicates of chunks 0..5 under other ids
        rows.append((100 + j, 50, 1, f"copy {j}", vecs[j].tolist(), None, None))
    for i in range(12):
        v = rng.standard_normal(16).astype(np.float32)
        rows.append((200 + i, 60 + i // 3, 2, f"other {i}", v.tolist(), None, None))
    for i in range(3):
        rows.append((300 + i, 70, 3, f"gone {i}", vecs[i].tolist(), None, None))
    store.ingest_chunks(spark.createDataFrame(
        [(c, d, lib, t, e, 0, None, thr, m) for c, d, lib, t, e, thr, m in rows],
        "chunk_id long, document_id long, library_id long, text string, "
        "embedding array<float>, start_index int, end_index int, "
        f"similarity_threshold float, metadata {CHUNK_METADATA_DDL}",
    ))
    pinned = store.build_index(1, algorithm="ivf", n_clusters=4)
    store.build_index(2, algorithm="linear")
    store.build_index(3, algorithm="linear")
    store.delete_chunk(1)
    store.delete_documents(spark.createDataFrame([(2,), (70,)], "document_id long"))
    store.build_index(1, algorithm="ivf", n_clusters=4)
    store.delete_chunk(7)
    store.delete_chunk(203)

    q = rng.standard_normal(16).astype(np.float32).tolist()
    text = store_mod.fake_embedding_py("chunk 5", 16)
    searches = {  # name: (library, vector, k, nprobe, version)
        "tie on id, middle hit dropped": (1, vecs[2].tolist(), 10, 4, None),
        "one probe": (1, q, 10, 1, None),
        "k past the candidates": (1, q, 1000, 2, None),
        "pinned version": (1, vecs[0].tolist(), 20, 4, pinned),
        "text": (1, text, 10, 2, None),
        "linear": (2, q, 1000, 1, None),
        "all deleted": (3, vecs[0].tolist(), 5, 1, None),
    }

    def search(name, lib, vec, k, nprobe, version):
        if name == "text":
            return store.search_text(lib, "chunk 5", k=k, nprobe=nprobe)
        return store.search_vector(lib, vec, k=k, nprobe=nprobe, version=version)

    for name, args in searches.items():
        reference = _spark_search(spark, store, *args)
        held = search(name, *args)
        with monkeypatch.context() as m:
            _streamed(m)
            streamed = search(name, *args)
            m.setattr(store_mod, "_BLOCK_VALUES", 3 * 16)  # three rows per block
            blocked = search(name, *args)
        for df in (held, streamed, blocked):
            assert df.dtypes == reference.dtypes, name
        assert _hits(held) == _hits(streamed) == _hits(blocked) == _hits(reference), name
    hits = _hits(store.search_vector(1, vecs[2].tolist(), k=10, nprobe=4))
    assert [(h["chunk_id"], h["rank"]) for h in hits[:3]] == [(2, 1), (102, 2), (103, 4)]
    assert any(h["metadata"] and h["metadata"]["tags"] == ["t", str(h["chunk_id"])] for h in hits)
    assert len(_hits(store.search_vector(2, q, k=1000))) == 11
    assert _hits(store.search_vector(3, vecs[0].tolist(), k=5)) == []
    pinned_hits = _hits(store.search_vector(1, vecs[0].tolist(), k=20, nprobe=4, version=pinned))
    assert not {1, 7, 8, 9, 10, 11} & {h["chunk_id"] for h in pinned_hits}


def test_warm_search_runs_no_spark_job(spark, store):
    """A search runs no Spark job — vector or text, with tombstones and a
    libraries table, the first after a build included — and still returns
    a DataFrame."""
    from pyspark.sql import DataFrame

    store.ingest_chunks(_chunk_rows(spark, 40))
    store.build_index(1, algorithm="ivf", n_clusters=4)
    store.delete_chunk(100003)
    store.create_library(1, "lib-one")
    text = "chunk text number 7 for library 1 with words"
    vec = list(store.get_chunk(100007)["embedding"])
    first, _ = _jobs(spark, "first-search", lambda: _hits(store.search_vector(1, vec, k=5)))
    assert first == 0  # the index version and its centroids open with pyarrow
    for name, search in {"vector": lambda: store.search_vector(1, vec, k=5),
                         "text": lambda: store.search_text(1, text, k=5)}.items():
        n, df = _jobs(spark, f"warm-search-{name}", lambda: search())
        m, hits = _jobs(spark, f"warm-collect-{name}", lambda: _hits(df))
        assert isinstance(df, DataFrame)
        assert (n, m) == (0, 0), name
        assert hits[0]["chunk_id"] == 100007 and hits[0]["dist"] == 0.0


@pytest.mark.parametrize("path", ["driver", "streamed"])
def test_only_latest_index_versions_stay_open(spark, store, monkeypatch, path):
    """A library's held index rows and dead ids stay open for its newest
    build only, and a streamed search holds its dead ids alone: after three
    builds with a search after each, then a delete and a search, one entry
    of each kind remains."""
    if path == "streamed":
        _streamed(monkeypatch)
    store.ingest_chunks(_chunk_rows(spark, 20))
    for _ in range(3):
        v = store.build_index(1, algorithm="linear")
        store.search_vector(1, [0.1] * 16, k=3).collect()
    store.delete_chunk(100003)
    store.search_vector(1, [0.1] * 16, k=3).collect()
    kinds = {"driver": ["dead", "index"], "streamed": ["dead"]}[path]
    assert sorted(store._opened) == [(kind, 1) for kind in kinds]
    assert all(store._opened[key][0] == v for key in store._opened)


def test_driver_copies_stay_within_the_budget(spark, store, monkeypatch):
    """The driver copies held across libraries stay within 4 ×
    DRIVER_SEARCH_MAX_VALUES bytes: past it, the least recently searched
    library's copy and dead ids are dropped, never the copy just searched."""
    for lib in (1, 2):
        store.ingest_chunks(_chunk_rows(spark, 20, library_id=lib))
        store.build_index(lib, algorithm="linear")
    store.delete_chunk(100003)
    store.delete_chunk(200003)
    vec = list(store.get_chunk(100007)["embedding"])

    def held():
        return sorted(key for key in store._opened if key[0] in ("index", "dead"))

    want = _hits(store.search_vector(1, vec, k=5))
    store.search_vector(2, vec, k=5)
    assert held() == [("dead", 1), ("dead", 2), ("index", 1), ("index", 2)]
    # 20 × 16 values: each library passes the gate, but two copies (and
    # even one, with its ids and payload) are over the 1,280-byte budget.
    monkeypatch.setattr(store_mod, "DRIVER_SEARCH_MAX_VALUES", 20 * 16)
    store.search_vector(2, vec, k=5)
    assert held() == [("dead", 2), ("index", 2)]
    assert _hits(store.search_vector(1, vec, k=5)) == want
    assert held() == [("dead", 1), ("index", 1)]


# Arrow allocations of a load or a search, each counted apart from the
# process's (its own statistics over the default pool). Module-lived: a
# buffer must never outlive the pool it was allocated from.
_POOLS = {name: pa.proxy_memory_pool(pa.default_memory_pool())
          for name in ("load", "small", "large")}


def _peak(fn, pool: str):
    """(``fn()``, its peak allocation): the Python/numpy peak (tracemalloc)
    plus the peak of Arrow pool ``pool``, which ``fn`` allocates from."""
    import tracemalloc

    default = pa.default_memory_pool()
    pa.set_memory_pool(_POOLS[pool])
    tracemalloc.start()
    try:
        out = fn()
        py_peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
        pa.set_memory_pool(default)
    return out, py_peak + _POOLS[pool].max_memory()


def test_driver_copy_load_peak_stays_near_what_it_keeps(spark, store):
    """Loading a library's driver copy streams each index file in batches,
    so its peak allocation stays within a small multiple of the bytes the
    copy keeps: the whole table, a flattened copy of the matrix and the
    casts are never alive at once."""
    store.ingest_chunks(_chunk_rows(spark, 20000))
    v = store.build_index(1, n_clusters=2, algorithm="ivf")
    ix, peak = _peak(lambda: store._load_local(v, 1), "load")
    assert sum(len(ids) for _, ids, *_ in ix.blocks) == 20000
    assert all(mat.shape[1] == 16 for _, _, mat, *_ in ix.blocks)
    held = ix.nbytes
    del ix
    assert _POOLS["load"].bytes_allocated() == 0
    assert peak <= 1.75 * held, (peak, held)


def test_streamed_search_peak_does_not_grow_with_the_library(spark, store, monkeypatch):
    """A streamed search holds one batch plus k rows: over a library four
    times larger, its peak allocation stays within 1.25× the smaller
    library's. The larger library is four ingests of the smaller's size, so
    its index files are as large and only their number grows: Parquet
    decodes a whole page per column, however small the batch, so a file's
    size sets a floor under the peak that a library's size does not."""
    store.ingest_chunks(_chunk_rows(spark, 4000, library_id=1))
    for j in range(4):
        store.ingest_chunks(_chunk_rows(spark, 4000, library_id=2, start_doc=40 * j))
    for lib in (1, 2):
        store.build_index(lib, algorithm="linear")
    _streamed(monkeypatch)
    vec = list(store.get_chunk(100007)["embedding"])
    for lib in (1, 2):  # warm: first-call allocations are no search's
        store.search_vector(lib, vec, k=10)
    small, small_peak = _peak(lambda: _hits(store.search_vector(1, vec, k=10)), "small")
    large, large_peak = _peak(lambda: _hits(store.search_vector(2, vec, k=10)), "large")
    assert len(small) == len(large) == 10
    assert large_peak <= 1.25 * small_peak, (small_peak, large_peak)


def test_dead_ids_read_each_delete_file_once(spark, store, monkeypatch):
    """A search reads each delete file newer than its build once: after
    another delete, only the new file is read."""
    reads = []
    read_table = store_mod.pq.read_table

    def counted(path, *args, **kwargs):
        reads.append(os.path.basename(path))
        return read_table(path, *args, **kwargs)

    monkeypatch.setattr(store_mod.pq, "read_table", counted)
    store.ingest_chunks(_chunk_rows(spark, 20))
    store.build_index(1, algorithm="linear")
    vec = list(store.get_chunk(100007)["embedding"])
    gone = set()
    for cid in (100007, 100008, 100009):
        store.delete_chunk(cid)
        gone.add(cid)
        assert not gone & {h["chunk_id"] for h in _hits(store.search_vector(1, vec, k=20))}
    store.search_vector(1, vec, k=20)
    assert [r for r in reads if r.startswith("del_")] == ["del_2", "del_3", "del_4"]


@pytest.mark.parametrize("test", [
    test_search_skips_tombstones_without_rebuild,
    test_similarity_threshold_post_filter,
    test_search_scoped_to_library,
    test_pinned_version_skips_later_deletes,
    test_parallel_readers_during_rebuild,
    test_dead_ids_read_each_delete_file_once,
    test_warm_search_runs_no_spark_job,
], ids=lambda t: t.__name__)
def test_search_on_the_streamed_path(spark, store, monkeypatch, test):
    """The search tests above hold their small indexes on the driver; each
    runs here again with every search streamed from the index files, as
    above the size gate."""
    _streamed(monkeypatch)
    if "monkeypatch" in test.__code__.co_varnames[:test.__code__.co_argcount]:
        test(spark, store, monkeypatch)
    else:
        test(spark, store)


def test_ingest_rejects_embeddings_of_another_dim(spark, store, monkeypatch):
    """An ingested embedding is empty (the build embeds it) or of the
    store's dim; rows of any other dim are rejected, as update_chunk
    rejects them, so held and streamed searches rank the same stored rows."""
    rows = [(i, 1, 1, f"chunk {i}", e, 0, None) for i, e in enumerate([
        [0.5] * 15, [0.5] * 17, [0.5] * 16, [], None, [0.25] * 17, [0.25] * 16, [0.75] * 15,
    ])]
    store.ingest_chunks(spark.createDataFrame(
        rows, "chunk_id long, document_id long, library_id long, text string, "
        "embedding array<float>, start_index int, end_index int"))
    assert sorted(r["chunk_id"] for r in store.read_chunks().collect()) == [2, 3, 4, 6]
    store.build_index(1, algorithm="linear")
    driver = store.search_vector(1, [0.5] * 16, k=10)
    with monkeypatch.context() as m:
        _streamed(m)
        streamed = store.search_vector(1, [0.5] * 16, k=10)
    assert _hits(driver) == _hits(streamed)
    assert [h["chunk_id"] for h in _hits(driver)][:2] == [2, 6]


# ---- chunk point operations: pyarrow on the driver ---------------------------


def test_point_operations_run_no_spark_job(spark, store):
    """get_chunk, update_chunk (embedding included), delete_chunk and
    count_chunks run no Spark job, over several segments and delete files."""
    import numpy as np

    store.ingest_chunks(_chunk_rows(spark, 20))
    store.ingest_chunks(_chunk_rows(spark, 5, library_id=2))
    store.delete_documents(spark.createDataFrame([(1,)], "document_id long"))
    text = "a point update, embedded on the driver"
    ops = {
        "get_chunk": lambda: store.get_chunk(100003),
        "update_chunk": lambda: store.update_chunk(100003, text=text, compute_embedding=True),
        "delete_chunk": lambda: store.delete_chunk(200002),
        "count_chunks": lambda: (store.count_chunks(), store.count_chunks(2)),
    }
    for name, op in ops.items():
        assert _jobs(spark, f"point-{name}", op)[0] == 0, name
    row = store.get_chunk(100003)
    assert row["text"] == text
    assert list(row["embedding"]) == [float(x) for x in
                                      np.float32(store_mod.fake_embedding_py(text, 16))]
    assert store.count_chunks() == store.read_chunks().count() == 19


def test_spark_reads_the_pyarrow_written_files(spark, store, monkeypatch):
    """A point write's one-row segment and delete file are plain parquet
    to Spark: read_chunks returns what get_chunk does, build_index indexes
    the updated row, and a held and a streamed search both find it and
    skip the deleted ids, those deleted after the build included."""
    store.ingest_chunks(_chunk_rows(spark, 20))
    text = "rewritten on the driver"
    store.update_chunk(100003, text=text, compute_embedding=True,
                       metadata={"page_number": 2, "tags": ["x"]})
    store.delete_chunk(100005)
    spark_row = store.read_chunks().filter(F.col("chunk_id") == 100003).collect()
    assert spark_row == [store.get_chunk(100003)]
    assert spark_row[0]["metadata"]["tags"] == ["x"]
    assert store.read_chunks().filter(F.col("chunk_id") == 100005).isEmpty()
    store.build_index(1, algorithm="linear")
    store.delete_chunk(100007)  # newer than the build
    vec = list(store.get_chunk(100003)["embedding"])

    def searches():
        return [_hits(store.search_vector(1, vec, k=20)), _hits(store.search_text(1, text, k=20))]

    driver = searches()
    with monkeypatch.context() as m:
        _streamed(m)
        streamed = searches()
    assert driver == streamed
    for hits in driver:
        ids = [h["chunk_id"] for h in hits]
        assert ids[0] == 100003 and hits[0]["dist"] == 0.0
        assert len(ids) == 18 and not {100005, 100007} & set(ids)


def test_point_reader_reads_spark_written_segments(spark, store):
    """The pyarrow reader reads Spark's append segments and a compacted
    partitionBy(library_id) directory, which keeps library_id in its
    directory names: the rows equal Spark's, and library_id survives an
    update of a compacted row."""
    store.ingest_chunks(_chunk_rows(spark, 10))
    store.ingest_chunks(_chunk_rows(spark, 5, library_id=2))

    def spark_row(cid):
        return store.read_chunks().filter(F.col("chunk_id") == cid).collect()

    for cid in (100004, 200002):
        assert [store.get_chunk(cid)] == spark_row(cid)
    store.compact_chunks()
    for cid in (100004, 200002):
        assert [store.get_chunk(cid)] == spark_row(cid)
    store.update_chunk(200002, start_index=3)
    row = store.get_chunk(200002)
    assert (row["library_id"], row["start_index"]) == (2, 3)
    assert spark_row(200002) == [row]
    store.delete_chunk(200003)
    with pytest.raises(ValueError, match="chunk 200003 not found"):
        store.get_chunk(200003)
    assert store.count_chunks(2) == store.list_chunks(library_id=2).count() == 4
