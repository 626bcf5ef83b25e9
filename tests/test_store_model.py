"""Model-based lifecycle fuzz for the versioned VectorStore: a random
sequence of ingest / update / delete-document / delete-chunk-via-library /
compact / build operations must leave read_chunks() and the dirty counters
agreeing with a plain Python dict model at every step. This exercises the
manifest + tombstone sequence rules (Iceberg-style: a delete masks only
lower-seq segments, re-ingest after delete revives) far beyond the
hand-written cases."""

from __future__ import annotations

import random
import shutil
import tempfile

import pytest

from stackai_vector_db_spark.plans.store import VectorStore


@pytest.fixture()
def store(spark):
    root = tempfile.mkdtemp(prefix="vstore_model_")
    yield VectorStore(spark, root, dim=8)
    shutil.rmtree(root, ignore_errors=True)


def _ingest(spark, store, model, rng, next_id):
    n = rng.randint(1, 6)
    rows = []
    for _ in range(n):
        cid = next_id[0]
        next_id[0] += 1
        # occasionally re-ingest a previously deleted id (revival rule)
        dead = [c for c in model if model[c] is None]
        if dead and rng.random() < 0.3:
            cid = rng.choice(dead)
        doc = rng.randint(0, 3)
        text = f"text for chunk {cid} take {rng.randint(0, 9)}"
        rows.append((cid, doc, 1, text, None, 0, None))
        model[cid] = text
    model["dirty"] += n
    df = spark.createDataFrame(
        rows,
        "chunk_id long, document_id long, library_id long, text string, "
        "embedding array<float>, start_index int, end_index int",
    )
    store.ingest_chunks(df, compute_embedding=False)
    # remember each chunk's document for delete-by-document
    for cid, doc, *_ in rows:
        model[("doc", cid)] = doc


def _update(store, model, rng):
    live = [c for c in model if isinstance(c, int) and model[c] is not None]
    if not live:
        return
    cid = rng.choice(live)
    new_text = f"updated {cid} r{rng.randint(0, 99)}"
    store.update_chunk(cid, text=new_text)
    model[cid] = new_text
    model["dirty"] += 1


def _delete_doc(spark, store, model, rng):
    live_docs = {
        model[("doc", c)]
        for c in model
        if isinstance(c, int) and model[c] is not None
    }
    if not live_docs:
        return
    doc = rng.choice(sorted(live_docs))
    store.delete_documents(
        spark.createDataFrame([(doc,)], "document_id long")
    )
    for c in list(model):
        if isinstance(c, int) and model[c] is not None and model[("doc", c)] == doc:
            model[c] = None


def _build(store, model):
    if any(isinstance(c, int) and t is not None for c, t in model.items()):
        store.build_index(1, algorithm="linear")
        model["dirty"] = 0


def _check(store, model):
    got = {
        r["chunk_id"]: r["text"]
        for r in (store.read_chunks() or _empty()).collect()
    }
    want = {c: t for c, t in model.items() if isinstance(c, int) and t is not None}
    assert got == want
    # delete_documents adds nothing to the dirty tally
    assert store.dirty_count(1) == model["dirty"]
    assert store.needs_rebuild(1) == (model["dirty"] / max(len(want), 1) >= 0.1)


def _empty():
    raise AssertionError("store unexpectedly empty")


def test_store_lifecycle_against_model(spark, store):
    rng = random.Random(42)
    model: dict = {"dirty": 0}
    next_id = [1000]
    ops = [_ingest, _ingest, _update, _delete_doc]  # ingest-weighted
    _ingest(spark, store, model, rng, next_id)
    for step in range(18):
        op = rng.choice(ops)
        if op is _ingest:
            _ingest(spark, store, model, rng, next_id)
        elif op is _update:
            _update(store, model, rng)
        else:
            _delete_doc(spark, store, model, rng)
        if step % 6 == 5:
            store.compact_chunks()  # folding segments must not change reads
        if step % 7 == 3:
            _build(store, model)
        _check(store, model)
