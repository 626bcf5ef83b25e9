"""Scale probe: measure the engine's kNN strategies on synthetic data well
beyond the fixture sizes (default 200k × 64-dim, ~100× the sf0.1
embeddings table). Prints one JSON line per configuration.

The pseudo-random vectors are generated JVM-side (hash-mixed sequence →
uniform floats), so generation is parallel and deterministic — no driver
materialization.

Usage: python tools/scale_probe.py [n_vectors] [dim] [uniform|clustered]

``store`` mode times ``VectorStore`` searches instead: it builds an IVF
index of n × dim uniform vectors in a temporary store, then prints one JSON
line per (kept, k, nprobe) with k in {10, 100} and nprobe in {1, 4, 8}: the
p50 of 12 warm searches, each collected, and the peak allocation of one
more search (Python/numpy by tracemalloc plus Arrow's pool). ``kept`` false
streams every search from the index files, true holds the library's rows
on the driver, whatever the index size (``DRIVER_SEARCH_MAX_VALUES``).

Usage: python tools/scale_probe.py store [n_vectors] [dim] [clusters]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from stackai_vector_db_spark.session import get_spark  # noqa: E402
from stackai_vector_db_spark.operators.knn import brute_force_topk  # noqa: E402
from stackai_vector_db_spark.operators.ivf import (  # noqa: E402
    assign_clusters,
    ivf_search,
    label_mean_centroids,
)


def synth_vectors(spark, n: int, dim: int, partitions: int, mode: str = "uniform"):
    """Deterministic pseudo-random vectors; label = id mod 16 (for
    centroid grouping).

    - ``uniform``: component = mixed-hash of (id, i) in [-0.5, 0.5) —
      the WORST case for quantization/clustering (distances concentrate,
      no cluster structure), so recall numbers are adversarial floors.
    - ``clustered``: component = hash-derived center(label, i) + 1/10th
      amplitude noise — the mixture-of-clusters geometry real embedding
      models produce, where IVF/PQ recall is representative."""
    def comp(i):
        uid = (
            (F.col("id") * 2654435761 + (i + 1) * 40503) % 100003
        ).cast("double") / 100003.0 - 0.5
        if mode != "clustered":
            return uid
        center = (
            ((F.col("id") % 16) * 31 * 2654435761 + (i + 1) * 7919) % 1009
        ).cast("double") / 1009.0 - 0.5
        return center + uid / 10.0

    return (
        spark.range(0, n, 1, partitions)
        .select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)), comp
            ).alias("embedding"),
            (F.col("id") % 16).cast("int").alias("label"),
        )
    )


def store_probe(n: int, dim: int, clusters: int) -> None:
    """The ``store`` mode: see the module docstring."""
    import shutil
    import statistics
    import tempfile
    import tracemalloc

    import pyarrow as pa

    from stackai_vector_db_spark.plans import store as store_mod
    from stackai_vector_db_spark.plans.store import VectorStore

    spark = get_spark(app_name="scale-probe-store")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="scale_probe_store_")
    pool = pa.proxy_memory_pool(pa.default_memory_pool())
    try:
        vecs = synth_vectors(spark, n, dim, spark.sparkContext.defaultParallelism)
        store = VectorStore(spark, root, dim=dim)
        t0 = time.perf_counter()
        store.ingest_chunks(vecs.select(
            F.col("vec_id").alias("chunk_id"),
            (F.col("vec_id") % 1000).alias("document_id"),
            F.lit(1).cast("long").alias("library_id"),
            F.concat(F.lit("vector "), F.col("vec_id").cast("string")).alias("text"),
            F.col("embedding").cast("array<float>").alias("embedding"),
            F.lit(0).alias("start_index"),
            F.lit(None).cast("int").alias("end_index"),
        ))
        store.build_index(1, n_clusters=clusters, algorithm="ivf")
        build_s = round(time.perf_counter() - t0, 1)
        queries = [r["embedding"] for r in vecs.filter(F.col("vec_id") < 12).collect()]
        for kept, gate in ((False, 0), (True, 1 << 62)):
            store_mod.DRIVER_SEARCH_MAX_VALUES = gate
            for k in (10, 100):
                for nprobe in (1, 4, 8):
                    def search(q):
                        return store.search_vector(1, q, k=k, nprobe=nprobe).collect()

                    search(queries[-1])  # warm
                    times = []
                    for q in queries:
                        t0 = time.perf_counter()
                        search(q)
                        times.append(time.perf_counter() - t0)
                    default = pa.default_memory_pool()
                    pa.set_memory_pool(pool)
                    tracemalloc.start()
                    try:
                        search(queries[0])
                        peak = tracemalloc.get_traced_memory()[1]
                    finally:
                        tracemalloc.stop()
                        pa.set_memory_pool(default)
                    print(json.dumps({
                        "metric": "store_search", "n": n, "dim": dim, "clusters": clusters,
                        "build_s": build_s, "kept": kept, "k": k, "nprobe": nprobe,
                        "p50_ms": round(statistics.median(times) * 1000, 1),
                        "peak_bytes": peak + pool.max_memory(),
                    }), flush=True)
                    pool = pa.proxy_memory_pool(pa.default_memory_pool())
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "store":
        args = [int(a) for a in sys.argv[2:]]
        return store_probe(*args, *(400_000, 64, 8)[len(args):])
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    dim = int(sys.argv[2]) if len(sys.argv) > 2 else 64
    mode = sys.argv[3] if len(sys.argv) > 3 else "uniform"
    k, nq = 10, 8

    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism

    vecs = synth_vectors(spark, n, dim, par, mode=mode).persist()
    vecs.count()  # materialize
    # Warm Python workers so strategy timings are comparable.
    spark.range(64).mapInPandas(lambda it: it, schema="id long").count()

    q = vecs.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )

    import sys as _sys

    class _Progress(dict):
        """Print each metric as it lands (stderr) — a probe that dies
        mid-run (e.g. OOM at a bigger N) still reports every completed
        phase instead of losing the whole run."""

        def __setitem__(self, key, value):
            print(f"PROBE {key}={value}", file=_sys.stderr, flush=True)
            super().__setitem__(key, value)

    results = _Progress()
    exact = None
    for strategy in ("window", "prereduce"):
        t0 = time.perf_counter()
        out = brute_force_topk(q, vecs, k, strategy=strategy)
        got = {(r["qid"], r["vec_id"]) for r in out.collect()}
        results[f"knn_{strategy}_s"] = round(time.perf_counter() - t0, 3)
        assert len(got) == nq * k
        exact = got

    def recall(df) -> float:
        """recall@k of an approximate result set vs the exact top-k."""
        got = {(r["qid"], r["vec_id"]) for r in df.select("qid", "vec_id").collect()}
        return round(len(got & exact) / len(exact), 4)

    t0 = time.perf_counter()
    cents = label_mean_centroids(vecs).persist()
    cents.count()
    assigned = vecs.join(
        assign_clusters(vecs, cents).select("vec_id", "cluster_id"), "vec_id"
    ).persist()
    assigned.count()
    results["ivf_build_s"] = round(time.perf_counter() - t0, 3)

    t0 = time.perf_counter()
    ivf_out = ivf_search(q, assigned, cents, k, nprobe=2)
    results["ivf_recall_np2"] = recall(ivf_out)
    results["ivf_search_np2_s"] = round(time.perf_counter() - t0, 3)

    # kNN-graph probe: EVERY vector queries the corpus (Q = N) through the
    # cogrouped block kernel — the distributed-query path no broadcast plan
    # can serve. Cluster count follows the reference's IVF sizing
    # C ≈ √(N/2) (app/indexes/ivf.py:26): per-block work is
    # (Q/C)·(N/C)·C·dim = Q·N·dim/C, so C is THE lever that keeps the graph
    # build subquadratic — 16 coarse labels would be 20× the flops here.
    # Hash-partitioned labels stand in for trained clusters (balanced by
    # construction; the probe measures throughput, not recall).
    from stackai_vector_db_spark.operators.ivf import knn_join

    graph_c = max(64, int((n / 2) ** 0.5))
    graph_vecs = vecs.withColumn(
        "label", ((F.col("vec_id") * 2654435761) % graph_c).cast("int")
    )
    graph_cents = label_mean_centroids(graph_vecs).persist()
    graph_cents.count()
    # localCheckpoint: in production the cluster layout is a STORED table;
    # materializing mirrors that and breaks the shared-lineage ambiguity
    # between the probe side and the vector side.
    graph_side = graph_vecs.select(
        "vec_id", "embedding", F.col("label").alias("cluster_id")
    ).localCheckpoint(eager=True)
    allq = vecs.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"))
    t0 = time.perf_counter()
    graph_rows = knn_join(
        allq, graph_side, graph_cents, k, nprobe=1, exclude_self=True
    ).count()
    results["knn_graph_np1_s"] = round(time.perf_counter() - t0, 3)
    results["knn_graph_rows"] = graph_rows
    results["knn_graph_clusters"] = graph_c

    # PQ probe: codebook train on the bounded sample, distributed encode of
    # all n vectors, then ADC top-k over codes only (32× smaller scan side
    # at dim 64 / m=8) and IVF-PQ with probe pruning on top.
    from stackai_vector_db_spark.operators.pq import (
        adc_topk,
        encode_pq,
        ivf_pq_search,
        train_pq,
    )

    t0 = time.perf_counter()
    cb = train_pq(vecs, m=8, n_codes=256, seed=42, sample_cap=50_000)
    results["pq_train_s"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    codes = encode_pq(vecs, cb).persist()
    codes.count()
    results["pq_encode_s"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    adc_out = adc_topk(q, codes, cb, k)
    results["pq_adc_recall"] = recall(adc_out)
    results["pq_adc_s"] = round(time.perf_counter() - t0, 3)
    # Refine stage (FAISS IVFADC+refine): exact re-rank of an ADC
    # shortlist — quantization error then only affects shortlist
    # membership. Depth follows the measured knee (tools/refine_sweep.py:
    # recall saturates at ~0.1% of the corpus), so the probe demonstrates
    # the operating rule (~0.2% of the probed corpus) instead of a fixed
    # depth that starves at bigger N.
    from stackai_vector_db_spark.operators.knn import rerank_exact

    refine_depth = max(100, n // 500)  # ~0.2% of corpus (README operating rule)
    t0 = time.perf_counter()
    shortlist = adc_topk(q, codes, cb, k=refine_depth)
    refined = rerank_exact(shortlist, vecs, q, k)
    results["pq_refine_recall"] = recall(refined)
    results["pq_refine_s"] = round(time.perf_counter() - t0, 3)
    results["pq_refine_depth"] = refine_depth

    coded = codes.join(assigned.select("vec_id", "cluster_id"), "vec_id").persist()
    coded.count()
    t0 = time.perf_counter()
    ivfpq_out = ivf_pq_search(q, coded, cents, cb, k, nprobe=2)
    results["ivf_pq_recall_np2"] = recall(ivfpq_out)
    results["ivf_pq_search_np2_s"] = round(time.perf_counter() - t0, 3)

    # LSH ANN probe: the stored-layout path of q_ann_lsh_topk — bucket +
    # self-norm computed ONCE at build (write-time layout), then multi-probe
    # search ranks only the hamming-1 candidate buckets. With p planes the
    # candidate fraction is ~(p+1)/2^p of the corpus; recall is measured
    # against the exact cosine top-k (the metric the hyperplane family
    # preserves), not the euclidean `exact` set above.
    from stackai_vector_db_spark.operators.ann_lsh import ann_lsh_topk, bucket_col
    from stackai_vector_db_spark.functions.vector import vector_norm

    lsh_planes = 8
    t0 = time.perf_counter()
    lsh_side = (
        vecs.withColumn("bucket", bucket_col(F.col("embedding"), lsh_planes, dim))
        .withColumn("__vnorm", vector_norm(F.col("embedding")))
        .persist()
    )
    lsh_side.count()
    results["lsh_build_s"] = round(time.perf_counter() - t0, 3)
    lsh_q = lsh_side.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec"), "bucket"
    )
    t0 = time.perf_counter()
    lsh_out = ann_lsh_topk(lsh_q, lsh_side, k, dim=dim, n_planes=lsh_planes)
    lsh_got = {(r["qid"], r["vec_id"]) for r in lsh_out.collect()}
    results["lsh_search_s"] = round(time.perf_counter() - t0, 3)
    exact_cos = {
        (r["qid"], r["vec_id"])
        for r in brute_force_topk(q, vecs, k, metric="cosine").collect()
    }
    results["lsh_recall_cos"] = round(
        len(lsh_got & exact_cos) / len(exact_cos), 4
    )

    # Dedup probe: MinHash-LSH over synthetic docs from the custom source
    # (n/4 docs ≈ 10-50× the fixture corpus; near-dups exist by construction
    # since the generator's word patterns repeat with period len(_WORDS)).
    from stackai_vector_db_spark.operators.dedup import minhash_lsh_pairs
    from stackai_vector_db_spark.sources.fake_corpus import register

    register(spark)
    ndocs = max(n // 4, 1000)
    docs = (
        spark.read.format("fake_corpus")
        .option("n", ndocs)
        .option("partitions", par)
        .load()
    )
    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.5).count()
    results["minhash_lsh_s"] = round(time.perf_counter() - t0, 3)
    results["minhash_docs"] = ndocs
    results["minhash_pairs"] = pairs

    # Incremental-dedup probe: the last 10% of the corpus arrives as a new
    # batch and is deduped against the stored LSH index of the first 90% —
    # should cost a fraction of the full self-join re-run above.
    from stackai_vector_db_spark.operators.dedup import (
        build_minhash_index,
        incremental_minhash_pairs,
    )

    cut = int(ndocs * 0.9)
    old_docs = docs.filter(F.col("doc_id") < cut)
    new_docs = docs.filter(F.col("doc_id") >= cut)
    old_base, old_banded = build_minhash_index(old_docs)
    old_base = old_base.persist()
    old_banded = old_banded.persist()
    old_base.count(), old_banded.count()  # index is pre-built/stored
    t0 = time.perf_counter()
    inc_pairs = incremental_minhash_pairs(
        new_docs, old_base, old_banded, jaccard_threshold=0.5
    ).count()
    results["minhash_incremental_s"] = round(time.perf_counter() - t0, 3)
    results["minhash_incremental_pairs"] = inc_pairs

    # Span-dedup probe: cross-doc duplicated 8-token spans over the same
    # corpus — linear in corpus tokens (every span position becomes one
    # (16-byte key, id) shuffle row). The generator's repeating word
    # patterns make shared spans common, so the per-key window also sees
    # real multi-doc keys. Stable evidence = docs with ≥1 duplicated span.
    from stackai_vector_db_spark.operators.dedup import span_dup_stats

    t0 = time.perf_counter()
    span_dup_docs = (
        span_dup_stats(docs, window=8).filter(F.col("n_dup_spans") > 0).count()
    )
    results["span_dedup_s"] = round(time.perf_counter() - t0, 3)
    results["span_dedup_docs_dup"] = span_dup_docs

    # Incremental span-dedup: last 10% of the corpus as a new batch vs the
    # stored span index of the first 90% — work ∝ batch.
    from stackai_vector_db_spark.operators.dedup import (
        build_span_index,
        incremental_span_dup_stats,
    )

    span_index = build_span_index(old_docs, window=8).persist()
    span_index.count()  # the index is pre-built/stored
    t0 = time.perf_counter()
    inc_span_docs = (
        incremental_span_dup_stats(new_docs, span_index, window=8)
        .filter(F.col("n_dup_spans") > 0)
        .count()
    )
    results["span_incremental_s"] = round(time.perf_counter() - t0, 3)
    results["span_incremental_docs_dup"] = inc_span_docs

    print(
        json.dumps(
            {"metric": "scale_probe", "n": n, "dim": dim, "mode": mode, "queries": nq, **results}
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
