"""Brute-force k-nearest-neighbor search — the engine's flagship operator.

Reference parity: the kNN cross join + top-k reducer of the linear index
(``app/indexes/linear.py:45-61``: loop over all vectors, distance per pair,
sort, truncate to k) and the base-class clamp/sort contract
(``app/indexes/base.py:143-169``). The reference is O(N·D) per query on one
core; here the same semantics are a declarative plan Spark parallelizes:

    queries ⨯ vectors → distance column → per-query top-k

Two physical strategies, identical results:

- ``window``: crossJoin (query side broadcast) + ``row_number()`` over
  (qid ORDER BY dist, vec_id). Simple, fully declarative; shuffles Q·N rows
  — fine for small Q·N, the baseline for correctness.
- ``prereduce`` (the 100 TB path): per input partition, a vectorized Arrow
  batch computes local top-k per query with numpy (Q·B distance matrix), so
  only Q·k·P rows survive to the final exact window. Shuffle volume drops
  from Q·N to Q·k·P (P = #partitions) — the mapPartitions-heap pattern from
  SURVEY.md §4.2. Lossless: local and global selection use the same total
  order (round(dist, 6), vec_id).

Determinism contract (SURVEY.md §7.3): distances accumulate in float64 and
are rounded to 6 decimals *before* ranking; ties break on vec_id. This makes
Spark, numpy, and the DuckDB oracle agree exactly.
"""

from __future__ import annotations

from typing import Iterator, Literal

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from stackai_vector_db_spark.functions.vector import cosine_distance, euclidean_distance

Metric = Literal["euclidean", "cosine"]

ROUND = 6


def distance_col(metric: Metric, a, b):
    if metric == "euclidean":
        return euclidean_distance(a, b)
    if metric == "cosine":
        return cosine_distance(a, b)
    raise ValueError(f"unknown metric {metric!r}")


def brute_force_topk(
    queries: DataFrame,
    vectors: DataFrame,
    k: int,
    metric: Metric = "euclidean",
    strategy: Literal["window", "prereduce"] = "window",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query row.

    Returns columns: ``qid, vec_id, dist (double, rounded), rank (int)``.
    ``k`` is clamped to the vector count implicitly (LIMIT past end is a
    no-op — reference clamp at ``base.py:160-166`` is free here).
    """
    if strategy == "prereduce":
        reduced = _local_topk(queries, vectors, k, metric, qid_col, qvec_col, id_col, vec_col)
        return _rank_topk(reduced, k)

    if metric == "cosine":
        # Hoist self-norms out of the cross join: each side computes its norm
        # once per ROW, so the per-PAIR cost drops from 3 interpreted HOF
        # aggregates to 1 (bit-identical values — see
        # functions.vector.cosine_distance_prenormed).
        from stackai_vector_db_spark.functions.vector import (
            cosine_distance_prenormed,
            vector_norm,
        )

        qn = queries.withColumn("__qnorm", vector_norm(F.col(qvec_col)))
        vn = vectors.withColumn("__vnorm", vector_norm(F.col(vec_col)))
        pairs = vn.crossJoin(F.broadcast(qn))
        dist = F.round(
            cosine_distance_prenormed(
                F.col(qvec_col), F.col(vec_col), F.col("__qnorm"), F.col("__vnorm")
            ),
            ROUND,
        )
    else:
        pairs = vectors.crossJoin(F.broadcast(queries))
        dist = F.round(distance_col(metric, F.col(qvec_col), F.col(vec_col)), ROUND)
    scored = pairs.select(
        F.col(qid_col).alias("qid"),
        F.col(id_col).alias("vec_id"),
        dist.alias("dist"),
    )
    return _rank_topk(scored, k)


def local_queries_df(spark, qpairs, qid_col: str = "qid", qvec_col: str = "qvec",
                     qid_type: str = "long", vec_type: str = "float"):
    """A bounded query set as a (qid <qid_type>, qvec array<vec_type>)
    LocalRelation.

    Built via a ``VALUES`` literal rather than ``spark.createDataFrame``:
    the latter yields a pickled-rows ``Scan ExistingRDD`` whose broadcast
    (e.g. the re-rank hydration join) runs a Spark job through a Python
    worker per query call; a LocalRelation broadcast is assembled on the
    driver with no job (r11 optimization round). Float literals use
    ``repr`` (shortest exact roundtrip): exact for double, and exact for
    float32-sourced values under the double→float cast; any non-finite
    component falls back to ``createDataFrame`` since SQL float literals
    cannot spell inf/nan. ``qid_type``/``vec_type`` let a caller mirror
    its source dtypes exactly (r12 — the ivf scoring join reuses this)."""
    import math

    pairs = [(int(q), [float(x) for x in v]) for q, v in qpairs]
    if pairs and all(math.isfinite(x) for _, v in pairs for x in v):
        vals = ", ".join(
            "(%d, CAST(array(%s) AS array<%s>))"
            % (q, ",".join(repr(x) for x in v), vec_type)
            for q, v in pairs
        )
        df = spark.sql(
            f"SELECT CAST(col1 AS {qid_type}) q, col2 v FROM VALUES {vals}"
        )
        return df.select(F.col("q").alias(qid_col), F.col("v").alias(qvec_col))
    return spark.createDataFrame(
        pairs, f"{qid_col} {qid_type}, {qvec_col} array<{vec_type}>"
    )


def rerank_exact(
    candidates: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: Metric = "euclidean",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact re-rank of an ANN shortlist — the refine stage of multi-stage
    retrieval (FAISS's IVFADC+refine pattern): a cheap first stage (ADC /
    LSH / IVF) produces ``(qid, vec_id)`` candidates, then only those rows
    are hydrated with their raw vectors and ranked by the EXACT metric.

    Scale shape: the candidate set is Q·shortlist rows — a vanishing
    fraction of the corpus — so the hydration join keyed on the vector id
    shuffles candidates, not vectors (at scale the vectors side is
    bucketed/partitioned by id and the join prunes); the query vectors
    broadcast. Quantization error then affects only which candidates make
    the shortlist, never their final order — recall@k rises with shortlist
    size at O(shortlist) exact-distance cost per query, vs O(N) for
    brute force.

    Returns ``qid, vec_id, dist (double, rounded), rank`` like
    ``brute_force_topk``, so recall is directly comparable."""
    # distinct: a multi-probe first stage (LSH buckets, overlapping IVF
    # probes) may emit the same (qid, vec_id) twice; without dedup the
    # duplicate would occupy two ranks and silently shrink effective k.
    # Candidates are Q·shortlist rows, so the exchange is negligible.
    cand = candidates.select(
        F.col(qid_col).alias("qid"), F.col(id_col).alias("vec_id")
    ).distinct()
    hyd = cand.join(
        vectors.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("__v")
        ),
        "vec_id",
    )
    qs = queries.select(
        F.col(qid_col).alias("qid"), F.col(qvec_col).alias("__q")
    )
    scored = hyd.join(F.broadcast(qs), "qid").select(
        "qid",
        "vec_id",
        F.round(distance_col(metric, F.col("__q"), F.col("__v")), ROUND).alias(
            "dist"
        ),
    )
    return _rank_topk(scored, k)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", "vec_id", "dist", "rank")
    )


def _local_topk(
    queries: DataFrame,
    vectors: DataFrame,
    k: int,
    metric: Metric,
    qid_col: str,
    qvec_col: str,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Arrow-batched per-partition top-k pre-reduction.

    The query set is collected to the driver and closed over — by the
    reference's own serving contract it is small (single vector per request,
    k ≤ 1000, ``app/core/config.py:49-50``), while the vector table is the
    100 TB side that stays distributed.
    """
    import numpy as np

    qrows = queries.select(qid_col, qvec_col).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    qmat = np.array([r[1] for r in qrows], dtype=np.float64)  # Q × D

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            vids = pdf[id_col].to_numpy(dtype=np.int64)
            vmat = np.array(list(pdf[vec_col]), dtype=np.float64)  # B × D
            dists = _block_dists(qmat, vmat, metric)
            kk = min(k, vmat.shape[0])
            out_q, out_v, out_d = [], [], []
            for qi in range(qmat.shape[0]):
                order = np.lexsort((vids, dists[qi]))[:kk]
                out_q.append(np.full(kk, qids[qi]))
                out_v.append(vids[order])
                out_d.append(dists[qi][order])
            yield pd.DataFrame(
                {
                    "qid": np.concatenate(out_q),
                    "vec_id": np.concatenate(out_v),
                    "dist": np.concatenate(out_d),
                }
            )

    return vectors.select(
        F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col)
    ).mapInPandas(part, schema="qid long, vec_id long, dist double")


def _block_dists(qmat, vmat, metric: Metric):
    """Q × B distance matrix in float64, rounded to ROUND decimals — the
    single numeric convention every Arrow kernel in the engine shares, so
    local pre-reductions and the exact final window always agree."""
    import numpy as np

    if metric == "euclidean":
        d2 = (
            (qmat * qmat).sum(axis=1)[:, None]
            - 2.0 * (qmat @ vmat.T)
            + (vmat * vmat).sum(axis=1)[None, :]
        )
        dists = np.sqrt(np.maximum(d2, 0.0))
    else:
        qn = np.linalg.norm(qmat, axis=1)[:, None]
        vn = np.linalg.norm(vmat, axis=1)[None, :]
        norms = qn * vn
        sim = np.divide(qmat @ vmat.T, norms, out=np.zeros_like(norms), where=norms != 0)
        dists = np.where(norms == 0, 1.0, 1.0 - sim)
    return np.round(dists, ROUND)
