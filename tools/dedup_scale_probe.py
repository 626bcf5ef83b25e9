"""Dedup-stack scale probe: MinHash-LSH pair generation, canonical
selection, and span-level dedup on the deterministic ``fake_corpus``
source at an arbitrary document count — the decade-up evidence behind the
README's scale table (250k → 1.25M → 2.5M → 5M rows). Prints one JSON
line; per-phase PROBE lines stream to stderr so a run that dies mid-way
still reports completed phases.

Pair/member/dup counts are pure functions of ndocs (generator and hash
arithmetic are seed-free deterministic), so they reproduce exactly across
hosts — wall-clocks carry the host-noise band, the counts are the stable
part of the measurement.

Usage: python tools/dedup_scale_probe.py [ndocs] [phases] [period]
         [dup_per_100] [token_mixer] [n_batches]
  phases: comma-set of {pairs,components,canonical,span} (the DIRECT
    form; "components" times both component forms on the same pairs —
    see canonical_by_quality's gate) or
    {inc_build,inc_score,inc_verify,inc_canonical} (the K-batch
    ∪-decomposition against a STORED bucketed band index — the form
    whose per-step scratch is batch-sized, i.e. the shape a daily
    100 TB pipeline runs; see run_incremental). Direct and incremental
    phases cannot mix in one invocation.
  period: generator seed period (default 1,000,003 — the original,
    SATURATED past ~1M docs: every text repeats ~n/1M×, an adversarial
    ~16×-realistic dup density). Pass a prime > ndocs (e.g. 1000000007)
    for unique seeds.
  token_mixer: "linear" (default, original) keeps the chain-prone
    arithmetic token stream — at a large period this is the DEEP-CHAIN
    adversarial regime (components with diameter in the thousands);
    "hashed" scrambles the stream so only the planted dup_per_100
    fraction (default 3) duplicates — the density-matched operating
    point (r7 brief #3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from stackai_vector_db_spark.session import get_spark  # noqa: E402
from stackai_vector_db_spark.functions.text import quality_score  # noqa: E402
from stackai_vector_db_spark.operators.dedup import (  # noqa: E402
    build_minhash_index,
    canonical_by_quality,
    minhash_lsh_pairs,
    span_dup_stats,
    with_shingle_sets,
)
from stackai_vector_db_spark.sources.fake_corpus import register  # noqa: E402

INC_PHASES = {"inc_build", "inc_score", "inc_verify", "inc_canonical"}
N_BUCKETS = 64  # band-index bucket count (matches the span-index layout)


def _score_expr():
    return F.round(quality_score(F.col("text")) * 1000000.0).cast("long")


def _gen(spark, n, start, period, dup_per_100, mixer):
    """Generator slice partitioned for DATA VOLUME (≤2.5M docs/task —
    the r10 160M boundary finding), not core count."""
    par = max(spark.sparkContext.defaultParallelism, -(-n // 2_500_000))
    return (
        spark.read.format("fake_corpus")
        .option("n", n).option("start", start).option("partitions", par)
        .option("period", period).option("dup_per_100", dup_per_100)
        .option("token_mixer", mixer).load()
    )


def run_incremental(spark, ndocs, n_batches, period, dup_per_100, mixer,
                    phases, report, db="dedup_inc_probe"):
    """The doc-level ∪-decomposition of the full MinHash-LSH → canonical
    pipeline — the exact twin of the span probe's 80M form (r10 brief
    #2), shaped so no step's scratch scales with the corpus:

      inc_build  — K generator-sliced batches; each batch's band index
        ((doc_id, band, bh) from build_minhash_index) is APPENDED to one
        stored ``bucketBy(64, band, bh)`` table. Per-step shuffle = the
        batch's 4·B rows; the stored side never moves.
      inc_score  — per batch, candidates = (full index) ⋈ (index rows of
        the batch's id range) on (band, bh) with id_a < id_b: every
        candidate pair is OWNED by the batch of its greater id, so the
        K batch outputs partition the direct form's candidate set
        exactly (no cross-batch dupes, nothing missed). Bucketed layout
        on both sides ⇒ the join plans with no exchange; only the ~small
        candidate output shuffles (distinct).
      inc_verify — exact-Jaccard verification, once over all candidates:
        shingle sets are (re)derived ONLY for ids that appear in some
        candidate (semi join per generator slice — the corpus is a
        deterministic source, so regeneration replaces the ~O(corpus)
        base table a real pipeline would simply store next to its index).
        Emits the verified (id_a, id_b) parquet — byte-equivalent to
        minhash_lsh_pairs(full corpus) (identity pinned at tiny scale in
        tests/test_dedup.py and against the recorded direct 20M counts).
      inc_canonical — components + late-scored election over the stored
        verified pairs, identical to the direct form's canonical phase.

    Work ∝ batch for build/score; verify ∝ candidates; canonical ∝ E.
    Corpus size is bounded by index STORAGE (≈13 GB at 160M), never by
    per-job shuffle scratch — the property the direct 160M attempt died
    without (artifacts/dedup_probe_160m_boundary_r10.json)."""
    register(spark)
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(max(spark.sparkContext.defaultParallelism,
                -(-ndocs // 2_500_000))),
    )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    dbdir = os.path.join(wh, f"{db}.db")
    idx_tbl = f"{db}.banded"
    cand_dir = os.path.join(dbdir, "candidates")
    sh_dir = os.path.join(dbdir, "cand_shingles")
    pairs_dir = os.path.join(dbdir, "verified_pairs")
    meta_path = os.path.join(dbdir, "banded.meta.json")
    params = {"ndocs": ndocs, "n_batches": n_batches, "period": period,
              "dup_per_100": dup_per_100, "token_mixer": mixer,
              "n_buckets": N_BUCKETS}
    bsz = -(-ndocs // n_batches)  # ceil

    def batch_bounds(i):
        lo = i * bsz
        return lo, min(lo + bsz, ndocs)

    if "inc_build" in phases:
        import shutil

        spark.sql(f"DROP TABLE IF EXISTS {idx_tbl}")
        for d in (os.path.join(dbdir, "banded"), cand_dir, sh_dir, pairs_dir):
            shutil.rmtree(d, ignore_errors=True)
        t_all = time.perf_counter()
        for i in range(n_batches):
            t0 = time.perf_counter()
            lo, hi = batch_bounds(i)
            batch = _gen(spark, hi - lo, lo, period, dup_per_100, mixer)
            _, banded = build_minhash_index(batch)
            (
                banded.repartition(N_BUCKETS, "band", "bh")
                .write.bucketBy(N_BUCKETS, "band", "bh")
                .sortBy("band", "bh")
                .mode("append").format("parquet").saveAsTable(idx_tbl)
            )
            report(f"inc_build_{i}_s", round(time.perf_counter() - t0, 3))
        with open(meta_path, "w") as f:
            json.dump(params, f)
        report("inc_build_total_s", round(time.perf_counter() - t_all, 3))
        report("inc_index_rows", spark.table(idx_tbl).count())

    if phases & {"inc_score", "inc_verify", "inc_canonical"}:
        # phase-split safety (same contract as the span probe): scoring
        # against an index built with other params would silently compute
        # a different corpus's counts.
        if not os.path.isfile(meta_path):
            raise SystemExit(
                f"no stored index meta at {meta_path}; run inc_build first"
            )
        with open(meta_path) as f:
            stored = json.load(f)
        if stored != params:
            raise SystemExit(
                f"stored index was built with {stored}, this invocation "
                f"expects {params}; rebuild or match params"
            )

    if "inc_score" in phases:
        t_all = time.perf_counter()
        idx = spark.table(idx_tbl)
        left = idx.select("band", "bh", F.col("doc_id").alias("id_a"))
        total = 0
        for i in range(n_batches):
            t0 = time.perf_counter()
            lo, hi = batch_bounds(i)
            right = idx.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).select("band", "bh", F.col("doc_id").alias("id_b"))
            cand_i = (
                left.join(right, ["band", "bh"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b").distinct()
            )
            # per-batch overwrite dirs, not one append dir: a crashed
            # phase re-runs idempotently instead of double-appending
            cand_i.write.mode("overwrite").parquet(
                os.path.join(cand_dir, f"b{i}")
            )
            report(f"inc_score_{i}_s", round(time.perf_counter() - t0, 3))
        total = spark.read.parquet(os.path.join(cand_dir, "b*")).count()
        report("inc_candidates", total)
        report("inc_score_total_s", round(time.perf_counter() - t_all, 3))

    if "inc_verify" in phases:
        t_all = time.perf_counter()
        cand = spark.read.parquet(os.path.join(cand_dir, "b*"))
        ids = (
            cand.select(F.col("id_a").alias("doc_id"))
            .unionByName(cand.select(F.col("id_b").alias("doc_id")))
            .distinct()
        ).persist()
        report("inc_candidate_ids", ids.count())
        for i in range(n_batches):
            t0 = time.perf_counter()
            lo, hi = batch_bounds(i)
            sl = _gen(spark, hi - lo, lo, period, dup_per_100, mixer)
            need = sl.join(F.broadcast(ids), "doc_id", "left_semi")
            with_shingle_sets(need).write.mode("overwrite").parquet(
                os.path.join(sh_dir, f"b{i}")
            )
            report(f"inc_shingle_{i}_s", round(time.perf_counter() - t0, 3))
        ids.unpersist()
        sh = spark.read.parquet(os.path.join(sh_dir, "b*"))
        sa = sh.select(F.col("doc_id").alias("id_a"),
                       F.col("shingle_set").alias("sa"))
        sb = sh.select(F.col("doc_id").alias("id_b"),
                       F.col("shingle_set").alias("sb"))
        inter = F.size(F.array_intersect("sa", "sb")).cast("double")
        union = F.size(F.array_union("sa", "sb")).cast("double")
        verified = (
            cand.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b",
                    F.round(inter / union, 6).alias("jaccard"))
            .filter(F.col("jaccard") >= 0.5)
        )
        verified.write.mode("overwrite").parquet(pairs_dir)
        report("pairs", spark.read.parquet(pairs_dir).count())
        report("inc_verify_total_s", round(time.perf_counter() - t_all, 3))

    if "inc_canonical" in phases:
        from stackai_vector_db_spark.operators import dedup as _dedup

        t0 = time.perf_counter()
        pairs = spark.read.parquet(pairs_dir).select("id_a", "id_b")
        docs_full = _gen(spark, ndocs, 0, period, dup_per_100, mixer)
        canon = canonical_by_quality(
            None, pairs, docs=docs_full, score_expr=_score_expr(),
            edge_storage="auto",
        ).persist()
        report("members", canon.count())
        report("canonical_s", round(time.perf_counter() - t0, 3))
        report("kept_canonicals", canon.filter("is_canonical").count())
        report("cc_rounds", _dedup.LAST_ROUNDS)
        report("edge_storage_decision", _dedup.LAST_EDGE_STORAGE)
        canon.unpersist()
    return


def main() -> None:
    ndocs = int(sys.argv[1]) if len(sys.argv) > 1 else 250_000
    phases = set(
        (sys.argv[2] if len(sys.argv) > 2 else "pairs,canonical,span").split(",")
    )
    period = int(sys.argv[3]) if len(sys.argv) > 3 else 1_000_003
    dup_per_100 = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    mixer = sys.argv[5] if len(sys.argv) > 5 else "linear"
    n_batches = int(sys.argv[6]) if len(sys.argv) > 6 else 8
    spark = get_spark(app_name="dedup-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)

    if phases & INC_PHASES:
        if phases - INC_PHASES:
            raise SystemExit(
                "direct phases and inc_* phases cannot mix in one "
                f"invocation: {sorted(phases)}"
            )
        out = {"ndocs": ndocs, "n_batches": n_batches, "period": period,
               "dup_per_100": dup_per_100, "token_mixer": mixer,
               "form": "incremental"}

        def report(key, value):
            out[key] = value
            print(f"PROBE {key}={value}", file=sys.stderr, flush=True)

        db = os.environ.get("DEDUP_INC_DB", "dedup_inc_probe")
        run_incremental(
            spark, ndocs, n_batches, period, dup_per_100, mixer, phases,
            report, db=db,
        )
        # Full campaign: the counts are the artifact — leave no stored
        # state behind (the 160M index alone is ~14 GB). A phase-split
        # run must KEEP the index for the follow-up phases (same
        # contract as the span probe).
        if phases >= INC_PHASES:
            import shutil

            spark.sql(f"DROP TABLE IF EXISTS {db}.banded")
            spark.sql(f"DROP DATABASE IF EXISTS {db}")
            wh = spark.conf.get(
                "spark.sql.warehouse.dir"
            ).removeprefix("file:")
            shutil.rmtree(os.path.join(wh, f"{db}.db"), ignore_errors=True)
        else:
            print(
                f"PROBE keeping {db} stored state for follow-up phases",
                file=sys.stderr,
            )
        print(json.dumps(out))
        spark.stop()
        return
    # Partition for the DATA, not the core count: a generation/shuffle
    # partition holding more than ~2.5M docs carries band-explode sort
    # state past one task slot's share of the execution pool (measured:
    # 160M/32 = 5M docs per task OOMed the band stage even at 56 g,
    # while every notch at <= 2.5M docs/task ran at the 31 g default).
    # Scale both with ndocs; AQE coalesces the excess on small runs.
    par = max(spark.sparkContext.defaultParallelism, -(-ndocs // 2_500_000))
    spark.conf.set("spark.sql.shuffle.partitions", str(par))
    docs = (
        spark.read.format("fake_corpus")
        .option("n", ndocs)
        .option("partitions", par)
        .option("period", period)
        .option("dup_per_100", dup_per_100)
        .option("token_mixer", mixer)
        .load()
    )
    # Cache the corpus only while it is cheaper than regenerating it —
    # which stops being true exactly when the probe is disk-bound: at
    # 160M docs the deserialized text cache spills ~23 GB to the block
    # manager (measured, rdd blocks in /tmp/blockmgr-*), the margin the
    # band shuffle then dies without ("No space left"), while a
    # regeneration pass is pure CPU on a deterministic source.
    # DEDUP_PROBE_PERSIST_DOCS=0 trades the 2-3 extra generation passes
    # for that disk headroom.
    if os.environ.get("DEDUP_PROBE_PERSIST_DOCS", "1") != "0":
        docs = docs.persist()
    docs.count()
    spark.range(64).mapInPandas(lambda it: it, schema="id long").count()

    out: dict = {
        "ndocs": ndocs,
        "period": period,
        "dup_per_100": dup_per_100,
        "token_mixer": mixer,
    }

    def report(key, value):
        out[key] = value
        print(f"PROBE {key}={value}", file=sys.stderr, flush=True)

    if phases & {"pairs", "components", "canonical"}:
        # DEDUP_PROBE_PAIRS_PARQUET: cache the verified pair set across
        # probe runs. The saturated 10M pair set (390.5M rows) costs
        # ~25 min of band join + verify to rebuild and, under a
        # small-executor topology (local-cluster[4,8,6g]), its shuffle +
        # sort-spill intermediates exceed the sandbox's 80 GB scratch —
        # measured: 68 GB of executor blockmgr before the disk filled,
        # spill-run amplification from 6g heaps that the one-JVM 31g run
        # never showed. Computing pairs ONCE (any topology) and reading
        # the ~6 GB parquet lets the canonical phase be measured alone
        # under the distributed topology (r8 judge brief #6). Counts are
        # deterministic, so the cached set is byte-equivalent evidence.
        pairs_pq = os.environ.get("DEDUP_PROBE_PAIRS_PARQUET")
        t0 = time.perf_counter()
        # Reuse only a COMPLETE prior write: a crashed run leaves a dir
        # without the _SUCCESS marker (written last), and loading it would
        # record silently-truncated counts as evidence (r9 advisor).
        if pairs_pq and os.path.isfile(os.path.join(pairs_pq, "_SUCCESS")):
            pairs = spark.read.parquet(pairs_pq).persist()
            out["pairs_loaded_from"] = pairs_pq
            report("pairs", pairs.count())
        else:
            if pairs_pq and os.path.exists(pairs_pq):
                raise SystemExit(
                    f"DEDUP_PROBE_PAIRS_PARQUET={pairs_pq} exists but has no "
                    "_SUCCESS marker (partial write or not a parquet dir); "
                    "remove it before re-running"
                )
            pairs = (
                minhash_lsh_pairs(docs, jaccard_threshold=0.5)
                .select("id_a", "id_b")
                .persist()
            )
            report("pairs", pairs.count())
            report("pairs_s", round(time.perf_counter() - t0, 3))
            if pairs_pq:
                pairs.write.parquet(pairs_pq)

    if "components" in phases:
        # The crossover behind canonical_by_quality's gate: both component
        # forms on the same pairs, each until its labels are ready to join
        # — the driver form (one collect, numpy, back as a DataFrame) with
        # no ceiling, and the Spark round loop as the canonical phase runs
        # it. Their labels must agree row for row.
        from stackai_vector_db_spark.operators import dedup as _dedup

        t0 = time.perf_counter()
        local, _ = _dedup._driver_components(pairs, "doc_id", (1 << 31) - 2)
        local.count()
        report("components_driver_s", round(time.perf_counter() - t0, 3))
        t0 = time.perf_counter()
        nodes = (
            pairs.select(F.col("id_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        loop = _dedup.duplicate_components(nodes, pairs, edge_storage="auto")
        report("components", loop.count())
        report("components_loop_s", round(time.perf_counter() - t0, 3))
        report("components_loop_rounds", _dedup.LAST_ROUNDS)
        report("components_agree", local.exceptAll(loop).isEmpty()
               and loop.exceptAll(local).isEmpty())

    if "canonical" in phases:
        from stackai_vector_db_spark.operators import dedup as _dedup

        score_expr = (
            F.round(quality_score(F.col("text")) * 1000000.0).cast("long")
        )
        t0 = time.perf_counter()
        # "auto" picks DISK_ONLY for the 2E edge cache when it would crowd
        # the heap (r7 brief #2b) — at probe scale the edge set is the
        # largest resident structure and heap-cached batches evict under
        # GC pressure exactly when the loop needs them. The env knobs
        # serve the deep-chain regime (linear mixer at a large period):
        # its random-id ring components degrade the single jump's
        # per-round horizon gain, so those runs raise max_iter and/or
        # apply the shortcut more than once per round.
        # LATE_SCORE=0 forces the eager score-everything path for A/Bs of
        # the r8 members-only scoring (default: late, members only).
        max_iter = int(os.environ.get("DEDUP_PROBE_MAX_ITER", "25"))
        n_jumps = int(os.environ.get("DEDUP_PROBE_JUMPS", "1"))
        gather = os.environ.get("DEDUP_PROBE_GATHER", "1") != "0"
        late = os.environ.get("DEDUP_PROBE_LATE_SCORE", "1") != "0"
        if (max_iter, n_jumps, gather, late) != (25, 1, True, True):
            out["max_iter"], out["n_jumps"] = max_iter, n_jumps
            out["class_gather"], out["late_score"] = gather, late
        common = dict(
            edge_storage="auto", max_iter=max_iter,
            n_jumps=n_jumps, class_gather=gather,
        )
        # the driver path leaves both untouched
        _dedup.LAST_ROUNDS = _dedup.LAST_EDGE_STORAGE = None
        if late:
            canon = canonical_by_quality(
                None, pairs, docs=docs, score_expr=score_expr, **common
            ).persist()
        else:
            scored = docs.select(
                "doc_id", score_expr.alias("score_micro")
            )
            canon = canonical_by_quality(scored, pairs, **common).persist()
        report("members", canon.count())
        report("canonical_s", round(time.perf_counter() - t0, 3))
        report("kept_canonicals", canon.filter("is_canonical").count())
        # which component form ran (pair count vs the driver ceiling), and
        # the loop's pointer-doubling round count — the quantity the r6 5M
        # probe showed superlinear under O(diameter) propagation
        report("components_path",
               "driver" if _dedup.LAST_ROUNDS is None else "loop")
        report("cc_rounds", _dedup.LAST_ROUNDS)
        # the edge_storage="auto" sizing decision, folded into the
        # artifact instead of stderr-only (r10 advisory #3): capacity,
        # block-manager count, and the chosen level travel with the run
        report("edge_storage_decision", _dedup.LAST_EDGE_STORAGE)

    if "span" in phases:
        t0 = time.perf_counter()
        span = span_dup_stats(docs, window=8)
        report("span_docs_dup", span.filter("n_dup_spans > 0").count())
        report("span_s", round(time.perf_counter() - t0, 3))

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
