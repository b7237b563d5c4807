"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints exactly ONE JSON line:
  {"metric": "...", "value": <total_sec>, "unit": "sec",
   "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Per-query time = full execution to a driver-side materialization
(collect of the final result — all results here are small aggregates or
top-k, so collect cost is negligible versus scan/shuffle).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # scan/agg heavy
    "q1_pricing_summary",
    "q6_revenue_forecast",
    "agg_cube",
    # join heavy
    "q3_shipping_priority",
    "q5_local_supplier_revenue",
    "q9_product_profit",
    "q10_returned_items",
    "q18_large_orders",
    # semi/anti/outer join shapes
    "q4_order_priority",
    "q13_customer_distribution",
    # correlated-subquery / single-pass-rewrite shapes
    "q2_min_cost_supplier",
    "q21_suppliers_kept_waiting",
    # window / event analytics
    "window_topn_per_nation",
    "events_tumbling_window",
    "events_sessionization",
    "events_asof_join",
    "events_interval_join",
    "events_hierarchical_rollup",
    # LLM-data pipeline
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "dedup_embedding_lsh",
    "dedup_semantic_clusters",
    "decontaminate_ngram_overlap",
    "decontaminate_bloom",
    "knn_bruteforce_topk",
    "knn_lsh_bucketed",
    "text_token_stats",
    # curation (round 3): map-only + windowed packing shapes
    "text_pii_redaction",
    "sample_stratified_exact",
    "doc_chunk_windows",
    "pack_sequences_greedy",
    # late round 3: chunk-level dedup, stable splits, distributed PCA
    "dedup_boilerplate_chunks",
    "split_assign_hash",
    "embedding_pca_project",
    # round 4: CDC chunk dedup, budgeted selection, phrase search,
    # attribution windows
    "dedup_cdc_chunks",
    "select_token_budget",
    "text_phrase_search",
    "events_attribution",
    # round 6: map-only self-dedup, priority sampling, domain mixing
    "dedup_intra_doc_chunks",
    "sample_priority_weighted",
    "mix_domain_reweight",
    # round 6: retrieval + importance selection + cluster canonicalization
    "text_bm25_topk",
    "sample_dsir_importance",
    "knn_matryoshka_recall",
    "dedup_keep_best_in_cluster",
    "text_quality_logreg",
    "text_bigram_perplexity",
    "agg_weighted_median",
    # round 7: posting-list-pruned ANN probe (round-6 verdict: keep the
    # headline set monotone — membership is asserted below), shared-pass
    # weighted quartiles, weighted APSS, hybrid-retriever fusion
    "knn_ivf_probe",
    "agg_weighted_quartiles",
    "dedup_tfidf_cosine",
    "retrieval_rrf_fusion",
    "sample_priority_per_source",
    "text_vocab_stats",
    # round 7 (late): SQ8 coarse-scan ANN, held-out trigram backoff LM,
    # threshold-pruned exact heavy hitters
    "knn_sq8_rerank",
    "text_trigram_backoff",
    "text_heavy_hitters",
    # round 7 (late): decoder-in-the-gate multimodal pipelines — Arrow-
    # batched mapInPandas decode/resize/WAV-parse, the designed slow path
    "multimodal_image_pipeline",
    "multimodal_audio_features",
    "multimodal_frame_sample",
    # round 7 (late): iterative graph compute — 3 unrolled PageRank
    # iterations as one lazy plan, rank-vs-edges shuffle joins
    "graph_pagerank_tokens",
    # round 7 (late): mergeable Count-Min sketch rollup
    "agg_count_min_sketch",
    # round 7 (late): stored-codes SQ8 probe (coarse scan reads only the
    # persisted int8 index; refine joins candidates back by id)
    "knn_sq8_stored",
    # round 8: the pipeline's terminal stage (tokenize → GPT-pack →
    # shard → snapshot-committed emit, timed END TO END incl. the
    # catalog writes and the read-back), the graded nDCG ranking audit,
    # and the domain-epoch planner
    "pipeline_emit_shards",
    "retrieval_ndcg_eval",
    "mix_epoch_schedule",
    # round 8: iterative-SQL surface — Spark 4 recursive CTE (UnionLoop),
    # log-depth hierarchy walk with no shuffle inside the loop
    "relational_recursive_cte",
    # round 8: the zero-shuffle co-located bucket join (write two
    # co-bucketed pk tables, join inside the scan — timed END TO END
    # incl. both table writes, like the other lifecycle entries)
    "join_bucket_colocated",
    # round 8: the composed daily-ingest lifecycle (quality gate →
    # incremental near-dup admit → snapshot-committed append → corpus
    # read-back checksum), timed end to end incl. the catalog writes
    "pipeline_incremental_ingest",
    # round 9: perceptual-hash image near-dup (real decode + banded
    # Hamming pairs + components + keep-best) and the pinned point
    # lookup through the colocated join (1-of-8 bucket splits planned,
    # split counts oracle-gated in the result row)
    "dedup_image_phash",
    "join_bucket_colocated_lookup",
    # round 10: acoustic-fingerprint audio near-dup — the audio twin of
    # dedup_image_phash (real WAV decode + energy-sign hash + the same
    # banded Hamming machinery), completing perceptual dedup across all
    # three modalities
    "dedup_audio_fingerprint",
    # round 11: frame-majority video near-dup — the fourth and final
    # perceptual modality (PPM-stream demux + per-frame aHash + temporal
    # majority vote over the same banded Hamming machinery) — and the
    # incremental perceptual rung (today's ingest probes the stored
    # fingerprint corpus; old-vs-old never re-pairs)
    "dedup_video_fingerprint",
    "dedup_image_phash_incremental",
    # dedup_ngram_containment and dedup_minhash_recall are
    # registry+oracle-gated but, like their
    # Jaccard twin dedup_ngram_jaccard, excluded from the timing bench:
    # the exact-intersection verify over full shingle sets is the
    # deliberate-precision rung (12s at sf0.1), not the throughput path
    # (MinHash-LSH is).
]


def _assert_headline_monotone() -> None:
    """The headline set may only GROW round over round: a silently
    dropped query breaks round-over-round bench diffs (round-6 verdict —
    knn_ivf_probe fell out of the r6 map unnoticed). Compares against the
    most recent recorded BENCH_r{N}.json, if any."""
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    recs = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    if not recs:
        return
    with open(recs[-1]) as fh:
        rec = json.load(fh)
    prev = set((rec.get("parsed") or rec).get("queries") or {})
    missing = prev - set(HEADLINE)
    assert not missing, (
        f"headline bench set shrank vs {os.path.basename(recs[-1])}: "
        f"missing {sorted(missing)}"
    )


def _write_sidecar(name: str, payload: dict, directory: str | None = None) -> str:
    """Persist a full-detail JSON sidecar next to bench.py (or into
    ``directory``). The stdout summary line may shed precision or rows to
    fit the driver's tail capture; the sidecar never does — it is written
    from the payload BEFORE any truncation tier touches it."""
    directory = directory or os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(directory, name)
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1)
    return path


def main() -> None:
    _assert_headline_monotone()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from paimon_presto_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("paimon-presto-spark-bench")
    qs = entrymod.queries()

    # JVM/codegen warmup: exercise the scan, decimal-aggregate, join,
    # window, hashing, and higher-order-function code paths once so the
    # first timed queries aren't billed for JIT/codegen/page-cache startup
    # (standard JVM benchmarking practice — steady-state throughput is what
    # transfers to a long-lived cluster).
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from paimon_presto_spark.functions.hashing import md5_long
    from paimon_presto_spark.sources.testdata import TABLES, load_table

    # Touch every input once: parquet footers + OS page cache + vectorized
    # reader init. These are tiny at bench scale factors (<200 MB total).
    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    n = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    r = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.sum(F.col("n_nationkey").cast("decimal(28,10)")).alias("s"))
        # partitioned window: every registry window is partitioned, and an
        # unpartitioned one here would spam WindowExec warnings into the tail
        .withColumn("rk", F.row_number().over(Window.partitionBy("r_name").orderBy("s")))
        .collect()
    )
    # Hash + HOF (explode/zip_with/aggregate) paths used by the dedup and
    # ANN operators.
    (
        n.select(F.explode(F.split("n_name", "")).alias("s"))
        .select(md5_long(F.col("s")).cast("double").alias("h"))
        .select(
            F.aggregate(
                F.zip_with(F.array("h"), F.array("h"), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        )
        .collect()
    )

    # Two timed runs per query, best kept: single local[32] runs swing by
    # seconds on GC/scheduler noise, and the steady-state time is what
    # transfers to a long-lived cluster.
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        fn = qs[name]
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).collect()
            except Exception as exc:  # one broken query must not void the run
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
                break
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            # Queries are independent; drop any operator-internal caches so
            # one query's working set doesn't bill GC/eviction to the next.
            spark.catalog.clearCache()
        if best is not None:
            times[name] = round(best, 3)

    out = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        # Self-describing truncation (round-11 verdict #5/#8): n_timed is
        # the STABLE count of entries timed this run, and queries_file
        # names the untruncated sidecar — so a row missing from the
        # (possibly top-40-truncated) `queries` dict reads as "truncated,
        # see sidecar", never as "removed from the bench".
        "n_timed": len(times),
        "queries_file": "bench_headline.json",
        "sf": sf,
    }
    if errors:
        out["errors"] = errors

    # Stored-ANN build-vs-probe split (round-7 verdict #3): sidecar
    # timings, NOT headline rows — the headline keeps timing the full
    # entries (set stays monotone); these expose a probe-path regression
    # that would otherwise hide under one-time index-build noise.
    try:
        ann_times, _ = _stored_ann_split(spark, sf_dir)
        out["stored_ann"] = ann_times
    except Exception as exc:
        out["stored_ann"] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
    spark.catalog.clearCache()

    # Colocated point-lookup split (round-8 verdict #5): build once,
    # lookup timed apart, 1-of-8 split pinning asserted.
    try:
        out["colocated_lookup"] = _colocated_lookup_split(spark, sf_dir)
    except Exception as exc:
        out["colocated_lookup"] = {
            "error": f"{type(exc).__name__}: {exc}"[:200]
        }
    spark.catalog.clearCache()

    # Scale stress (never voids the bench): run the LLM-pipeline operators
    # once at a synthesized sf1 (10x documents/embeddings, per-replica text
    # perturbation so replicas are unrelated documents, not near-dup
    # cliques), and assert the scale-path plans stay free of
    # BroadcastNestedLoopJoin / CartesianProduct even with auto-broadcast
    # disabled — the shapes that must hold when data outgrows broadcast.
    #
    # The full scale_stress detail is printed as its OWN earlier line and
    # written to bench_scale.json: round 3's driver artifact came back
    # `parsed: null` because the single summary line outgrew the driver's
    # ~2.7 KB tail capture. The FINAL line must stay the compact summary.
    try:
        stress = _scale_stress(spark, qs, sf_dir)
    except Exception as exc:
        stress = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    _write_sidecar("bench_scale.json", stress)
    print("SCALE_STRESS " + json.dumps(stress))
    out["scale_sf1_total"] = round(
        sum(v for v in stress.get("queries", {}).values() if isinstance(v, float)), 1
    )
    out["scale_plan_violations"] = stress.get("plan_violations", -1)
    # Full per-query detail always survives on disk — the compact stdout
    # line may have to shed precision or rows to fit the driver's tail
    # capture, and nothing should be lost when it does. (The sidecar is
    # written BEFORE the truncation tiers below mutate `out`.)
    _write_sidecar("bench_headline.json", out)
    line = json.dumps(out)
    if len(line) > 2000:  # tier 1: 1-decimal values + compact separators
        out["queries"] = {k: round(v, 1) for k, v in times.items()}
        line = json.dumps(out, separators=(",", ":"))
    if len(line) > 2000:  # tier 2: keep the most expensive rows only
        keep = dict(sorted(times.items(), key=lambda kv: -kv[1])[:40])
        out["queries"] = {k: round(v, 1) for k, v in keep.items()}
        out["queries_dropped"] = len(times) - len(keep)
        line = json.dumps(out, separators=(",", ":"))
    print(line)


SCALE_QUERIES = [
    "dedup_minhash_lsh",
    "dedup_minhash_incremental",
    "dedup_embedding_lsh",
    "dedup_semantic_clusters",
    "dedup_semantic_clusters_codegen",
    "decontaminate_ngram_overlap",
    "decontaminate_bloom",
    "knn_ivf_probe",
    "dedup_exact",
    "pipeline_curate_corpus",
    "dedup_boilerplate_chunks",
    "dedup_cdc_chunks",
    "dedup_cdc_chunks_xxhash",
    "select_token_budget",
    "embedding_pca_project",
    # PLANS.md flags these four "SMJ (check at scale)" — fact×fact joins
    # where sort-merge is the intended strategy; the stress proves the
    # plans stay SMJ (no BNLJ/Cartesian) with auto-broadcast disabled.
    "sample_temperature",
    "knn_lsh_recall",
    "join_full_outer",
    "dedup_semantic_incremental",
    # round 6: cluster-canonical dedup (LSH pairs -> components -> keeper
    # agg), DSIR importance weights (two scans + 256-row broadcast), BM25
    # (postings-only shuffle), and the map-only intra-doc self-dedup —
    # each must stay BNLJ/Cartesian-free at 10x the corpus.
    "dedup_keep_best_in_cluster",
    "sample_dsir_importance",
    "text_bm25_topk",
    "dedup_intra_doc_chunks",
    # round 7: the stored-index ANN probe (build once, probe the (bucket,
    # codes) table — the FAISS production split) and the bucketed
    # weighted-median decomposition (no single-task-per-group window) —
    # both must stay BNLJ/Cartesian-free at 10x the corpus.
    "knn_ivf_pq_stored",
    "agg_weighted_median",
    # late round 7: SQ8 coarse scan (one declared BNLJ: the <=5 query
    # vectors broadcast against the corpus — the scan IS the index),
    # trigram backoff (five shuffle-joined model tables, none broadcast),
    # and heavy hitters (pigeonhole prune; candidate broadcast is bounded
    # by 8*N/T keys by construction) — each must stay clean at 10x.
    "knn_sq8_rerank",
    "text_trigram_backoff",
    "text_heavy_hitters",
    # iterative PageRank: the rank-vs-edge-list shuffle join must stay a
    # hash/SMJ join at 10x; its 3 BNLJs are the per-iteration single-row
    # dangling-mass scalars (declared below)
    "graph_pagerank_tokens",
    # round 8 (verdict #4): hybrid-retriever fusion (4th most expensive
    # headline entry), the corpus-RELATIVE df-capped APSS whose whole
    # point is scale behavior, and the stored-index APPEND path retuned
    # to a 60% split — all must stay BNLJ/Cartesian-free at 10x.
    "retrieval_rrf_fusion",
    "dedup_tfidf_cosine",
    "knn_ivf_pq_append",
    # round 8: shard emission at 10x the corpus — the plan of the
    # returned read-back is the partitioned table scan; the emit itself
    # (window over doc counts + one (source, seq_id)-keyed shuffle +
    # commit metadata) runs eagerly inside
    "pipeline_emit_shards",
    # round 8: the composed daily-ingest lifecycle at 10x, TIMING-ONLY
    # (like curate/emit it runs its stages eagerly and returns a
    # driver-local report, so the returned plan can't be shape-checked;
    # the admit path's join shapes are policed through
    # dedup_minhash_incremental's plan row, which runs the same
    # incremental band join)
    "pipeline_incremental_ingest",
    # round 9 (verdict #2): the zero-shuffle colocated join's ENTIRE
    # value proposition is scale — its sf1 plan must carry no join node
    # and no exchange for the join (asserted via SCALE_EXPECTED_NO_JOIN);
    # nDCG carries the 2 SMJ nodes PLANS.md flags "check at scale"; the
    # recursive CTE walks loop DEPTH, which must not grow with data size.
    "join_bucket_colocated",
    "retrieval_ndcg_eval",
    "relational_recursive_cte",
    # round 9: the chunk-banded Hamming pair machinery now backs TWO
    # dedup families (text SimHash + image perceptual hash share
    # hamming_banded_pairs). The registry entry only clusters exact
    # signature collisions, so the stress runs the RETUNED
    # _simhash_banded_sf1 (simhash_pairs → hamming_banded_pairs at
    # 48 bits / 4 chunks): banded equi-joins only, no all-pairs, at 10x.
    "dedup_simhash",
    # round 10 (verdict #3): the heaviest plan in PLANS.md (weighted
    # quartiles — 26 BHJ / 2 SMJ / 10 shuffles; the entry already forces
    # the full 4096-row-edge decomposition, so it runs AS-IS), and the
    # image perceptual-hash entry's own decode -> band -> components
    # composition (retuned to a corpus-sized image set; its banding core
    # was already stressed via dedup_simhash).
    "agg_weighted_quartiles",
    "dedup_image_phash",
    # round 11 (verdict #6): the audio perceptual twin at a corpus-sized
    # clip count — same splitmix64 group-pattern retune and 64-bit /
    # 4-chunk banding as _image_phash_sf1 (the registry entry's fixed
    # 48-clip corpus would make the row a no-op).
    "dedup_audio_fingerprint",
    # late round 11: the video twin, initially excluded on a
    # 5x-synth-cost ESTIMATE, re-admitted on MEASUREMENT — the
    # numpy-vectorized clip synth (one bit-array pass per batch) costs
    # less than the image row's per-pixel Python loop, and the 5x
    # per-frame decode fans out across the 32 mapInPandas partitions.
    # At sf1 the temporal majority vote becomes load-bearing: 3-of-5
    # variant edits must survive it and 1-of-5 noise bits must not, or
    # the cluster histogram shatters (see _video_fp_sf1).
    "dedup_video_fingerprint",
    # late round 11: the banded-Hamming SKEW rung under the load it
    # exists for — 20% of the corpus is ONE identical blank image, the
    # degenerate signature class banding cannot split (equal chunks
    # collide at every width). collapse_identical keeps the candidate
    # volume linear; the row self-checks its histogram and raises on a
    # broken collapse. Not a registry entry (the oracle-gated entries
    # pin the full pairwise enumeration); bench-only by design.
    "dedup_phash_skew_collapse",
]

#: Per-query BNLJ nodes that are CORRECT at any scale, asserted EXACTLY
#: (abs-difference counts as a violation, so an accidental second BNLJ
#: still trips the wire). knn_lsh_recall's single BNLJ is its brute-force
#: baseline: the 5 query vectors are explicitly broadcast against the
#: corpus — bounded by contract, and the whole point of the entry is to
#: compare LSH against that exhaustive scan.
#: bm25 / dsir each cross-join ONE single-row global aggregate (corpus
#: stats / smoothing totals) into the per-row expression — a broadcast of
#: exactly one row plans as BroadcastNestedLoopJoin by definition and is
#: bounded at any corpus size (the alternative, collecting the scalar to
#: the driver, would split the operator into two jobs for no gain).
SCALE_EXPECTED_BNLJ = {
    "knn_lsh_recall": 1,
    "sample_dsir_importance": 1,
    "text_bm25_topk": 1,
    # the SQ8 coarse stage broadcasts the <=5 query vectors against the
    # corpus scan — bounded by the query-batch contract, same class as
    # knn_lsh_recall's exhaustive baseline
    "knn_sq8_rerank": 1,
    # the final iteration's single-row dangling-mass scalar (earlier
    # iterations are behind localCheckpoint lineage cuts)
    "graph_pagerank_tokens": 1,
    # the exact-cosine ground-truth side of the nDCG audit broadcasts the
    # bounded |Q| query panel (5 vectors) against the corpus scan — the
    # same declared class as knn_lsh_recall's exhaustive baseline; every
    # recall/ranking audit pays this scan by definition, and at 100 TB
    # the panel stays a sampled constant while the scan parallelizes
    "retrieval_ndcg_eval": 1,
}

#: Entries whose sf1 executed plan must contain NO join node of any kind
#: (and therefore no join exchange): the colocated bucket join executes
#: INSIDE per-bucket scan tasks, so the only legitimate plan nodes above
#: the scan are the final rollup's aggregation + its one exchange. Any
#: "*Join" plan node means the zero-shuffle contract broke.
SCALE_EXPECTED_NO_JOIN = {"join_bucket_colocated"}

#: Exchange budget for the no-join entries (counted on the AQE final
#: plan only): the colocated join itself is exchange-free (co-located
#: bucket files merge inside scan tasks); the allowed Exchanges are the
#: final per-priority rollup's aggregation shuffle plus the ORDER BY's
#: range partitioning = 2. Anything above counts as a plan violation.
SCALE_NO_JOIN_EXCHANGE_BUDGET = {"join_bucket_colocated": 2}

# A no-join entry without an exchange budget would KeyError mid-bench
# (caught only by the except-and-record path) instead of failing the
# plan gate — keep the two dicts in lockstep at import time.
assert set(SCALE_NO_JOIN_EXCHANGE_BUDGET) == SCALE_EXPECTED_NO_JOIN, (
    "SCALE_EXPECTED_NO_JOIN and SCALE_NO_JOIN_EXCHANGE_BUDGET must cover "
    "the same entries"
)

#: Probe-ONLY plan expectations for the stored-ANN split (asserted in
#: the sf1 stress alongside SCALE_EXPECTED_BNLJ): the stored side must
#: plan as a FileScan feeding broadcast-hash joins. `bnlj` is exact
#: (sq8's one BNLJ is the <=5-query-vector broadcast against the codes
#: scan — the coarse scan IS the index, same declared class as
#: knn_sq8_rerank); `max_embeddings_scans` pins that the full-precision
#: corpus file appears only in its bounded designed roles — ivf: the
#: query batch (1 scan); sq8: the query batch coarse-coded + the query
#: batch full-precision + the id-joined candidate refine (3 scans, all
#: filter-pushed or candidate-bounded). One extra scan would mean the
#: probe is re-reading corpus vectors, i.e. the index stopped being the
#: index.
STORED_PROBE_EXPECT = {
    "knn_ivf_pq_stored_probe": {"bnlj": 0, "max_embeddings_scans": 1},
    "knn_sq8_stored_probe": {"bnlj": 1, "max_embeddings_scans": 3},
}


def _lsh_pairs_sf1(spark, sf1_dir: str):
    """dedup_embedding_lsh retuned for 10x the vectors: 8 hyperplanes →
    256 buckets, keeping per-bucket candidate volume bounded — the tuning
    rule (planes ≈ log2(n / target_bucket)) that the registry entry's
    sf0.01-sized 4-plane setting follows at ITS scale."""
    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.similarity import lsh_cosine_pairs

    emb = spark.read.parquet(os.path.join(sf1_dir, "embeddings.parquet"))
    return lsh_cosine_pairs(emb, 0.45, n_planes=8, dim=64, verify="blas")


def _semdedup_sf1(spark, sf1_dir: str):
    """dedup_semantic_clusters retuned for 10x the vectors: 32 centroids
    instead of 8, holding per-cluster population (and so the quadratic
    within-cluster pair term) constant — the 'scale k with the corpus'
    rule the operator documents. pair_backend='auto' lets the operator
    measure the populations and pick its rung: at this stress (~625
    rows/cluster, past SEMDEDUP_BLAS_MIN_CLUSTER) it takes the
    one-matmul-per-cluster BLAS path, the designed 100 TB regime."""
    from paimon_presto_spark.operators.similarity import _hyperplanes, semdedup

    emb = spark.read.parquet(os.path.join(sf1_dir, "embeddings.parquet"))
    cents = list(enumerate(_hyperplanes(64, 32, seed=7)))
    return semdedup(emb, cents, 0.35, pair_backend="auto")


def _semdedup_sf1_codegen(spark, sf1_dir: str):
    """The codegen rung at the same stress — benched alongside auto so the
    crossover claim (blas beats pair-expansion once populations reach the
    hundreds) is re-measured every round, not asserted once."""
    from paimon_presto_spark.operators.similarity import _hyperplanes, semdedup

    emb = spark.read.parquet(os.path.join(sf1_dir, "embeddings.parquet"))
    cents = list(enumerate(_hyperplanes(64, 32, seed=7)))
    return semdedup(emb, cents, 0.35, pair_backend="codegen")


def _cdc_chunks_sf1_xxhash(spark, sf1_dir: str):
    """The production CDC rung (engine-native xxhash64 boundary) at the
    sf1 stress — benched alongside the registry's portable-md5 twin so the
    xxhash-vs-md5 boundary-cost claim is re-measured every round."""
    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.dedup import remove_repeated_chunks_cdc

    docs = spark.read.parquet(os.path.join(sf1_dir, "documents.parquet"))
    out = remove_repeated_chunks_cdc(docs, "doc_id", "text",
                                     boundary_mod=4, max_count=1,
                                     boundary_hash="xxhash64")
    return out.filter(F.col("n_chunks") > 0).select(
        "doc_id", "n_chunks", "n_removed",
        F.md5("rebuilt_text").alias("rebuilt_md5"),
    )


def _semdedup_incremental_sf1(spark, sf1_dir: str):
    """dedup_semantic_incremental retuned for 10x the vectors: 32
    centroids (population-constant rule, same as _semdedup_sf1), the
    old/new split scaled to 60% of the corpus (the registry's fixed
    split=300 leaves a 300-row 'corpus' admitting 19,700 newcomers at
    sf1 — inverted asymmetry), and pair_backend='auto' so the operator
    picks its BLAS rung at these cluster populations. Round 5 ran this
    entry registry-tuned (8 clusters, codegen pairs) and it cost 57.8 s
    — a third of the whole sf1 stress."""
    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.similarity import (
        _hyperplanes,
        semdedup_incremental,
    )

    emb = spark.read.parquet(os.path.join(sf1_dir, "embeddings.parquet"))
    n = emb.count()
    split = int(n * 0.6)
    old = emb.filter(F.col("vec_id") < split)
    new = emb.filter(F.col("vec_id") >= split)
    cents = list(enumerate(_hyperplanes(64, 32, seed=7)))
    return semdedup_incremental(old, new, cents, 0.35, pair_backend="auto")


def _colocated_lookup_split(spark, data_dir: str) -> dict:
    """Time the colocated join's point-lookup path with the build paid
    once (round-8 verdict #5): build the co-bucketed orders x profile
    pair, then time (a) the full bucket-aligned join and (b) a key
    lookup whose EqualTo literal pins ONE bucket via pushFilters. The
    split counts are asserted here AND oracle-gated by the
    join_bucket_colocated_lookup entry; `violations` goes nonzero if the
    pin ever plans more than 1-of-N splits (or the full view fewer).
    Fresh handle per query — see tests/test_pushdown_reuse.py."""
    import pyspark.sql.functions as F

    from paimon_presto_spark.queries.advanced import _colocated_order_tables
    from paimon_presto_spark.sources.colocated import colocated_join

    t0 = time.perf_counter()
    t_orders, t_prof = _colocated_order_tables(spark, data_dir)
    k = (
        spark.read.parquet(os.path.join(data_dir, "orders.parquet"))
        .agg(F.min("o_orderkey").alias("k")).collect()[0]["k"]
    )
    res = {"build": round(time.perf_counter() - t0, 3)}

    def j():
        return colocated_join(
            spark, t_orders, t_prof,
            left_on="o_orderkey", right_on="l_orderkey", how="left",
        )

    t0 = time.perf_counter()
    j().collect()
    res["full_join"] = round(time.perf_counter() - t0, 3)
    res["full_splits"] = j().rdd.getNumPartitions()

    t0 = time.perf_counter()
    rows = j().filter(F.col("o_orderkey") == k).collect()
    res["lookup"] = round(time.perf_counter() - t0, 3)
    res["pinned_splits"] = (
        j().filter(F.col("o_orderkey") == k).rdd.getNumPartitions()
    )
    res["violations"] = (
        int(res["pinned_splits"] != 1)
        + int(res["full_splits"] != 8)
        + int(len(rows) != 1)
    )
    if res["violations"]:
        print(f"COLOCATED LOOKUP REGRESSION: {res}", file=sys.stderr)
    return res


def _stored_ann_split(spark, data_dir: str, with_plans: bool = False) -> tuple[dict, dict]:
    """Time the stored-ANN entries' one-time index BUILD separately from
    the probe-forever path (round-7 verdict #3: the conflated entry
    timing buried probe regressions under build noise — the contract is
    FAISS's train-once split, `similarity.py:ivf_pq_index`/`sq8_codes`).
    Returns ({"<entry>_build": sec, "<entry>_probe": sec}, plans) where
    plans (when requested) are the probe-ONLY executed-plan shape counts
    with auto-broadcast disabled — the stored side must stay a FileScan
    feeding broadcast-hash joins, with zero training/encode nodes."""
    import shutil
    import tempfile

    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.similarity import (
        ivf_pq_index,
        ivf_pq_probe_topk,
        pq_train,
        sq8_codes,
        sq8_probe_topk,
    )
    from paimon_presto_spark.queries.advanced import IVF_PROBE, _ivf_cents

    times: dict[str, float] = {}
    plans: dict[str, dict] = {}
    wh = tempfile.mkdtemp(prefix="annsplit-")
    try:
        e = spark.read.parquet(os.path.join(data_dir, "embeddings.parquet"))
        # ---- IVF-PQ: build once (train + encode + write) ----
        t0 = time.perf_counter()
        books = pq_train(e, m=8, ksub=16, iters=2, sample_n=128, dim=64)
        idx_path = os.path.join(wh, "ivfpq")
        # corpus-scale build rides the blas rung (map-only Arrow/numpy,
        # zero shuffle) — codes bit-identical to the oracle-gated
        # relational rung (tests/test_retrieval.py pins all three rungs
        # equal); same-session interleaved A/B at sf1: 3.3 -> 1.6 s
        ivf_pq_index(e, _ivf_cents(), books, encode="blas").write.mode(
            "overwrite"
        ).parquet(idx_path)
        times["knn_ivf_pq_stored_build"] = round(time.perf_counter() - t0, 3)

        # ---- IVF-PQ: probe forever (stored codes only) ----
        def ivf_probe():
            index = spark.read.parquet(idx_path)
            queries = e.filter(F.col("vec_id") < 8)
            return ivf_pq_probe_topk(
                index, queries, _ivf_cents(), books, k=10, n_probe=IVF_PROBE
            )

        t0 = time.perf_counter()
        ivf_probe().collect()
        times["knn_ivf_pq_stored_probe"] = round(time.perf_counter() - t0, 3)

        # ---- SQ8: build once (quantize + write codes) ----
        corpus = e.filter(F.col("vec_id") >= 5)
        t0 = time.perf_counter()
        codes_path = os.path.join(wh, "sq8")
        sq8_codes(corpus).write.mode("overwrite").parquet(codes_path)
        times["knn_sq8_stored_build"] = round(time.perf_counter() - t0, 3)

        # ---- SQ8: probe (coarse scan of stored codes + id-join refine) ----
        def sq8_probe():
            return sq8_probe_topk(
                spark.read.parquet(codes_path),
                corpus,
                e.filter(F.col("vec_id") < 5),
                k=10,
                coarse_k=25,
            )

        t0 = time.perf_counter()
        sq8_probe().collect()
        times["knn_sq8_stored_probe"] = round(time.perf_counter() - t0, 3)

        if with_plans:
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            try:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
                for name, mk in (
                    ("knn_ivf_pq_stored_probe", ivf_probe),
                    ("knn_sq8_stored_probe", sq8_probe),
                ):
                    p = mk()._jdf.queryExecution().executedPlan().toString()
                    plans[name] = {
                        "broadcast_nested_loop": p.count(
                            "BroadcastNestedLoopJoin"
                        ),
                        "cartesian": p.count("CartesianProduct"),
                        "broadcast_hash": p.count("BroadcastHashJoin"),
                        # the corpus-vector file may appear ONLY in its
                        # bounded designed roles, never as a full
                        # training/encode scan: the ivf probe reads it
                        # once (queries); the sq8 probe three times
                        # (query coarse-coding + query full-precision +
                        # the id-joined candidate refine) — see
                        # STORED_PROBE_EXPECT
                        "embeddings_scans": p.count("embeddings.parquet"),
                    }
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    return times, plans


def _ivf_pq_append_sf1(spark, sf1_dir: str):
    """knn_ivf_pq_append with the old/new split scaled to the sf1 corpus
    (old = leading 60% of vec ids): the registry entry's fixed split=300
    would leave a 300-vector 'stored index' admitting a 20k-vector
    increment at sf1 — inverted asymmetry, same retune rule as
    _minhash_incremental_sf1."""
    import os as _os

    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.similarity import (
        ivf_pq_index,
        ivf_pq_probe_topk,
        pq_train,
    )
    from paimon_presto_spark.queries.advanced import IVF_PROBE, _ivf_cents

    e = spark.read.parquet(os.path.join(sf1_dir, "embeddings.parquet"))
    n = e.count()
    split = int(n * 0.6)
    books = pq_train(e, m=8, ksub=16, iters=2, sample_n=128, dim=64)
    old = e.filter(F.col("vec_id") < split)
    new = e.filter(F.col("vec_id") >= split)
    # scratch lives in the repo-local .bench_sf1 (NEVER inside the data
    # dir — sf1_dir is .bench_sf1 in practice, but testdata paths must
    # stay read-only whatever the caller passes) so the returned plan
    # stays lazily readable for the stress' plan-shape pass; overwritten
    # per call
    idx_path = _os.path.join(
        _os.path.dirname(_os.path.abspath(__file__)),
        ".bench_sf1",
        "_scratch_ivfapp_old",
    )
    # blas rung for both encodes: bit-identical codes (pytest-pinned),
    # map-only — see the stored-build site above
    ivf_pq_index(old, _ivf_cents(), books, encode="blas").write.mode(
        "overwrite"
    ).parquet(idx_path)
    combined = spark.read.parquet(idx_path).unionByName(
        ivf_pq_index(new, _ivf_cents(), books, encode="blas")
    )
    queries = e.filter(F.col("vec_id") < 3)
    return ivf_pq_probe_topk(
        combined, queries, _ivf_cents(), books, k=10, n_probe=IVF_PROBE
    ).orderBy("q_id", "rnk")


def _simhash_banded_sf1(spark, sf1_dir: str):
    """dedup_simhash retuned for sf1 to drive the BANDED path: the
    registry entry clusters on exact signature collisions (one groupBy,
    no join — trivially scale-safe), but the machinery the stress must
    police is ``simhash_pairs`` → ``hamming_banded_pairs``, now backing
    both text SimHash and image perceptual-hash dedup. At 10x the corpus
    the signature widens to 48 bits / 4 chunks (12-bit chunk values →
    4096 buckets per chunk position) so per-bucket populations stay
    ~dozen-doc sized — the width-vs-corpus tuning a 100 TB run makes;
    8-bit chunks at this scale would pool hundreds of docs per bucket.
    Output is aggregated per doc (count + min hamming) so the driver
    never ships raw pairs."""
    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.dedup import simhash_pairs

    docs = spark.read.parquet(os.path.join(sf1_dir, "documents.parquet"))
    pairs = simhash_pairs(docs, bits=48, max_hamming=2, chunks=4)
    return pairs.groupBy("doc_a").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min("hamming").alias("min_hamming"),
    )


def _splitmix64(x: int) -> int:
    """splitmix64 finalizer — the group-pattern mixer both corpus-sized
    perceptual stress rows share (the registry entries' mod-256 formulas
    alias groups past 256, which at thousands of groups would weld
    unrelated clusters into giant components)."""
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def _perceptual_cluster_histogram_sf1(
    spark, sf1_dir: str, row_name: str, synth_factory, extract, sig_col: str,
    derive_groups=None, collapse_identical: bool = False,
    expected_histogram=None,
):
    """Shared engine of the corpus-sized perceptual-dedup stress rows
    (image aHash / audio fingerprint / video frame-majority / the
    skew-collapse rung): grow the media corpus to one item per sf1 doc,
    run the real Arrow-batched decoder, band at 64 bits / 4 chunks
    (16-bit chunk values -> 65536 buckets per position, the same
    width-vs-corpus tuning as ``_simhash_banded_sf1``) and resolve
    components. Output is the cluster-size histogram so the driver never
    ships per-cluster member lists. ONE implementation by design: a
    banding/budget/parallelism retune lands in every modality row or
    none (review finding, late round 11 — the skew row briefly forked
    this harness).

    ``synth_factory(n_groups)`` returns the mapInPandas synth for
    (media_id, payload); ``extract`` maps media -> (media_id, sig_col).
    ``derive_groups(n)`` maps corpus size to the synth's group count,
    raising on an incompatible size (default: the 4-variant rule,
    n % 4 == 0 -> n // 4). ``collapse_identical`` passes through to
    ``hamming_banded_pairs`` (the skew rung). ``expected_histogram(n,
    n_groups)`` makes the row SELF-CHECKING: the histogram is collected
    eagerly and must equal it exactly, else the row raises.
    """
    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.dedup import (
        connected_components,
        hamming_banded_pairs,
    )

    docs = spark.read.parquet(
        os.path.join(sf1_dir, "documents.parquet")
    ).select("doc_id")
    # The group/variant derivation (did % n_groups, did // n_groups)
    # assumes DENSE 0-based doc_ids — sparse or offset ids would push
    # variant v past its bound and silently drop those docs out of their
    # cluster (Hamming > max_hamming), skewing the histogram this row
    # times. Check loudly instead of skewing silently.
    stats = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
    ).collect()[0]
    n = stats["n"]
    if stats["lo"] != 0 or stats["hi"] != n - 1:
        raise ValueError(
            f"{row_name} needs dense 0-based doc_ids; got count={n} "
            f"min={stats['lo']} max={stats['hi']} — derive a dense "
            f"index (row_number) first"
        )
    if derive_groups is None:
        if n % 4:
            raise ValueError(
                f"{row_name} needs a corpus divisible by 4 "
                f"(4 variants per group); got count={n}"
            )
        n_groups = max(1, n // 4)
    else:
        n_groups = derive_groups(n)

    # A real media corpus enters decode with parallelism set by INPUT
    # bytes (spark.sql.files.maxPartitionBytes splits the payload scan);
    # here the synth manufactures payloads FROM a 50k-row id list that
    # parquet packs into ~8 splits, so without help the decode stage runs
    # 8-way on a 32-core session — a synth artifact, not a property of
    # the operator. Spread the ids to the session's parallelism (the ids
    # are 8 bytes each; the exchange is ~400 KB) so the Arrow-batched
    # synth+decode uses the machine the way a real payload scan would.
    # Measured (round 11, warm interleaved, sf1): video 29.0 -> 9.5 s,
    # image 10.0 -> 5.4 s, audio 7.4 -> 4.6 s.
    media = (
        docs.select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
        .mapInPandas(
            synth_factory(n_groups), schema="media_id bigint, payload binary"
        )
    )
    sigs = extract(media).select(
        F.col("media_id").alias("doc_id"), F.col(sig_col)
    )
    pairs = hamming_banded_pairs(
        sigs, sig_col=sig_col, id_col="doc_id",
        bits=64, max_hamming=3, chunks=4,
        collapse_identical=collapse_identical,
    ).select("doc_a", "doc_b")
    comp = connected_components(pairs, star_switch_budget=4)
    singles = docs.join(comp, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("component")
    )
    # comp ∪ singles already enumerates every doc exactly once, and the
    # histogram reads no docs column — no join back needed (unlike the
    # registry entries' keep-best tails, which need n_chars)
    hist_df = (
        comp.unionByName(singles)
        .groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )
    if expected_histogram is None:
        return hist_df
    hist = {
        int(r["cluster_size"]): int(r["n_clusters"])
        for r in hist_df.collect()
    }
    expected = expected_histogram(n, n_groups)
    if hist != expected:
        raise AssertionError(
            f"{row_name} histogram {hist} != expected {expected}: either "
            "the pair machinery lost edges / welded clusters, or the "
            "corpus synth drifted"
        )
    return spark.createDataFrame(
        sorted(hist.items()), "cluster_size long, n_clusters long"
    )


def _image_phash_sf1(spark, sf1_dir: str):
    """dedup_image_phash with the image corpus GROWN to the sf1 docs
    table (one 8x8 binary PPM per doc, one aHash grid cell per pattern
    bit): the registry entry's fixed 48-image corpus would make the sf1
    row a no-op. Geometry, banding and histogram output: see
    ``_perceptual_cluster_histogram_sf1``."""
    from paimon_presto_spark.operators.multimodal import (
        encode_ppm,
        extract_image_features,
    )

    def synth_factory(n_groups):
        import pandas as pd

        def synth(batches):
            for pdf in batches:
                rows = []
                for did in pdf["doc_id"]:
                    did = int(did)
                    g, v = did % n_groups, did // n_groups
                    sig = _splitmix64(g)
                    px = []
                    for r in range(8):
                        line = bytearray()
                        for c in range(8):
                            p = r * 8 + c
                            bit = bool((sig >> p) & 1)
                            if p < v:
                                bit = not bit
                            gray = 224 if bit else 32
                            line += bytes((gray, gray, gray))
                        px.append(bytes(line))
                    rows.append((did, encode_ppm(8, 8, px)))
                yield pd.DataFrame(rows, columns=["media_id", "payload"])

        return synth

    return _perceptual_cluster_histogram_sf1(
        spark, sf1_dir, "_image_phash_sf1", synth_factory,
        extract_image_features, "phash",
    )


def _audio_fp_sf1(spark, sf1_dir: str):
    """dedup_audio_fingerprint with the clip corpus GROWN to the sf1
    docs table (one 256-sample PCM-16 WAV per doc — 64 energy blocks of
    4 samples, one block per fingerprint bit; loud 800 / quiet 100,
    alternating sign so clips are zero-mean audio): the registry entry's
    fixed 48-clip corpus would make the sf1 row a no-op. Geometry,
    banding and histogram output: see
    ``_perceptual_cluster_histogram_sf1``."""
    from paimon_presto_spark.operators.multimodal import (
        extract_audio_fingerprint,
    )

    def synth_factory(n_groups):
        import io
        import wave

        import pandas as pd

        def synth(batches):
            for pdf in batches:
                rows = []
                for did in pdf["doc_id"]:
                    did = int(did)
                    g, v = did % n_groups, did // n_groups
                    sig = _splitmix64(g)
                    frames = bytearray()
                    for p in range(64):
                        bit = bool((sig >> p) & 1)
                        if p < v:
                            bit = not bit
                        amp = 800 if bit else 100
                        for i in range(4):
                            s = amp if i % 2 == 0 else -amp
                            frames += s.to_bytes(2, "little", signed=True)
                    buf = io.BytesIO()
                    with wave.open(buf, "wb") as w:
                        w.setnchannels(1)
                        w.setsampwidth(2)
                        w.setframerate(8000)
                        w.writeframes(bytes(frames))
                    rows.append((did, buf.getvalue()))
                yield pd.DataFrame(rows, columns=["media_id", "payload"])

        return synth

    return _perceptual_cluster_histogram_sf1(
        spark, sf1_dir, "_audio_fp_sf1", synth_factory,
        extract_audio_fingerprint, "afp",
    )


def _video_fp_sf1(spark, sf1_dir: str):
    """dedup_video_fingerprint with the clip corpus GROWN to the sf1
    docs table (one 5-frame 8x8 PPM stream per doc — the registry
    entry's fixed clip corpus would make the row a no-op). Geometry,
    banding and histogram output: see
    ``_perceptual_cluster_histogram_sf1``.

    This row was EXCLUDED in early round 11 on a 5x-synth-cost estimate;
    two measured facts reversed that call. (1) The per-doc synth here is
    numpy-vectorized — one ``(batch, 5, 64)`` bit-array pass instead of
    the image row's per-pixel Python loop — so five frames per clip cost
    LESS driver-side Python than one frame does there. (2) The per-frame
    decode fans out across the 32 mapInPandas partitions, so 5x decode
    work adds ~1/32 of its single-thread cost to the row's wall clock.

    Unlike the registry entry's 48-clip corpus, the temporal vote is
    load-bearing AT SCALE here, not decorative: variant edits land in
    frames {0, 2, 4} (a strict 3-of-5 majority, so the vote KEEPS them →
    within-group Hamming stays <= 3), and every clip carries one flipped
    noise bit in exactly one frame (1-of-5, which the vote must
    SUPPRESS). The noise bit is drawn from 4..63 so it can never collide
    with a variant bit (v <= 3 flips only bits 0..2) — a collision
    inside a variant-edit frame would un-flip the variant's majority and
    silently push that clip out of its cluster. If majority semantics
    regressed, every clip's suppressed noise bit would leak into its
    fingerprint and the cluster histogram would shatter — the row fails
    loudly on shape, not just on time."""
    from paimon_presto_spark.operators.multimodal import (
        extract_video_fingerprint,
    )

    def synth_factory(n_groups):
        import numpy as np
        import pandas as pd

        header = b"P6\n8 8\n255\n"  # byte-exact encode_ppm(8, 8, ...) header
        hlen = len(header)
        frame_len = hlen + 192  # 8*8 RGB
        edit_frames = (0, 2, 4)  # strict 3-of-5 majority keeps the edit

        def synth(batches):
            for pdf in batches:
                did = pdf["doc_id"].to_numpy().astype(np.uint64)
                n = len(did)
                with np.errstate(over="ignore"):  # splitmix64 wraps mod 2^64
                    g = did % np.uint64(n_groups)
                    v = did // np.uint64(n_groups)  # variant 0..3
                    x = g + np.uint64(0x9E3779B97F4A7C15)
                    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
                    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
                    sig = x ^ (x >> np.uint64(31))
                    noise_bit = np.uint64(4) + (
                        did * np.uint64(7) + np.uint64(13)
                    ) % np.uint64(60)
                p = np.arange(64, dtype=np.uint64)
                base = ((sig[:, None] >> p[None, :]) & np.uint64(1)).astype(bool)
                variant = p[None, :] < v[:, None]  # flip first v bits
                noise = p[None, :] == noise_bit[:, None]
                noise_frame = (did % np.uint64(5)).astype(np.int64)
                payload = np.empty((n, 5, frame_len), dtype=np.uint8)
                payload[:, :, :hlen] = np.frombuffer(header, dtype=np.uint8)
                for f in range(5):
                    bits = base ^ variant if f in edit_frames else base
                    bits = bits ^ (noise & (noise_frame == f)[:, None])
                    gray = np.where(bits, 224, 32).astype(np.uint8)
                    payload[:, f, hlen:] = np.repeat(gray, 3, axis=1)
                flat = payload.reshape(n, 5 * frame_len)
                yield pd.DataFrame(
                    {
                        "media_id": did.astype(np.int64),
                        "payload": [flat[i].tobytes() for i in range(n)],
                    }
                )

        return synth

    return _perceptual_cluster_histogram_sf1(
        spark, sf1_dir, "_video_fp_sf1", synth_factory,
        extract_video_fingerprint, "vfp",
    )


def _phash_skew_collapse_sf1(spark, sf1_dir: str):
    """The SKEW rung of the banded-Hamming family under the load it
    exists for: 20% of the sf1 image corpus (10k of 50k) is ONE
    identical blank frame — the degenerate mass a real perceptual corpus
    always carries (blank/black frames, silence, template pages) and the
    one shape banding cannot help with, because equal signatures collide
    in EVERY chunk bucket regardless of width: k identical images put k²
    candidate rows in each of the 4 chunk buckets. Measured here (same
    session, same corpus, pair generation + count): the default mode
    emits 50,055,000 pairs in 21.6 s — 49,995,000 of them the blank
    class's quadratic clique — where collapse emits 69,999 (9,999 star
    + 60,000 group pairs) in 5.2 s, a 715x edge reduction; and the
    default mode's edge count grows QUADRATICALLY in k (10x the corpus
    → 5x10⁹ edges feeding the iterative connected-components), where
    collapse stays linear. With ``collapse_identical=True`` the class
    collapses to its min-id representative in one linear groupBy,
    members attach by k-1 star edges, and banding runs over the ~40k
    DISTINCT signatures only.

    Self-checking via the shared harness: the histogram must be exactly
    {4: 10000, 10000: 1} — a quadratic fallback would show as time, a
    broken collapse (lost star edges, welded clusters) as shape. Runs
    eagerly, so it sits in the timing-only plan set with the other
    perceptual rows. Geometry/banding/parallelism knobs: ONE harness
    with the image/audio/video rows (``_perceptual_cluster_histogram_
    sf1``) — a retune lands in all four or none."""
    from paimon_presto_spark.operators.multimodal import (
        extract_image_features,
    )

    def derive_groups(n: int) -> int:
        if n % 20:
            raise ValueError(
                f"_phash_skew_collapse_sf1 needs a corpus divisible by "
                f"20 (1-in-5 blanks, groups of 4 over the rest); got "
                f"count={n}"
            )
        return (n - n // 5) // 4

    def _skew_expected_histogram(n: int, n_groups: int) -> dict:
        # accumulate, don't literal: at n=20 the blank cluster size
        # (n//5 == 4) collides with the variant-cluster size and a dict
        # literal would silently swallow one key, making the self-check
        # reject CORRECT output (review finding, late round 11)
        expected = {4: n_groups}
        expected[n // 5] = expected.get(n // 5, 0) + 1
        return expected

    def synth_factory(n_groups):
        import numpy as np
        import pandas as pd

        header = b"P6\n8 8\n255\n"
        hlen = len(header)

        def synth(batches):
            for pdf in batches:
                did = pdf["doc_id"].to_numpy().astype(np.uint64)
                m = len(did)
                with np.errstate(over="ignore"):
                    blank = did % np.uint64(5) == np.uint64(0)
                    # dense index among non-blanks (wraps to garbage for
                    # blanks — masked below before use)
                    j = did - did // np.uint64(5) - np.uint64(1)
                    g = j % np.uint64(n_groups)
                    v = j // np.uint64(n_groups)  # variant 0..3
                    x = g + np.uint64(0x9E3779B97F4A7C15)
                    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
                    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
                    sig = x ^ (x >> np.uint64(31))
                p = np.arange(64, dtype=np.uint64)
                bits = ((sig[:, None] >> p[None, :]) & np.uint64(1)).astype(bool)
                bits ^= p[None, :] < v[:, None]
                bits[blank] = False  # the all-gray blank: aHash == 0
                gray = np.where(bits, 224, 32).astype(np.uint8)
                payload = np.empty((m, hlen + 192), dtype=np.uint8)
                payload[:, :hlen] = np.frombuffer(header, dtype=np.uint8)
                payload[:, hlen:] = np.repeat(gray, 3, axis=1)
                yield pd.DataFrame(
                    {
                        "media_id": did.astype(np.int64),
                        "payload": [payload[i].tobytes() for i in range(m)],
                    }
                )

        return synth

    return _perceptual_cluster_histogram_sf1(
        spark, sf1_dir, "_phash_skew_collapse_sf1", synth_factory,
        extract_image_features, "phash",
        derive_groups=derive_groups,
        collapse_identical=True,
        expected_histogram=_skew_expected_histogram,
    )


def _tfidf_cosine_sf1(spark, sf1_dir: str):
    """dedup_tfidf_cosine retuned for the synthesized sf1 corpus. The
    shared sf1 build decorrelates replicas at the SHINGLE level
    (vowel-rotation), but at the WORD level every word without those
    letters is identical across replicas — the 10 replicas of each doc
    are genuine near-dup cliques to TF-IDF (~45 true pairs per original,
    ~225k pairs corpus-wide), which breaks the stress' 'replicas are
    unrelated documents, a clean 10x scale-up' premise for word-level
    operators (round-8 run: >1 GB of collected pairs, then 550 s even
    with exact prefix filtering, all spent on TRUE pairs). Same fix as
    the embeddings' dimension-shift: decorrelate at the operator's OWN
    granularity — suffix every word with its replica id (one map), so
    replicas share no vocabulary and the corpus is a clean 10x. Output
    is aggregated per probe doc (count + decimal cosine sum forces the
    full pair computation) so the driver never ships raw pairs.
"""
    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.dedup import tfidf_cosine_pairs

    docs = spark.read.parquet(os.path.join(sf1_dir, "documents.parquet"))
    rep = (F.col("doc_id") % 10).cast("string")
    # suffix only NON-EMPTY tokens: split() yields '' for padded/empty
    # text, which the operator's wd != '' filter drops — suffixing it
    # would resurrect '' as a real term '_<i>' shared by every such doc
    docs = docs.withColumn(
        "text",
        F.array_join(
            F.transform(
                F.split("text", " "),
                lambda w: F.when(w == "", w).otherwise(
                    F.concat(w, F.lit("_"), rep)
                ),
            ),
            " ",
        ),
    )
    # cap df at the SLICE scale: suffixing partitions the vocabulary
    # into 10 independent 5000-doc corpora, so the corpus-relative
    # default (N/10 = 5000) would never bite — every slice-common
    # template word would flood the index (measured: ~50k paired docs
    # and 425 s). Each slice is an sf0.1-sized corpus; its honest cap
    # is 5000 // 10.
    pairs = tfidf_cosine_pairs(docs, threshold=0.25, max_df=500)
    return pairs.groupBy("doc_a").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("cosine").cast("decimal(28,10)")).alias("sum_cos"),
    )


def _weighted_median_sf1(spark, sf1_dir: str):
    """agg_weighted_median with the bucketed decomposition FORCED
    (4096-row edges): the registry entry takes the adaptive direct path
    at its group sizes (round-7 verdict — production default engages the
    decomposition only past 2M-row groups), so the sf1 stress pins the
    decomposition's plan shape here instead of losing that coverage."""
    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.quantile import weighted_median

    li = spark.read.parquet(os.path.join(sf1_dir, "lineitem.parquet"))
    out = weighted_median(
        li, "l_extendedprice", "l_quantity", ["l_returnflag"],
        target_edge_rows=4096,
    )
    return out.select(
        "l_returnflag", "weighted_median",
        F.col("total_weight_dec").cast("long").alias("total_qty"),
    ).orderBy("l_returnflag")


def _minhash_incremental_sf1(spark, sf1_dir: str):
    """dedup_minhash_incremental with the split scaled to the sf1 corpus
    (old = leading 60% of doc ids): the registry entry's fixed split=300
    would invert the old/new asymmetry at 10x the docs."""
    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.dedup import minhash_lsh_pairs_incremental

    docs = spark.read.parquet(os.path.join(sf1_dir, "documents.parquet"))
    n = docs.count()
    split = int(n * 0.6)
    old = docs.filter(F.col("doc_id") < split)
    new = docs.filter(F.col("doc_id") >= split)
    return minhash_lsh_pairs_incremental(old, new, threshold=0.5)


def _build_sf1(spark, sf_dir: str, out_dir: str) -> None:
    """Synthesize sf1 from sf0.1: 10 replicas of documents/embeddings with
    re-keyed ids; replica texts are vowel/consonant-rotated so shingle sets
    differ across replicas (a clean 10x scale-up, not a dup-clique
    explosion); other tables are symlinked."""
    import pyspark.sql.functions as F

    os.makedirs(out_dir, exist_ok=True)
    perms = [
        "etaoins", "taoinse", "aoinset", "oinseta", "insetao",
        "nsetaoi", "setaoin", "tesoian", "aetsoni", "osnitae",
    ]
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    reps = []
    for i in range(10):
        d = docs.withColumn("doc_id", F.col("doc_id") * 10 + F.lit(i))
        if i > 0:
            d = d.withColumn("text", F.translate("text", "etaoins", perms[i]))
        reps.append(d)
    base = reps[0]
    for d in reps[1:]:
        base = base.unionByName(d)
    base.coalesce(8).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    ereps = []
    for i in range(10):
        e = emb.withColumn("vec_id", F.col("vec_id") * 10 + F.lit(i))
        if i > 0:
            # circular dimension shift: a shifted copy of a random-ish
            # vector is ~orthogonal to the original, so replicas are
            # unrelated vectors (clean 10x scale-up), NOT near-identical
            # twins (which would explode near-dup pair counts 45x)
            shift = (i * 13) % 64
            e = e.withColumn(
                "embedding",
                F.concat(
                    F.slice("embedding", shift + 1, 64 - shift),
                    F.slice("embedding", 1, shift),
                ),
            )
        ereps.append(e)
    ebase = ereps[0]
    for e in ereps[1:]:
        ebase = ebase.unionByName(e)
    ebase.coalesce(4).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )
    for t in (
        "region nation customer supplier part orders lineitem events".split()
    ):
        dst = os.path.join(out_dir, f"{t}.parquet")
        # always refresh: a stale symlink from a previous build may point
        # at regenerated (or deleted) testdata
        if os.path.islink(dst) or os.path.exists(dst):
            os.remove(dst)
        os.symlink(os.path.join(sf_dir, f"{t}.parquet"), dst)


def _fingerprint(sf_dir: str) -> str:
    """Identity of the source documents/embeddings: path + size + mtime.
    Testdata regenerates between rounds at the SAME path, so the path
    alone is not a valid staleness key."""
    parts = [sf_dir]
    for t in ("documents", "embeddings"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        st = os.stat(p)
        parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def _scale_runners(qs) -> dict:
    """Build the sf1 runner map: retuned variants override the registry.

    NB: no eager-default ``qs.get(name, ...)`` / ``qs[name]`` default here —
    names like ``dedup_semantic_clusters_codegen`` exist only in the retuned
    map, not the registry, and an eagerly-evaluated ``qs[name]`` default
    raised KeyError before a single stress query ran (this killed the entire
    round-4 sf1 artifact). Unit-tested in tests/test_bench_contract.py.
    """
    retuned = {
        "dedup_embedding_lsh": _lsh_pairs_sf1,
        "dedup_semantic_clusters": _semdedup_sf1,
        "dedup_semantic_clusters_codegen": _semdedup_sf1_codegen,
        "dedup_minhash_incremental": _minhash_incremental_sf1,
        "dedup_cdc_chunks_xxhash": _cdc_chunks_sf1_xxhash,
        "dedup_semantic_incremental": _semdedup_incremental_sf1,
        "agg_weighted_median": _weighted_median_sf1,
        "knn_ivf_pq_append": _ivf_pq_append_sf1,
        "dedup_tfidf_cosine": _tfidf_cosine_sf1,
        "dedup_simhash": _simhash_banded_sf1,
        "dedup_image_phash": _image_phash_sf1,
        "dedup_audio_fingerprint": _audio_fp_sf1,
        "dedup_video_fingerprint": _video_fp_sf1,
        "dedup_phash_skew_collapse": _phash_skew_collapse_sf1,
    }
    return {
        name: retuned[name] if name in retuned else qs[name]
        for name in SCALE_QUERIES
    }


def _scale_stress(spark, qs, sf_dir: str) -> dict:
    sf1_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench_sf1")
    marker = os.path.join(sf1_dir, "_built_from")
    fp = _fingerprint(sf_dir)
    if not (os.path.exists(marker) and open(marker).read() == fp):
        _build_sf1(spark, sf_dir, sf1_dir)
        with open(marker, "w") as fh:
            fh.write(fp)

    result: dict = {
        "sf": 1.0,
        "synthesized_from": sf_dir,
        "queries": {},
        "plans": {},
        "note": "dedup_embedding_lsh / dedup_semantic_clusters / "
                "dedup_minhash_incremental / dedup_semantic_incremental "
                "run retuned for the 10x corpus (n_planes=8, k=32, "
                "split=60%; see _lsh_pairs_sf1, _semdedup_sf1, "
                "_minhash_incremental_sf1, _semdedup_incremental_sf1)",
    }
    runners = _scale_runners(qs)
    for name in SCALE_QUERIES:
        t0 = time.perf_counter()
        try:
            df = runners[name](spark, sf1_dir)
            df.collect()
            result["queries"][name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:
            result["queries"][name] = f"ERROR {type(exc).__name__}: {exc}"[:200]
            df = None
        if name in SCALE_EXPECTED_NO_JOIN:
            # Capture the no-join assertion from the TIMED pass's
            # DataFrame: these entries build scratch tables eagerly
            # inside the call, so re-invoking them in the plan loop
            # below would pay the full sf1 write cost a second time —
            # and a join-free plan can't be changed by the
            # auto-broadcast toggle that motivates that loop. Its OWN
            # try: a plan-render hiccup must record a plan error (which
            # counts as a violation), never clobber a valid timing.
            try:
                if df is None:
                    raise RuntimeError("query errored; no plan to render")
                plan = df._jdf.queryExecution().executedPlan().toString()
                # AQE renders BOTH "== Final Plan ==" and "== Initial
                # Plan ==" into one string; count only the final section
                # or every node double-counts. Whole node names only
                # (\b\w*Join\b), not a raw substring count: a future plan
                # comment or field named "...Join..." must not
                # false-positive the gate. The zero-shuffle contract is
                # also exchange-free for the JOIN itself — the budget
                # admits only the final rollup's aggregation shuffle and
                # the ORDER BY's range partitioning; any Exchange beyond
                # that is a violation too.
                final_plan = plan.split("== Initial Plan ==")[0]
                result["plans"][name] = {
                    "broadcast_nested_loop": final_plan.count(
                        "BroadcastNestedLoopJoin"
                    ),
                    "cartesian": final_plan.count("CartesianProduct"),
                    "join_nodes": len(
                        re.findall(r"\b\w*Join\b", final_plan)
                    ),
                    "excess_exchanges": max(
                        0,
                        len(re.findall(r"\bExchange\b", final_plan))
                        - SCALE_NO_JOIN_EXCHANGE_BUDGET[name],
                    ),
                }
            except Exception as exc:
                result["plans"][name] = (
                    f"ERROR {type(exc).__name__}: {exc}"[:200]
                )
        spark.catalog.clearCache()

    # Plan-shape check with auto-broadcast disabled: at 100 TB nothing
    # fits the threshold, so any BNLJ/Cartesian that appears here is a
    # scale-killer. Explicit broadcast() hints on bounded sides (query
    # vectors, eval vocabulary, candidate sets) legitimately survive.
    # Violations are counted into the top-level JSON AND shouted to stderr
    # so a regression cannot hide inside a green exit code.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name in SCALE_QUERIES:
            if name in SCALE_EXPECTED_NO_JOIN:
                continue  # plan captured from the timed pass above
            if name in (
                "pipeline_curate_corpus",
                "embedding_pca_project",
                "pipeline_emit_shards",
                "pipeline_incremental_ingest",
                "dedup_image_phash",
                "dedup_audio_fingerprint",
                "dedup_video_fingerprint",
                "dedup_phash_skew_collapse",
            ):
                # These entries run their Spark stages eagerly inside the
                # call (curate/pca return driver-local reports; emit
                # commits shards then returns the table read-back; the
                # three perceptual-dedup rows' connected components
                # iterate eagerly behind localCheckpoint lineage cuts, so
                # their rendered plan is only the tail rollup — the
                # banded equi-joins being policed are shape-checked via
                # dedup_simhash, which drives the same
                # hamming_banded_pairs), so the returned "plan" cannot
                # contain the joins being policed — re-running them here
                # would pay a full second sf1 execution to shape-check
                # nothing. Timing-only. (The audio row sat in the plan
                # loop through round 11's first bench runs — an
                # oversight that re-executed its full decode+CC pass to
                # render a join-free tail rollup; same-engine rows now
                # all sit here.)
                continue
            try:
                plan = runners[name](spark, sf1_dir)._jdf.queryExecution().executedPlan().toString()
                result["plans"][name] = {
                    "broadcast_nested_loop": plan.count("BroadcastNestedLoopJoin"),
                    "cartesian": plan.count("CartesianProduct"),
                }
            except Exception as exc:
                result["plans"][name] = f"ERROR {type(exc).__name__}: {exc}"[:200]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # stored-ANN split at sf1: build and probe timed apart, probe-only
    # plan shape asserted (round-7 verdict #3)
    try:
        ann_times, ann_plans = _stored_ann_split(spark, sf1_dir, with_plans=True)
        result["stored_ann"] = ann_times
        result["stored_ann_plans"] = ann_plans
    except Exception as exc:
        result["stored_ann"] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
        result["stored_ann_plans"] = {}

    violations = sum(
        (
            abs(p["broadcast_nested_loop"] - SCALE_EXPECTED_BNLJ.get(n, 0))
            + p["cartesian"]
            + p.get("join_nodes", 0)
            + p.get("excess_exchanges", 0)
        )
        if isinstance(p, dict)
        # an unrenderable plan is an UNVERIFIED gate, not a pass: count
        # it as a violation so an errored entry can't exit green
        else 1
        for n, p in result["plans"].items()
    )
    for n, p in result["stored_ann_plans"].items():
        exp = STORED_PROBE_EXPECT[n]
        violations += abs(p["broadcast_nested_loop"] - exp["bnlj"])
        violations += p["cartesian"]
        violations += 1 if p["broadcast_hash"] == 0 else 0
        violations += max(0, p["embeddings_scans"] - exp["max_embeddings_scans"])
    result["plan_violations"] = violations
    if violations:
        print(
            f"SCALE REGRESSION: {violations} plan violation(s) in "
            f"scale-stress plans (undeclared BNLJ/Cartesian, join nodes "
            f"or excess exchanges in no-join entries, stored-ANN probe "
            f"shape) — see 'plans' / 'stored_ann_plans'",
            file=sys.stderr,
        )
    return result


if __name__ == "__main__":
    main()
