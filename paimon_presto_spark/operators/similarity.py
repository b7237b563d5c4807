"""Similarity search over embedding columns (``array<float>``).

Three tiers, trading recall for cost:

1. ``brute_force_topk``  — exact: corpus-scan per query batch. The query
   side is broadcast; per-query top-k is a WindowGroupLimit. Correctness
   baseline, and actually optimal when |queries| is small.
2. ``lsh_bucketed_topk`` — random-hyperplane LSH: corpus and queries are
   bucketed by sign-pattern; only same-bucket (or near-bucket) pairs are
   scored. At 100 TB this bounds each task's work by bucket size.
3. ``cosine_pairs``      — all-pairs near-dup with a threshold (brute force
   here; at scale feed it LSH buckets instead of the full cross join).

Math runs through ``functions/vectors.py`` (zip_with/aggregate — codegen,
no Python). Arrow/numpy rungs exist only where a measurement shows them
winning: ``lsh_cosine_pairs(verify="blas")``, ``semdedup``'s
``pair_backend="blas"|"auto"`` and ``pq_encode``/``ivf_pq_index``'s
``encode="blas"``.

Hyperplanes are generated from a fixed seed → deterministic bucketing
across runs and engines (resumable pipelines).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, Window

from paimon_presto_spark.functions.vectors import cosine_similarity, dot, l2_norm

#: semdedup pair_backend="auto" crossover: largest-cluster population above
#: which the one-matmul-per-cluster BLAS rung beats the codegen pair
#: expansion (measured at the sf1 stress: ~625 rows/cluster → blas 4x
#: faster; the quadratic pair term grows with population², the matmul and
#: its Arrow shuffle grow ~linearly).
SEMDEDUP_BLAS_MIN_CLUSTER = 512


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors per query: (q_id, n_id, cos_sim, rnk).

    Norms are computed ONCE per row before the pairing (``__qn``/``__nn``)
    so each candidate pays one dot product, not dot + two norms; the
    division by the norm product is bit-identical to
    ``cosine_similarity`` (same operations, same order).
    """
    q = F.broadcast(
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb"))
        .withColumn("__qn", l2_norm(F.col("q_emb")))
    )
    c = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_emb")
    ).withColumn("__nn", l2_norm(F.col("n_emb")))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        c.crossJoin(q)
        .withColumn(
            "cos_sim",
            dot(F.col("q_emb"), F.col("n_emb")) / (F.col("__qn") * F.col("__nn")),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "cos_sim", "rnk")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).round(6).tolist()


def _lit_vec(vec: list[float]) -> Column:
    """One py4j call + ONE Catalyst Literal node for a whole double vector.

    ``F.lit(list)`` recurses per element (dim py4j round-trips and a
    CreateArray tree of dim Literals that the analyzer re-walks on every
    plan copy); a 1-D numpy array takes the classic ``lit`` fast path —
    a single JVM literal. At k x dim = a few thousand elements this is
    the difference between ~3 s and ~0.3 s of driver-side plan build per
    query (measured: knn_ivf_probe), and the values are bit-identical
    (float64 == IEEE double).
    """
    return F.lit(np.asarray(vec, dtype=np.float64))


def _bucket_expr(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id: bit j = 1 iff dot(vec, plane_j) > 0.

    The per-plane dot products run through one ``transform`` over a
    constant-folded array-of-vectors literal (``_lit_vec`` rows) — all
    JVM-side, no UDF, and an O(n_planes) expression tree instead of
    O(n_planes x dim). Bit-identical to the unrolled form: same
    per-element multiply/add order, exact integer bit sum.
    """
    e = vec_col.cast("array<double>")
    mat = F.array(*[_lit_vec(p) for p in planes])
    # int32 bit constants: 1 << 31 overflows at numpy array construction
    # (the pre-literal-matrix form silently promoted to long); the bucket
    # id's int type is part of several oracle-checked schemas, so guard
    # the domain instead of widening the type.
    if len(planes) > 31:
        raise ValueError(
            f"_bucket_expr supports at most 31 planes (int32 bucket id), "
            f"got {len(planes)}"
        )
    bits = F.lit(np.asarray([1 << j for j in range(len(planes))], dtype=np.int32))
    return F.aggregate(
        F.zip_with(
            mat,
            bits,
            lambda p, bit: F.when(
                F.aggregate(
                    F.zip_with(e, p, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                > 0,
                bit,
            ).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int = 64,
    multiprobe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k via random-hyperplane bucketing with multiprobe.

    Queries probe their own bucket plus all buckets within Hamming distance
    ``multiprobe_hamming`` of it (multiprobe LSH — recall without extra
    tables). Candidates are scored exactly; per-query top-k as usual.
    Expected recall grows with probes: P(same bucket) = (1 - θ/π)^n_planes
    per plane-agreement, so probing 1-bit neighbors covers the common
    near-boundary misses.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    c = (
        corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_emb"))
        .withColumn("bucket", _bucket_expr(F.col("n_emb"), planes))
        .withColumn("__nn", l2_norm(F.col("n_emb")))
    )
    probes = [0] + [1 << j for j in range(n_planes)] if multiprobe_hamming >= 1 else [0]
    q0 = (
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb"))
        .withColumn("qbucket", _bucket_expr(F.col("q_emb"), planes))
        .withColumn("__qn", l2_norm(F.col("q_emb")))
    )
    q = q0.withColumn("flip", F.explode(F.array(*[F.lit(p) for p in probes]))).select(
        "q_id", "q_emb", "__qn",
        F.col("qbucket").bitwiseXOR(F.col("flip")).alias("bucket"),
    )
    # Distinct XOR flips give distinct probed buckets, and each corpus row
    # has one bucket — (q_id, n_id) pairs are unique, so no dedup
    # aggregation (and its shuffle) before the top-k window. Norms are
    # per-row (pre-join); each candidate pays one dot product.
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        c.join(F.broadcast(q), "bucket")
        .withColumn(
            "cos_sim",
            dot(F.col("q_emb"), F.col("n_emb")) / (F.col("__qn") * F.col("__nn")),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "cos_sim", "rnk")
    )


def _centroid_sims(emb: Column, unit: list[tuple[int, list[float]]]) -> Column:
    """array<struct<s, negcid>> of dot products against unit centroids:
    struct ordering gives "highest sim, then lowest cid" for both
    array_max (top-1) and reversed array_sort (top-n) — the oracle's
    ORDER BY sim DESC, cid ASC. Map-only, no crossJoin.

    Built as ONE zip_with over an array-of-vectors literal (plus a
    parallel negcid literal array) instead of k unrolled per-centroid
    subtrees: an O(k) expression tree with single-literal rows
    (``_lit_vec``), cutting plan-build/analysis from O(k x dim) while
    keeping the per-element multiply/add order — and therefore every
    produced double — bit-identical.
    """
    e = emb.cast("array<double>")
    mat = F.array(*[_lit_vec(v) for _, v in unit])
    negcids = F.lit(np.asarray([-cid for cid, _ in unit], dtype=np.int32))
    return F.zip_with(
        mat,
        negcids,
        lambda v, negcid: F.struct(
            F.aggregate(
                F.zip_with(e, v, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("s"),
            negcid.alias("negcid"),
        ),
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: corpus vectors are assigned to
    their nearest centroid's posting list; each query scores only the lists
    of its ``n_probe`` nearest centroids.

    `centroids` is a small driver-side list (cid, vector) — in production
    the output of a sampled k-means; any deterministic choice works and
    keeps results reproducible. Assignment is expressed relationally
    (corpus × centroid-literals → per-row argmax via one window), which is
    exactly how IVF builds distribute: a narrow |centroids|-way expansion,
    one row_number window, then the probe equi-join. At 100 TB each task
    touches |corpus|/|centroids| × n_probe candidate rows instead of the
    full corpus per query.
    """
    unit = unit_centroids(centroids)

    def sims(emb: Column) -> Column:
        return _centroid_sims(emb, unit)

    # Map-only assignment: the per-row argmax/top-n over |centroids| is one
    # array expression — no crossJoin expansion, no shuffle, no window. At
    # 100 TB the corpus pass stays a narrow scan; only the tiny query side
    # explodes (n_probe rows per query).
    c = (
        corpus.select(F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_emb"))
        .withColumn(
            "bucket",
            (-F.array_max(sims(F.col("n_emb"))).getField("negcid")).cast("int"),
        )
        .withColumn("__nn", l2_norm(F.col("n_emb")))
    )
    q = (
        queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb"))
        .withColumn(
            "__probes",
            F.slice(F.reverse(F.array_sort(sims(F.col("q_emb")))), 1, n_probe),
        )
        .withColumn("__qn", l2_norm(F.col("q_emb")))
        .select(
            "q_id",
            "q_emb",
            "__qn",
            F.explode(
                F.transform("__probes", lambda s: (-s["negcid"]).cast("int"))
            ).alias("bucket"),
        )
    )
    # Each corpus row has exactly one bucket and a query's probed buckets
    # are distinct, so (q_id, n_id) pairs are already unique — no dedup
    # aggregation (and its shuffle) needed before the top-k window. Norms
    # are per-row (pre-join); each candidate pays one dot product.
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("n_id"))
    return (
        c.join(F.broadcast(q), "bucket")
        .withColumn(
            "cos_sim",
            dot(F.col("q_emb"), F.col("n_emb")) / (F.col("__qn") * F.col("__nn")),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "cos_sim", "rnk")
    )


def kmeans_centroids(
    vectors: DataFrame,
    k: int,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    init_sample: int | None = None,
) -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd's k-means over an embedding column; returns the
    (cid, centroid) list ``ivf_topk`` consumes.

    Scale shape: the assignment step is the same map-only argmax expression
    IVF uses (no shuffle); the update step is ONE hash aggregation to k
    rows of dim partial sums (``sum(element_at(vec, i))`` per dimension —
    partial aggregation makes the map side do the work), and the k×(dim+1)
    result is collected to the driver, which is the canonical distributed
    k-means layout: centroids are small by definition, the corpus never
    moves.

    Initialization is ONE bounded pass, independent of k: the
    ``init_sample`` (default max(8k, 64)) rows with the smallest
    md5-of-id — a deterministic pseudo-uniform sample, fetched as a single
    TakeOrdered — are collected, and maximin (farthest-point) seeding runs
    driver-side on that sample with numpy. Same spread-the-seeds effect as
    corpus-wide maximin (the k-means++ idea with its randomness replaced
    by a reproducible rule), without the k sequential full scans the
    corpus-wide version costs — at 100 TB with k=256 that was 256 scans
    before Lloyd's even started. The sample head is the global md5-min
    row, so the first seed matches the old scheme exactly. Empty clusters
    keep their previous centroid.

    ``dim`` is inferred from the sample when None; rows whose vector
    length differs from ``dim`` are excluded from training (element_at
    past the end would otherwise inject NULL partial sums and silently
    corrupt centroids).

    Its Lloyd update sums run in DECIMAL(38,18) — exact,
    order-independent addition — so the trained centroids are identical
    at any partitioning AND exactly replayable by a SQL oracle
    (``knn_ivf_kmeans``).
    """
    from paimon_presto_spark.functions.hashing import md5_long

    v = vectors.select(
        F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
    )

    sample_n = init_sample if init_sample is not None else max(8 * k, 64)
    sample = (
        v.withColumn("__h", md5_long(F.col("__id").cast("string")))
        .orderBy("__h", "__id")
        .limit(sample_n)
        .collect()
    )
    if not sample:
        raise ValueError("kmeans_centroids: empty vector input")
    if dim is None:
        # modal vector length across the sample (robust to a stray
        # malformed row landing first in md5 order; first-seen tie-break
        # keeps it deterministic)
        from collections import Counter

        dim = Counter(len(r["__v"]) for r in sample).most_common(1)[0][0]
    sample = [r for r in sample if len(r["__v"]) == dim]
    if len(sample) < k:
        raise ValueError(
            f"kmeans_centroids: only {len(sample)} usable sample rows of "
            f"dim {dim} for k={k}; raise init_sample or check the data"
        )
    # Exclude malformed rows from Lloyd's too (see docstring).
    v = v.filter(F.size("__v") == dim).cache()

    # Driver-side maximin over the sample: first seed is the md5-min row
    # (identical to a corpus-wide min); each next seed minimizes the max
    # cosine against chosen seeds, ties broken by id. O(sample·k·dim) in
    # numpy — microseconds, zero extra cluster passes.
    ids = [r["__id"] for r in sample]
    X = np.asarray([list(r["__v"]) for r in sample], dtype=np.float64)
    norms = np.linalg.norm(X, axis=1)
    norms[norms == 0.0] = 1.0
    U = X / norms[:, None]
    chosen = [0]
    maxsim = U @ U[0]
    for _ in range(1, k):
        taken = set(chosen)
        best_j = min(
            (j for j in range(len(ids)) if j not in taken),
            key=lambda j: (maxsim[j], ids[j]),
        )
        chosen.append(best_j)
        maxsim = np.maximum(maxsim, U @ U[best_j])
    cents = [(i, [float(x) for x in X[j]]) for i, j in enumerate(chosen)]

    for _ in range(max_iter):
        assigned = v.withColumn(
            "__b",
            (-F.array_max(
                _centroid_sims(F.col("__v"), unit_centroids(cents))
            ).getField("negcid")).cast("int"),
        )
        # Decimal-domain partial sums: double addition reassociates
        # under partial aggregation, so a plain double SUM makes the
        # centroids depend on partitioning (and differ between
        # engines); DECIMAL(38,18) addition is exact and
        # order-independent, which is what lets a SQL oracle replay
        # the whole training loop bit-for-bit. The mean converts back
        # to double below (one correctly-rounded cast + division).
        stats = (
            assigned.groupBy("__b")
            .agg(
                F.count(F.lit(1)).alias("__n"),
                *[
                    F.sum(
                        F.element_at("__v", i + 1).cast("decimal(38,18)")
                    ).alias(f"d{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        by_cid = {r["__b"]: r for r in stats}
        new_cents = []
        moved = 0.0
        for cid, old in cents:
            r = by_cid.get(cid)
            if r is None:  # empty cluster: keep previous centroid
                new_cents.append((cid, old))
                continue
            # float(Decimal) is the correctly-rounded double; double/int
            # division is IEEE-exact — both deterministic across engines.
            vec = [float(r[f"d{i}"]) / r["__n"] for i in range(dim)]
            moved += sum((a - b) ** 2 for a, b in zip(vec, old))
            new_cents.append((cid, vec))
        cents = new_cents
        if moved < 1e-12:
            break
    v.unpersist()
    return cents


def cosine_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine > threshold (exact; brute-force baseline)."""
    a = vectors.select(F.col(id_col).alias("vec_a"), F.col(vec_col).alias("emb_a"))
    b = vectors.select(F.col(id_col).alias("vec_b"), F.col(vec_col).alias("emb_b"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_sim", cosine_similarity(F.col("emb_a"), F.col("emb_b")))
        .filter(F.col("cos_sim") > threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


def lsh_cosine_pairs(
    vectors: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
    verify: str = "codegen",
) -> DataFrame:
    """Near-dup pairs with cosine > threshold, LSH-bucketed — the 100 TB
    replacement for ``cosine_pairs``'s all-pairs baseline.

    One narrow pass buckets every vector by its hyperplane sign pattern;
    one side is exploded over {0} ∪ {1<<j} bit flips (1-bit multiprobe, so
    pairs whose buckets differ by a single plane are still candidates);
    the bucket equi-join produces only same/adjacent-bucket candidates,
    which are then verified with the exact cosine. A pair at Hamming
    distance h between buckets meets under exactly one flip when h ≤ 1 and
    never otherwise, so the output has no duplicates and needs no dedup
    shuffle. Plan: two narrow maps + ONE equi shuffle join — no
    BroadcastNestedLoopJoin, no O(n²), and each task's work is bounded by
    bucket population. Seeded hyperplanes keep the candidate set (and thus
    the result) deterministic across runs and engines.

    Recall is the standard LSH trade: pairs differing in ≥2 planes are
    missed; raise recall with more probes or fewer planes (bigger
    buckets), exactly like ``lsh_bucketed_topk``.

    ``verify`` picks the exact-cosine implementation for the candidate
    pairs: ``"codegen"`` (default) scores each pair with a JVM zip_with
    dot — bit-reproducible against a SQL oracle, and what the correctness
    gate certifies; ``"blas"`` scores each Arrow batch of pairs with one
    vectorized numpy reduction (``mapInPandas``) — same pair set, cosine
    equal to ~1e-12 (float reassociation only), and the right rung once
    candidate volume reaches the tens of millions, where per-pair
    higher-order-function evaluation dominates the runtime. The plan is
    identical either way (two narrow maps + one equi shuffle); only the
    scoring expression changes.
    """
    planes = _hyperplanes(dim, n_planes, seed)
    b = (
        vectors.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__emb"))
        .withColumn("bucket", _bucket_expr(F.col("__emb"), planes))
        .withColumn("__n", l2_norm(F.col("__emb")))
    )
    flips = [0] + [1 << j for j in range(n_planes)]
    a = (
        b.withColumn("flip", F.explode(F.array(*[F.lit(p) for p in flips])))
        .select(
            F.col("__id").alias("vec_a"),
            F.col("__emb").alias("emb_a"),
            F.col("__n").alias("__na"),
            F.col("bucket").bitwiseXOR(F.col("flip")).alias("bucket"),
        )
    )
    bb = b.select(
        F.col("__id").alias("vec_b"),
        F.col("__emb").alias("emb_b"),
        F.col("__n").alias("__nb"),
        "bucket",
    )
    # Norms are per-row (computed before the join); each candidate pair
    # pays ONE dot product — bit-identical to cosine_similarity, which
    # divides the same dot by the same norm product.
    cand = a.join(bb, "bucket").filter(F.col("vec_a") < F.col("vec_b"))
    if verify == "codegen":
        return (
            cand.withColumn(
                "cos_sim",
                dot(F.col("emb_a"), F.col("emb_b")) / (F.col("__na") * F.col("__nb")),
            )
            .filter(F.col("cos_sim") > threshold)
            .select("vec_a", "vec_b", "cos_sim")
        )
    if verify != "blas":
        raise ValueError(f"verify must be 'codegen' or 'blas', got {verify!r}")

    # BLAS form: never materialize per-pair rows. Probe rows (side 0) and
    # base rows (side 1) are unioned and grouped by bucket — each vector
    # crosses the shuffle once per probe, not once per candidate pair —
    # and the within-bucket scoring is one Na×Nb matmul per group. Per-task
    # memory is O(bucket²) similarities, the same bucket-population bound
    # the join form has, at a fraction of the transfer volume.
    import pandas as pd

    # the codegen rung preserves the caller's id type; this rung declares
    # an explicit applyInPandas schema, so derive it instead of assuming
    # long ids (string doc ids are legitimate)
    id_ddl = dict(vectors.dtypes)[id_col]
    pd_id = (
        "int64" if id_ddl in ("tinyint", "smallint", "int", "bigint") else "object"
    )

    probes = a.select(
        F.lit(0).alias("__side"), F.col("vec_a").alias("__id"),
        F.col("emb_a").alias("__emb"), F.col("__na").alias("__norm"), "bucket",
    )
    bases = bb.select(
        F.lit(1).alias("__side"), F.col("vec_b").alias("__id"),
        F.col("emb_b").alias("__emb"), F.col("__nb").alias("__norm"), "bucket",
    )

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        aside = pdf[pdf["__side"] == 0]
        bside = pdf[pdf["__side"] == 1]
        if not len(aside) or not len(bside):
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []}).astype(
                {"vec_a": pd_id, "vec_b": pd_id, "cos_sim": "float64"}
            )
        am = np.asarray(aside["__emb"].tolist(), dtype=np.float64)
        bm = np.asarray(bside["__emb"].tolist(), dtype=np.float64)
        sims = (am @ bm.T) / np.outer(
            aside["__norm"].to_numpy(), bside["__norm"].to_numpy()
        )
        aid = aside["__id"].to_numpy()
        bid = bside["__id"].to_numpy()
        ai, bi = np.nonzero((sims > threshold) & (aid[:, None] < bid[None, :]))
        return pd.DataFrame(
            {"vec_a": aid[ai], "vec_b": bid[bi], "cos_sim": sims[ai, bi]}
        )

    return probes.unionByName(bases).groupBy("bucket").applyInPandas(
        score, schema=f"vec_a {id_ddl}, vec_b {id_ddl}, cos_sim double"
    )


def unit_centroids(
    centroids: list[tuple[int, list[float]]]
) -> list[tuple[int, list[float]]]:
    """Unit-normalize a driver-side centroid list with plain Python floats.

    Shared by the operator and any SQL oracle generator: both inline the
    SAME post-normalization doubles, so dot(v, unit_c) is bit-identical
    across engines (repr() round-trips IEEE doubles exactly).
    """
    import math

    out = []
    for cid, vec in centroids:
        norm = math.sqrt(sum(float(x) * float(x) for x in vec)) or 1.0
        out.append((int(cid), [float(x) / norm for x in vec]))
    return out


def semdedup(
    vectors: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pair_backend: str = "codegen",
) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster by nearest centroid, then find
    near-duplicate pairs ONLY within each cluster and keep one representative
    per duplicate relation (Abbas et al. 2023, "SemDeDup" — public paper).

    The 100 TB story is the clustering fence: the quadratic pair search is
    confined to same-cluster rows via one equi-join on the cluster id, so
    per-task work is bounded by cluster population (scale k with corpus size
    to hold cluster size constant; a hot cluster is handled by AQE skew
    splitting or by raising k). Assignment is the IVF map-only argmax — a
    narrow scan, no shuffle — and the centroid list is a driver-side constant
    (in production the output of ``kmeans_centroids``; any deterministic
    choice keeps the result reproducible).

    Keep rule, per the paper (keep the LOWEST-centroid-similarity member of
    each close pair — the most atypical example survives), made
    deterministic with an id tie-break: a row is dropped iff some same-
    cluster neighbour with pair-cosine > ``threshold`` has a strictly lower
    (cos_centroid, id) sort key.

    Returns one row per input: (id, cluster, cos_centroid, status
    kept|dropped). Reference has no counterpart (SURVEY §7 LLM-ops
    extension). The batch job is the empty increment: this is
    ``semdedup_incremental`` with no old side.

    ``pair_backend`` picks the within-cluster scorer, exactly like
    ``lsh_cosine_pairs``'s ``verify`` rungs: ``"codegen"`` (default)
    expands pairs through the cluster equi-join and scores each with a JVM
    zip_with dot — bit-reproducible against a SQL oracle; ``"blas"``
    groups rows by cluster and resolves each group with ONE numpy matmul
    (``applyInPandas``) — each row crosses the shuffle once instead of
    once per candidate pair, the right rung when cluster populations reach
    the thousands. ``"auto"`` measures the populations on the (cached)
    assignment and picks: blas once the largest cluster exceeds
    ``SEMDEDUP_BLAS_MIN_CLUSTER`` rows — the measured sf1 crossover
    (20k vectors / 32 clusters ≈ 625 rows/cluster: codegen 16-22 s, blas
    4-6 s, identical drop sets; below a few hundred rows the Arrow
    group-shuffle overhead dominates and codegen wins). Same drop set
    either way (cosines differ only by float reassociation, ~1e-12, only
    material for pairs sitting exactly on the threshold; see
    ``semdedup_incremental`` for the reproducibility contract).

    Codegen bound: the argmax assignment inlines k x dim literals, so its
    one-time whole-stage-codegen compile grows with k (measured ~8 s at
    k=32, dim=64 on a cold JVM; amortized across the corpus scan), which
    bounds the centroid list to a few hundred entries.
    """
    # Only the two columns: an input that happens to carry `cluster` and
    # `cos_centroid` must not be read as a stored assignment. `limit(0)`
    # lets the optimizer prune the empty old branch, so the plan is the
    # batch plan.
    vectors = vectors.select(id_col, vec_col)
    return semdedup_incremental(
        vectors.limit(0), vectors, centroids, threshold, id_col, vec_col,
        pair_backend,
    )


def semdedup_incremental(
    old: DataFrame,
    new: DataFrame,
    centroids: list[tuple[int, list[float]]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pair_backend: str = "codegen",
) -> DataFrame:
    """Incremental SemDeDup: admit a NEW batch of vectors against an
    already-deduped (published) corpus — one verdict row per new vector,
    with the old corpus never paired against itself and never dropped.
    Assignment, keep rule and ``pair_backend`` rungs are ``semdedup``'s.

    Corpus-stability semantics, the production admission rule: an old
    member always beats a new near-duplicate (published data does not
    churn), while new-vs-new pairs use the standard SemDeDup keep rule
    (lowest (cos_centroid, id) survives). This intentionally differs from
    re-running ``semdedup`` over old ∪ new, which could retroactively
    drop old members. Both rungs encode the asymmetry in the keep key
    alone: old rows enter the pair stage with ``cos_centroid = -inf``, so
    they sort before every new row and beat it under the standard rule,
    and only rows keyed above ``-inf`` receive verdicts.

    Scale shape mirrors ``minhash_lsh_pairs_incremental``: assignment is
    the map-only argmax for BOTH sides, but at 100 TB the old side's
    (id, cluster, cos_centroid) is a stored by-product of its own
    admission pass — pass a DataFrame that already carries ``cluster``
    and ``cos_centroid`` columns and the old corpus is not re-scored.
    The pair join probes with the increment only, so candidate volume is
    |new| x cluster population.

    Reproducibility contract: only ``"codegen"`` is bit-reproducible
    against the SQL oracle — the blas rung scores pairs with a numpy
    matmul whose FP summation order differs from the fixed-order codegen
    dot, so a cosine within ~1 ulp of ``threshold`` can flip verdicts
    between rungs. Because ``"auto"`` switches rungs on measured cluster
    population, the SAME call can change results as the corpus grows;
    oracle-gated paths (the registry entries included) must pin
    ``"codegen"``, and callers comparing runs across corpus sizes should
    pin a rung explicitly rather than rely on ``"auto"``.
    """
    if pair_backend not in ("codegen", "blas", "auto"):
        raise ValueError(
            f"pair_backend must be 'codegen', 'blas' or 'auto', "
            f"got {pair_backend!r}"
        )
    unit = unit_centroids(centroids)

    def sims(emb: Column) -> Column:
        return _centroid_sims(emb, unit)

    def assign(df: DataFrame) -> DataFrame:
        if "cluster" in df.columns and "cos_centroid" in df.columns:
            # stored assignment from the corpus' own admission pass
            return df.select(
                F.col(id_col).alias("__id"), F.col(vec_col).alias("__emb"),
                l2_norm(F.col(vec_col)).alias("__n"),
                F.col("cluster").cast("int").alias("cluster"),
                F.col("cos_centroid").cast("double").alias("cos_centroid"),
            )
        return (
            df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__emb"))
            .withColumn("__best", F.array_max(sims(F.col("__emb"))))
            .withColumn("cluster", (-F.col("__best.negcid")).cast("int"))
            .withColumn("__n", l2_norm(F.col("__emb")))
            .withColumn("cos_centroid", F.col("__best.s") / F.col("__n"))
            .drop("__best")
        )

    new_a = assign(new).cache()
    # Materialize before fan-out: the pair join reads `new_a` twice and
    # the status join a third time — without the cache each consumer
    # re-evaluates the k x dim argmax expression over the full increment
    # (measured 3x the runtime at the sf1 stress; same pattern as
    # minhash_lsh_pairs' shingle cache).
    n_new = new_a.count()
    # old rows carry the keep key -inf, so they beat every new row
    olds = assign(old).withColumn("cos_centroid", F.lit(float("-inf")))
    both = olds.unionByName(new_a)
    if pair_backend == "auto":
        # One k-row aggregation. This re-evaluates the old side's argmax
        # once (map-only); at 100 TB the old assignment is the stored
        # by-product documented above, so the extra pass costs nothing.
        max_pop = (
            both.groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n").alias("m"))
            .collect()[0]["m"]
        ) or 0  # empty input: MAX over zero groups is NULL
        pair_backend = (
            "blas" if max_pop > SEMDEDUP_BLAS_MIN_CLUSTER else "codegen"
        )
    if pair_backend == "codegen":
        a = new_a.select(
            F.col("__id").alias("__ida"), F.col("__emb").alias("__emba"),
            F.col("__n").alias("__na"), F.col("cos_centroid").alias("__ca"),
            "cluster",
        )
        # The quadratic pair stage's parallelism is the PROBE side's
        # partitioning: when `b` broadcasts (small inputs), no exchange
        # ever re-spreads `a`, so the O(pop²) dot-product work runs at
        # the scan's split count — 4 tasks on a 32-core box for a
        # single-small-file scan (measured 38 s of executor CPU in 4
        # tasks at the sf1 stress). Spread it to the session's
        # parallelism, gated by measured size so a 100 TB increment —
        # whose join shuffles both sides anyway and would only waste a
        # full extra exchange — never pays it (guide §2.6 idle capacity;
        # same measured-adaptivity pattern as the blas `auto` rung).
        sc = new.sparkSession.sparkContext
        dim = len(unit[0][1]) if unit else 0
        if n_new * max(dim, 1) * 8 < (1 << 28):
            a = a.repartition(sc.defaultParallelism, "__ida")
        b = both.select(
            F.col("__id").alias("__idb"), F.col("__emb").alias("__embb"),
            F.col("__n").alias("__nb"), F.col("cos_centroid").alias("__cb"),
            "cluster",
        )
        # Within-cluster candidates only; the neighbour must BEAT this row
        # on the keep key for the row to drop, so each duplicate relation
        # keeps exactly its minimum. Equi-join on cluster => bounded task
        # work.
        beats = (F.col("__cb") < F.col("__ca")) | (
            (F.col("__cb") == F.col("__ca")) & (F.col("__idb") < F.col("__ida"))
        )
        dropped = (
            a.join(b, "cluster")
            .filter((F.col("__ida") != F.col("__idb")) & beats)
            .filter(
                dot(F.col("__emba"), F.col("__embb"))
                / (F.col("__na") * F.col("__nb"))
                > threshold
            )
            .select(F.col("__ida").alias("__dropped_id"))
            .distinct()
        )
    else:
        import pandas as pd

        def resolve(pdf: "pd.DataFrame") -> "pd.DataFrame":
            # Sort by the keep key: a row can only be dropped by a
            # strictly-earlier row, so one lower-triangle check of the
            # cluster's similarity matrix resolves every pair at once.
            # Old rows (key -inf) sort first and get no verdict.
            pdf = pdf.sort_values(["cos_centroid", "__id"], kind="mergesort")
            m = np.asarray(pdf["__emb"].tolist(), dtype=np.float64)
            norms = pdf["__n"].to_numpy()
            sims_m = (m @ m.T) / np.outer(norms, norms)
            tril = np.tril(sims_m > threshold, k=-1)
            drop = tril.any(axis=1) & (pdf["cos_centroid"].to_numpy() > -np.inf)
            return pd.DataFrame({"__dropped_id": pdf["__id"].to_numpy()[drop]})

        dropped = (
            both.select("__id", "__emb", "__n", "cos_centroid", "cluster")
            .groupBy("cluster")
            .applyInPandas(
                resolve,
                schema=f"__dropped_id {dict(new_a.dtypes)['__id']}",
            )
        )
    return (
        new_a.join(dropped, new_a["__id"] == dropped["__dropped_id"], "left")
        .select(
            F.col("__id").alias(id_col),
            "cluster",
            "cos_centroid",
            F.when(F.col("__dropped_id").isNull(), F.lit("kept"))
            .otherwise(F.lit("dropped"))
            .alias("status"),
        )
    )


def pca_components(
    emb: DataFrame,
    vec_col: str,
    dim: int | None = None,
    out_dim: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    """Principal components of an embedding column in ONE corpus scan.

    The scalable PCA shape: each partition reduces its Arrow batches to a
    (count, sum-vector, second-moment-matrix) partial via BLAS
    (``mapInPandas``), the partials — one (1 + d + d²)-double row per
    partition, kilobytes regardless of corpus size — are combined on the
    driver, and ``numpy.linalg.eigh`` runs on the d×d covariance there
    (d is bounded; the corpus is not). No iteration, no per-row Python.

    Sign convention for determinism: each component's
    largest-|coefficient| entry is made positive, so the rotation is a
    pure function of the data (eigh's sign choice is not).

    Returns (components [out_dim × d] row-major, eigenvalues desc, mean,
    n_rows).
    """
    if dim is None:
        first = emb.select(F.col(vec_col)).filter(
            F.col(vec_col).isNotNull()
        ).first()
        if first is None:
            raise ValueError("no vectors to fit PCA on")
        dim = len(first[0])
    d = dim
    v = emb.select(F.col(vec_col).alias("__v")).filter(
        F.size("__v") == d
    )

    def partials(batches):
        import pandas as pd

        n = 0
        s = np.zeros(d)
        m2 = np.zeros((d, d))
        for pdf in batches:
            x = np.array(pdf["__v"].tolist(), dtype=np.float64)
            if x.size == 0:
                continue
            n += x.shape[0]
            s += x.sum(axis=0)
            m2 += x.T @ x
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "m2": [m2.ravel().tolist()]}
            )

    rows = v.mapInPandas(
        partials, schema="n long, s array<double>, m2 array<double>"
    ).collect()
    if not rows:
        raise ValueError("no vectors to fit PCA on")
    n = sum(r["n"] for r in rows)
    s = np.sum([np.array(r["s"]) for r in rows], axis=0)
    m2 = np.sum([np.array(r["m2"]).reshape(d, d) for r in rows], axis=0)
    mean = s / n
    cov = m2 / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals = evals[order]
    comps = evecs[:, order].T  # rows = components
    flips = np.sign(comps[np.arange(comps.shape[0]),
                          np.abs(comps).argmax(axis=1)])
    comps = comps * flips[:, None]
    k = out_dim if out_dim is not None else d
    return comps[:k], evals[:k], mean, n


def pca_project(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    out_dim: int,
    dim: int | None = None,
    whiten: bool = False,
) -> DataFrame:
    """Project embeddings onto their top ``out_dim`` principal components
    (optionally whitened) — the standard pre-ANN dimensionality reduction:
    fit via the one-scan partials above, then a second map-only pass does
    the (x−mean)·Wᵀ matmul per Arrow batch. Components ride into the
    closure as a broadcast-sized literal (out_dim × d doubles).

    Returns (id_col, ``proj`` array<double>).
    """
    comps, evals, mean, _ = pca_components(emb, vec_col, dim=dim,
                                           out_dim=out_dim)
    if whiten:
        comps = comps / np.sqrt(np.maximum(evals, 1e-12))[:, None]
    w = comps.T.copy()  # d × k
    mu = mean.copy()
    d = mean.shape[0]

    def project(batches):
        import pandas as pd

        for pdf in batches:
            x = np.array(pdf["__v"].tolist(), dtype=np.float64)
            out = pd.DataFrame({
                "__pid": pdf["__pid"],
                "proj": ((x - mu) @ w).tolist() if x.size else [],
            })
            yield out

    v = emb.select(
        F.col(id_col).alias("__pid"), F.col(vec_col).alias("__v")
    ).filter(F.size("__v") == d)
    out_schema = f"__pid {dict(v.dtypes)['__pid']}, proj array<double>"
    return (
        v.mapInPandas(project, schema=out_schema)
        .withColumnRenamed("__pid", id_col)
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — Jégou et al. 2011, the workhorse of
# billion-scale ANN (FAISS IVF-PQ): vectors compress to m one-byte codes
# (64 dims -> 8 bytes at m=8, a 32x memory cut), and queries score
# candidates from an m x ksub lookup table of subspace distances (ADC,
# asymmetric distance computation) without ever touching the raw vectors.
# ---------------------------------------------------------------------------


def pq_train(
    vectors: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 2,
    sample_n: int = 128,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> dict[int, dict[int, list[float]]]:
    """Deterministic PQ codebooks: {subspace: {cid: centroid(sub floats)}}.

    Training follows FAISS's shape — per-subspace k-means over a BOUNDED
    sample (the md5-of-id-ordered first ``sample_n`` rows, the repo's
    reproducible-sample convention) — but runs the Lloyd steps as Spark
    aggregations so nothing corpus-sized ever reaches the driver:

    - seeds: the sample's first ``ksub`` rows by (md5, id), sliced per
      subspace (rank-based, so the SQL oracle replays it with one
      row_number instead of k unrolled maximin CTEs);
    - each iteration: relational argmin assignment
      (``_pq_codes_exploded`` — explode × broadcast codebook join ×
      struct-min, CONSTANT plan size; a literal m×ksub argmin expression
      costs ~19 s of plan compile per iteration over 128 cached rows,
      which would dominate the whole sf1 index build), then ONE hash
      aggregation to m x ksub rows of DECIMAL(38,18) per-dimension sums
      — exact order-independent addition, so the trained codebooks are
      bit-identical at any partitioning and exactly replayable by the
      DuckDB oracle (``knn_pq_adc``). Empty cells keep their previous
      centroid.

    The driver holds only codebooks (m*ksub*sub floats) and the tiny
    per-iteration update table. Collecting the update is one action per
    iteration — k-means' irreducible sync point.
    """
    sub = dim // m
    assert sub * m == dim, "dim must split evenly into m subspaces"
    from paimon_presto_spark.functions.hashing import md5_long

    v = vectors.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).filter(F.size("__v") == dim)
    sample = (
        v.withColumn("__h", md5_long(F.col("__id").cast("string")))
        .orderBy("__h", "__id")
        .limit(sample_n)
        .select("__id", "__v")
        .cache()
    )
    seed_rows = sample.orderBy(
        md5_long(F.col("__id").cast("string")), "__id"
    ).limit(ksub).collect()
    books: dict[int, dict[int, list[float]]] = {
        ss: {
            cid: [float(x) for x in r["__v"][ss * sub:(ss + 1) * sub]]
            for cid, r in enumerate(seed_rows)
        }
        for ss in range(m)
    }
    for _ in range(iters):
        codes = _pq_codes_exploded(sample, books, "__id", "__v").join(
            sample, "__id"
        )
        upd = codes.groupBy("ss", "code").agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum(
                    F.element_at(
                        "__v", F.col("ss") * sub + j + 1
                    ).cast("decimal(38,18)")
                ).alias(f"__s{j}")
                for j in range(sub)
            ],
        ).collect()
        for r in upd:
            ss, cid, n = r["ss"], r["code"], r["__n"]
            books[ss][cid] = [float(r[f"__s{j}"]) / n for j in range(sub)]
    sample.unpersist()
    return books


def _books_df(spark, books: dict[int, dict[int, list[float]]]):
    """Codebooks as a (ss, cid, c) DataFrame — m*ksub rows, broadcastable
    by construction."""
    rows = [
        (ss, cid, [float(x) for x in vec])
        for ss, book in books.items()
        for cid, vec in book.items()
    ]
    return spark.createDataFrame(rows, "ss int, cid int, c array<double>")


def _pq_codes_exploded(
    vectors: DataFrame,
    books: dict[int, dict[int, list[float]]],
    id_col: str,
    vec_col: str,
    carry: dict[str, "Column"] | None = None,
) -> DataFrame:
    """(id, ss, code[, carry...]) triples for every vector x subspace.

    ``carry`` maps output-column names to expressions over the INPUT row
    (e.g. an IVF bucket derived from the vector); they ride the same
    single corpus scan instead of forcing callers into a second scan
    plus an id-join. Carried values are functionally dependent on the
    id, so adding them to the group keys changes no group.

    Explode m subspace rows per vector, broadcast-join the m*ksub
    codebook table, and take the per-(id, ss) min (dist, cid) struct
    with ONE hash aggregation — the 16x candidate expansion collapses
    map-side in the partial aggregate, so the shuffle carries 8 narrow
    rows per vector. Plan size is CONSTANT in ksub, so it scales to
    FAISS-sized ksub=256 codebooks. The distance is a left fold from
    0.0 over the sub dimension, ties go to the lowest cid.
    """
    m = len(books)
    sub = len(books[0][0])
    dim = m * sub
    carry = carry or {}
    cnames = list(carry)
    v = vectors.select(
        F.col(id_col),
        *[expr.alias(nm) for nm, expr in carry.items()],
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).filter(F.size("__v") == dim)
    expl = v.select(
        id_col,
        *cnames,
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("ss"),
        F.col("__v"),
    ).select(
        id_col,
        *cnames,
        F.col("ss").cast("int").alias("ss"),
        F.slice("__v", F.col("ss") * sub + 1, sub).alias("sv"),
    )
    bdf = _books_df(vectors.sparkSession, books)
    cand = expl.join(F.broadcast(bdf), "ss").select(
        id_col,
        *cnames,
        "ss",
        F.struct(
            F.aggregate(
                F.zip_with("sv", "c", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            F.col("cid").alias("cid"),
        ).alias("dc"),
    )
    return (
        cand.groupBy(id_col, *cnames, "ss")
        .agg(F.min("dc").alias("best"))
        .select(id_col, *cnames, "ss", F.col("best.cid").alias("code"))
    )


def _pq_codes_blas(
    v: DataFrame, books: dict[int, dict[int, list[float]]]
) -> DataFrame:
    """Arrow-batched PQ encode: one numpy pass per batch computes all m
    subspace argmins, BIT-IDENTICAL to the relational rung
    (``_pq_codes_exploded``).

    The relational rung's plan is constant-size in ksub but pays a
    16x-exploded shuffle + hash aggregation per corpus encode. This rung
    is map-only AND constant-size: vectors stream through mapInPandas,
    distances vectorize over (batch × ksub), and ONLY the m-byte codes
    leave Python.

    Bit-identity is engineered, not hoped for — the oracle gates codes,
    and argmin flips when near-ties round differently:
    - the squared-distance accumulation runs SEQUENTIALLY over the sub
      dimension (``acc = acc + term`` per j, vectorized across rows ×
      centroids), the same left-fold order as the relational rung's
      ``F.aggregate`` from ``0.0`` (``0.0 + t == t`` for the first
      square) — a true matmul expansion (|v|² − 2v·c + |c|²) would
      reassociate and break ties differently;
    - numpy elementwise float64 ops are IEEE-identical to the JVM's
      scalar doubles;
    - ``np.argmin`` returns the FIRST minimum = lowest cid, the same
      tie-break as the (dist, cid) struct-min.
    ``tests/test_retrieval.py`` pins both rungs to a numpy left-fold
    reference on real embeddings.

    Input contract: ``v`` carries (id/carry... , __v array<double>,
    size-filtered); all non-``__v`` columns pass through untouched.
    """
    import pandas as pd

    m = len(books)
    sub = len(books[0][0])
    cents = [
        np.asarray([books[ss][cid] for cid in sorted(books[ss])],
                   dtype=np.float64)
        for ss in range(m)
    ]  # each (ksub, sub), in ascending-cid order
    # map argmin POSITIONS back to the actual cids: pq_train emits dense
    # 0..ksub-1 keys, but books is caller-supplied API — a sparse
    # codebook ({0: .., 2: .., 5: ..}) must yield the same cids the
    # relational rung emits, not positions. Ascending order
    # keeps np.argmin's first-min == lowest-cid tie-break.
    cid_of_pos = [
        np.asarray(sorted(books[ss]), dtype=np.int64) for ss in range(m)
    ]
    passthrough = [f for f in v.schema.fields if f.name != "__v"]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in passthrough]
        + ["codes array<int>"]
    )
    pass_names = [f.name for f in passthrough]

    def run(batches):
        for pdf in batches:
            out = pdf[pass_names].copy()
            if len(pdf):
                X = np.asarray(pdf["__v"].tolist(), dtype=np.float64)
                codes = np.empty((len(pdf), m), dtype=np.int64)
                for ss in range(m):
                    Xs = X[:, ss * sub : (ss + 1) * sub]
                    C = cents[ss]
                    d0 = Xs[:, 0][:, None] - C[:, 0][None, :]
                    acc = d0 * d0
                    for j in range(1, sub):
                        dj = Xs[:, j][:, None] - C[:, j][None, :]
                        acc = acc + dj * dj  # left fold, as the relational rung
                    codes[:, ss] = cid_of_pos[ss][np.argmin(acc, axis=1)]
                out["codes"] = [r.tolist() for r in codes]
            else:
                out["codes"] = []
            yield out

    return v.mapInPandas(run, schema=out_schema)


def pq_encode(
    vectors: DataFrame,
    books: dict[int, dict[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encode: str = "relational",
) -> DataFrame:
    """Corpus compression: each vector becomes m centroid codes. Returns
    (id_col, codes array<int>); at 100 TB this 8-byte column IS what the
    ANN index stores and shuffles, never the vectors.

    Two rungs, bit-identical codes: ``"relational"`` (default; see
    ``_pq_codes_exploded``) and ``"blas"`` — map-only Arrow/numpy encode
    (see ``_pq_codes_blas``), the rung for corpus-scale builds, where it
    drops the relational rung's aggregation shuffle."""
    if encode not in ("relational", "blas"):
        raise ValueError(
            f"encode must be 'relational' or 'blas', got {encode!r}"
        )
    if encode == "blas":
        dim = len(books) * len(books[0][0])
        v = vectors.select(
            F.col(id_col),
            F.col(vec_col).cast("array<double>").alias("__v"),
        ).filter(F.size("__v") == dim)
        return _pq_codes_blas(v, books)
    return (
        _pq_codes_exploded(vectors, books, id_col, vec_col)
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("ss", "code"))).alias("__p"))
        .select(
            id_col,
            F.transform("__p", lambda x: x["code"]).alias("codes"),
        )
    )


def _adc_distance_table(
    queries: DataFrame,
    books: dict[int, dict[int, list[float]]],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Per-query ADC distance table: (q_id, ss, code, d) with d the
    squared L2 between the query's subvector and each codebook centroid.
    Queries are bounded by contract (collected once — FAISS keeps the
    same per-query state); entries use the SAME fixed-order float
    accumulation as the encode expressions so the oracle's SQL replay is
    bit-identical, and the q_id field inherits the query frame's id type
    (a hardcoded bigint broke non-bigint ids)."""
    m = len(books)
    sub = len(books[0][0])
    dim = m * sub
    q_rows = (
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .filter(F.size("__v") == dim)
        .collect()
    )
    table = []
    for qr in q_rows:
        qv = qr["__v"]
        for ss in range(m):
            for cid, cvec in books[ss].items():
                acc = None
                for j, c in enumerate(cvec):
                    d = float(qv[ss * sub + j]) - float(c)
                    t = d * d
                    acc = t if acc is None else acc + t
                table.append((qr["q_id"], ss, cid, acc))
    return queries.sparkSession.createDataFrame(
        table,
        T.StructType([
            T.StructField("q_id", queries.schema[id_col].dataType),
            T.StructField("ss", T.IntegerType()),
            T.StructField("code", T.IntegerType()),
            T.StructField("d", T.DoubleType()),
        ]),
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    books: dict[int, dict[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: approximate squared-L2 of query-to-vector is the sum of
    m table lookups d[ss][code], where d is the query's per-subspace
    distance table against the codebooks.

    Scale shape: queries are bounded by contract (collected once; FAISS
    does the same — the table is per-query state), the m*ksub*|queries|
    distance table broadcasts, and the scoring plan is: encoded corpus
    (posexplode of the m codes) |x| broadcast table on (ss, code), then
    ONE hash aggregation to (q, vec) with DECIMAL(38,18) sums — exact,
    order-independent, so ranks never depend on partitioning — and a
    per-query top-k window. The raw corpus vectors are read once by
    pq_encode and never again: the shuffle carries (q_id, vec_id, one
    decimal) rows.

    Table entries are computed driver-side with the same fixed-order
    float arithmetic as the encode expressions, so the oracle's SQL
    replay is bit-identical. Returns (q_id, n_id, approx_l2, rnk) with
    approx_l2 rounded to 6 decimals for display.
    """
    dtable = _adc_distance_table(queries, books, id_col, vec_col)
    exploded = _pq_codes_exploded(corpus, books, id_col, vec_col).select(
        F.col(id_col).alias("n_id"), "ss", "code"
    )
    scored = (
        exploded.join(F.broadcast(dtable), ["ss", "code"])
        .groupBy("q_id", "n_id")
        .agg(
            F.sum(F.col("d").cast("decimal(38,18)"))
            .cast("double")
            .alias("approx_l2")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("approx_l2"), F.asc("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", F.round("approx_l2", 6).alias("approx_l2"), "rnk")
    )


def truncated_dim_recall(
    corpus: DataFrame,
    queries: DataFrame,
    trunc_dims: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style dimension truncation audit: per query, the
    recall@k of ranking by cosine over only the FIRST ``trunc_dims``
    embedding dimensions against the full-dimension ground truth —
    (q_id, n_full, n_overlap, recall). The operational question behind
    MRL embeddings (Kusupati et al. 2022, arXiv:2205.13147): how much
    top-k quality survives if the index stores a prefix of each vector
    (4x-8x less memory and dot-product work at 100 TB index scale)?

    Cosine is scale-invariant, so the truncated ranking needs no
    re-normalization — the prefix slice IS the truncated embedding.
    Both rankings share one corpus scan pattern: broadcast queries,
    per-query WindowGroupLimit top-k; the overlap join is k×|queries|
    rows on both sides. Recall = |trunc∩full| / n_full (n_full = k when
    the corpus has at least k candidates per query) with exact integer
    counts (no float comparisons cross the engine boundary).
    """
    full = brute_force_topk(corpus, queries, k=k, id_col=id_col, vec_col=vec_col)
    tq = queries.select(id_col, F.slice(vec_col, 1, trunc_dims).alias(vec_col))
    tc = corpus.select(id_col, F.slice(vec_col, 1, trunc_dims).alias(vec_col))
    trunc = brute_force_topk(tc, tq, k=k, id_col=id_col, vec_col=vec_col)
    # ONE pass: the expensive full-dimension ranking is consumed once (a
    # left join marking truncated-ranking hits, then a single grouped
    # count/sum — the oracle SQL's exact shape). The truncated top-k set
    # is bounded at k x |queries| rows BY CONSTRUCTION (row_number <= k),
    # so broadcasting it is safe at any corpus size — without the hint
    # the planner sees an unsized aggregate and falls back to
    # SortMergeJoin.
    marked = trunc.select("q_id", "n_id").withColumn("__hit", F.lit(1))
    return (
        full.select("q_id", "n_id")
        .join(F.broadcast(marked), ["q_id", "n_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_full"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_overlap"),
        )
        .withColumn(
            "recall",
            F.col("n_overlap").cast("double") / F.col("n_full"),
        )
    )


def ivf_pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    books: dict[int, dict[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ ANN — the FAISS big-index layout, both halves composed:
    the coarse quantizer prunes WHICH rows are scored (each query reads
    only its ``n_probe`` posting lists), PQ-ADC prunes WHAT is read per
    row (m one-byte codes instead of the raw vector). At 100 TB the
    index is (bucket, codes) — a handful of bytes per vector — and a
    query touches |corpus| × n_probe / |lists| candidates through table
    lookups, never raw embeddings.

    Plan shape: coarse assignment is the same map-only argmax expression
    as ``ivf_topk`` (no crossJoin, no shuffle); the PQ code explode joins
    the broadcast (q_id, bucket) probe pairs on bucket, then the
    broadcast per-query distance table on (q_id, ss, code); ONE hash
    aggregation with DECIMAL(38,18) sums (exact, order-independent)
    feeds the per-query top-k window. Returns (q_id, n_id, approx_l2,
    rnk).
    """
    unit = unit_centroids(centroids)
    # ONE corpus scan: the PQ code explode carries the IVF bucket (a
    # map-only argmax over the same row) — no second scan, no id-join.
    exploded = _pq_codes_exploded(
        corpus,
        books,
        id_col,
        vec_col,
        carry={
            "bucket": (
                -F.array_max(
                    _centroid_sims(F.col(vec_col), unit)
                ).getField("negcid")
            ).cast("int")
        },
    ).select(F.col(id_col).alias("n_id"), "bucket", "ss", "code")
    # queries: probed buckets (driver-tiny) + per-query distance tables
    q_probes = queries.select(
        F.col(id_col).alias("q_id"),
        F.explode(
            F.transform(
                F.slice(
                    F.reverse(
                        F.array_sort(_centroid_sims(F.col(vec_col), unit))
                    ),
                    1,
                    n_probe,
                ),
                lambda s: (-s["negcid"]).cast("int"),
            )
        ).alias("bucket"),
    )
    dtable = _adc_distance_table(queries, books, id_col, vec_col)
    scored = (
        exploded.join(F.broadcast(q_probes), "bucket")
        .join(F.broadcast(dtable), ["q_id", "ss", "code"])
        .groupBy("q_id", "n_id")
        .agg(
            F.sum(F.col("d").cast("decimal(38,18)"))
            .cast("double")
            .alias("approx_l2")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("approx_l2"), F.asc("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", F.round("approx_l2", 6).alias("approx_l2"), "rnk")
    )


def ivf_pq_index(
    corpus: DataFrame,
    centroids: list[tuple[int, list[float]]],
    books: dict[int, dict[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encode: str = "relational",
) -> DataFrame:
    """Materializable IVF-PQ index: (id_col, bucket, codes array<int>) —
    the FAISS train-once contract's stored half. At 100 TB the index is
    built ONCE (this one corpus scan: coarse-quantizer argmax for the
    bucket, PQ argmin per subspace for the codes) and persisted as a
    table; every later query probes the stored bytes and never touches a
    raw embedding again (``ivf_pq_probe_topk``). ``knn_ivf_pq_adc``
    retrains/re-encodes inside the query — correct, but the wrong cost
    model for a standing index; this pair splits build from probe, the
    same store-and-reuse step MinHash signatures
    (``dedup.py:minhash_lsh_pairs_incremental``) and SemDeDup assignments
    (``semdedup_incremental``) already have.

    Row payload is m one-byte codes + one int bucket — the 32x memory cut
    at dim=64 that makes posting lists scannable from storage.

    ``encode`` picks the PQ rung exactly as in ``pq_encode``.
    """
    if encode not in ("relational", "blas"):
        raise ValueError(
            f"encode must be 'relational' or 'blas', got {encode!r}"
        )
    unit = unit_centroids(centroids)
    bucket = {
        "bucket": (
            -F.array_max(
                _centroid_sims(F.col(vec_col), unit)
            ).getField("negcid")
        ).cast("int")
    }
    if encode == "blas":
        dim = len(books) * len(books[0][0])
        v = corpus.select(
            F.col(id_col),
            bucket["bucket"].alias("bucket"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        ).filter(F.size("__v") == dim)
        # bucket (a JVM codegen expression, bit-replayable) rides the
        # same scan; only the PQ argmin moves to the Arrow/numpy pass —
        # map-only, zero shuffle, codes bit-identical to the relational
        # rung (_pq_codes_blas)
        return _pq_codes_blas(v, books)
    ex = _pq_codes_exploded(corpus, books, id_col, vec_col, carry=bucket)
    return (
        ex.groupBy(id_col, "bucket")
        .agg(F.array_sort(F.collect_list(F.struct("ss", "code"))).alias("__p"))
        .select(
            id_col,
            "bucket",
            F.transform("__p", lambda x: x["code"]).alias("codes"),
        )
    )


def ivf_pq_probe_topk(
    index: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    books: dict[int, dict[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a STORED IVF-PQ index (``ivf_pq_index``'s (id, bucket,
    codes) table): identical results to ``ivf_pq_adc_topk`` over the same
    corpus/books, but the corpus side is never trained, encoded, or even
    read as vectors — the plan over the index is posexplode(codes) plus
    two broadcast joins. ``centroids``/``books`` shape only the QUERY
    side (probe assignment + the per-query ADC table), which is bounded
    by contract.

    Scale shape: the probe-pair join prunes the stored posting lists to
    n_probe/|lists| of the index; scores are m broadcast table lookups
    summed as DECIMAL(38,18) (exact, order-independent); the per-query
    top-k is a WindowGroupLimit window. Nothing corpus-sized shuffles but
    the (q_id, n_id, decimal) partial-aggregated score rows.
    """
    unit = unit_centroids(centroids)
    exploded = index.select(
        F.col(id_col).alias("n_id"),
        "bucket",
        F.posexplode("codes").alias("ss", "code"),
    )
    q_probes = queries.select(
        F.col(id_col).alias("q_id"),
        F.explode(
            F.transform(
                F.slice(
                    F.reverse(
                        F.array_sort(_centroid_sims(F.col(vec_col), unit))
                    ),
                    1,
                    n_probe,
                ),
                lambda s: (-s["negcid"]).cast("int"),
            )
        ).alias("bucket"),
    )
    dtable = _adc_distance_table(queries, books, id_col, vec_col)
    scored = (
        exploded.join(F.broadcast(q_probes), "bucket")
        .join(F.broadcast(dtable), ["q_id", "ss", "code"])
        .groupBy("q_id", "n_id")
        .agg(
            F.sum(F.col("d").cast("decimal(38,18)"))
            .cast("double")
            .alias("approx_l2")
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("approx_l2"), F.asc("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", F.round("approx_l2", 6).alias("approx_l2"), "rnk")
    )


def _sq8_coded(
    df: DataFrame, pre: str, id_col: str, vec_col: str
) -> DataFrame:
    """(pre_id, pre_emb, pre_codes, __pre-n): symmetric max-abs int8
    codes (scale-free — direction only) + the l2 norm; all-zero vectors
    are dropped (no direction to encode)."""
    vec = F.col(vec_col)
    mx = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    out = df.withColumn("__mx", mx).filter(F.col("__mx") > 0)
    codes = F.transform(
        vec,
        lambda x: F.floor(
            x.cast("double") * (F.lit(127.0) / F.col("__mx")) + F.lit(0.5)
        ).cast("long"),
    )
    return out.select(
        F.col(id_col).alias(f"{pre}_id"),
        F.col(vec_col).alias(f"{pre}_emb"),
        codes.alias(f"{pre}_codes"),
    ).withColumn(f"__{pre}n", l2_norm(F.col(f"{pre}_emb")))


def sq8_codes(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Materializable SQ8 index: (id_col, codes array<long>) — the stored
    column the coarse scan reads instead of float32 vectors (4x fewer
    bytes; int8 at rest once the writer narrows the type). Codes are
    per-vector, so appends encode only the increment:
    codes(old) ∪ codes(new) == codes(old ∪ new)."""
    return _sq8_coded(corpus, "n", id_col, vec_col).select(
        F.col("n_id").alias(id_col), F.col("n_codes").alias("codes")
    )


def sq8_probe_topk(
    codes_df: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    coarse_k: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 probe over a STORED codes table: (q_id, n_id, int_dot,
    cos_sim, rnk) — identical results to ``sq8_rerank_topk``, different
    read path: the coarse integer scan touches ONLY ``codes_df`` (the
    persisted index — no quantization, no vector reads), and the exact
    refine stage joins the |Q| x coarse_k survivors back to the
    full-precision corpus by id (the FAISS ``refine`` topology: the
    big-vector table is read candidate-wise, never scanned).
    """
    q = F.broadcast(_sq8_coded(queries, "q", id_col, vec_col))
    c = codes_df.select(
        F.col(id_col).alias("n_id"), F.col("codes").alias("n_codes")
    )
    int_dot = F.aggregate(
        F.zip_with(F.col("q_codes"), F.col("n_codes"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    wc = Window.partitionBy("q_id").orderBy(F.desc("int_dot"), F.asc("n_id"))
    coarse = (
        c.crossJoin(q.drop("q_emb"))
        .withColumn("int_dot", int_dot)
        .withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= coarse_k)
        .drop("n_codes", "q_codes")
    )
    full = corpus.select(
        F.col(id_col).alias("n_id"), F.col(vec_col).alias("n_emb")
    ).withColumn("__nn", l2_norm(F.col("n_emb")))
    qv = F.broadcast(
        queries.select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb")
        )
    )
    we = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("n_id"))
    return (
        coarse.join(full, "n_id")
        .join(qv, "q_id")
        .withColumn(
            "cos_raw",
            dot(F.col("q_emb"), F.col("n_emb"))
            / (F.col("__qn") * F.col("__nn")),
        )
        .withColumn("rnk", F.row_number().over(we))
        .filter(F.col("rnk") <= k)
        .select(
            "q_id",
            "n_id",
            "int_dot",
            F.round("cos_raw", 6).alias("cos_sim"),
            "rnk",
        )
    )


def sq8_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    coarse_k: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SQ8 scan + exact re-rank: (q_id, n_id, int_dot, cos_sim, rnk).

    The two-stage scalar-quantization ANN shape (FAISS ``SQ8`` +
    ``refine``): stage 1 scores every corpus vector with an INTEGER dot
    product over symmetric int8 codes (``floor(x * 127/max|x| + 0.5)`` —
    scale-free, so codes encode direction only) and keeps the top
    ``coarse_k`` per query; stage 2 re-scores only those candidates with
    the exact full-precision cosine and keeps ``k``.

    Scale shape: the corpus scan reads 4x fewer bytes once codes are a
    stored column (int8 vs float32); the coarse score is pure integer
    codegen (exact in both engines — the coarse CUT is bit-reproducible,
    unlike float-scored ANN cuts); only |Q| x coarse_k rows reach the
    exact stage. Both stages are WindowGroupLimit windows — no global
    sort. The coarse ranking ignores the per-vector spread factor
    ``||x||/max|x|`` (a dequantized-corrected score would need float
    compares); ``coarse_k >> k`` headroom absorbs it and the re-rank
    restores exact order.

    All-zero vectors have no direction to encode and are dropped on BOTH
    sides: a zero corpus vector never appears as a neighbor, and a zero
    QUERY vector yields no output rows for its q_id (callers fusing
    per-query results should treat a missing q_id as "no results", the
    same contract as an empty corpus).
    """
    q = F.broadcast(_sq8_coded(queries, "q", id_col, vec_col))
    c = _sq8_coded(corpus, "n", id_col, vec_col)
    int_dot = F.aggregate(
        F.zip_with(F.col("q_codes"), F.col("n_codes"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    wc = Window.partitionBy("q_id").orderBy(F.desc("int_dot"), F.asc("n_id"))
    coarse = (
        c.crossJoin(q)
        .withColumn("int_dot", int_dot)
        .withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= coarse_k)
    )
    we = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("n_id"))
    return (
        coarse.withColumn(
            "cos_raw",
            dot(F.col("q_emb"), F.col("n_emb"))
            / (F.col("__qn") * F.col("__nn")),
        )
        .withColumn("rnk", F.row_number().over(we))
        .filter(F.col("rnk") <= k)
        .select(
            "q_id",
            "n_id",
            "int_dot",
            F.round("cos_raw", 6).alias("cos_sim"),
            "rnk",
        )
    )
