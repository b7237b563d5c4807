"""Operator tests: dedup recall properties, ANN vs exact baseline,
text analysis, multimodal batch plumbing.
"""

import pyspark.sql.functions as F
import pytest

from paimon_presto_spark.operators import (
    brute_force_topk,
    cosine_pairs,
    exact_dedup,
    language_id,
    lsh_bucketed_topk,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    quality_metrics,
    simhash_pairs,
    simhash_signatures,
)
from paimon_presto_spark.operators.dedup import keep_first_of_clusters, ngram_containment

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_counts(spark, docs):
    out = exact_dedup(docs, "doc_id", "text")
    n_docs = docs.count()
    agg = out.agg(F.sum("n_copies"), F.count(F.lit(1))).collect()[0]
    assert agg[0] == n_docs  # every doc accounted for
    assert agg[1] <= n_docs


def test_exact_dedup_duplicates_found(spark):
    d = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id int, text string"
    )
    out = {r["text_hash"]: (r["keeper_doc_id"], r["n_copies"])
           for r in exact_dedup(d, "doc_id", "text").collect()}
    assert sorted(out.values()) == [(1, 2), (3, 1)]


def test_minhash_finds_planted_near_dups(spark, docs):
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    got = pairs.collect()
    assert len(got) > 0  # the corpus has planted near-dups (jaccard ~0.98)
    assert all(r["jaccard"] >= 0.5 for r in got)
    assert all(r["doc_a"] < r["doc_b"] for r in got)


def test_minhash_lsh_recall_vs_exhaustive(spark, docs):
    # every pair LSH finds at >=0.8 must also be found exhaustively, and
    # high-similarity pairs (j >= 0.9) must not escape 4x4 banding
    # (P(miss) = (1-j^4)^4 < 0.6% at j=0.9)
    lsh = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in minhash_lsh_pairs(docs, threshold=0.8).collect()}
    exact = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(docs, shingle_n=3, max_df=10**9,
                                          threshold=0.8).collect()}
    assert set(lsh) <= set(exact)
    strong = {p for p, j in exact.items() if j >= 0.9}
    assert strong <= set(lsh)


def test_minhash_incremental_equals_full_minus_old_old(spark, docs):
    """Incremental contract: pairs(old, new) == full-corpus pairs restricted
    to pairs touching a new doc — and passing PRECOMPUTED old signatures
    (the resumability path) produces the identical result."""
    from paimon_presto_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
        minhash_signature,
        shingle_hashes,
    )

    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    split = ids[len(ids) // 2]
    old = docs.filter(F.col("doc_id") < split)
    new = docs.filter(F.col("doc_id") >= split)

    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    expect = {p: j for p, j in full.items() if p[0] >= split or p[1] >= split}
    assert expect and len(expect) < len(full)  # both kinds must exist

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs_incremental(old, new, threshold=0.5).collect()
    }
    assert got == expect

    # resumability: yesterday's stored signatures give the same answer
    old_sigs = minhash_signature(shingle_hashes(old, "doc_id", "text", 3), 16)
    got2 = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs_incremental(
            old, new, threshold=0.5, old_signatures=old_sigs
        ).collect()
    }
    assert got2 == expect


def test_simhash_pairs_chunk_banding_recall(spark, docs):
    # chunk-banded pair generation must equal brute force over signatures
    sigs = simhash_signatures(docs).collect()
    by_id = {r["doc_id"]: r["simhash"] for r in sigs}
    ids = sorted(by_id)
    brute = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin(by_id[a] ^ by_id[b]).count("1") <= 2:
                brute.add((a, b))
    banded = {(r["doc_a"], r["doc_b"])
              for r in simhash_pairs(docs, max_hamming=2).collect()}
    assert banded == brute


def test_ngram_containment_exact_values(spark):
    """Hand-checkable corpus: a fully-contained test doc, a half-contained
    one, and a disjoint one."""
    train = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id int, text string",
    )
    test = spark.createDataFrame(
        [
            (1, "quick brown fox jumps over"),  # 1 shingle, in train
            (3, "brown fox jumps over the lazy cat now ok"),  # 5 shingles, 2 hit
            (5, "totally different words here entirely"),  # 1 shingle, 0 hit
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: (r["n_shingles"], r["n_overlap"], r["containment"])
        for r in ngram_containment(train, test, shingle_n=5).collect()
    }
    assert out[1] == (1, 1, 1.0)
    assert out[3] == (5, 2, pytest.approx(0.4))
    assert out[5] == (1, 0, 0.0)


def test_ngram_containment_self_is_total(spark, docs):
    """Every doc tested against a corpus containing itself is 100% contained."""
    out = ngram_containment(docs, docs.limit(20), shingle_n=5)
    assert out.count() == 20
    assert out.filter(F.col("containment") < 1.0).count() == 0


def test_keep_first_of_clusters(spark):
    pairs = spark.createDataFrame([(1, 2), (1, 3), (5, 6)], "doc_a int, doc_b int")
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(1, 8)],
                                 "doc_id int, text string")
    kept = sorted(r["doc_id"] for r in
                  keep_first_of_clusters(pairs, docs, "doc_id").collect())
    assert kept == [1, 4, 5, 7]


def test_brute_force_topk_matches_numpy(spark, embeddings):
    import numpy as np

    q = embeddings.filter(F.col("vec_id") < 3)
    out = brute_force_topk(embeddings.filter(F.col("vec_id") >= 3), q, k=5)
    got = {(r["q_id"], r["rnk"]): r["n_id"] for r in out.collect()}

    rows = embeddings.collect()
    mat = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
    for qid in range(3):
        qv = mat[qid] / np.linalg.norm(mat[qid])
        sims = sorted(
            ((float(np.dot(qv, v / np.linalg.norm(v))), nid)
             for nid, v in mat.items() if nid >= 3),
            key=lambda t: (-t[0], t[1]),
        )
        for rnk, (_, nid) in enumerate(sims[:5], start=1):
            assert got[(qid, rnk)] == nid


def test_lsh_topk_recall_on_clustered_data(spark):
    # LSH recall is only meaningful when near neighbors exist (on uniform
    # random vectors recall == probed-bucket fraction by construction).
    # Plant 10 tight clusters; true neighbors then share sign buckets w.h.p.
    import numpy as np

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((10, 64))
    rows = []
    for i in range(200):
        c = centers[i % 10]
        v = c + 0.05 * rng.standard_normal(64)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    exact = {(r["q_id"], r["n_id"]) for r in brute_force_topk(corpus, q, k=5).collect()}
    approx_rows = lsh_bucketed_topk(corpus, q, k=5, n_planes=4,
                                    multiprobe_hamming=1).collect()
    approx = {(r["q_id"], r["n_id"]) for r in approx_rows}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"ANN recall too low on clustered data: {recall}"
    # scores returned by the approximate path are exact cosine values
    brute = {(r["q_id"], r["n_id"]): r["cos_sim"]
             for r in brute_force_topk(corpus, q, k=10**9).collect()}
    for r in approx_rows:
        assert abs(r["cos_sim"] - brute[(r["q_id"], r["n_id"])]) < 1e-12


def test_lsh_cosine_pairs_guarantee(spark):
    """lsh_cosine_pairs contract: (precision) every returned pair has exact
    cosine > threshold; (recall) every above-threshold pair whose buckets
    are within Hamming distance 1 IS returned — replayed independently in
    numpy with the same seeded hyperplanes."""
    import numpy as np
    from paimon_presto_spark.operators.similarity import (
        _hyperplanes,
        cosine_pairs,
        lsh_cosine_pairs,
    )

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 64))
    rows = []
    for i in range(120):
        v = centers[i % 8] + 0.08 * rng.standard_normal(64)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    thr, n_planes = 0.6, 4

    got = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in lsh_cosine_pairs(emb, thr, n_planes=n_planes).collect()
    }
    exact = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in cosine_pairs(emb, thr).collect()
    }
    # precision: subset of the exact result, scores identical
    for pair, sim in got.items():
        assert pair in exact
        assert abs(sim - exact[pair]) < 1e-12
    # recall guarantee: numpy replay of the seeded buckets
    X = np.asarray([v for _, v in rows])
    planes = np.asarray(_hyperplanes(64, n_planes))
    buckets = ((X @ planes.T) > 0).astype(int) @ (1 << np.arange(n_planes))
    missed = []
    for (a, b), _ in exact.items():
        ham = bin(int(buckets[a]) ^ int(buckets[b])).count("1")
        if ham <= 1 and (a, b) not in got:
            missed.append((a, b, ham))
    assert not missed, f"pairs within hamming<=1 missed: {missed[:5]}"
    # and no duplicates from multiprobe
    allrows = lsh_cosine_pairs(emb, thr, n_planes=n_planes).collect()
    assert len(allrows) == len({(r["vec_a"], r["vec_b"]) for r in allrows})
    # the BLAS verify rung returns the same pair set with cosines equal up
    # to float reassociation (grouped matmul vs left-to-right fold)
    blas = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in lsh_cosine_pairs(
            emb, thr, n_planes=n_planes, verify="blas"
        ).collect()
    }
    assert set(blas) == set(got)
    for pair, sim in blas.items():
        assert abs(sim - got[pair]) < 1e-9


def test_bloom_decontaminate_no_false_negatives(spark, docs):
    """Bloom contract: (completeness) every shingle that exactly appears in
    the eval corpus hits the filter — false negatives are impossible by
    construction, so n_hits >= exact n_overlap per doc; (boundedness) the
    bitmap never exceeds ceil(m/63) rows no matter the input size; (safety
    direction) with a filter sized to the vocabulary, FPs stay rare."""
    from paimon_presto_spark.operators.dedup import (
        bloom_bitmap,
        bloom_decontaminate,
        ngram_containment,
        shingle_hashes,
    )

    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    m_bits = 1 << 16
    got = {
        r["doc_id"]: r
        for r in bloom_decontaminate(train, test, shingle_n=3, m_bits=m_bits).collect()
    }
    # exact containment of each TRAIN doc in the EVAL vocabulary (roles
    # swapped relative to decontaminate_ngram_overlap's entry)
    exact = {
        r["doc_id"]: r for r in ngram_containment(test, train, shingle_n=3).collect()
    }
    assert set(got) == set(exact)
    for d, r in got.items():
        assert r["n_shingles"] == exact[d]["n_shingles"]
        assert r["n_hits"] >= exact[d]["n_overlap"], f"false negative in doc {d}"
    # bitmap bounded by construction
    h = shingle_hashes(test, "doc_id", "text", 3, distinct=False).select("h")
    assert bloom_bitmap(h, m_bits=m_bits).count() <= (m_bits + 62) // 63
    # FP rate sanity: total hits shouldn't exceed exact overlap by much when
    # the filter is comfortably sized for the vocabulary
    total_hits = sum(r["n_hits"] for r in got.values())
    total_exact = sum(r["n_overlap"] for r in exact.values())
    total_sh = sum(r["n_shingles"] for r in got.values())
    assert (total_hits - total_exact) <= 0.2 * total_sh


def test_semdedup_keep_rule_and_cluster_fence(spark):
    """semdedup contract on a hand-built 2-cluster geometry: (keep rule) the
    lowest-centroid-cosine member of a close pair survives, id breaks ties;
    (fence) a near-dup pair straddling two clusters is NOT deduplicated —
    that miss is the documented recall trade that buys the bounded
    equi-join."""
    from paimon_presto_spark.operators.similarity import semdedup

    rows = [
        (0, [1.0, 0.01, 0.0, 0.0]),  # cluster 0, near-dup of 1, most typical
        (1, [1.0, 0.05, 0.0, 0.0]),  # cluster 0, near-dup of 0, less typical
        (3, [0.72, 0.70, 0.0, 0.0]),  # cluster 0 boundary …
        (4, [0.70, 0.72, 0.0, 0.0]),  # … cluster 1 boundary: cos(3,4)>0.99
        (5, [0.0, 1.0, 0.5, 0.0]),  # cluster 1, no close partner
        (6, [0.0, 1.0, 0.0, 0.0]),  # cluster 1, identical twin of 7
        (7, [0.0, 1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    out = {r["vec_id"]: r for r in semdedup(emb, cents, 0.95).collect()}

    assert len(out) == len(rows)  # one verdict per input row
    assert {i: out[i]["cluster"] for i in out} == {
        0: 0, 1: 0, 3: 0, 4: 1, 5: 1, 6: 1, 7: 1,
    }
    # keep rule: (0,1) are a close pair; 1 has the LOWER centroid cosine
    assert out[0]["status"] == "dropped" and out[1]["status"] == "kept"
    # tie-break: identical twins -> lower id survives
    assert out[6]["status"] == "kept" and out[7]["status"] == "dropped"
    # cluster fence: (3,4) are near-dups across the cluster border -> both kept
    assert out[3]["status"] == "kept" and out[4]["status"] == "kept"
    # unpaired row untouched
    assert out[5]["status"] == "kept"
    # the BLAS rung (one matmul per cluster) resolves the same drop set
    blas = {
        r["vec_id"]: r["status"]
        for r in semdedup(emb, cents, 0.95, pair_backend="blas").collect()
    }
    assert blas == {i: out[i]["status"] for i in out}
    # auto rung: tiny clusters stay on codegen (below the crossover) and
    # the result is unchanged either way
    auto = {
        r["vec_id"]: r["status"]
        for r in semdedup(emb, cents, 0.95, pair_backend="auto").collect()
    }
    assert auto == {i: out[i]["status"] for i in out}
    with pytest.raises(ValueError, match="pair_backend"):
        semdedup(emb, cents, 0.95, pair_backend="gpu")


def test_semdedup_auto_picks_blas_past_crossover(spark, monkeypatch):
    """pair_backend='auto' must switch to the BLAS rung once the largest
    cluster exceeds the crossover; pin it by lowering the constant and
    checking the result still matches codegen on the same input."""
    from paimon_presto_spark.operators import similarity as sim

    rows = [(i, [1.0, 0.001 * i, 0.0, 0.0]) for i in range(12)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    codegen = {
        r["vec_id"]: r["status"]
        for r in sim.semdedup(emb, cents, 0.9999).collect()
    }
    monkeypatch.setattr(sim, "SEMDEDUP_BLAS_MIN_CLUSTER", 4)
    auto = {
        r["vec_id"]: r["status"]
        for r in sim.semdedup(emb, cents, 0.9999, pair_backend="auto").collect()
    }
    assert auto == codegen
    assert "dropped" in auto.values()  # the pair search actually ran


def test_semdedup_incremental_stability_and_stored_assignment(spark):
    """Incremental contract: (stability) a new near-dup of a published old
    member is dropped even when the standard keep rule would prefer the
    new one; (standard rule) new-vs-new pairs keep the most atypical;
    (resumability) passing the old side's STORED (cluster, cos_centroid)
    gives the identical verdicts without re-scoring the old corpus."""
    from paimon_presto_spark.operators.similarity import semdedup_incremental

    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    old = spark.createDataFrame(
        [(0, [1.0, 0.05, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    new = spark.createDataFrame(
        [
            # more atypical than old 0 (lower cos_centroid): the standard
            # rule would keep it and drop 0 — stability must drop it instead
            (10, [1.0, 0.2, 0.0, 0.0]),
            (11, [0.0, 1.0, 0.05, 0.0]),  # new-new pair with 12 …
            (12, [0.0, 1.0, 0.1, 0.0]),  # … 12 is more atypical -> kept
            (13, [0.0, 1.0, 2.0, 0.0]),  # unpaired
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r["status"]
        for r in semdedup_incremental(old, new, cents, 0.95).collect()
    }
    assert out == {10: "dropped", 11: "dropped", 12: "kept", 13: "kept"}

    # stored-assignment path: centroids here are unit vectors, so the old
    # row's cos_centroid is dot/norm computed by hand
    import math

    n0 = math.sqrt(1.0 + 0.05 * 0.05)
    old_stored = spark.createDataFrame(
        [(0, [1.0, 0.05, 0.0, 0.0], 0, 1.0 / n0)],
        "vec_id long, embedding array<double>, cluster int, cos_centroid double",
    )
    out2 = {
        r["vec_id"]: r["status"]
        for r in semdedup_incremental(old_stored, new, cents, 0.95).collect()
    }
    assert out2 == out


def test_semdedup_matches_numpy_reference(spark):
    """Randomized cross-check: semdedup (both pair backends) against an
    independent numpy implementation of assignment + keep rule, over
    clustered random vectors where near-dups actually occur. Also checks
    semdedup_incremental over an old/new split of the same rows, and that
    junk ``cluster``/``cos_centroid`` input columns do not change the
    batch verdicts."""
    import numpy as np
    from paimon_presto_spark.operators.similarity import (
        _hyperplanes,
        semdedup,
        semdedup_incremental,
        unit_centroids,
    )

    rng = np.random.default_rng(23)
    centers = rng.standard_normal((6, 16))
    rows = []
    for i in range(200):
        # half the rows are jittered copies of earlier rows -> real dups
        if i >= 100:
            base = np.asarray(rows[i - 100][1])
            v = base + 0.02 * rng.standard_normal(16)
        else:
            v = centers[i % 6] + 0.3 * rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = list(enumerate(_hyperplanes(16, 4, seed=7)))
    thr = 0.9

    # numpy reference
    X = np.asarray([v for _, v in rows])
    U = np.asarray([v for _, v in unit_centroids(cents)])
    scores = X @ U.T
    # argmax with lowest-cid tie-break == np.argmax's first-max rule
    cl = scores.argmax(axis=1)
    nrm = np.linalg.norm(X, axis=1)
    cos_c = scores[np.arange(len(X)), cl] / nrm
    sims_m = (X @ X.T) / np.outer(nrm, nrm)
    expect = {}
    for i in range(len(X)):
        dropped = any(
            cl[j] == cl[i]
            and j != i
            and sims_m[i, j] > thr
            and (cos_c[j], j) < (cos_c[i], i)
            for j in range(len(X))
        )
        expect[i] = "dropped" if dropped else "kept"
    assert "dropped" in expect.values()  # the scenario must exercise drops

    # incremental splits (old = ids < cut): an old row beats every new
    # row; new-vs-new pairs follow the batch keep rule. Every row >= 100
    # copies row i - 100, so cut=100 drops the whole increment; cut=3
    # leaves most clusters to new-vs-new pairs.
    expect_inc = {}
    for cut in (100, 3):
        expect_inc[cut] = {}
        for i in range(cut, len(X)):
            dropped = any(
                cl[j] == cl[i]
                and j != i
                and sims_m[i, j] > thr
                and (j < cut or (cos_c[j], j) < (cos_c[i], i))
                for j in range(len(X))
            )
            expect_inc[cut][i] = "dropped" if dropped else "kept"
        # some verdicts differ from the batch rule: old members win
        assert any(v != expect[i] for i, v in expect_inc[cut].items())
    assert set(expect_inc[3].values()) == {"dropped", "kept"}

    junk = emb.withColumn("cluster", F.lit(99)).withColumn(
        "cos_centroid", F.lit(0.5)
    )
    for backend in ("codegen", "blas"):
        got = {
            r["vec_id"]: (r["cluster"], r["status"])
            for r in semdedup(emb, cents, thr, pair_backend=backend).collect()
        }
        assert {i: got[i][0] for i in got} == {i: int(cl[i]) for i in expect}
        assert {i: got[i][1] for i in got} == expect, backend
        got_junk = {
            r["vec_id"]: r["status"]
            for r in semdedup(junk, cents, thr, pair_backend=backend).collect()
        }
        assert got_junk == expect, backend
        for cut, want in expect_inc.items():
            got_inc = {
                r["vec_id"]: r["status"]
                for r in semdedup_incremental(
                    emb.filter(F.col("vec_id") < cut),
                    emb.filter(F.col("vec_id") >= cut),
                    cents, thr, pair_backend=backend,
                ).collect()
            }
            assert got_inc == want, (backend, cut)


def test_kmeans_input_validation(spark):
    from paimon_presto_spark.operators.similarity import kmeans_centroids

    emb = spark.createDataFrame(
        [(i, [float(i), float(i + 1)]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    # dim inferred from the sample
    cents = kmeans_centroids(emb, k=2, max_iter=2)
    assert all(len(v) == 2 for _, v in cents)
    # k larger than the usable sample -> loud error, not a hang
    with pytest.raises(ValueError, match="usable sample"):
        kmeans_centroids(emb, k=7, max_iter=1)
    # malformed (wrong-dim) rows are excluded, not corrupting
    mixed = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]), (3, [0.1, 1.0]),
         (4, [9.9]), (5, [1.0, 1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_centroids(mixed, k=2, max_iter=4)
    assert all(len(v) == 2 and all(x == x for x in v) for _, v in cents)


def test_quality_metrics(spark, docs):
    out = quality_metrics(docs).collect()
    assert len(out) == docs.count()
    for r in out[:20]:
        assert r["n_tokens"] > 0
        assert 0 <= r["punct_ratio"] <= 1
        assert r["mean_token_len"] > 0


def test_language_id_deterministic(spark):
    d = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the dog is here"),
            (2, "el perro y la casa de la madre que es"),
            (3, "der hund und die katze das ist von ein"),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["predicted_lang"] for r in language_id(d).collect()}
    assert got == {1: "en", 2: "es", 3: "de"}


def test_multimodal_plumbing(spark):
    from paimon_presto_spark.operators.multimodal import (
        extract_image_features,
        media_stats,
        sample_frames,
    )

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(b"\x89PNG-fake-bytes-1"), "image/png", None, None, None),
            (2, "image", bytearray(b"\x89PNG-other-bytes"), "image/png", None, None, None),
            (3, "video", bytearray(b"\x00\x00mp4-fake"), "video/mp4", None, None, 3500),
        ],
        "media_id bigint, kind string, payload binary, mime string, "
        "width int, height int, duration_ms bigint",
    )
    feats = extract_image_features(media.filter("kind = 'image'"), use_fake_decoder=True)
    rows = {r["media_id"]: r for r in feats.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["n_bytes"] == 17 and rows[1]["phash"] != rows[2]["phash"]
    # determinism of the fake decode
    again = {r["media_id"]: r["phash"] for r in
             extract_image_features(media.filter("kind = 'image'"),
                                    use_fake_decoder=True).collect()}
    assert again == {k: v["phash"] for k, v in rows.items()}

    frames = sample_frames(media.filter("kind = 'video'"), every_ms=1000,
                           use_fake_decoder=True)
    assert frames.count() == 3  # 3500ms // 1000ms

    stats = {r["kind"]: r["n_items"] for r in media_stats(media).collect()}
    assert stats == {"image": 2, "video": 1}

    from paimon_presto_spark.operators.multimodal import resize_images

    resized = {
        r["media_id"]: r
        for r in resize_images(
            media.filter("kind = 'image'"), out_width=8, out_height=8,
            use_fake_decoder=True,
        ).collect()
    }
    assert set(resized) == {1, 2}
    for r in resized.values():
        assert (r["out_width"], r["out_height"]) == (8, 8)
        assert 0 < r["n_bytes_out"] <= min(r["n_bytes_in"], 8)
        assert bytes(r["resized"])  # payload transformed, non-empty

    # formats outside the built-in decoders (JPEG without pillow) raise
    # a clear error naming the missing dependency
    jpeg = spark.createDataFrame(
        [(9, "image", bytearray(b"\xff\xd8\xff\xe0JFIF-ish"), "image/jpeg",
          None, None, None)],
        "media_id bigint, kind string, payload binary, mime string, "
        "width int, height int, duration_ms bigint",
    )
    from paimon_presto_spark.operators.multimodal import _pil

    if _pil() is None:
        with pytest.raises(Exception) as exc:
            extract_image_features(jpeg).collect()
        assert "NotImplementedError" in str(exc.value) or "pillow" in str(exc.value)


def _make_png(w, h, pixel_fn):
    """Hand-rolled 8-bit RGB PNG (filter 0 rows, one Up-filtered row for
    branch coverage)."""
    import struct
    import zlib

    def chunk(t, data):
        return (
            struct.pack(">I", len(data))
            + t
            + data
            + struct.pack(">I", zlib.crc32(t + data) & 0xFFFFFFFF)
        )

    raw = b""
    prev = bytes(3 * w)
    for y in range(h):
        line = bytes(v for x in range(w) for v in pixel_fn(x, y))
        if y == h - 1 and h > 1:  # encode last row with the Up filter
            raw += b"\x02" + bytes((line[i] - prev[i]) & 0xFF for i in range(len(line)))
        else:
            raw += b"\x00" + line
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _make_bmp(w, h, pixel_fn):
    """Uncompressed 24-bit bottom-up BMP."""
    import struct

    stride = (w * 3 + 3) & ~3
    data = b""
    for y in reversed(range(h)):
        row = b""
        for x in range(w):
            r, g, b = pixel_fn(x, y)
            row += bytes((b, g, r))
        data += row + b"\0" * (stride - len(row))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0)
    return header + dib + data


def test_multimodal_real_decoders(spark):
    """Real (dependency-free) decode paths: PNG and BMP through
    extract_image_features, resize to PPM, WAV through
    extract_audio_features — actual byte-streams end-to-end."""
    import io
    import wave as wave_mod

    from paimon_presto_spark.operators.multimodal import (
        _decode_ppm,
        extract_audio_features,
        extract_image_features,
        resize_images,
    )

    # 8x8: left half black, right half white
    half = lambda x, y: (255, 255, 255) if x >= 4 else (0, 0, 0)  # noqa: E731
    png = _make_png(8, 8, half)
    bmp = _make_bmp(8, 8, half)

    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"".join((1000).to_bytes(2, "little", signed=True) for _ in range(4000)))
    wav = buf.getvalue()

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(png), "image/png", None, None, None),
            (2, "image", bytearray(bmp), "image/bmp", None, None, None),
            (3, "audio", bytearray(wav), "audio/wav", None, None, None),
        ],
        "media_id bigint, kind string, payload binary, mime string, "
        "width int, height int, duration_ms bigint",
    )
    imgs = media.filter("kind = 'image'")

    feats = {r["media_id"]: r for r in extract_image_features(imgs).collect()}
    for mid in (1, 2):
        r = feats[mid]
        assert (r["width"], r["height"]) == (8, 8)
        # half-white image: mean luma ~0.5
        assert abs(r["mean_luma"] - 0.5) < 0.01, r["mean_luma"]
    # same pixels through two different formats -> identical perceptual hash
    assert feats[1]["phash"] == feats[2]["phash"]

    resized = {r["media_id"]: r for r in resize_images(imgs, 4, 4).collect()}
    for mid in (1, 2):
        w_, h_, rows = _decode_ppm(bytes(resized[mid]["resized"]))
        assert (w_, h_) == (4, 4)
        # left half still black, right half still white after resize
        assert rows[0][:3] == b"\x00\x00\x00" and rows[0][-3:] == b"\xff\xff\xff"

    audio = extract_audio_features(media.filter("kind = 'audio'")).collect()[0]
    assert audio["sample_rate"] == 8000
    assert audio["n_channels"] == 1
    assert audio["n_samples"] == 4000
    assert audio["duration_ms"] == 500
    assert abs(audio["rms"] - 1000.0) < 1e-6


def test_energy_sign_hash_exact_bits():
    """The audio fingerprint's core is integer-exact: block energies sum
    v^2, bit p set iff blocks*E[p] strictly exceeds the total."""
    from paimon_presto_spark.operators.multimodal import _energy_sign_hash

    # 8 samples, 4 blocks of 2: energies [200, 2, 2, 2], total 206 —
    # only block 0 clears 4*E > 206; MSB-first packing puts it at bit 3
    assert _energy_sign_hash([10, 10, 1, 1, 1, 1, 1, 1], blocks=4) == 0b1000
    # all-equal blocks: strict inequality never fires
    assert _energy_sign_hash([5] * 8, blocks=4) == 0
    assert _energy_sign_hash([], blocks=4) == 0
    # bit 0 of a 64-block hash lands at 1<<63 -> signed bigint (negative)
    loud_first = [100, 100] + [1] * 126
    assert _energy_sign_hash(loud_first, blocks=64) < 0


def test_audio_fingerprint_hamming_structure(spark):
    """extract_audio_fingerprint on real WAV bytes: identical clips hash
    identically; flipping one loud/quiet block flips exactly one
    fingerprint bit (the property the banded Hamming dedup rides)."""
    import io
    import wave as wave_mod

    from paimon_presto_spark.operators.multimodal import (
        extract_audio_fingerprint,
    )

    def wav(pattern):  # pattern: 64 bools, 4 samples per block
        frames = bytearray()
        for bit in pattern:
            amp = 800 if bit else 100
            for i in range(4):
                s = amp if i % 2 == 0 else -amp
                frames += s.to_bytes(2, "little", signed=True)
        buf = io.BytesIO()
        with wave_mod.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(bytes(frames))
        return bytearray(buf.getvalue())

    base = [((7 * p + 3) % 5) < 2 for p in range(64)]  # mixed loud/quiet
    flipped = [not b if p == 17 else b for p, b in enumerate(base)]
    media = spark.createDataFrame(
        [(1, wav(base)), (2, wav(base)), (3, wav(flipped))],
        "media_id bigint, payload binary",
    )
    fp = {
        r["media_id"]: (r["afp"], r["n_samples"])
        for r in extract_audio_fingerprint(media).collect()
    }
    assert fp[1] == fp[2]
    assert fp[1][1] == 256
    diff = (fp[1][0] ^ fp[3][0]) & 0xFFFFFFFFFFFFFFFF
    assert bin(diff).count("1") == 1
    # MSB-first packing: block 17 differs -> bit (63 - 17)
    assert diff == 1 << (63 - 17)


def test_energy_sign_hash_properties():
    """Hypothesis: for ANY PCM stream, the fingerprint (a) is sign-blind
    (energy is |v|^2), (b) matches an independent naive recomputation of
    the blocks*E[p] > total rule, and (c) stays within int64 packing."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from paimon_presto_spark.operators.multimodal import _energy_sign_hash

    @settings(max_examples=200, deadline=None)
    @given(
        vals=st.lists(
            st.integers(-32768, 32767), min_size=0, max_size=300
        ),
        blocks=st.sampled_from([4, 8, 16, 64]),
    )
    def check(vals, blocks):
        fp = _energy_sign_hash(vals, blocks)
        assert fp == _energy_sign_hash([-v for v in vals], blocks)
        assert -(1 << 63) <= fp < (1 << 63)
        # independent naive recomputation (floor-boundary blocks)
        n = len(vals)
        expect = 0
        if n:
            es = [
                sum(v * v for v in vals[p * n // blocks:(p + 1) * n // blocks])
                for p in range(blocks)
            ]
            tot = sum(es)
            for p, e in enumerate(es):
                if blocks * e > tot:
                    expect |= 1 << (blocks - 1 - p)
            if expect >= 1 << 63:
                expect -= 1 << 64
        assert fp == expect

    check()


def test_salted_join_matches_plain(spark):
    from paimon_presto_spark.operators.skew import salted_join
    import pyspark.sql.functions as F

    # heavy skew: key 0 dominates
    left = spark.range(0, 2000).select(
        (F.when(F.col("id") < 1500, 0).otherwise(F.col("id") % 20)).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.createDataFrame([(i, f"r{i}") for i in range(20)], "k long, name string")
    expect = sorted(
        (r["k"], r["v"], r["name"]) for r in left.join(right, "k").collect()
    )
    got = sorted(
        (r["k"], r["v"], r["name"])
        for r in salted_join(left, right, ["k"], n_salts=4).collect()
    )
    assert got == expect

    # left join keeps unmatched rows exactly once
    right_partial = right.filter("k < 5")
    expect_l = sorted(
        (r["k"], r["v"], r["name"]) for r in left.join(right_partial, "k", "left").collect()
    )
    got_l = sorted(
        (r["k"], r["v"], r["name"])
        for r in salted_join(left, right_partial, ["k"], n_salts=4, how="left").collect()
    )
    assert got_l == expect_l


def test_two_phase_agg_matches_plain(spark):
    from paimon_presto_spark.operators.skew import two_phase_agg
    import pyspark.sql.functions as F

    df = spark.range(0, 5000).select(
        (F.col("id") % 3).alias("k"), (F.col("id") * 2).alias("v")
    )
    expect = {
        r["k"]: (r["s"], r["n"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count("v").alias("n"), F.max("v").alias("mx"))
        .collect()
    }
    got = {
        r["k"]: (r["s"], r["n"], r["mx"])
        for r in two_phase_agg(
            df, ["k"],
            {"s": F.sum("v"), "n": F.count("v"), "mx": F.max("v")},
            n_salts=4,
        ).collect()
    }
    assert got == expect


def test_ivf_topk_recall_on_clustered_data(spark):
    import numpy as np
    from paimon_presto_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 64))
    rows = []
    for i in range(200):
        c = centers[i % 8]
        v = c + 0.05 * rng.standard_normal(64)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 8)
    corpus = emb.filter(F.col("vec_id") >= 8)
    # data-aware centroids: the true cluster centers -> posting lists align
    cents = [(i, [float(x) for x in centers[i]]) for i in range(8)]
    exact = {(r["q_id"], r["n_id"]) for r in brute_force_topk(corpus, q, k=5).collect()}
    approx = {
        (r["q_id"], r["n_id"])
        for r in ivf_topk(corpus, q, cents, k=5, n_probe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, f"IVF recall too low on clustered data: {recall}"


def test_kmeans_centroids_recover_clusters(spark):
    import numpy as np
    from paimon_presto_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    rng = np.random.default_rng(23)
    centers = rng.standard_normal((4, 64)) * 3.0
    rows = []
    for i in range(160):
        c = centers[i % 4]
        v = c + 0.05 * rng.standard_normal(64)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = kmeans_centroids(emb, k=4, max_iter=8)
    assert len(cents) == 4
    # Each trained centroid must sit near exactly one true center
    # (cosine >= 0.99), and all four true centers must be claimed.
    claimed = set()
    for _, vec in cents:
        v = np.asarray(vec)
        sims = centers @ v / (np.linalg.norm(centers, axis=1) * np.linalg.norm(v))
        j = int(np.argmax(sims))
        assert sims[j] > 0.99, f"centroid drifted: best cosine {sims[j]}"
        claimed.add(j)
    assert claimed == {0, 1, 2, 3}

    # Determinism: retraining yields bit-identical centroids.
    again = kmeans_centroids(emb, k=4, max_iter=8)
    assert cents == again

    # Trained centroids drive IVF to near-exact recall on this data.
    q = emb.filter(F.col("vec_id") < 4)
    corpus = emb.filter(F.col("vec_id") >= 4)
    exact = {(r["q_id"], r["n_id"]) for r in brute_force_topk(corpus, q, k=5).collect()}
    approx = {
        (r["q_id"], r["n_id"])
        for r in ivf_topk(corpus, q, cents, k=5, n_probe=1).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.95, f"IVF-on-trained-centroids recall too low: {recall}"


def test_python_xxhash64_matches_spark(spark):
    """functions/xxhash must be bit-identical to F.xxhash64 (bucket interop).
    A date hashes its days, a timestamp (with or without time zone) its
    micros since the epoch, and a CHAR/VARCHAR its stored (padded) value."""
    import datetime

    from paimon_presto_spark.functions.xxhash import spark_bucket, spark_xxhash64

    day = datetime.date(2024, 1, 2)
    at = datetime.datetime(2024, 1, 2, 3, 4, 5, 6)
    rows = [
        (1, 42, "hello", True, day, at, at),
        (2, -7, "", False, datetime.date(1969, 12, 31),
         datetime.datetime(1960, 1, 2), datetime.datetime(1969, 12, 31, 23, 59)),
        (3, 2**60, "a" * 40, True, None, None, None),
        (4, 0, "unicode-日本語", False, datetime.date(9999, 12, 31), at, at),
        (5, -(2**62), "x" * 31, True, day, at, at),
    ]
    df = spark.createDataFrame(
        rows, "id int, n long, s string, b boolean, d date, ts timestamp, "
        "tn timestamp_ntz")
    got = df.select(
        "id", "n", "s", "b", "tn",
        F.expr("unix_date(d)").alias("days"),
        F.expr("unix_micros(ts)").alias("micros"),
        F.expr("rpad(s, 16, ' ')").alias("c"),
        F.xxhash64("id", "n", "s", "b").alias("h"),
        F.xxhash64("d", "ts", "tn").alias("hdt"),
        F.expr("xxhash64(rpad(s, 16, ' '), s)").alias("hc"),
        F.pmod(F.xxhash64("id", "s"), F.lit(8)).alias("bk"),
    ).collect()
    epoch, us = datetime.datetime(1970, 1, 1), datetime.timedelta(microseconds=1)
    for r in got:
        vals = [(r["id"], "int"), (r["n"], "bigint"), (r["s"], "string"), (r["b"], "boolean")]
        assert spark_xxhash64(vals) == r["h"]
        ntz = None if r["tn"] is None else (r["tn"] - epoch) // us
        assert spark_xxhash64([(r["days"], "date"), (r["micros"], "timestamp"),
                               (ntz, "timestamp_ntz")]) == r["hdt"]
        assert spark_xxhash64([(r["c"], "char(16)"), (r["s"], "varchar(50)")]) == r["hc"]
        assert spark_bucket(8, [(r["id"], "int"), (r["s"], "string")]) == r["bk"]


def test_connected_components_exact_clusters(spark):
    """Transitive chains collapse to one component keyed by the min id;
    disjoint clusters stay separate; singletons (no pairs) don't appear."""
    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (1~4 never scored), separate pair (10, 11),
        # triangle (20,21),(21,22),(20,22)
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["component"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain_converges(spark):
    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.dedup import connected_components

    n = 40  # deeper than a "shallow" dedup cluster
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    got = connected_components(pairs, max_iter=60).collect()
    assert all(r["component"] == 0 for r in got) and len(got) == n + 1
    # default arguments (curate_corpus' call shape): the chain is deeper
    # than the propagation budget, so the star rounds finish it exactly
    got = connected_components(pairs).collect()
    assert all(r["component"] == 0 for r in got) and len(got) == n + 1


def test_curate_corpus_end_to_end(spark):
    """Pipeline composition: each stage drops exactly the planted docs,
    the report accounts for every drop, and the run is deterministic."""
    from paimon_presto_spark.operators.pipeline import curate_corpus

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, base),
        (2, base),                     # exact duplicate of 1
        (3, "!!! ??? ... ;;; :::"),    # punctuation junk -> quality drop
        (4, "tiny"),                   # too few tokens -> quality drop
        (5, base + " today"),          # near-dup of 1 (high jaccard)
        (6, "completely different text about distributed query engines "
            "and columnar storage formats for analytical workloads"),
        (7, "held out evaluation question answered verbatim in training "
            "data which must be removed before measuring the model"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    evals = spark.createDataFrame(
        [(100, "held out evaluation question answered verbatim in training "
               "data which must be removed before measuring the model")],
        "doc_id long, text string",
    )
    kept, report = curate_corpus(
        docs, eval_docs=evals, jaccard_threshold=0.5, max_containment=0.8
    )
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    assert kept_ids == [1, 6]
    rep = {r["stage"]: r["n_dropped"] for r in report.collect()}
    assert rep == {
        "exact_dedup": 1,        # doc 2
        "quality_filter": 2,     # docs 3, 4
        "near_dup_clusters": 1,  # doc 5
        "decontaminate": 1,      # doc 7
    }
    # deterministic on re-run
    kept2, _ = curate_corpus(
        docs, eval_docs=evals, jaccard_threshold=0.5, max_containment=0.8
    )
    assert sorted(r["doc_id"] for r in kept2.collect()) == kept_ids


def test_eval_contamination_asymmetry_values(spark):
    from paimon_presto_spark.operators.pipeline import eval_contamination

    corpus = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w v")], "doc_id long, text string"
    )
    evals = spark.createDataFrame(
        [(9, "a b c d e f g h")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_overlap"], r["containment"])
        for r in eval_contamination(corpus, evals, shingle_n=3).collect()
    }
    assert got[1] == (3, 3, 1.0)   # all 3-shingles of doc 1 appear in eval
    assert got[2] == (3, 0, 0.0)


def test_connected_components_matches_union_find_property(spark):
    """Random pair graphs: min-label propagation must equal a pure-Python
    union-find with min-element representatives."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from paimon_presto_spark.operators.dedup import connected_components

    pairs_strategy = st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=25,
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(pairs=pairs_strategy)
    def run(pairs):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {x: find(x) for x in parent}

        df = spark.createDataFrame(
            [(a, b) for a, b in pairs], "doc_a long, doc_b long"
        )
        got = {
            r["doc_id"]: r["component"]
            for r in connected_components(df, max_iter=40).collect()
        }
        assert got == expected

    run()


def test_interval_join_matches_naive(spark):
    """Bucketed interval join must equal the naive non-equi join for every
    bucket width, including intervals spanning many buckets, empty
    intervals, and boundary points (closed-open semantics)."""
    from paimon_presto_spark.operators.rangejoin import interval_join

    points = spark.createDataFrame(
        [(i, v) for i, v in enumerate([0, 5, 10, 99, 100, 101, 250, 999])],
        "pid long, p long",
    )
    intervals = spark.createDataFrame(
        [
            (1, 0, 10),      # [0,10): catches 0,5 not 10
            (2, 10, 10),     # empty
            (3, 90, 260),    # spans buckets
            (4, 100, 101),   # single point 100
            (5, 500, 400),   # inverted -> empty
        ],
        "iid long, s long, e long",
    )
    expected = {
        (r["pid"], r["iid"])
        for r in points.crossJoin(intervals)
        .filter("p >= s AND p < e")
        .collect()
    }
    for width in (1, 7, 64, 1000):
        got = {
            (r["pid"], r["iid"])
            for r in interval_join(points, intervals, "p", "s", "e", width).collect()
        }
        assert got == expected, f"width={width}"


def test_hierarchical_rollup_reaggregates_exactly(spark):
    from paimon_presto_spark.operators.rollup_hierarchy import hierarchical_rollup

    ns = 1_000_000_000
    rows = [(i, (i * 37) % 1000 * ns, float(i) * 0.1) for i in range(500)]
    ev = spark.createDataFrame(rows, "event_id long, ts long, value double")
    out = hierarchical_rollup(ev, "ts", "value", [10, 100]).collect()
    fine = [r for r in out if r["level_s"] == 10]
    coarse = [r for r in out if r["level_s"] == 100]
    # conservation across levels
    assert sum(r["n_events"] for r in fine) == 500
    assert sum(r["n_events"] for r in coarse) == 500
    assert sum(r["total_value"] for r in fine) == sum(
        r["total_value"] for r in coarse
    )
    # coarse == direct aggregation from raw
    import pyspark.sql.functions as F

    direct = {
        r["w"]: (r["n"], r["s"])
        for r in ev.groupBy(F.expr(f"(ts DIV {100 * ns}) * 100").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,10)")).alias("s"),
        )
        .collect()
    }
    for r in coarse:
        n, s = direct[r["window_start"]]
        assert (r["n_events"], r["total_value"]) == (n, s)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        hierarchical_rollup(ev, "ts", "value", [10, 25])


def test_interval_join_left_outer_and_validation(spark):
    from paimon_presto_spark.operators.rangejoin import interval_join

    points = spark.createDataFrame(
        [(1, 5), (2, 105), (3, 9_999)], "pid int, p long"
    )
    intervals = spark.createDataFrame(
        [(10, 0, 10), (11, 100, 110)], "iid int, s long, e long"
    )
    got = {
        (r["pid"], r["iid"])
        for r in interval_join(points, intervals, "p", "s", "e", 50, how="left").collect()
    }
    # matched points pair with their interval; the unmatched point
    # survives null-extended exactly once
    assert got == {(1, 10), (2, 11), (3, None)}
    # inner drops the unmatched point
    inner = {
        (r["pid"], r["iid"])
        for r in interval_join(points, intervals, "p", "s", "e", 50).collect()
    }
    assert inner == {(1, 10), (2, 11)}
    for bad in ("right", "full", "outer"):
        with pytest.raises(ValueError, match="inner"):
            interval_join(points, intervals, "p", "s", "e", 50, how=bad)
    with pytest.raises(ValueError, match="positive"):
        interval_join(points, intervals, "p", "s", "e", 0)
    # negative epochs bucket by floor division (not truncation): a point
    # at -1 belongs to the interval [-50, 0)
    neg_p = spark.createDataFrame([(1, -1)], "pid int, p long")
    neg_i = spark.createDataFrame([(20, -50, 0)], "iid int, s long, e long")
    assert [
        (r["pid"], r["iid"])
        for r in interval_join(neg_p, neg_i, "p", "s", "e", 50).collect()
    ] == [(1, 20)]


def test_interval_join_property_random_graphs(spark):
    """Hypothesis: bucketed interval join ≡ naive non-equi join for random
    point/interval sets and widths."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from paimon_presto_spark.operators.rangejoin import interval_join

    points_s = st.lists(st.integers(0, 300), min_size=1, max_size=12)
    ivals_s = st.lists(
        st.tuples(st.integers(0, 300), st.integers(0, 300)), min_size=1, max_size=8
    )

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ps=points_s, ivs=ivals_s, width=st.sampled_from([1, 3, 50, 400]))
    def run(ps, ivs, width):
        points = spark.createDataFrame(
            [(i, p) for i, p in enumerate(ps)], "pid long, p long"
        )
        intervals = spark.createDataFrame(
            [(i, s, e) for i, (s, e) in enumerate(ivs)], "iid long, s long, e long"
        )
        expected = {
            (i, j)
            for i, p in enumerate(ps)
            for j, (s, e) in enumerate(ivs)
            if s <= p < e
        }
        got = {
            (r["pid"], r["iid"])
            for r in interval_join(points, intervals, "p", "s", "e", width).collect()
        }
        assert got == expected

    run()


def test_pca_matches_numpy_and_is_deterministic(spark):
    """pca_components' distributed one-scan partials must agree with a
    direct numpy PCA on the collected data (same covariance, same
    eigenvalues, same sign-fixed components), and projection must
    preserve total variance when out_dim == dim (orthogonal rotation)."""
    import numpy as np

    from paimon_presto_spark.operators.similarity import (
        pca_components,
        pca_project,
    )

    rng = np.random.default_rng(11)
    # anisotropic data: variance concentrated along a known direction
    base = rng.standard_normal((400, 8))
    base[:, 0] *= 5.0
    base[:, 1] *= 2.0
    rows = [(i, base[i].tolist()) for i in range(400)]
    df = spark.createDataFrame(rows, "vid long, emb array<double>").repartition(7)

    comps, evals, mean, n = pca_components(df, "emb")
    assert n == 400
    # numpy reference
    x = base - base.mean(axis=0)
    cov = (x.T @ x) / 400
    ref_evals, ref_evecs = np.linalg.eigh(cov)
    order = np.argsort(ref_evals)[::-1]
    ref_evals = ref_evals[order]
    ref = ref_evecs[:, order].T
    flips = np.sign(ref[np.arange(8), np.abs(ref).argmax(axis=1)])
    ref = ref * flips[:, None]
    assert np.allclose(mean, base.mean(axis=0), atol=1e-9)
    assert np.allclose(evals, ref_evals, atol=1e-9)
    assert np.allclose(comps, ref, atol=1e-8)
    # top component captures the inflated axis
    assert abs(comps[0, 0]) > 0.99

    # full-rank projection preserves total variance (orthogonality)
    proj = pca_project(df, "vid", "emb", out_dim=8)
    p = np.array([r["proj"] for r in proj.collect()])
    assert np.isclose(p.var(axis=0, ddof=0).sum(),
                      base.var(axis=0, ddof=0).sum(), rtol=1e-9)
    # truncated projection keeps the top-eigenvalue share
    proj2 = pca_project(df, "vid", "emb", out_dim=2)
    p2 = np.array([r["proj"] for r in proj2.collect()])
    assert np.isclose(p2.var(axis=0, ddof=0).sum(), evals[:2].sum(), rtol=1e-9)
    # whitening → unit variance per output dim
    projw = pca_project(df, "vid", "emb", out_dim=2, whiten=True)
    pw = np.array([r["proj"] for r in projw.collect()])
    assert np.allclose(pw.var(axis=0, ddof=0), 1.0, atol=1e-6)
    # determinism across repartitionings (partial-combine order changes)
    comps3, evals3, _, _ = pca_components(df.repartition(3), "emb")
    assert np.allclose(comps3, comps, atol=1e-9)


def test_select_until_budget_equals_global_window(spark):
    """The bucketed decomposition must equal the single-window running
    total exactly, including ties (equal scores fall back to id order)
    and the all-fits / nothing-fits edges."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from paimon_presto_spark.operators.selection import select_until_budget

    rows = [
        # (id, score, weight) — ties at score 0.5 across ids 4..6
        (1, 0.9, 10), (2, 0.8, 25), (3, 0.7, 5),
        (4, 0.5, 10), (5, 0.5, 10), (6, 0.5, 10),
        (7, 0.1, 100),
    ]
    df = spark.createDataFrame(rows, "id long, score double, w long")
    win = Window.orderBy(F.desc("score"), F.asc("id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    for budget in (0, 9, 10, 40, 55, 60, 170, 1000):
        want = sorted(
            r["id"]
            for r in df.withColumn("c", F.sum("w").over(win))
            .filter(F.col("c") <= budget)
            .collect()
        )
        got = sorted(
            r["id"]
            for r in select_until_budget(
                df, "score", "w", budget, "id", n_buckets=4
            ).collect()
        )
        assert got == want, f"budget={budget}: {got} != {want}"
    # empty input
    assert select_until_budget(
        df.filter("id < 0"), "score", "w", 10, "id"
    ).count() == 0


def test_phrase_match_positions_and_counts(spark):
    """phrase_match: exact adjacent-word sequences only, with per-doc
    occurrence counts; longer phrases chain the positional join."""
    from paimon_presto_spark.operators.text import phrase_match, posting_lists

    docs = spark.createDataFrame(
        [
            (1, "big table scan on big table scan"),  # 2 matches
            (2, "table big scan"),                    # words present, not adjacent
            (3, "a big table scan here"),             # 1 match (also 3-gram)
            (4, "table scan"),                        # 1 match
        ],
        "doc_id long, text string",
    )
    post = posting_lists(docs)
    got = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_match(post, ["table", "scan"]).collect()
    }
    assert got == {1: 2, 3: 1, 4: 1}
    tri = {
        r["doc_id"]: r["n_matches"]
        for r in phrase_match(post, ["big", "table", "scan"]).collect()
    }
    assert tri == {1: 2, 3: 1}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one word"):
        phrase_match(post, [])


def test_semdedup_auto_on_empty_input(spark):
    """pair_backend='auto' on an empty frame must return empty, not
    TypeError on the NULL max-population."""
    from paimon_presto_spark.operators.similarity import semdedup

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    assert semdedup(emb, cents, 0.9, pair_backend="auto").count() == 0


def test_select_until_budget_bucket_count_rule():
    """Pin the adaptive bucket-count rule: expected bucket size stays
    under target_edge_rows, floor 64, driver prefix O(buckets)."""
    from paimon_presto_spark.operators.selection import _auto_buckets

    assert _auto_buckets(5_000, 2_000_000) == 64
    assert _auto_buckets(2_000_000, 2_000_000) == 64
    assert _auto_buckets(1_000_000_000, 2_000_000) == 500
    assert _auto_buckets(100_000_000_000, 2_000_000) == 50_000
    assert _auto_buckets(0, 2_000_000) == 64


def test_select_until_budget_recurses_on_oversized_tie_bucket(spark):
    """A tie-heavy corpus puts every row in ONE score bucket; with a tiny
    target_edge_rows the operator must recurse (id-range sub-buckets on
    the tie) and still equal the single-window answer exactly."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from paimon_presto_spark.operators.selection import select_until_budget

    rows = [(i, 0.5, 10) for i in range(1, 41)]  # all scores tie
    rows += [(i, 0.9, 5) for i in range(41, 46)]  # a few better docs
    df = spark.createDataFrame(rows, "id long, score double, w long")
    win = Window.orderBy(F.desc("score"), F.asc("id")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    for budget in (0, 25, 130, 200, 1000):
        want = sorted(
            r["id"]
            for r in df.withColumn("c", F.sum("w").over(win))
            .filter(F.col("c") <= budget)
            .collect()
        )
        got = sorted(
            r["id"]
            for r in select_until_budget(
                df, "score", "w", budget, "id", target_edge_rows=8
            ).collect()
        )
        assert got == want, f"budget={budget}: {got} != {want}"


def test_select_until_budget_null_weights_are_zero(spark):
    """NULL weights never advance the running total and are selected
    while the budget lasts — uniformly in whole-bucket and edge-bucket
    paths."""
    from paimon_presto_spark.operators.selection import select_until_budget

    df = spark.createDataFrame(
        [(1, 0.9, None), (2, 0.8, 10), (3, 0.7, None), (4, 0.6, 10),
         (5, 0.5, 100)],
        "id long, score double, w long",
    )
    got = sorted(
        r["id"]
        for r in select_until_budget(df, "score", "w", 20, "id",
                                     n_buckets=2).collect()
    )
    assert got == [1, 2, 3, 4]


def test_cdc_chunks_insertion_robustness(spark):
    """The CDC property: an inserted word perturbs only the chunk
    containing the edit — every chunk outside it is byte-identical.
    Fixed-width windows shift every later chunk (pinned here as the
    contrast that motivates the operator)."""
    from paimon_presto_spark.operators.dedup import cdc_chunks

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
           "lam mu nu xi omicron pi rho sigma tau upsilon"
    edited = base.replace("theta", "theta INSERTED")
    docs = spark.createDataFrame(
        [(1, base), (2, edited)], "doc_id long, text string")
    out = {r["doc_id"]: r["__chunks"]
           for r in cdc_chunks(docs, "doc_id", "text").collect()}
    a, b = out[1], out[2]
    # all chunks of the original survive except the single edited one
    diff = set(a) ^ set(b)
    assert len(set(a) - set(b)) == 1 and len(set(b) - set(a)) == 1
    edited_chunk = (set(b) - set(a)).pop()
    assert "INSERTED" in edited_chunk
    # rejoining the chunks reproduces the documents
    assert " ".join(a) == base and " ".join(b) == edited


def test_cdc_dedup_catches_offset_shifted_boilerplate(spark):
    """Boilerplate pasted at DIFFERENT word offsets chunks identically
    under CDC and is removed from both documents — the case fixed
    windows structurally miss."""
    from paimon_presto_spark.operators.dedup import (
        remove_repeated_chunks,
        remove_repeated_chunks_cdc,
    )

    boiler = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
              "lam mu nu xi omicron pi rho sigma tau upsilon")
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique-tail-one"),
            (2, "one-word-prefix " + boiler + " other-tail"),
        ],
        "doc_id long, text string",
    )
    cdc = {r["doc_id"]: r for r in remove_repeated_chunks_cdc(
        docs, "doc_id", "text", boundary_mod=4).collect()}
    # interior boilerplate chunks repeat across both docs and are dropped
    assert cdc[1]["n_removed"] > 0 and cdc[2]["n_removed"] > 0
    assert "unique-tail-one" in cdc[1]["rebuilt_text"]
    # fixed windows at the same granularity see no repeated chunk at all
    # (the one-word prefix shifts every window)
    fixed = {r["doc_id"]: r for r in remove_repeated_chunks(
        docs, "doc_id", "text", chunk_words=4).collect()}
    assert fixed[1]["n_removed"] == 0 and fixed[2]["n_removed"] == 0


def test_gopher_quality_rules_bitmask_attribution(spark):
    """Each failing rule sets exactly its own bit; keep = mask 0."""
    from paimon_presto_spark.operators.text import gopher_quality_rules

    docs = spark.createDataFrame(
        [
            # passes everything (enough words, stopwords, normal lengths)
            (1, "the cat sat on a mat and the dog ran to the park again "
                "with some more plain words here to pass the count rule ok "
                "the end of this small but long enough test document is in"),
            (2, "too short"),                     # word_count + stopwords
            (3, "## ### #### ##### ###### ..."),  # symbols + alpha + more
            (4, ("supercalifragilistic " * 40) + "the a of"),  # mean len
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_quality_rules(
        docs, min_words=20).collect()}
    assert out[1]["keep"] and out[1]["fail_mask"] == 0
    assert not out[2]["keep"]
    assert out[2]["fail_mask"] & 1          # word_count bit
    assert out[2]["fail_mask"] & 16         # stopword bit
    assert out[3]["fail_mask"] & 4          # symbol bit
    assert out[3]["fail_mask"] & 8          # alpha bit
    assert out[4]["fail_mask"] & 2          # mean-word-len bit
    assert not (out[4]["fail_mask"] & 1)    # 43 words: count rule passes


def test_pq_adc_approximates_exact_l2_ranking(spark):
    """PQ/ADC contract: codes are valid, every corpus vector gets exactly
    m codes, and ADC top-k overlaps the exact-L2 top-k on clustered data
    (on tight clusters the quantization error is far below the
    inter-cluster distance, so the true nearest cluster must dominate)."""
    import numpy as np

    from paimon_presto_spark.operators.similarity import (
        pq_adc_topk,
        pq_encode,
        pq_train,
    )

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((5, 64))
    rows = []
    for i in range(150):
        v = centers[i % 5] + 0.03 * rng.standard_normal(64)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train(emb, m=8, ksub=8, iters=2, sample_n=64, dim=64)
    assert len(books) == 8 and all(len(b) == 8 for b in books.values())
    enc = pq_encode(emb, books).collect()
    assert len(enc) == 150
    assert all(len(r["codes"]) == 8 for r in enc)
    assert all(0 <= c < 8 for r in enc for c in r["codes"])

    q = emb.filter(F.col("vec_id") < 3)
    got = pq_adc_topk(emb.filter(F.col("vec_id") >= 3), q, books, k=10)
    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["q_id"], []).append(r["n_id"])
    # PQ's guarantee at this geometry: quantization error is on the order
    # of the 0.03 intra-cluster noise, so ADC cannot fine-rank WITHIN a
    # cluster — but inter-cluster distances dwarf it, so every returned
    # neighbor must come from the query's own cluster (i % 5).
    for qid in range(3):
        assert len(by_q[qid]) == 10
        assert all(n % 5 == qid % 5 for n in by_q[qid]), (qid, by_q[qid])


def test_pq_train_deterministic_across_partitionings(spark):
    """The DECIMAL update sums make codebooks bit-identical at any
    partitioning — the property the SQL oracle replay rests on."""
    import numpy as np

    from paimon_presto_spark.operators.similarity import pq_train

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(64)])
            for i in range(80)]
    emb1 = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    emb8 = emb1.repartition(8)
    b1 = pq_train(emb1, m=8, ksub=4, iters=2, sample_n=48, dim=64)
    b8 = pq_train(emb8, m=8, ksub=4, iters=2, sample_n=48, dim=64)
    assert b1 == b8


def test_semdedup_incremental_blas_matches_codegen(spark):
    """The BLAS rung (old-rows-first lower-triangle resolve) must produce
    the identical verdict set as the pair-expansion codegen rung,
    including the corpus-stability asymmetry (round-6 addition: the sf1
    stress showed the codegen-only incremental path at 57.8 s)."""
    from paimon_presto_spark.operators.similarity import semdedup_incremental

    cents = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    old = spark.createDataFrame(
        [(0, [1.0, 0.05, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    new = spark.createDataFrame(
        [
            (10, [1.0, 0.2, 0.0, 0.0]),   # stability: old 0 beats it
            (11, [0.0, 1.0, 0.05, 0.0]),  # new-new pair with 12 …
            (12, [0.0, 1.0, 0.1, 0.0]),   # … 12 more atypical -> kept
            (13, [0.0, 1.0, 2.0, 0.0]),   # unpaired
        ],
        "vec_id long, embedding array<double>",
    )
    codegen = {
        r["vec_id"]: r["status"]
        for r in semdedup_incremental(
            old, new, cents, 0.95, pair_backend="codegen"
        ).collect()
    }
    blas = {
        r["vec_id"]: r["status"]
        for r in semdedup_incremental(
            old, new, cents, 0.95, pair_backend="blas"
        ).collect()
    }
    auto = {
        r["vec_id"]: r["status"]
        for r in semdedup_incremental(
            old, new, cents, 0.95, pair_backend="auto"
        ).collect()
    }
    assert codegen == {10: "dropped", 11: "dropped", 12: "kept", 13: "kept"}
    assert blas == codegen
    assert auto == codegen
    # an unknown rung is rejected before any Spark job (or cache) runs
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "semdedup-bad-backend")
    try:
        with pytest.raises(ValueError, match="pair_backend"):
            semdedup_incremental(old, new, cents, 0.95, pair_backend="nope")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("semdedup-bad-backend") == []


def test_semdedup_incremental_blas_matches_codegen_randomized(spark):
    """Randomized parity: clustered random vectors where near-dups occur
    on both old-new and new-new pairs; both rungs agree exactly."""
    import numpy as np

    from paimon_presto_spark.operators.similarity import (
        _hyperplanes,
        semdedup_incremental,
    )

    rng = np.random.default_rng(17)
    centers = rng.standard_normal((4, 16))
    rows = []
    for i in range(120):
        base = centers[i % 4]
        # every third vector is a jittered near-dup of a cluster-mate
        noise = 0.01 if i % 3 == 0 else 0.6
        v = base + noise * rng.standard_normal(16)
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    old = emb.filter(F.col("vec_id") < 60)
    new = emb.filter(F.col("vec_id") >= 60)
    cents = list(enumerate(_hyperplanes(16, 4, seed=7)))
    codegen = {
        r["vec_id"]: r["status"]
        for r in semdedup_incremental(
            old, new, cents, 0.9, pair_backend="codegen"
        ).collect()
    }
    blas = {
        r["vec_id"]: r["status"]
        for r in semdedup_incremental(
            old, new, cents, 0.9, pair_backend="blas"
        ).collect()
    }
    assert blas == codegen
    assert "dropped" in codegen.values()  # the pair search actually ran


def test_select_until_budget_rejects_null_scores_and_ids(spark):
    """NULL scores/ids fail fast with an actionable message instead of an
    opaque TypeError (None comparison) or a silent NULL-bucket drop."""
    from paimon_presto_spark.operators.selection import select_until_budget

    with_null_score = spark.createDataFrame(
        [(1, None, 5), (2, 0.5, 5)], "id long, score double, w long"
    )
    with pytest.raises(ValueError, match="NULL"):
        select_until_budget(with_null_score, "score", "w", 10, "id")

    # all scores tied AND ids entirely NULL: previously None > None deep
    # in the tie-breaking branch
    null_ids = spark.createDataFrame(
        [(None, 0.5, 5), (None, 0.5, 5)], "id long, score double, w long"
    )
    with pytest.raises(ValueError, match="NULL"):
        select_until_budget(null_ids, "score", "w", 10, "id")

    # empty input still short-circuits cleanly
    assert select_until_budget(
        with_null_score.limit(0), "score", "w", 10, "id"
    ).count() == 0


def test_pq_adc_topk_accepts_non_bigint_query_ids(spark):
    """The per-query distance table inherits the query frame's id type;
    int and string ids must both survive the (ss, code) join (round-5
    advisor: the schema hardcoded `q_id long`)."""
    import numpy as np

    from paimon_presto_spark.operators.similarity import (
        pq_adc_topk,
        pq_train,
    )

    rng = np.random.default_rng(5)
    rows = [(i, [float(x) for x in rng.standard_normal(16)])
            for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train(emb, m=4, ksub=4, iters=1, sample_n=32, dim=16)

    q_int = spark.createDataFrame(
        [(0, rows[0][1])], "vec_id int, embedding array<double>"
    )
    got_int = pq_adc_topk(emb, q_int, books, k=3)
    assert got_int.schema["q_id"].dataType.simpleString() == "int"
    assert got_int.count() == 3

    q_str = spark.createDataFrame(
        [("qA", rows[1][1])], "vec_id string, embedding array<double>"
    )
    got_str = pq_adc_topk(emb, q_str, books, k=3)
    assert got_str.schema["q_id"].dataType.simpleString() == "string"
    assert {r["q_id"] for r in got_str.collect()} == {"qA"}


def test_chunk_dedup_cache_is_bounded_and_releasable(spark):
    """Each chunk-dedup call releases the previous call's persisted
    intermediate (at most ONE corpus-sized cache lingers), and
    release_chunk_caches() empties the ledger (round-5 advisor: the
    persist was never unpersisted across a long-lived session)."""
    from paimon_presto_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "a b c d a b c d"), (2, "a b c d x y z w")],
        "doc_id long, text string",
    )
    D.release_chunk_caches()
    out1 = D.remove_repeated_chunks(docs, "doc_id", "text", chunk_words=4)
    out1.collect()
    assert len(D._CHUNK_CACHES) == 1
    cached = D._CHUNK_CACHES[0]
    out2 = D.remove_repeated_chunks(docs, "doc_id", "text", chunk_words=2)
    out2.collect()
    # previous cache evicted, new one registered
    assert len(D._CHUNK_CACHES) == 1
    assert D._CHUNK_CACHES[0] is not cached
    assert cached.storageLevel.useMemory is False  # unpersisted
    D.release_chunk_caches()
    assert D._CHUNK_CACHES == []
    # results remain correct after release (plan just recomputes)
    assert out2.count() == 2


def test_priority_sample_weighted_without_replacement(spark):
    """Priority sampling contract: deterministic (hash-derived u), no
    repeats, k rows exactly, heavier rows overrepresented relative to a
    uniform draw, and non-positive/NULL weights excluded."""
    from paimon_presto_spark.operators.selection import priority_sample

    rows = [(i, 1000 if i < 10 else 1) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, w long")
    out1 = priority_sample(df, "w", 20, "id").collect()
    out2 = priority_sample(df, "w", 20, "id").collect()
    assert [r["id"] for r in out1] == [r["id"] for r in out2]  # deterministic
    ids = [r["id"] for r in out1]
    assert len(ids) == 20 and len(set(ids)) == 20  # without replacement
    assert sorted(r["rnk"] for r in out1) == list(range(1, 21))
    # the 10 heavy rows are 1000x likelier: all of them must be sampled
    # (P[miss one] is astronomically small under any u assignment drawn
    # from a uniform hash)
    assert sum(1 for i in ids if i < 10) == 10
    # priorities are sorted descending by construction
    pris = [r["priority"] for r in sorted(out1, key=lambda r: r["rnk"])]
    assert pris == sorted(pris, reverse=True)

    withnull = spark.createDataFrame(
        [(1, None), (2, 0), (3, -5), (4, 7)], "id long, w long"
    )
    kept = priority_sample(withnull, "w", 10, "id").collect()
    assert [r["id"] for r in kept] == [4]


def test_remove_repeated_chunks_within_doc(spark):
    """Self-dedup semantics: a chunk repeated WITHIN a document is dropped
    (first occurrence kept), while the same chunk appearing in another
    document is untouched — the opposite fence of the corpus-wide
    variants. Pure-map: the plan must contain no exchange."""
    from paimon_presto_spark.operators.dedup import (
        remove_repeated_chunks_within_doc,
    )

    docs = spark.createDataFrame(
        [
            # chunks of 2: "a b", "c d", "a b", "e f" -> drop 3rd
            (1, "a b c d a b e f"),
            # same "a b" chunk in another doc: kept (no corpus fence)
            (2, "a b x y"),
            # no repeats
            (3, "p q r s"),
            # repeat with a trailing partial chunk: "g h","g h","g" -> the
            # bare "g" partial differs from "g h" and is kept
            (4, "g h g h g"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in remove_repeated_chunks_within_doc(
            docs, "doc_id", "text", chunk_words=2
        ).collect()
    }
    assert out[1]["rebuilt_text"] == "a b c d e f"
    assert (out[1]["n_chunks"], out[1]["n_removed"]) == (4, 1)
    assert out[2]["rebuilt_text"] == "a b x y"
    assert out[2]["n_removed"] == 0
    assert out[3]["n_removed"] == 0
    assert out[4]["rebuilt_text"] == "g h g"
    assert (out[4]["n_chunks"], out[4]["n_removed"]) == (3, 1)
    # zero-shuffle claim: no Exchange anywhere in the physical plan
    plan = (
        remove_repeated_chunks_within_doc(docs, "doc_id", "text", 2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# weighted quantiles (operators/quantile.py)
# ---------------------------------------------------------------------------


def _wq_reference(spark, df, quantiles):
    """Single-window reference: the textbook SQL spelling the bucketed
    decomposition must reproduce exactly."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    DEC = "decimal(28,10)"
    wo = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wp = Window.partitionBy("g")
    c = df.select(
        "g",
        "v",
        F.sum(F.coalesce(F.col("w").cast(DEC), F.lit(0).cast(DEC)))
        .over(wo)
        .alias("cum"),
        F.sum(F.coalesce(F.col("w").cast(DEC), F.lit(0).cast(DEC)))
        .over(wp)
        .alias("tot"),
    )
    out = {}
    for num, den, name in quantiles:
        sat = c.filter(F.lit(den) * F.col("cum") >= F.lit(num) * F.col("tot"))
        for r in sat.groupBy("g").agg(F.min("v").alias("m")).collect():
            out[(r["g"], name)] = r["m"]
    return out


def test_weighted_quantiles_decomposition_equals_single_window(spark):
    """The bucketed running-sum decomposition returns the SAME values as
    the one-window spelling on a multi-bucket fixture — at every edge
    size, including ones that force multi-level recursion (round-6
    verdict: agg_weighted_median must not be a single task per group)."""
    from paimon_presto_spark.operators.quantile import weighted_quantiles

    # skewed values, heavy ties, a weight-0 run, and a tiny group
    rows = (
        [("a", float(v), v % 7 + 1) for v in range(1, 301)]
        + [("a", 42.0, 5)] * 50          # heavy tie inside the range
        + [("a", 1e6, 1)]                # extreme outlier bucket
        + [("b", 3.0, 0), ("b", 4.0, 0)] # zero-total group
        + [("c", 9.0, 2)]                # single-row group
    )
    df = spark.createDataFrame(rows, "g string, v double, w long")
    quantiles = [(1, 2, "med"), (1, 4, "q25"), (3, 4, "q75")]
    ref = _wq_reference(spark, df, quantiles)
    for ter in (100_000, 40, 5):  # no-decomp / one level / deep recursion
        got = weighted_quantiles(
            df, "v", "w", ["g"], quantiles, target_edge_rows=ter
        ).collect()
        for r in got:
            for _, _, name in quantiles:
                assert r[name] == ref[(r["g"], name)], (ter, r["g"], name)


def test_weighted_quantiles_null_weight_counts_zero(spark):
    """NULL weights count as 0 uniformly (the raw-SQL window spelling
    would NULL-poison the running total instead)."""
    from paimon_presto_spark.operators.quantile import weighted_median

    df = spark.createDataFrame(
        [("a", 1.0, None), ("a", 2.0, 1), ("a", 3.0, 1)],
        "g string, v double, w int",
    )
    got = weighted_median(df, "v", "w", ["g"], target_edge_rows=1).collect()
    assert got[0]["weighted_median"] == 2.0
    assert int(got[0]["total_weight_dec"]) == 2


def test_weighted_quantiles_contract_errors(spark):
    """NULL values and negative weights raise actionably; malformed
    quantile specs are rejected before any job runs."""
    import pytest

    from paimon_presto_spark.operators.quantile import (
        weighted_median,
        weighted_quantiles,
    )

    with pytest.raises(ValueError, match="NULL 'v'"):
        weighted_median(
            spark.createDataFrame([("x", None, 1)], "g string, v double, w int"),
            "v", "w", ["g"],
        )
    with pytest.raises(ValueError, match="negative 'w'"):
        weighted_median(
            spark.createDataFrame([("x", 1.0, -1)], "g string, v double, w int"),
            "v", "w", ["g"],
        )
    with pytest.raises(ValueError, match="NULL group-key"):
        weighted_median(
            spark.createDataFrame(
                [("x", 1.0, 1), (None, 2.0, 1)], "g string, v double, w int"
            ),
            "v", "w", ["g"],
        )
    df = spark.createDataFrame([("x", 1.0, 1)], "g string, v double, w int")
    with pytest.raises(ValueError, match="0 < q_num <= q_den"):
        weighted_quantiles(df, "v", "w", ["g"], [(3, 2, "bad")])
    with pytest.raises(ValueError, match="duplicate"):
        weighted_quantiles(df, "v", "w", ["g"], [(1, 2, "m"), (1, 4, "m")])
    with pytest.raises(ValueError, match="collide"):
        weighted_quantiles(df, "v", "w", ["g"], [(1, 2, "g")])
    with pytest.raises(ValueError, match="collide"):
        weighted_quantiles(df, "v", "w", ["g"], [(1, 2, "total_weight_dec")])
    with pytest.raises(ValueError, match="non-empty"):
        weighted_quantiles(df, "v", "w", ["g"], [])


def test_weighted_quantiles_cache_ledger_bounded(spark):
    """Each call evicts the previous call's persisted intermediates (the
    dedup chunk-cache policy); release empties the ledger and results
    stay correct afterwards (plans just recompute)."""
    from paimon_presto_spark.operators import quantile as Q

    df = spark.createDataFrame(
        [("a", float(v), 1) for v in range(1, 41)], "g string, v double, w int"
    )
    Q.release_quantile_caches()
    out1 = Q.weighted_median(df, "v", "w", ["g"], target_edge_rows=5)
    n1 = len(Q._QUANTILE_CACHES)
    assert n1 >= 2  # base + at least one per-level intermediate
    out2 = Q.weighted_median(df, "v", "w", ["g"], target_edge_rows=5)
    assert len(Q._QUANTILE_CACHES) == n1  # previous call's caches evicted
    Q.release_quantile_caches()
    assert Q._QUANTILE_CACHES == []
    assert out1.collect()[0]["weighted_median"] == 20.0
    assert out2.collect()[0]["weighted_median"] == 20.0


def test_weighted_quantiles_bucketed_plan_shape(spark):
    """When the decomposition engages, the executed plan carries the
    bucket stage (no raw-row window partitioned by the bare group): the
    round-6 verdict's 'no full-group single-task window' criterion.

    Two quantiles are requested so ``__qid`` is non-constant: with a
    single one Catalyst folds the literal qid out of the partition spec
    and the (bounded) edge window prints as a bare-group window."""
    from paimon_presto_spark.operators.quantile import weighted_quantiles

    df = spark.createDataFrame(
        [("a", float(v), 1) for v in range(1, 201)], "g string, v double, w int"
    )
    out = weighted_quantiles(
        df, "v", "w", ["g"], [(1, 2, "med"), (3, 4, "q75")],
        target_edge_rows=10,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__bkt" in plan  # bucket decomposition present
    # Window nodes print as `Window [funcs], [partition], [order]`. The
    # full-group shape this decomposition removes is a raw-row window:
    # ordered by the value with only the bare group as partition. Allowed
    # windows are the bucket prefix-sum (ordered by __bkt) and the exact
    # edge pass (value-ordered but partitioned by (group, __qid) over
    # <= target_edge_rows rows).
    import re

    specs = re.findall(r"Window \[[^\]]*\], \[([^\]]*)\], \[([^\]]*)\]", plan)
    assert specs, "no Window nodes found — plan format changed?"
    for partition, order in specs:
        if "__v" in order:
            assert "__qid" in partition, (partition, order)


def test_ivf_pq_stored_index_probe_matches_full_pipeline(spark, tmp_path):
    """FAISS train-once contract: probing a PERSISTED (id, bucket, codes)
    index returns byte-identical results to the in-query IVF-PQ pipeline,
    and the probe plan never reads corpus vectors (its only corpus-side
    scan is the index parquet)."""
    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.similarity import (
        _hyperplanes,
        ivf_pq_adc_topk,
        ivf_pq_index,
        ivf_pq_probe_topk,
        pq_train,
    )

    import random

    rng = random.Random(11)
    dim, m = 16, 4
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = list(enumerate(_hyperplanes(dim, 4, seed=3)))
    books = pq_train(emb, m=m, ksub=8, iters=1, sample_n=32, dim=dim)
    q = emb.filter(F.col("vec_id") < 3)

    idx_path = str(tmp_path / "idx")
    ivf_pq_index(emb, cents, books).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)
    probe = ivf_pq_probe_topk(index, q, cents, books, k=5, n_probe=2)
    full = ivf_pq_adc_topk(emb, q, cents, books, k=5, n_probe=2)
    assert sorted(map(tuple, probe.collect())) == sorted(
        map(tuple, full.collect())
    )
    plan = probe._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    # every file scan is the stored index; the corpus vectors are never
    # read (the only embedding access is the bounded local query rows)
    assert scans and all("codes" in ln for ln in scans), scans
    assert not any("embedding" in ln for ln in scans), scans
    # blas encode rung produces the same stored codes
    a = ivf_pq_index(emb, cents, books, encode="blas")
    b = ivf_pq_index(emb, cents, books, encode="relational")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_connected_components_star_rung_chain_equivalence(spark):
    """Alternating large-star/small-star CC (Kiveris et al.) returns the
    same min-id labels as propagation on shallow graphs, and
    ``connected_components`` stays EXACT on a chain DEEPER than the
    propagation walk's round budget — the O(log n)-vs-O(diameter)
    escalation."""
    from paimon_presto_spark.operators.dedup import (
        _connected_components_star,
        connected_components,
    )

    # shallow graph: the walk converges, and the star rounds agree
    shallow = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 10), (20, 21)],
        "doc_a long, doc_b long",
    )
    walk = sorted(map(tuple, connected_components(shallow).collect()))
    star = sorted(map(tuple, _connected_components_star(shallow).collect()))
    assert walk == star
    # chain of diameter 40 with a 25-round budget: the star rounds and
    # connected_components both converge exactly
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    for cc in (_connected_components_star, connected_components):
        got = cc(chain, max_iter=25).collect()
        assert all(r["component"] == 0 for r in got), cc.__name__
        assert len(got) == 41
    import pytest

    # an unconverged star edge set is NOT a star forest — partial labels
    # would be wrong (and possibly duplicated), so exhaustion raises
    with pytest.raises(RuntimeError, match="did not converge"):
        _connected_components_star(chain, max_iter=1)


def test_connected_components_explicit_switch_budget(spark):
    """An explicit star_switch_budget (the contract the keep-best entry
    states: near-dup clusters are 2-3 hops) escalates a deeper chain to
    the star rung and still returns exact labels; a shallow triangle
    converges inside the budget on the plain walk."""
    from paimon_presto_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    got = connected_components(chain, star_switch_budget=4).collect()
    assert all(r["component"] == 0 for r in got)
    assert len(got) == 13
    shallow = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long"
    )
    labels = {
        r["doc_id"]: r["component"]
        for r in connected_components(
            shallow, star_switch_budget=4
        ).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_tfidf_cosine_pairs_weighted_vs_unweighted(spark):
    """TF-IDF cosine finds the pair sharing DISTINCTIVE vocabulary and
    scores it above a pair sharing only boilerplate — the weighting
    Jaccard lacks; the corpus-relative df cap keeps candidates at any N."""
    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.dedup import tfidf_cosine_pairs

    boiler = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, boiler + " zephyr quasar nebula"),
            (2, boiler + " zephyr quasar nebula"),   # distinctive match w/ 1
            (3, boiler + " apple banana cherry"),
            (4, boiler + " dates elderberry figs"),  # only boilerplate w/ 3
        ],
        "doc_id long, text string",
    )
    out = tfidf_cosine_pairs(docs, max_df=3, threshold=0.0).collect()
    cos = {(r["doc_a"], r["doc_b"]): r["cosine"] for r in out}
    assert cos[(1, 2)] > cos.get((3, 4), 0.0)
    assert cos[(1, 2)] > 0.5
    # corpus-relative default cap floors at 50 for tiny corpora
    assert tfidf_cosine_pairs(docs, threshold=0.0).count() > 0


def test_rrf_fuse_rank_level_fusion(spark):
    """RRF: candidates surfaced by BOTH lists beat single-list leaders
    with similar ranks; score = sum(1/(c+rnk)) exactly; empty input
    rejected."""
    import pytest

    from paimon_presto_spark.operators.text import rrf_fuse

    r1 = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)], "q_id long, n_id long, rnk int"
    )
    r2 = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2), (1, 12, 3)], "q_id long, n_id long, rnk int"
    )
    out = {r["n_id"]: r for r in rrf_fuse([r1, r2], k=10).collect()}
    # 11 appears rank 2 + rank 1 -> beats 10 (single rank-1)
    assert out[11]["rnk"] == 1 and out[11]["n_lists"] == 2
    assert out[10]["n_lists"] == 1
    # contributions round to DECIMAL(28,10) before summing
    assert abs(out[11]["rrf_score"] - (1 / 62 + 1 / 61)) < 2e-10
    # both-lists candidate 12 (3+3) beats single-list 13 (rank 2)
    assert out[12]["rrf_score"] > out[13]["rrf_score"]
    with pytest.raises(ValueError, match="non-empty"):
        rrf_fuse([], k=5)


def test_priority_sample_per_group_quota_and_determinism(spark):
    """Per-group priority sampling: exactly k rows per group (fewer only
    when the group is smaller), no repeats, deterministic across runs,
    non-positive weights excluded, and within-group overrepresentation
    of heavy rows."""
    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.selection import (
        priority_sample_per_group,
    )

    rows = [("a", i, 1 if i < 90 else 1000) for i in range(100)] + [
        ("b", 1000 + j, j % 3) for j in range(10)  # some zero weights
    ] + [("c", 2000, 5)]
    df = spark.createDataFrame(rows, "g string, id long, w long")
    out = priority_sample_per_group(df, "w", 5, "id", ["g"]).collect()
    per = {}
    for r in out:
        per.setdefault(r["g"], []).append(r)
    assert len(per["a"]) == 5 and len(per["c"]) == 1
    # group b has 6 positive-weight rows, so k=5 must yield exactly 5 —
    # a rank computed before the weight filter would over-prune here
    assert len(per["b"]) == 5
    assert all(r["w"] > 0 for r in per["b"])  # zero weights excluded
    assert [r["rnk"] for r in sorted(per["a"], key=lambda r: r["rnk"])] == [
        1, 2, 3, 4, 5
    ]
    # heavy rows (w=1000, ids 90-99) dominate group a's sample
    heavy = sum(1 for r in per["a"] if r["id"] >= 90)
    assert heavy >= 4
    again = priority_sample_per_group(df, "w", 5, "id", ["g"]).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_tfidf_prefix_filter_is_exact(spark):
    """Bayardo prefix filtering is an EXACT optimization: pairs from the
    prefix-indexed path equal the naive inverted-join path bit-for-bit
    at several thresholds (including ones where the prefix prunes most
    of the index)."""
    import pyspark.sql.functions as F

    from paimon_presto_spark.operators.dedup import tfidf_cosine_pairs

    rows = []
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa"]
    for d in range(40):
        toks = [words[(d + j) % len(words)] for j in range(1 + d % 7)]
        toks += [f"rare{d % 13}", f"rare{(d * 3) % 13}"]
        rows.append((d, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for thr in (0.2, 0.5, 0.8):
        naive = {
            (r["doc_a"], r["doc_b"]): (round(r["cosine"], 9), r["n_shared"])
            for r in tfidf_cosine_pairs(
                docs, threshold=thr, prefix_filter=False
            ).collect()
        }
        pref = {
            (r["doc_a"], r["doc_b"]): (round(r["cosine"], 9), r["n_shared"])
            for r in tfidf_cosine_pairs(
                docs, threshold=thr, prefix_filter=True
            ).collect()
        }
        assert pref == naive, thr

    # razor-edge threshold: exact duplicates at threshold=1.0 — the
    # suffix potential is a double running sum with zero real-arithmetic
    # slack, exactly where the admission's 1e-9 guard earns its keep
    dups = spark.createDataFrame(
        [(1, "alpha beta rare1"), (2, "alpha beta rare1"),
         (3, "gamma delta rare2")],
        "doc_id long, text string",
    )
    exact = tfidf_cosine_pairs(dups, threshold=1.0, prefix_filter=True)
    got = {(r["doc_a"], r["doc_b"]) for r in exact.collect()}
    assert got == {(1, 2)}


def test_hamming_banded_pairs_negative_64bit_signatures(spark):
    """Full-width 64-bit signatures (bit 63 set -> negative bigint) must
    band sign-safely: arithmetic shiftright fills sign bits, the chunk
    mask strips them. Brute force over the signature set is the truth."""
    from paimon_presto_spark.operators.dedup import hamming_banded_pairs

    sigs = [
        (1, -(1 << 63) | 0b1011),          # negative: top bit set
        (2, -(1 << 63) | 0b1001),          # hamming 1 to doc 1
        (3, 0b1011),                        # differs from doc 1 only in bit 63
        (4, -(1 << 63) | 0b1011 | (1 << 40)),  # hamming 1 to doc 1
        (5, 0x7FFF_FFFF_FFFF_FFFF),
    ]
    df = spark.createDataFrame(sigs, "doc_id bigint, sig bigint")
    by_id = dict(sigs)
    ids = sorted(by_id)
    brute = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            hm = bin((by_id[a] ^ by_id[b]) & ((1 << 64) - 1)).count("1")
            if hm <= 3:
                brute.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in hamming_banded_pairs(
            df, sig_col="sig", bits=64, max_hamming=3, chunks=8
        ).collect()
    }
    assert got == brute
    assert (1, 2) in got and (1, 3) in got and (1, 5) not in got


def test_dedup_image_phash_cluster_structure(spark):
    """48 synthetic images -> exactly 8 clusters of 4, 4 of 3, 4
    singletons; every keeper maximizes n_chars within its cluster."""
    from collections import Counter

    from paimon_presto_spark.queries.multimodal_entries import (
        dedup_image_phash,
    )

    rows = dedup_image_phash(spark, "/root/testdata/sf0.001").collect()
    sizes = Counter(r["cluster_size"] for r in rows)
    assert sizes == {4: 8, 3: 4, 1: 4}
    docs = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).collect()
    }
    seen = set()
    for r in rows:
        members = [int(m) for m in r["members"].split(",")]
        assert r["kept_doc_id"] in members
        best = max(members, key=lambda m: (docs[m], -m))
        assert r["kept_doc_id"] == best
        assert r["total_chars"] == sum(docs[m] for m in members)
        seen.update(members)
    assert seen == set(range(48))


def test_ppm_stream_frames_roundtrip():
    """The raw-frames interchange splitter: a concatenation of encode_ppm
    outputs splits back into the exact per-frame byte runs; corrupt
    streams fail loudly instead of yielding phantom frames."""
    import pytest

    from paimon_presto_spark.operators.multimodal import (
        _decode_ppm,
        _ppm_stream_frames,
        encode_ppm,
    )

    frames = [
        encode_ppm(2, 1, [b"\x01\x02\x03\x04\x05\x06"]),
        encode_ppm(1, 2, [b"\x07\x08\x09", b"\x0a\x0b\x0c"]),
        encode_ppm(1, 1, [b"\xff\x00\x7f"]),
    ]
    got = _ppm_stream_frames(b"".join(frames))
    assert got == frames
    assert _decode_ppm(got[1]) == (1, 2, [b"\x07\x08\x09", b"\x0a\x0b\x0c"])
    assert _ppm_stream_frames(b"") == []
    with pytest.raises(ValueError, match="magic"):
        _ppm_stream_frames(frames[0] + b"JUNK")
    with pytest.raises(ValueError, match="truncated pixel"):
        _ppm_stream_frames(frames[0][:-1])


def test_majority_hash_semantics():
    """Temporal majority: strict-majority bits survive, single-frame bits
    are suppressed, even-count ties resolve to 0, packing stays signed."""
    from paimon_presto_spark.operators.multimodal import _majority_hash

    assert _majority_hash([]) == 0
    assert _majority_hash([0b1010]) == 0b1010
    # bit 1 set in 2 of 3 frames -> kept; bit 3 set in 1 of 3 -> dropped
    assert _majority_hash([0b1010, 0b0010, 0b0000]) == 0b0010
    # even count: a 50/50 bit is NOT a strict majority
    assert _majority_hash([0b1, 0b0]) == 0
    # bit 63 in a majority of frames -> signed bigint (negative)
    top = -(1 << 63)
    assert _majority_hash([top, top, 0]) < 0
    # signed inputs round-trip: majority of identical hashes is identity
    assert _majority_hash([-5, -5, -5]) == -5


def test_video_fingerprint_majority_structure(spark):
    """extract_video_fingerprint on real PPM-stream bytes: identical
    clips hash identically; an edit hitting a MAJORITY of frames flips
    exactly one fingerprint bit, an edit hitting ONE frame flips none —
    the two directions the temporal vote must get right."""
    from paimon_presto_spark.operators.multimodal import (
        encode_ppm,
        extract_video_fingerprint,
    )

    def frame(flip_cell=None):
        px = []
        for r in range(8):
            line = bytearray()
            for c in range(8):
                p = r * 8 + c
                bit = ((7 * p + 3) % 5) < 2  # mixed bright/dark base
                if p == flip_cell:
                    bit = not bit
                gray = 224 if bit else 32
                line += bytes((gray, gray, gray))
            px.append(bytes(line))
        return encode_ppm(8, 8, px)

    base_clip = b"".join(frame() for _ in range(5))
    majority_edit = b"".join(
        frame(17 if f < 3 else None) for f in range(5)
    )
    single_edit = b"".join(
        frame(17 if f == 0 else None) for f in range(5)
    )
    media = spark.createDataFrame(
        [(1, bytearray(base_clip)), (2, bytearray(base_clip)),
         (3, bytearray(majority_edit)), (4, bytearray(single_edit))],
        "media_id bigint, payload binary",
    )
    fp = {
        r["media_id"]: (r["vfp"], r["n_frames"])
        for r in extract_video_fingerprint(media).collect()
    }
    assert fp[1] == fp[2]
    assert fp[1][1] == 5
    diff = (fp[1][0] ^ fp[3][0]) & 0xFFFFFFFFFFFFFFFF
    # MSB-first packing: cell 17 differs -> bit (63 - 17)
    assert diff == 1 << (63 - 17)
    assert fp[4][0] == fp[1][0]


def test_video_fingerprint_unsupported_container(spark):
    """Non-PPM payloads without PyAV fail the job with the designed stub
    error naming the dependency (never a silent wrong fingerprint), and
    the fake decoder keeps the same payload flowing for plumbing tests."""
    import pytest

    from paimon_presto_spark.operators.multimodal import (
        _pyav,
        extract_video_fingerprint,
    )

    mp4ish = b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 16
    media = spark.createDataFrame(
        [(1, bytearray(mp4ish))], "media_id bigint, payload binary"
    )
    if _pyav() is None:
        # worker-side NotImplementedError surfaces via PythonException;
        # match on the message, not the wrapper type
        with pytest.raises(Exception, match="PyAV"):
            extract_video_fingerprint(media).collect()
    rows = extract_video_fingerprint(media, use_fake_decoder=True).collect()
    assert rows[0]["n_frames"] == 1 and rows[0]["vfp"] is not None


def test_dedup_video_fingerprint_cluster_structure(spark):
    """48 synthetic clips -> exactly 8 clusters of 4, 4 of 3, 4
    singletons (the image/audio twins' geometry); every keeper maximizes
    n_chars within its cluster and per-frame noise never welds
    clusters."""
    from collections import Counter

    from paimon_presto_spark.queries.multimodal_entries import (
        dedup_video_fingerprint,
    )

    rows = dedup_video_fingerprint(spark, "/root/testdata/sf0.001").collect()
    sizes = Counter(r["cluster_size"] for r in rows)
    assert sizes == {4: 8, 3: 4, 1: 4}
    docs = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).collect()
    }
    seen = set()
    for r in rows:
        members = [int(m) for m in r["members"].split(",")]
        assert r["kept_doc_id"] in members
        best = max(members, key=lambda m: (docs[m], -m))
        assert r["kept_doc_id"] == best
        assert r["total_chars"] == sum(docs[m] for m in members)
        seen.update(members)
    assert seen == set(range(48))


def test_ppm_stream_rejects_nonpositive_dims():
    """Round-11 review catch: a malformed header like 'P6 1 -5 255' moved
    the parse position BACKWARD (pixel advance w*h*3 < 0) and looped
    forever appending empty frames — corrupt payloads must die loudly,
    never hang an executor task."""
    import pytest

    from paimon_presto_spark.operators.multimodal import _ppm_stream_frames

    with pytest.raises(ValueError, match="non-positive"):
        _ppm_stream_frames(b"P6   1  -5 255\n")
    with pytest.raises(ValueError, match="non-positive"):
        _ppm_stream_frames(b"P6 0 4 255\n")


def test_majority_hash_honors_bits_param():
    """bits != 64 must mask and sign-pack at THAT width (the parameter
    was previously half-honored: 64-bit mask and sign threshold
    regardless of bits)."""
    from paimon_presto_spark.operators.multimodal import _majority_hash

    # bit 7 of an 8-bit hash in a majority of frames -> negative signed
    assert _majority_hash([0b10000000, 0b10000000, 0], bits=8) == -128
    # stray high bits beyond `bits` are masked out before voting
    assert _majority_hash([0x1F0, 0x1F0, 0x100], bits=8) == -16


def test_ppm_stream_roundtrip_property():
    """Hypothesis: ANY list of valid frames concatenates and splits back
    exactly — the splitter is the inverse of repeated encode_ppm."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from paimon_presto_spark.operators.multimodal import (
        _ppm_stream_frames,
        encode_ppm,
    )

    @st.composite
    def frames(draw):
        w = draw(st.integers(1, 5))
        h = draw(st.integers(1, 4))
        rows = [
            bytes(draw(st.binary(min_size=w * 3, max_size=w * 3)))
            for _ in range(h)
        ]
        return encode_ppm(w, h, rows)

    @given(st.lists(frames(), max_size=6))
    @settings(max_examples=50, deadline=None)
    def check(fs):
        assert _ppm_stream_frames(b"".join(fs)) == fs

    check()


def test_majority_hash_matches_naive_property():
    """Hypothesis: for ANY hash list and width, _majority_hash equals a
    naive per-bit strict-majority recomputation, signed-packed at that
    width."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from paimon_presto_spark.operators.multimodal import _majority_hash

    @given(
        st.integers(1, 64).flatmap(
            lambda bits: st.tuples(
                st.just(bits),
                st.lists(
                    st.integers(-(1 << 63), (1 << 63) - 1), max_size=7
                ),
            )
        )
    )
    @settings(max_examples=100, deadline=None)
    def check(args):
        bits, hashes = args
        got = _majority_hash(hashes, bits=bits)
        n = len(hashes)
        naive = 0
        for p in range(bits):
            ones = sum(((h >> p) & 1) for h in hashes)
            if 2 * ones > n:
                naive |= 1 << p
        if naive >= 1 << (bits - 1) and n:
            naive -= 1 << bits
        assert got == (naive if n else 0)
        # output always fits the signed width
        assert -(1 << (bits - 1)) <= got < (1 << (bits - 1)) or got == 0

    check()
