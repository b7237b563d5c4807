"""Unit tests for the retrieval/selection operators added in round 6:
BM25 ranking, DSIR importance weights, matryoshka truncation recall, and
keep-best-in-cluster canonicalization. Each is checked against a
hand-computed reference on a tiny constructed corpus (the sf0.01 oracle
gate covers the full-corpus path)."""

import math

import pytest
import pyspark.sql.functions as F


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n_chars long"
    )


class TestBM25:
    def test_matches_hand_computed_scores(self, spark):
        from paimon_presto_spark.operators.text import bm25_topk

        rows = [
            (1, "merge merge merge sort", "en", 22),
            (2, "merge window", "en", 12),
            (3, "sort scan batch join", "en", 20),
            (4, "window window window window window window", "en", 41),
        ]
        out = bm25_topk(
            _docs(spark, rows), ["merge", "window"], k=10, k1=1.2, b=0.75
        )
        got = {
            r["doc_id"]: (r["n_terms_hit"], float(r["score_dec"]), r["rnk"])
            for r in out.collect()
        }
        # reference BM25 (k1=1.2, b=0.75, idf=ln(1+(N-df+.5)/(df+.5)))
        n_docs, avgdl = 4, (4 + 2 + 4 + 6) / 4
        dls = {1: 4, 2: 2, 3: 4, 4: 6}
        tfs = {1: {"merge": 3}, 2: {"merge": 1, "window": 1},
               4: {"window": 6}}
        dfs = {"merge": 2, "window": 2}

        def score(doc):
            s = 0.0
            for t, tf in tfs.get(doc, {}).items():
                idf = math.log(1 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))
                norm = tf * 2.2 / (
                    tf + 1.2 * (0.25 + 0.75 * dls[doc] / avgdl)
                )
                s += idf * norm
            return s

        assert set(got) == {1, 2, 4}  # doc 3 hits no query term
        assert got[1][0] == 1 and got[2][0] == 2 and got[4][0] == 1
        for d in (1, 2, 4):
            assert got[d][1] == pytest.approx(score(d), abs=1e-9)
        ranked = sorted((1, 2, 4), key=lambda d: (-score(d), d))
        assert [d for d, _ in sorted(got.items(), key=lambda kv: kv[1][2])] \
            == ranked

    def test_absent_term_contributes_nothing(self, spark):
        from paimon_presto_spark.operators.text import bm25_topk

        rows = [(1, "merge sort", "en", 10), (2, "sort scan", "en", 9)]
        with_ghost = bm25_topk(
            _docs(spark, rows), ["merge", "zzz_absent"], k=10
        ).collect()
        without = bm25_topk(_docs(spark, rows), ["merge"], k=10).collect()
        assert [(r["doc_id"], r["score_dec"]) for r in with_ghost] == [
            (r["doc_id"], r["score_dec"]) for r in without
        ]

    def test_empty_query_rejected(self, spark):
        from paimon_presto_spark.operators.text import bm25_topk

        with pytest.raises(ValueError, match="non-empty"):
            bm25_topk(_docs(spark, [(1, "a", "en", 1)]), [])


class TestDSIR:
    def test_target_like_docs_rank_higher(self, spark):
        from paimon_presto_spark.operators.selection import (
            dsir_importance_weights,
        )

        # target (en) speaks "alpha beta", raw background speaks "gamma
        # delta"; a fresh doc full of alpha/beta must out-weigh one full
        # of gamma/delta.
        rows = (
            [(i, "alpha beta alpha beta", "en", 20) for i in range(10)]
            + [(i + 10, "gamma delta gamma delta", "de", 22)
               for i in range(10)]
            + [(100, "alpha beta alpha", "de", 16),
               (101, "gamma delta gamma", "en", 17)]
        )
        # n_buckets=256: alpha/beta/gamma/delta land in distinct buckets
        # (at 64, alpha and gamma collide and cancel the signal)
        w = dsir_importance_weights(
            _docs(spark, rows), F.col("lang") == "en", n_buckets=256
        )
        got = {r["doc_id"]: float(r["weight_dec"]) for r in w.collect()}
        assert got[100] > 0 > got[101]

    def test_weight_is_sum_of_token_logratios(self, spark):
        from paimon_presto_spark.operators.selection import (
            dsir_importance_weights,
        )

        rows = [(1, "x x y", "en", 5), (2, "y z", "de", 3)]
        w = dsir_importance_weights(
            _docs(spark, rows), F.col("lang") == "en", n_buckets=8
        )
        got = {r["doc_id"]: float(r["weight_dec"]) for r in w.collect()}
        # hand model: token->bucket collisions don't matter for the
        # identity weight(doc) = sum over tokens of lr(bucket(token));
        # recompute from the same md5 bucketing.
        import hashlib

        def bkt(tok):
            return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 8

        toks = {1: ["x", "x", "y"], 2: ["y", "z"]}
        ct, cr = {}, {}
        for d, ts in toks.items():
            for t in ts:
                b = bkt(t)
                cr[b] = cr.get(b, 0) + 1
                if d == 1:
                    ct[b] = ct.get(b, 0) + 1
        tt, tr = sum(ct.values()), sum(cr.values())

        def lr(b):
            return math.log(
                ((ct.get(b, 0) + 1.0) / (tt + 8.0))
                / ((cr.get(b, 0) + 1.0) / (tr + 8.0))
            )

        for d, ts in toks.items():
            expect = sum(lr(bkt(t)) for t in ts)
            assert got[d] == pytest.approx(expect, abs=1e-6)


class TestMatryoshkaRecall:
    def test_full_dims_give_perfect_recall(self, spark):
        from paimon_presto_spark.operators.similarity import (
            truncated_dim_recall,
        )

        import random

        rng = random.Random(7)
        vecs = [
            (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        q = df.filter(F.col("vec_id") < 3)
        c = df.filter(F.col("vec_id") >= 3)
        out = truncated_dim_recall(c, q, trunc_dims=8, k=5)
        for r in out.collect():
            assert r["n_overlap"] == r["n_full"] == 5
            assert r["recall"] == 1.0

    def test_misleading_prefix_degrades_recall_to_zero(self, spark):
        from paimon_presto_spark.operators.similarity import (
            truncated_dim_recall,
        )

        # Adversarial construction: the 2-dim prefix RANKS THE WRONG
        # NEIGHBOR FIRST (strictly, no ties to rescue it). Full cosine:
        # A=0.996 beats B=0.0; prefix cosine: B=1.0 beats A=0.9939.
        rows = [
            (0, [1.0, 0.0, 1.0, 0.0]),    # query
            (10, [0.9, 0.1, 1.0, 0.0]),   # true NN (tail aligned)
            (11, [1.0, 0.0, -1.0, 0.0]),  # perfect prefix, opposed tail
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter(F.col("vec_id") == 0)
        c = df.filter(F.col("vec_id") >= 10)
        out = truncated_dim_recall(c, q, trunc_dims=2, k=1).collect()
        assert out[0]["n_full"] == 1
        assert out[0]["n_overlap"] == 0
        assert out[0]["recall"] == 0.0
        # full-dimension "truncation" restores the true neighbor
        out2 = truncated_dim_recall(c, q, trunc_dims=4, k=1).collect()
        assert out2[0]["recall"] == 1.0


class TestKeepBestInCluster:
    def test_keeper_is_longest_then_smallest_id(self, spark):
        from paimon_presto_spark.operators.dedup import connected_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long"
        )
        docs = spark.createDataFrame(
            [(1, 10), (2, 99), (3, 99), (7, 5), (8, 5)],
            "doc_id long, n_chars long",
        )
        comp = connected_components(pairs)
        member = comp.join(docs, "doc_id")
        best = (
            member.groupBy("component")
            .agg(
                F.max(
                    F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("n"))
                ).alias("b")
            )
            .select("component", (-F.col("b.n")).alias("keeper_id"))
        )
        got = {r["component"]: r["keeper_id"] for r in best.collect()}
        # cluster {1,2,3}: 2 and 3 tie on n_chars=99 -> smaller id 2 wins
        assert got == {1: 2, 7: 7}


class TestQualityLogreg:
    def test_probability_matches_hand_sigmoid(self, spark):
        from paimon_presto_spark.operators.text import (
            QUALITY_LOGREG_WEIGHTS,
            quality_logreg_score,
        )

        rows = [
            (1, "the cat sat of the mat and it is in there", "en", 42),
            (2, "### ... ### ... ###", "en", 19),
        ]
        out = quality_logreg_score(_docs(spark, rows))
        got = {r["doc_id"]: (float(r["quality_prob"]), r["kept"])
               for r in out.collect()}

        w = QUALITY_LOGREG_WEIGHTS

        def ref(text):
            words = text.split(" ")
            nw = len(words)
            ml = len(text.replace(" ", "")) / nw
            sr = (text.count("#") + text.count("...")) / nw
            ar = sum(1 for x in words
                     if any(c.isalpha() and c.isascii() for c in x)) / nw
            sh = len(set(words) & {"the", "a", "of", "to", "and", "is", "in"})
            z = (w["bias"] + w["log1p_n_words"] * math.log(1.0 + nw)
                 + w["mean_word_len"] * ml + w["alpha_word_ratio"] * ar
                 + w["stopword_hits"] * sh + w["symbol_ratio"] * sr)
            return 1.0 / (1.0 + math.exp(-z))

        for doc_id, text in [(1, rows[0][1]), (2, rows[1][1])]:
            assert got[doc_id][0] == pytest.approx(ref(text), abs=1e-6)
        # prose doc scores higher than symbol soup, and the threshold
        # splits them
        assert got[1][0] > got[2][0]
        assert got[1][1] == 1 and got[2][1] == 0


# ---------------------------------------------------------------------------
# Property tests (hypothesis): random corpora vs pure-Python references
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_WORDS = ["alpha", "beta", "gamma", "delta", "eps"]
_corpus_strategy = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=1, max_size=8),
    min_size=2,
    max_size=8,
)


def _ref_bm25(doc_words, terms, k1=1.2, b=0.75):
    """Pure-Python BM25 over a list-of-token-lists corpus."""
    n = len(doc_words)
    avgdl = sum(len(ws) for ws in doc_words) / n
    dfs = {
        t: sum(1 for ws in doc_words if t in ws) for t in terms
    }
    out = {}
    for i, ws in enumerate(doc_words):
        s = 0.0
        hit = 0
        for t in terms:
            tf = ws.count(t)
            if tf == 0:
                continue
            hit += 1
            idf = math.log(1 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            s += idf * (tf * (k1 + 1.0)) / (
                tf + k1 * ((1.0 - b) + (b * len(ws)) / avgdl)
            )
        if hit:
            out[i] = (hit, s)
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=_corpus_strategy, terms=st.lists(
    st.sampled_from(_WORDS), min_size=1, max_size=3, unique=True))
def test_bm25_matches_reference_on_random_corpora(spark, corpus, terms):
    from paimon_presto_spark.operators.text import bm25_topk

    docs = _docs(
        spark,
        [(i, " ".join(ws), "en", len(" ".join(ws))) for i, ws in
         enumerate(corpus)],
    )
    out = bm25_topk(docs, list(terms), k=100)
    got = {r["doc_id"]: (r["n_terms_hit"], float(r["score_dec"]))
           for r in out.collect()}
    ref = _ref_bm25(corpus, terms)
    assert set(got) == set(ref)
    for d, (hit, s) in ref.items():
        assert got[d][0] == hit
        assert got[d][1] == pytest.approx(s, abs=1e-9)


def _ref_components(pairs):
    """Pure-Python union-find for the expected cluster labeling."""
    parent = {}

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
    return {x: find(x) for x in parent}


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pairs=st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
        lambda p: p[0] != p[1]
    ),
    min_size=1,
    max_size=12,
))
def test_connected_components_match_union_find(spark, pairs):
    from paimon_presto_spark.operators.dedup import connected_components

    df = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["component"]
           for r in connected_components(df).collect()}
    assert got == _ref_components(pairs)


class TestNgramContainment:
    def test_subset_doc_is_flagged_directionally(self, spark):
        from paimon_presto_spark.operators.dedup import (
            ngram_containment_pairs,
        )

        long_text = " ".join(f"w{i}" for i in range(30))
        short_text = " ".join(f"w{i}" for i in range(10, 20))  # strict subset
        other = " ".join(f"z{i}" for i in range(25))
        docs = _docs(
            spark,
            [(1, long_text, "en", len(long_text)),
             (2, short_text, "en", len(short_text)),
             (3, other, "en", len(other))],
        )
        out = ngram_containment_pairs(
            docs, shingle_n=3, max_df=20, threshold=0.9
        ).collect()
        pairs = {(r["contained"], r["container"]): float(r["containment"])
                 for r in out}
        # short doc (8 shingles) fully contained in long doc -> 1.0,
        # but long doc (28 shingles) is NOT contained in short
        assert pairs == {(2, 1): 1.0}

    def test_identical_docs_contain_each_other(self, spark):
        from paimon_presto_spark.operators.dedup import (
            ngram_containment_pairs,
        )

        t = "a b c d e f g"
        docs = _docs(spark, [(1, t, "en", 13), (2, t, "en", 13)])
        out = ngram_containment_pairs(docs, shingle_n=3, threshold=0.99)
        got = {(r["contained"], r["container"]) for r in out.collect()}
        assert got == {(1, 2), (2, 1)}


class TestBigramPerplexity:
    def test_word_order_soup_scores_worse(self, spark):
        """A doc whose bigrams never occur elsewhere (shuffled word
        order) must show higher perplexity than one matching the
        corpus's dominant word order — the signal unigram LMs miss."""
        from paimon_presto_spark.queries.curation import (
            text_bigram_perplexity,
        )
        import os
        import tempfile

        rows = (
            [(i, "a b c d e", "en", 9) for i in range(20)]      # dominant order
            + [(30, "a b c d e", "en", 9),                       # conforming
               (31, "e d c b a", "en", 9)]                        # same words, reversed
        )
        with tempfile.TemporaryDirectory() as tmp:
            _docs(spark, rows).write.parquet(
                os.path.join(tmp, "documents.parquet")
            )
            out = text_bigram_perplexity(spark, tmp).collect()
        ppl = {r["doc_id"]: r["perplexity"] for r in out}
        assert ppl[31] > ppl[30]
        # conforming doc matches the corpus mode -> near-minimal ppl
        assert ppl[30] == min(ppl.values())


def test_quality_logreg_survives_symbol_heavy_doc(spark):
    """Regression: a doc dominated by '#'/'...' drives z below -40;
    without the clamp exp(-z) overflows DECIMAL(28,10) (ANSI crash /
    silent NULLs). The clamp must keep the job alive with prob ~ 0."""
    from paimon_presto_spark.operators.text import quality_logreg_score

    soup = " ".join(["#" * 10] * 5)  # symbol_ratio = 10, z ~ -80
    docs = _docs(spark, [(1, soup, "en", len(soup)),
                         (2, "the cat is on the mat", "en", 21)])
    got = {r["doc_id"]: (r["quality_prob"], r["kept"])
           for r in quality_logreg_score(docs).collect()}
    assert got[1][0] is not None and got[1][1] == 0
    assert got[1][0] == pytest.approx(0.0, abs=1e-15)
    assert got[2][0] is not None


def test_ivf_pq_with_all_lists_probed_equals_plain_pq(spark):
    """Identity: probing EVERY posting list disables the IVF pruning, so
    IVF-PQ must return exactly the plain PQ-ADC ranking — pinning that
    the composition changes candidate SELECTION only, never scores."""
    from paimon_presto_spark.operators.similarity import (
        ivf_pq_adc_topk,
        pq_adc_topk,
        pq_train,
    )
    from paimon_presto_spark.queries.advanced import _ivf_cents

    from paimon_presto_spark.sources.testdata import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = pq_train(e, m=8, ksub=16, iters=1, sample_n=64, dim=64)
    q = e.filter(F.col("vec_id") < 3)
    cents = _ivf_cents()
    composed = ivf_pq_adc_topk(
        e, q, cents, books, k=5, n_probe=len(cents)
    ).collect()
    plain = pq_adc_topk(e, q, books, k=5).collect()
    key = lambda r: (r["q_id"], r["rnk"], r["n_id"], r["approx_l2"])  # noqa: E731
    assert sorted(map(key, composed)) == sorted(map(key, plain))


def test_pq_encode_rungs_bit_identical(spark):
    """Both PQ encode rungs — relational (broadcast-join + hash agg) and
    blas (Arrow/numpy map-only) — must produce the codes of a numpy
    reference on real embeddings: per subspace, the squared distance to
    each centroid as a left fold over the sub dimension, argmin with ties
    to the lowest cid. That order is the contract the oracle-gated
    relational rung and the blas rung share."""
    import numpy as np

    from paimon_presto_spark.operators.similarity import (
        ivf_pq_index,
        pq_encode,
        pq_train,
    )
    from paimon_presto_spark.queries.advanced import _ivf_cents
    from paimon_presto_spark.sources.testdata import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    books = pq_train(e, m=8, ksub=16, iters=1, sample_n=64, dim=64)

    sub = len(books[0][0])

    def reference(vec):
        x = np.asarray(vec, dtype=np.float64)
        out = []
        for ss, book in sorted(books.items()):
            cids = sorted(book)
            c = np.asarray([book[cid] for cid in cids], dtype=np.float64)
            d = x[None, ss * sub:(ss + 1) * sub] - c
            acc = d[:, 0] * d[:, 0]
            for j in range(1, sub):
                acc = acc + d[:, j] * d[:, j]
            out.append(cids[int(np.argmin(acc))])  # first min: lowest cid
        return out

    want = {r["vec_id"]: reference(r["embedding"]) for r in e.collect()}

    def codes(df):
        return {r["vec_id"]: list(r["codes"]) for r in df.collect()}

    rel = codes(pq_encode(e, books, encode="relational"))
    bl = codes(pq_encode(e, books, encode="blas"))
    assert want and rel == want and bl == want

    cents = _ivf_cents()

    def idx(df):
        return {
            r["vec_id"]: (r["bucket"], list(r["codes"])) for r in df.collect()
        }

    irel = idx(ivf_pq_index(e, cents, books, encode="relational"))
    ibl = idx(ivf_pq_index(e, cents, books, encode="blas"))
    assert irel and irel == ibl
    # blas plan contract: map-only — no Exchange anywhere (the relational
    # rung pays an aggregation shuffle for the same output)
    plan = ivf_pq_index(e, cents, books, encode="blas")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_pq_encode_blas_sparse_codebook_emits_cids(spark):
    """Round-11 review catch: the blas rung emitted argmin POSITIONS;
    with a caller-supplied sparse codebook ({0,2,5}-keyed) it must emit
    the same true cids the relational rung emits."""
    from paimon_presto_spark.operators.similarity import ivf_pq_index, pq_encode

    vecs = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [5.0, 5.0]), (3, [9.0, 9.0])],
        "vec_id bigint, embedding array<double>",
    )
    books = {0: {0: [0.0], 2: [5.0], 5: [9.0]},
             1: {0: [0.0], 2: [5.0], 5: [9.0]}}

    def codes(df):
        return {r["vec_id"]: list(r["codes"]) for r in df.collect()}

    bl = codes(pq_encode(vecs, books, encode="blas"))
    rel = codes(pq_encode(vecs, books, encode="relational"))
    assert bl == rel == {1: [0, 0], 2: [2, 2], 3: [5, 5]}
    # any other rung name is rejected by both encode entry points
    with pytest.raises(ValueError, match="encode"):
        pq_encode(vecs, books, encode="bogus")
    with pytest.raises(ValueError, match="encode"):
        ivf_pq_index(vecs, [(0, [1.0, 0.0])], books, encode="bogus")
