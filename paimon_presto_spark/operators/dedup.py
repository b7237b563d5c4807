"""Deduplication operators over document tables.

Every operator is a pure DataFrame program (no Python in the row path):
shingling/hashing run in whole-stage codegen, candidate generation is an
equi-join on LSH band keys, and only candidates pay the exact-verification
cost. This is the shape that survives 100 TB: the only all-pairs work is
within a MinHash band bucket or a SimHash chunk bucket, both of which are
bounded by construction.

Hashing is the portable md5-derived family (``functions/hashing.py``), so
signatures are reproducible across engines and across re-runs of a resumed
pipeline.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from paimon_presto_spark.functions.hashing import (
    BASE_MOD,
    HASH_PRIME,
    affine_hash,
    hash_params,
    md5_long,
)
from paimon_presto_spark.functions.text import shingle_array


def _spread(docs: DataFrame) -> DataFrame:
    """Repartition a document table that arrives with fewer partitions than
    cores (e.g. one small parquet file locally) so the explode/hash map side
    uses the whole cluster. A well-partitioned 100 TB input (partitions >=
    parallelism) passes through untouched — no shuffle added at scale."""
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        return docs.repartition(sc.defaultParallelism)
    return docs


def shingle_set(docs: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, s) distinct word n-gram shingles. Token array is projected before
    shingling (no CSE inside HOF lambdas — 15x difference, see
    ``functions/text.py:shingle_array``)."""
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("tk"))
        .select("doc_id", F.explode(shingle_array(F.col("tk"), n)).alias("s"))
        .distinct()
    )


def shingle_hashes(
    docs: DataFrame, id_col: str, text_col: str, n: int, distinct: bool = True
) -> DataFrame:
    """(doc_id, h) distinct 60-bit-hashed word n-gram shingles.

    Hashing BEFORE the distinct means the dedup shuffle moves 16-byte
    (doc_id, h) rows instead of full shingle strings — at 100 TB that is the
    difference between shuffling the corpus and shuffling ~2% of it. All
    downstream set arithmetic (MinHash, document frequency, exact Jaccard)
    is value-identical to the string path whenever the 60-bit space is
    collision-free for the corpus' shingle vocabulary (verified for the test
    corpora; a stray collision at larger scale perturbs one pair's Jaccard
    by one unit of intersection — acceptable for near-dup detection).

    ``distinct=False`` skips the dedup shuffle entirely — for consumers that
    only test membership (e.g. containment probes) the duplicates are
    harmless and the scan stays shuffle-free.
    """
    sh = (
        _spread(docs)
        .select(F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("tk"))
        .select("doc_id", F.explode(shingle_array(F.col("tk"), n)).alias("s"))
        .select("doc_id", md5_long(F.col("s")).alias("h"))
    )
    return sh.distinct() if distinct else sh


def exact_dedup(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: (text_hash, keeper_doc_id, n_copies) per distinct text.

    Group keys are 128-bit content hashes, not texts — at scale the shuffle
    carries 16 bytes per row instead of documents. Join the result back
    (semi-join on keeper ids) to materialize the kept corpus.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col).cast("binary")).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_signature(sh: DataFrame, k: int) -> DataFrame:
    """doc_id → k MinHash columns mh0..mh{k-1} (one shuffle, MIN combiner).

    Accepts shingles either pre-hashed (``h`` column, from
    ``shingle_hashes``) or raw (``s`` strings, hashed here).
    """
    hashed = (
        sh if "h" in sh.columns
        else sh.select("doc_id", md5_long(F.col("s")).alias("h"))
    )
    aggs = [
        F.min(
            (F.lit(a) * (F.col("h") % BASE_MOD) + F.lit(b)) % HASH_PRIME
        ).alias(f"mh{i}")
        for i, (a, b) in enumerate(hash_params(k))
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def band_candidates(mh: DataFrame, bands: int, rows: int) -> DataFrame:
    """LSH banding: pairs sharing any band's signature chunk (doc_a < doc_b).

    One shuffle, not a self-join: bucket members are collected per
    (band, key) and pairs expand in-bucket with higher-order functions —
    a self-join would shuffle the band table twice and hash-join it
    against itself for the same pair set. The quadratic expansion is
    bounded by LSH bucket size (small by construction — an adversarially
    hot bucket means the band key carries no information and should be
    capped upstream), and it happens inside codegen, not Python.
    """
    band_cols = [
        F.concat_ws(",", *[F.col(f"mh{j * rows + r}") for r in range(rows)])
        for j in range(bands)
    ]
    bdf = mh.select("doc_id", F.posexplode(F.array(*band_cols)).alias("band", "bkey"))
    buckets = (
        bdf.groupBy("band", "bkey")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(ds)-2),"
                    " i -> transform(slice(ds, i+2, size(ds)-i-1),"
                    " d -> struct(ds[i] AS doc_a, d AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def jaccard_verify(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard over full shingle sets for candidate (doc_a, doc_b).

    No forced broadcasts: candidate-pair volume scales with the corpus's
    duplication rate, not with a constant, so a broadcast hint here would
    force a driver-sized collect on a heavily-duplicated crawl. All joins
    are plain equi-joins on compact keys (doc ids / shingle hashes); AQE
    picks broadcast at runtime when a side measures small.
    """
    key = "h" if "h" in sh.columns else "s"
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), key)
    sb = sh.select(F.col("doc_id").alias("doc_b"), key)
    inter = (
        cand
        .join(sa, "doc_a")
        .join(sb, ["doc_b", key])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))).alias(
                "jaccard"
            ),
        )
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs: shingle → MinHash(k) → LSH(bands) → exact
    Jaccard ≥ threshold. Returns (doc_a, doc_b, jaccard).

    Band/row choice tunes the S-curve: with k=16, bands=4 the 50%-recall
    point sits near j ≈ (1/4)^(1/4) ≈ 0.71; raise `bands` to catch lower
    similarities at more candidate cost.
    """
    assert k % bands == 0, "k must divide evenly into bands"
    sh = shingle_hashes(docs, id_col, text_col, shingle_n).cache()
    # Materialize the cache before fan-out: the signature, size, and verify
    # branches otherwise race as independent stages, each recomputing the
    # shingle explode before any of them has populated it.
    sh.count()
    # Cache the signatures too: band_candidates self-joins the band table,
    # and without the cache each side of the self-join recomputes the
    # 16-column MIN aggregation. Signatures are k longs per doc — tiny.
    mh = minhash_signature(sh, k).cache()
    mh.count()
    cand = band_candidates(mh, bands, k // bands)
    return jaccard_verify(cand, sh).filter(F.col("jaccard") >= threshold)


def minhash_lsh_pairs_incremental(
    old_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    old_signatures: DataFrame | None = None,
    new_shingles: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection: pairs touching at least one NEW
    document — new-vs-new plus new-vs-old — without ever re-pairing the
    old corpus against itself.

    ``new_shingles`` (stored-signature path only): the caller's pre-built
    ``shingle_hashes(new_docs, ...)`` frame, ledger-cached HERE and shared
    — a daily-ingest caller that must also encode the admitted increment's
    signatures after the commit can reuse the same cached shingles instead
    of re-shingling the increment (one explode+distinct pass saved per
    ingest run).

    The production resumable-pipeline shape: a 100 TB deduped corpus grows
    by a daily increment that is orders of magnitude smaller. Because a
    document's MinHash signature depends only on the document, yesterday's
    signatures are still valid — pass them as ``old_signatures``
    (doc_id, mh0..mh{k-1}) and the old corpus is NOT re-shingled for
    candidate generation; the band join probes with the increment's bands
    only, so candidate volume scales with |new| x bucket population, not
    |corpus|². Old documents are re-shingled ONLY if they appear in a
    candidate pair (a semi-join-bounded set).

    Result equivalence: identical to ``minhash_lsh_pairs`` over
    old ∪ new, restricted to pairs with >= 1 new member (signatures and
    bucketing are per-document and deterministic) — which is exactly what
    the registry oracle certifies.

    Ledgered caches (see ``release_chunk_caches``): entering any other
    ledgered dedup operator releases THIS call's caches — results stay
    correct (unpersisted plans recompute), but the cached shingle /
    signature work is silently re-paid. Materialize this result before
    the next ledgered call.
    """
    rows = k // bands
    assert bands * rows == k, "k must divide evenly into bands"
    # Ledgered caches (released by the NEXT ledgered dedup call or an
    # explicit release_chunk_caches()): this function pins several
    # bounded intermediates; without the ledger a long-lived
    # daily-ingest loop would accumulate one set per call.
    release_chunk_caches()

    def band_df(mh: DataFrame) -> DataFrame:
        band_cols = [
            F.concat_ws(",", *[F.col(f"mh{j * rows + r}") for r in range(rows)])
            for j in range(bands)
        ]
        return mh.select(
            "doc_id", F.posexplode(F.array(*band_cols)).alias("band", "bkey")
        )

    if old_signatures is None:
        # no stored signatures: shingle old ∪ new in ONE pass and run ONE
        # signature aggregation over the whole corpus — per-doc signatures
        # are independent of which side a doc is on, so splitting the
        # corpus into two shingle passes + two MIN-combine shuffles (the
        # previous shape) only paid the same work twice
        all_sh = shingle_hashes(
            old_docs.unionByName(new_docs), id_col, text_col, shingle_n
        ).cache()
        _CHUNK_CACHES.append(all_sh)
        all_sh.count()  # materialize before fan-out (see minhash_lsh_pairs)
        # cache the signatures too: both band-join sides consume them, and
        # Spark does not share subplans across join sides — uncached, the
        # corpus-wide MIN-aggregation would run twice
        all_mh = minhash_signature(all_sh, k).cache()
        _CHUNK_CACHES.append(all_mh)
        all_mh.count()
        # shingle/signature frames carry the canonical 'doc_id' name
        # whatever the caller's id column is called
        new_ids = new_docs.select(F.col(id_col).alias("doc_id")).distinct()
        # cache the increment slice too: jaccard_verify scans its shingle
        # input FOUR times (size rollup via both pair sides + both
        # intersection sides), and an uncached semi-join would re-probe
        # the corpus-wide cache per consumer. Bounded by the increment.
        new_sh = all_sh.join(new_ids, "doc_id", "left_semi").cache()
        _CHUNK_CACHES.append(new_sh)
        new_mh = all_mh.join(new_ids, "doc_id", "left_semi")
        old_sh = all_sh.join(new_ids, "doc_id", "left_anti")
        ab_src = all_mh  # build side = everything, already unioned
    else:
        new_sh = (
            new_shingles
            if new_shingles is not None
            else shingle_hashes(new_docs, id_col, text_col, shingle_n)
        ).cache()
        _CHUNK_CACHES.append(new_sh)
        new_sh.count()
        # cache the increment's signatures too: BOTH band-join sides read
        # them (probe side alone, build side unioned with the stored
        # index) and Spark does not share subplans across join sides —
        # uncached, the k-column MIN aggregation over the increment runs
        # twice inside the candidate job. k longs per doc — tiny.
        new_mh = minhash_signature(new_sh, k).cache()
        _CHUNK_CACHES.append(new_mh)
        old_sh = None
        ab_src = new_mh.unionByName(old_signatures)
    # Probe side = the increment's bands only; build side = everything.
    # A new-new pair meets twice (each side probes) — canonicalize + distinct.
    nb = band_df(new_mh).withColumnRenamed("doc_id", "doc_n")
    ab = band_df(ab_src)
    cand = (
        nb.join(ab, ["band", "bkey"])
        .filter(F.col("doc_n") != F.col("doc_id"))
        .select(
            F.least("doc_n", "doc_id").alias("doc_a"),
            F.greatest("doc_n", "doc_id").alias("doc_b"),
        )
        .distinct()
        .cache()
    )
    _CHUNK_CACHES.append(cand)
    # Materialize: cand feeds BOTH the old-side semi-join and the verify
    # join — uncached, each consumer would re-run the signature
    # aggregations and the band join (same rationale as
    # minhash_lsh_pairs' signature cache).
    cand.count()
    # Re-shingle only the old docs that actually appear in a candidate.
    cand_ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .union(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # No broadcast hint: the candidate set scales with the increment (not
    # the corpus), but "increment" can still be large — AQE broadcasts it
    # only when it measures small (the curate_corpus decision-set rule).
    if old_sh is not None:
        old_cand_sh = old_sh.join(cand_ids, "doc_id", "left_semi")
    else:
        # stored-signature path: old shingles were never computed this run,
        # so re-shingle ONLY the candidate members (semi-join-bounded)
        old_cand_sh = shingle_hashes(
            old_docs.join(
                cand_ids.withColumnRenamed("doc_id", id_col),
                id_col,
                "left_semi",
            ),
            id_col,
            text_col,
            shingle_n,
        )
    # Verify reads only candidate MEMBERS' shingle sets — prune the new
    # side to candidate membership too (§2.3 shuffle fewer bytes: the
    # increment's non-candidate majority contributes nothing to any of
    # jaccard_verify's scans), and cache the pruned union ONCE:
    # jaccard_verify consumes its shingle input four times (sizes twice
    # via na/nb, plus both pair sides), and an uncached side would re-run
    # its semi-join/re-shingle per consumer. Bounded by candidate
    # membership. Semi-join pruning keeps full per-doc shingle sets, so
    # every candidate pair's Jaccard is value-identical.
    cand_sh = (
        new_sh.join(cand_ids, "doc_id", "left_semi")
        .unionByName(old_cand_sh)
        .cache()
    )
    _CHUNK_CACHES.append(cand_sh)
    return jaccard_verify(cand, cand_sh).filter(F.col("jaccard") >= threshold)


def _inverted_index_pairs(
    sh: DataFrame, max_df: int | None = None
) -> DataFrame:
    """Candidate (doc_a, doc_b) pairs sharing a shingle hash — the
    inverted-index self-join every exact-similarity rung starts from.
    ``max_df`` caps posting lists (the Bayardo bound on quadratic
    blow-up); ``None`` keeps every list — EXHAUSTIVE above similarity 0,
    which is what the recall audit's ground truth requires. Shared by the
    Jaccard, containment, and recall-audit paths so a candidate-shape fix
    (e.g. hot-shingle skew handling) lands once."""
    rare = sh
    if max_df is not None:
        df_counts = sh.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
        rare = sh.join(df_counts.filter(F.col("df") <= max_df), "h").select(
            "doc_id", "h"
        )
    a = rare.select(F.col("doc_id").alias("doc_a"), "h")
    b = rare.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    max_df: int = 20,
    threshold: float = 0.3,
) -> DataFrame:
    """Inverted-index candidates (pairs sharing a shingle with document
    frequency ≤ max_df) + exact Jaccard. The df cap bounds the quadratic
    blow-up of posting lists — the classic trick for web-scale all-pairs
    similarity (cf. Bayardo et al., WWW'07).

    Ledgered caches (see ``release_chunk_caches``): entering any other
    ledgered dedup operator releases THIS call's caches — results stay
    correct (unpersisted plans recompute), but the cached shingle /
    signature work is silently re-paid. Materialize this result before
    the next ledgered call.
    """
    # Ledgered cache (release on next ledgered call / release_chunk_caches):
    # the result is lazy so the cache can't drop inside the operator, and an
    # unledgered per-call cache leaks across a long-lived session.
    release_chunk_caches()
    sh = shingle_hashes(docs, id_col, text_col, shingle_n).cache()
    _CHUNK_CACHES.append(sh)
    sh.count()  # populate before fan-out (see minhash_lsh_pairs)
    cand = _inverted_index_pairs(sh, max_df)
    return jaccard_verify(cand, sh).filter(F.col("jaccard") >= threshold)


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """doc_id → SimHash signature over the distinct-token set (one shuffle)."""
    hashed = _spread(docs).select(
        F.col(id_col).alias("doc_id"), F.explode(F.split(text_col, " ")).alias("s")
    ).select("doc_id", md5_long(F.col("s")).alias("h")).distinct()
    sums = hashed.groupBy("doc_id").agg(
        *[
            F.sum((F.shiftright(F.col("h"), j).bitwiseAND(1)) * 2 - 1).alias(f"s{j}")
            for j in range(bits)
        ]
    )
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, 1).otherwise(0) * (1 << j)
        sim = term if sim is None else sim + term
    return sums.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 2,
    chunks: int = 4,
    collapse_identical: bool = False,
) -> DataFrame:
    """Pairs at Hamming distance ≤ max_hamming over text SimHash signatures
    (``simhash_signatures`` → ``hamming_banded_pairs``); see the latter for
    the pigeonhole-recall argument. ``collapse_identical`` passes through
    to the skew rung — text corpora hit the same degenerate-class shape
    perceptual ones do (empty/boilerplate documents all hash to one
    SimHash value, and a web crawl carries millions of them), with the
    same connectivity-equivalent-not-exhaustive output contract — and
    the same ledgered/eager-construction behavior (see
    ``hamming_banded_pairs``'s collapse notes)."""
    sigs = simhash_signatures(docs, id_col, text_col, bits)
    return hamming_banded_pairs(
        sigs, sig_col="simhash", id_col="doc_id",
        bits=bits, max_hamming=max_hamming, chunks=chunks,
        collapse_identical=collapse_identical,
    )


def hamming_banded_pairs(
    sigs: DataFrame,
    sig_col: str = "simhash",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 2,
    chunks: int = 4,
    collapse_identical: bool = False,
) -> DataFrame:
    """Pairs of ids whose ``sig_col`` values sit at Hamming distance
    ≤ max_hamming, via chunk banding over ANY integer signature column
    (SimHash over text, perceptual aHash over images — the banding is
    signature-agnostic).

    Pigeonhole: ≤ max_hamming flipped bits across `chunks` chunks leaves at
    least chunks - max_hamming chunks intact, so joining on each intact
    chunk recalls every qualifying pair — requires chunks > max_hamming.
    No all-pairs scan: the join is an equi-join on (chunk_idx, chunk_value);
    the shifted-mask chunk extraction is sign-safe for full-width 64-bit
    signatures (arithmetic shiftright fills sign bits; the mask strips
    them).

    ``collapse_identical`` is the SKEW rung. The equi-join is quadratic in
    each (chunk, value) bucket's population, and real perceptual corpora
    concentrate mass on a handful of degenerate signatures — blank/black
    frames, silence, template pages — which are precisely the most
    duplicated items: k identical signatures put k rows in EVERY chunk
    bucket, k² candidate rows per chunk, and no banding width can split
    them (their chunks are all equal). With ``collapse_identical=True``
    each exact-signature class is first collapsed to its min-id
    representative (one linear groupBy — the skewed key disappears in the
    partial aggregate): the class's members attach to the representative
    by star edges at Hamming 0 (k-1 edges, not k(k-1)/2), and banding
    runs over DISTINCT signatures only. The output is then NOT the full
    pairwise enumeration but a connectivity-equivalent edge set: every
    doc lands in exactly the same connected component (star edges keep
    classes connected; distance is a function of the signatures, so one
    rep-rep edge stands for all cross-class member pairs) — which is the
    contract ``connected_components``/keep-best consumers actually need.
    Leave it False when downstream wants every qualifying pair
    enumerated (the oracle-gated registry entries do). Property-pinned
    in ``tests/test_hamming_property.py``; the incremental generator
    has the same opt-in (its exact mode is probe-bounded but still pays
    |new ∩ bucket| × k against a degenerate OLD class of size k — see
    ``hamming_banded_pairs_incremental``'s collapse notes).

    Collapse mode is a LEDGERED operator and EAGER at construction
    (caches the collapse intermediates, releasing any earlier ledgered
    call's caches — see ``release_chunk_caches``; entering it before
    materializing a prior ledgered call's lazy result makes that result
    recompute). Exact mode stays fully lazy and releases nothing.
    """
    assert chunks > max_hamming, "need chunks > max_hamming for full recall"
    assert bits % chunks == 0
    if collapse_identical:
        release_chunk_caches()  # ledgered: one collapse call in flight
        classes, star = _collapse_classes(sigs, sig_col, id_col)
        rep_pairs = hamming_banded_pairs(
            classes.select(
                F.col("rep").alias(id_col), F.col("sig").alias(sig_col)
            ),
            sig_col=sig_col, id_col=id_col, bits=bits,
            max_hamming=max_hamming, chunks=chunks,
        )
        return star.unionByName(rep_pairs)
    exploded = _sig_chunks(sigs, sig_col, id_col, bits, chunks)
    a = exploded.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sim_a"), "chunk", "cval"
    )
    b = exploded.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sim_b"), "chunk", "cval"
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["chunk", "cval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _collapse_classes(
    sigs: DataFrame, sig_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(classes, star): the exact-signature collapse both skew rungs
    share — ``classes`` is one (sig, rep = min id) row per distinct
    signature, ``star`` the (rep, member, Hamming 0) edges attaching
    every non-rep member. The input is deduplicated on (id, sig) first
    so dirty input (a doubled fingerprint row at a re-fingerprinted day
    boundary) cannot double a star edge — parity with the exact mode's
    final ``.distinct()``. Both intermediates are ledger-cached: the
    (id, sig) projection (16 bytes/row) because the classes aggregate
    and the star-join probe side are non-identical subtrees
    ReuseExchange cannot dedup — uncached, an expensive signature
    source (a 50k-image Arrow decode in the bench's skew row) would
    run once per consumer — and ``classes`` (one row per DISTINCT
    signature, strictly smaller) because THREE subtrees consume it
    (the star build side plus both sides of the rep-level band
    self-join), which would otherwise re-run the full-width min
    aggregation per consumer. Construction is EAGER (cache + count),
    the module's convention for every ledgered operator — callers that
    only want a plan should use the exact mode. CALLER calls
    ``release_chunk_caches()`` first (not done here: the incremental
    rung derives its old side in the same flight, and a release per
    helper call would evict the new side's cache)."""
    named = (
        sigs.select(
            F.col(id_col).alias("doc_id"), F.col(sig_col).alias("sig")
        )
        .distinct()
        .cache()
    )
    _CHUNK_CACHES.append(named)
    named.count()  # materialize before the fan-out
    classes = named.groupBy("sig").agg(F.min("doc_id").alias("rep")).cache()
    _CHUNK_CACHES.append(classes)
    classes.count()  # one min-aggregation, not one per consumer
    star = (
        named.join(classes, "sig")
        .filter(F.col("doc_id") != F.col("rep"))
        .select(
            F.col("rep").alias("doc_a"),  # rep = class min id < member
            F.col("doc_id").alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return classes, star


def _sig_chunks(
    sigs: DataFrame, sig_col: str, id_col: str, bits: int, chunks: int
) -> DataFrame:
    """(doc_id, sig, chunk, cval): the banding explode both the full and
    incremental Hamming pair generators share. The shifted-mask chunk
    extraction is sign-safe for full-width 64-bit signatures (arithmetic
    shiftright fills sign bits; the mask strips them)."""
    width = bits // chunks
    mask = (1 << width) - 1
    chunk_cols = [
        (F.shiftright(F.col(sig_col), j * width).bitwiseAND(mask)).alias(f"c{j}")
        for j in range(chunks)
    ]
    ch = sigs.select(
        F.col(id_col).alias("doc_id"), F.col(sig_col).alias("sig"), *chunk_cols
    )
    return ch.select(
        "doc_id",
        "sig",
        F.posexplode(F.array(*[F.col(f"c{j}") for j in range(chunks)])).alias(
            "chunk", "cval"
        ),
    )


def hamming_banded_pairs_incremental(
    new_sigs: DataFrame,
    old_sigs: DataFrame,
    sig_col: str = "simhash",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 2,
    chunks: int = 4,
    collapse_identical: bool = False,
) -> DataFrame:
    """Hamming pairs touching at least one NEW signature — new-vs-new
    plus new-vs-old — without ever re-pairing the old corpus against
    itself: the incremental rung for PERCEPTUAL dedup (image aHash /
    audio energy-sign / video frame-majority / text SimHash), completing
    the store-and-reuse family MinHash signatures
    (``minhash_lsh_pairs_incremental``) and SemDeDup assignments
    (``semdedup_incremental``) already have.

    The production shape is identical to the MinHash one: a 100 TB
    deduped media corpus grows by a daily increment orders of magnitude
    smaller; a fingerprint depends only on its media row, so yesterday's
    stored (id, signature) table is still valid — pass it as
    ``old_sigs`` and only the INCREMENT's chunk buckets probe the
    corpus-wide build side. Candidate volume scales with |new| x bucket
    population, not |corpus|². Caller contract (same as the MinHash
    variant): old and new id sets are disjoint.

    Result equivalence: identical to ``hamming_banded_pairs`` over
    old ∪ new restricted to pairs with >= 1 new member (chunking is
    per-signature and deterministic; the pigeonhole recall argument is
    unchanged because every qualifying pair has >= chunks - max_hamming
    intact chunks, any one of which the new member's probe hits) —
    pinned by the property test in ``tests/test_hamming_property.py``.

    ``collapse_identical`` is the incremental face of the SKEW rung.
    The default exact mode is probe-bounded but NOT skew-safe: a
    degenerate OLD class of k equal signatures (a blank frame the
    corpus has accumulated for years) meets every matching new probe in
    every chunk bucket — 1,000 new blanks against a 10⁸-blank corpus is
    10¹¹ candidate rows. With collapse on, NEW signatures fold to
    min-id class representatives (members attach by Hamming-0 star
    edges), the OLD side folds to one representative per distinct
    signature, and only representatives band — a new blank class meets
    the old blank class ONCE. The output is connectivity-COMPOSITIONAL
    rather than exhaustive: unioned with the edge set yesterday's
    collapsed full pass already materialized, it induces exactly the
    components the collapsed full generator would build over old ∪ new
    (a class spanning both sides connects through the hamming-0
    rep-to-rep pair; property-pinned). Every new doc with any
    qualifying partner still carries >= 1 witness edge, so admit/drop
    decisions are unchanged. Like the full generator, collapse mode is
    LEDGERED and EAGER at construction (see ``release_chunk_caches``'s
    one-call-in-flight contract); exact mode stays lazy.
    """
    assert chunks > max_hamming, "need chunks > max_hamming for full recall"
    assert bits % chunks == 0
    if collapse_identical:
        release_chunk_caches()  # ledgered: one collapse call in flight
        new_classes, star = _collapse_classes(new_sigs, sig_col, id_col)
        # the old side folds to one row per distinct signature too — at
        # scale the stored fingerprint table can persist exactly this
        # (sig, min_id) shape, making the collapse free at read time.
        # Derived lazily and NOT through _collapse_classes: it is
        # consumed exactly once (the band-join build side), so a cache
        # would be pure overhead, and its star edges belong to
        # yesterday's pass, not this one.
        old_reps = (
            old_sigs.select(
                F.col(id_col).alias("doc_id"), F.col(sig_col).alias("sig")
            )
            .groupBy("sig")
            .agg(F.min("doc_id").alias("rep"))
        )
        rep_pairs = hamming_banded_pairs_incremental(
            new_classes.select(
                F.col("rep").alias(id_col), F.col("sig").alias(sig_col)
            ),
            old_reps.select(
                F.col("rep").alias(id_col), F.col("sig").alias(sig_col)
            ),
            sig_col=sig_col, id_col=id_col, bits=bits,
            max_hamming=max_hamming, chunks=chunks,
        )
        return star.unionByName(rep_pairs)
    new_ex = _sig_chunks(new_sigs, sig_col, id_col, bits, chunks)
    build = new_ex.unionByName(
        _sig_chunks(old_sigs, sig_col, id_col, bits, chunks)
    )
    a = new_ex.select(
        F.col("doc_id").alias("ida"), F.col("sig").alias("sim_a"),
        "chunk", "cval",
    )
    b = build.select(
        F.col("doc_id").alias("idb"), F.col("sig").alias("sim_b"),
        "chunk", "cval",
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, ["chunk", "cval"])
        .filter(F.col("ida") != F.col("idb"))
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_containment(
    train_docs: DataFrame,
    test_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
) -> DataFrame:
    """Train/test contamination check: per test document, the fraction of its
    word n-gram shingles that appear ANYWHERE in the training corpus — the
    n-gram-overlap decontamination rule LLM training pipelines run before
    evaluation (cf. the 13-gram checks of the GPT-3/PaLM reports).

    Returns (doc_id, n_shingles, n_overlap, containment).

    Built for an asymmetric corpus pair — train is 100 TB, test is an eval
    set: the test shingle set broadcasts, the train scan is a map-side
    broadcast semi-join with NO shuffle of train data (``distinct=False``
    skips the dedup shuffle too — membership needs no dedup), and the only
    shuffled rows are the matched hashes, bounded by the test vocabulary.
    """
    test_sh = shingle_hashes(test_docs, id_col, text_col, shingle_n).cache()
    test_sh.count()  # materialize before fan-out (see minhash_lsh_pairs)
    probe = test_sh.select("h").distinct()
    train_sh = shingle_hashes(
        train_docs, id_col, text_col, shingle_n, distinct=False
    )
    matched = (
        train_sh.select("h")
        .join(F.broadcast(probe), "h", "left_semi")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        test_sh.join(F.broadcast(matched), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_overlap"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_overlap",
            (F.col("n_overlap") / F.col("n_shingles")).alias("containment"),
        )
    )


def keep_first_of_clusters(pairs: DataFrame, docs: DataFrame, id_col: str) -> DataFrame:
    """Resolve near-dup pairs into a keep/drop decision: drop every doc that
    appears as the larger id of a pair with a smaller survivor (greedy,
    union-find-free approximation that is exact for transitive clusters
    keyed by their minimum element)."""
    drops = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return docs.join(drops, id_col, "left_anti")


#: Min-label propagation runs this many rounds before concluding the
#: graph is deep and restarting with the alternating-star algorithm
#: (near-dup clusters converge in 2-3 rounds; anything still moving after
#: 8 is chain-shaped).
_STAR_SWITCH_BUDGET = 8


def connected_components(
    pairs: DataFrame,
    max_iter: int = 25,
    star_switch_budget: int = _STAR_SWITCH_BUDGET,
) -> DataFrame:
    """Exact duplicate CLUSTERS from pairwise matches: (doc_id, component)
    where component is the minimum doc id reachable through the undirected
    pair graph — so one representative per transitively-connected cluster,
    the resolution step production dedup pipelines run after MinHash/LSH
    (a chain a~b, b~c must collapse to ONE keeper even though a~c was
    never scored).

    Two algorithms, chosen from the graph itself; both return the same
    labels, because the reachable minimum is a property of the graph:

    - min-label propagation first: each round every node takes the min
      label among itself and its neighbors — a join + groupBy(min) per
      round, O(component DIAMETER) rounds with a driver ``count()``
      action each. Near-dup clusters are shallow, so it converges in 2-3
      rounds.
    - if the labels still move after ``star_switch_budget`` rounds
      (capped at ``max_iter``), the graph is chain-shaped: the walk is
      abandoned and the result comes from alternating large-star/
      small-star rounds (Kiveris et al., "Connected Components in
      MapReduce and Beyond", SOCC 2014) — O(log n) rounds REGARDLESS of
      diameter, at most ``max_iter`` of them, so a million-node chain
      takes ~20 rounds instead of a million. Callers that KNOW their expected cluster depth pass the
      budget explicitly (e.g. near-dup canonicalization sets a small
      one: a real dup cluster is 2-3 hops).

    The labels are exact whenever either algorithm converges, so a deep
    chain that a plain ``max_iter``-round walk could not finish gets its
    exact labels, not partial ones; a graph that defeats even
    ``max_iter`` star rounds raises ``RuntimeError``.
    """
    budget = min(max_iter, star_switch_budget)
    # Both orientations from ONE scan of `pairs` (explode, not
    # union-of-two-selects): pair production is often the expensive part
    # (LSH band join + exact verify), and a union would evaluate that
    # plan twice inside this cache's materialization job.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"),
                        F.col("doc_b").alias("dst"),
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"),
                        F.col("doc_a").alias("dst"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint()
    )
    converged = False
    for _ in range(budget):
        msgs = edges.join(
            labels.withColumnRenamed("doc_id", "src"), "src"
        ).select(F.col("dst").alias("doc_id"), "component")
        new_labels = (
            labels.unionByName(msgs)
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        # deeper than the walk budget — restart with the O(log n) rung
        return _connected_components_star(pairs, max_iter)
    return labels


def _connected_components_star(
    pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Alternating large-star/small-star min-id connected components
    (Kiveris et al., SOCC 2014). Each round:

    - large-star: every node u connects its LARGER neighbors to
      m = min(N(u) ∪ {u}) — emitted from the smaller endpoint of every
      edge, so the whole edge set is rewritten each round;
    - small-star: with edges canonicalized (u > v), every node connects
      its smaller neighbors AND itself to min(N(u) ∪ {u}).

    The fixed point of the pair is a forest of min-rooted stars (the
    paper's Theorem 1), reached in O(log n) rounds regardless of
    component diameter — the property the plain propagation walk lacks.
    Convergence is detected by an (order-insensitive) count+hash checksum
    of the canonical edge set: one tiny aggregation per round (the hash
    is loop control only — no engine-native hash ever reaches results).
    Returns (doc_id, component) for every node of ``pairs``.
    """
    e0 = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).filter(F.col("u") != F.col("v"))
    # canonical: u > v (each edge points at its smaller endpoint)
    edges = (
        e0.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint()
    )
    prev_sig = None
    converged = False
    for _ in range(max_iter):
        # -- large-star ---------------------------------------------------
        both = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            both.groupBy("u")
            .agg(F.min("v").alias("__mv"))
            .select("u", F.least("__mv", F.col("u")).alias("m"))
        )
        edges = (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star (edges satisfy u > v ≥ m here) --------------------
        m2 = edges.groupBy("u").agg(F.min("v").alias("m"))
        edges = (
            edges.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        sig = edges.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: exact, order-free, and immune to ANSI-mode
            # long overflow when the 64-bit hashes accumulate
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        sig = (sig["n"], sig["h"])
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    if not converged:
        # An unconverged edge set is NOT a star forest: labels would be
        # wrong AND a multi-parent node would duplicate doc_id rows in
        # the read-out below — fail loudly instead. Star rounds are
        # O(log n): 25 covers ~2^25 nodes, so exhaustion means a
        # pathological graph or a too-small explicit budget.
        raise RuntimeError(
            f"connected_components (star rounds) did not converge "
            f"within max_iter={max_iter} rounds; raise max_iter "
            f"(each round is O(log n) progress, so a small increase "
            f"goes far)"
        )
    # at the fixed point edges are (node, component-min) stars; roots and
    # isolated nodes (none from pairs, but kept for safety) label themselves
    # one scan of the (possibly expensive) pair plan, not a union of two
    nodes = (
        pairs.select(
            F.explode(F.array(F.col("doc_a"), F.col("doc_b"))).alias(
                "doc_id"
            )
        )
        .distinct()
    )
    return (
        nodes.join(edges.withColumnRenamed("u", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("v"), F.col("doc_id")).alias("component"),
        )
    )


def repeated_ngram_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
) -> DataFrame:
    """Exact-substring duplication profile per document (the span-level
    dedup signal of Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022 — word-level here, suffix-array
    there): every length-``n`` token window is hashed; a window is
    *duplicated* if its hash occurs more than once in the corpus; per
    document we report how many windows are duplicated and how many
    tokens they cover (union of overlapping [pos, pos+n) intervals).

    Returns (doc_id, n_tokens, dup_ngrams, covered_tokens) — one row per
    input document, zeros where nothing repeats or the text is shorter
    than ``n`` tokens. Downstream curation drops or trims documents whose
    coverage fraction exceeds a budget.

    Scale shape: the token-window explode emits one 8-byte portable hash
    per corpus token (never the window text); the duplicate-hash table
    combines map-side to hash cardinality; the join back is hash-on-hash;
    interval union is ONE window function partitioned by document over
    (pos) — lead() turns overlap accounting into min(n, next-pos). No
    step is quadratic and nothing wider than (doc_id, pos, hash) ever
    shuffles. At 100 TB the dominant cost is the two hash shuffles, both
    on fixed-width keys.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("w")
    )
    sizes = toks.select("doc_id", F.size("w").alias("n_tokens"))
    grams = (
        toks.filter(F.size("w") >= n)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, size(w) - {n}),"
                    f" i -> array_join(slice(w, i + 1, {n}), ' '))"
                )
            ).alias("pos", "g"),
        )
        .select("doc_id", "pos", md5_long(F.col("g")).alias("h"))
    )
    dup_h = (
        grams.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
    )
    dup = grams.join(dup_h.select("h"), "h")
    win = Window.partitionBy("doc_id").orderBy("pos")
    per_doc = (
        dup.withColumn("nxt", F.lead("pos").over(win))
        .withColumn(
            "cover",
            F.when(F.col("nxt").isNull(), F.lit(n)).otherwise(
                F.least(F.lit(n), F.col("nxt") - F.col("pos"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("dup_ngrams"),
            F.sum("cover").alias("covered_tokens"),
        )
    )
    return (
        sizes.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("dup_ngrams", F.lit(0)).alias("dup_ngrams"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
        )
    )


#: Bits packed per bitmap word. 63, not 64: DuckDB (and ANSI engines with
#: checked arithmetic) reject a left shift into the BIGINT sign bit, and a
#: cross-engine-replayable bitmap is the whole point.
BLOOM_WORD_BITS = 63


def _bloom_positions(h, m_bits: int, k_hashes: int):
    """The k Bloom bit positions of a pre-hashed value, as column exprs.

    Universal-hash family over the 60-bit md5 base (``functions/hashing``):
    integer arithmetic end-to-end, so Spark and a SQL oracle compute the
    identical positions.
    """
    return [affine_hash(h, a, b) % m_bits for a, b in hash_params(k_hashes)]


def _with_word_mask(pos_df: DataFrame) -> DataFrame:
    """Append the bitmap (word, mask) layout of position column ``p``.

    The ONE place the bit layout lives: build and probe must agree on it
    exactly or every probe silently misses (the false-negative direction
    the operator rules out), so both derive it here.
    """
    return pos_df.withColumn(
        "word", F.expr(f"p DIV {BLOOM_WORD_BITS}")
    ).withColumn(
        "mask",
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(p % {BLOOM_WORD_BITS} AS INT))"
        ),
    )


def bloom_bitmap(
    hashes: DataFrame, m_bits: int = 1 << 16, k_hashes: int = 4
) -> DataFrame:
    """Build an m_bits-wide Bloom filter over the ``h`` column as a tiny
    (word, bm) bitmap table — at most ceil(m_bits/63) rows REGARDLESS of
    input size, which is what makes it broadcastable by construction at
    100 TB (contrast a broadcast of the vocabulary itself, which grows with
    the data; cf. ADVICE on corpus-sized broadcasts).
    """
    pos = hashes.select(
        F.explode(
            F.array(*_bloom_positions(F.col("h"), m_bits, k_hashes))
        ).alias("p")
    )
    return _with_word_mask(pos).groupBy("word").agg(F.bit_or("mask").alias("bm"))


def bloom_decontaminate(
    train_docs: DataFrame,
    test_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    m_bits: int = 1 << 16,
    k_hashes: int = 4,
    flag_ratio: float = 0.5,
) -> DataFrame:
    """Bloom-filter decontamination: flag training documents whose shingles
    mostly hit a Bloom filter built over the EVAL corpus' shingle set.

    The constant-size companion to ``ngram_containment``: that operator
    broadcasts the eval *vocabulary* (grows with the eval set); this one
    broadcasts an m_bits-wide *bitmap* (fixed size, here 8 KiB), the classic
    trade once eval suites get large — at the price of a bounded
    false-positive rate ((1-e^(-kn/m))^k; size m to the eval vocabulary),
    and false positives only ever OVER-flag (safe direction for
    decontamination). The train side is scanned once; per shingle it pays k
    integer hashes and a broadcast equi-join against the <=1041-row bitmap;
    the only shuffle is the per-doc aggregation.

    Returns (doc_id, n_shingles, n_hits, flagged) for each train doc, where
    a shingle "hits" iff ALL k of its bits are set.
    """
    test_h = (
        shingle_hashes(test_docs, id_col, text_col, shingle_n, distinct=False)
        .select("h")
        .distinct()
    )
    bitmap = bloom_bitmap(test_h, m_bits, k_hashes)
    probe = _with_word_mask(
        shingle_hashes(train_docs, id_col, text_col, shingle_n).select(
            "doc_id",
            "h",
            F.explode(
                F.array(*_bloom_positions(F.col("h"), m_bits, k_hashes))
            ).alias("p"),
        )
    )
    # Bitmap size is bounded by construction (ceil(m_bits/63) rows), so the
    # broadcast hint is legitimate — never corpus-sized.
    per_shingle = (
        probe.join(F.broadcast(bitmap), "word", "left")
        .withColumn(
            "bit_set",
            F.when(
                F.col("bm").isNotNull()
                & (F.col("bm").bitwiseAND(F.col("mask")) == F.col("mask")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .groupBy("doc_id", "h")
        .agg(F.min("bit_set").alias("hit"))
    )
    return (
        per_shingle.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum("hit").alias("n_hits"),
        )
        .withColumn(
            "flagged",
            (F.col("n_hits").cast("double") / F.col("n_shingles"))
            >= F.lit(flag_ratio),
        )
    )


# Chunk-dedup intermediates persisted by `_drop_overrepresented_chunks`.
# The result DataFrame is lazy, so the cache cannot be dropped inside the
# operator; instead each new call releases the PREVIOUS call's cache (at
# most one corpus-sized cache lingers at a time, instead of one per call
# accumulating across a long-lived session), and callers that want
# immediate cleanup after materializing call `release_chunk_caches()`.
_CHUNK_CACHES: list[DataFrame] = []


def release_chunk_caches() -> None:
    """Unpersist intermediates cached by earlier ledgered dedup calls
    (chunk dedup's chunk arrays, ngram jaccard/containment's shingle
    sets).

    Safe to call at any time: unpersisting an un-materialized plan only
    means it recomputes, never a wrong result.

    THE LEDGER CONTRACT — one ledgered call in flight: every ledgered
    operator calls this at entry, so at most one call's caches are ever
    live (a long-lived ingest loop cannot pin one cache set per
    iteration). The flip side: composing two ledgered operators before
    materializing the first releases the first's caches while its result
    is still lazy — correct, but the shingle/signature work recomputes.
    Each ledgered operator's docstring carries the same note."""
    while _CHUNK_CACHES:
        _CHUNK_CACHES.pop().unpersist(False)


def _drop_overrepresented_chunks(
    chunked: DataFrame, id_col: str, max_count: int
) -> DataFrame:
    """Shared tail of both chunk-dedup operators (fixed-width and CDC):
    count chunk hashes corpus-wide, mark chunks occurring more than
    ``max_count`` times, and rebuild each document from the survivors.
    `chunked` is (id_col, __chunks array<string>); returns
    (id_col, n_chunks, n_removed, rebuilt_text). Shuffle ledger: the
    occurrence count aggregates 16-byte hashes (shuffle 1); drop
    decisions come back as (doc, chunk_idx) pairs (shuffles 2-3); the
    rebuild is a map-side filter over the doc's own chunk array.

    ``chunked`` is consumed three times (the units explode feeds both the
    occurrence count and the drop join, and the final rebuild joins it
    again); the chunking map is the expensive interpreted-HOF stage, so it
    is persisted (memory-and-disk — executor-local, spills, never
    driver-sized) for the lifetime of the plan instead of recomputed per
    consumer. Round 4 shipped without this persist and the CDC variant
    recomputed its per-word hashing 3x, costing a third of the whole
    headline bench."""
    from pyspark import StorageLevel

    release_chunk_caches()
    chunked = chunked.persist(StorageLevel.MEMORY_AND_DISK)
    _CHUNK_CACHES.append(chunked)
    units = chunked.select(
        id_col, F.posexplode("__chunks").alias("__cidx", "__chunk")
    ).select(id_col, "__cidx", md5_long("__chunk").alias("__h"))
    over = (
        units.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > max_count)
    )
    drops = (
        units.join(over.select("__h"), "__h")
        .groupBy(id_col)
        .agg(F.collect_set("__cidx").alias("__drop"))
    )
    return (
        chunked.join(drops, id_col, "left")
        .select(
            id_col,
            F.size("__chunks").alias("n_chunks"),
            F.coalesce(F.size("__drop"), F.lit(0)).alias("n_removed"),
            F.array_join(
                F.filter(
                    "__chunks",
                    lambda c, i: ~F.coalesce(
                        F.array_contains("__drop", i), F.lit(False)
                    ),
                ),
                " ",
            ).alias("rebuilt_text"),
        )
    )


def remove_repeated_chunks(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 8,
    max_count: int = 1,
) -> DataFrame:
    """C4/Dolma-style boilerplate stripping: drop every fixed-width word
    chunk that repeats corpus-wide, and rebuild each document from its
    surviving chunks.

    C4 removes any three-sentence span occurring more than once in the
    corpus; Dolma strips repeated paragraphs the same way. Here the unit
    is a non-overlapping ``chunk_words``-word window (the corpus has no
    sentence/paragraph markers) and any chunk whose corpus-wide occurrence
    count exceeds ``max_count`` is removed from EVERY document containing
    it.

    100 TB shape — document text never shuffles:
    - Chunking is a pure map (``split`` + ``sequence``/``slice`` lambdas in
      codegen), no explode-then-groupBy re-assembly.
    - The occurrence count aggregates 16-byte chunk hashes only
      (shuffle 1), the Bayardo-style narrow projection every dedup
      operator here uses.
    - Drop decisions come back as (doc_id, chunk_idx) pairs (shuffle 2 on
      the hash equi-join, shuffle 3 collecting the per-doc drop set) —
      id+int rows, corpus-bounded but narrow.
    - The rebuild is a map-side ``filter`` lambda over the doc's own chunk
      array joined with its drop set; no broadcast hints, AQE picks the
      strategy.

    Returns (id_col, n_chunks, n_removed, rebuilt_text).

    Ledgered caches (see ``release_chunk_caches``): entering any other
    ledgered dedup operator releases THIS call's caches — results stay
    correct (unpersisted plans recompute), but the cached shingle /
    signature work is silently re-paid. Materialize this result before
    the next ledgered call.
    """
    chunked = _fixed_chunks(docs, id_col, text_col, chunk_words)
    return _drop_overrepresented_chunks(chunked, id_col, max_count)


def remove_repeated_chunks_within_doc(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    chunk_words: int = 4,
) -> DataFrame:
    """Within-document repeated-chunk removal (self-dedup): drop every
    fixed-width word chunk that already occurred EARLIER in the same
    document, keeping the first occurrence — Dolma's paragraph-level
    self-dedup / the intra-doc half of C4's repetition cleanup, at word-
    chunk granularity (the corpus has no paragraph markers).

    100 TB shape — this is the cheapest dedup rung there is: a PURE MAP.
    The chunk array, the first-occurrence test (``array_position`` inside
    a ``filter`` HOF — O(chunks²) per document against its own bounded
    chunk list, never against the corpus), and the rebuild all happen
    row-local. Zero shuffles, zero joins, zero aggregations; scan-speed
    at any corpus size, and the natural first stage before the corpus-
    wide variants (``remove_repeated_chunks`` / ``_cdc``) pay their
    hash-shuffle on already-slimmed text.

    Returns (id_col, n_chunks, n_removed, rebuilt_text).
    """
    # Stage chunks -> kept through separate projections: array HOFs run
    # interpreted (no common-subexpression elimination), so inlined,
    # ``kept`` (the O(chunks²) first-occurrence filter) re-evaluates per
    # referencing column. Each stage evaluates once per row.
    chunked = _fixed_chunks(docs, id_col, text_col, chunk_words)
    # keep chunk i iff its FIRST occurrence in this document is i itself
    # (array_position is 1-based; filter's index is 0-based)
    kept = F.expr(
        "filter(__chunks, (c, i) -> array_position(__chunks, c) = i + 1)"
    )
    return chunked.select(
        id_col, "__chunks", kept.alias("__kept")
    ).select(
        id_col,
        F.size("__chunks").alias("n_chunks"),
        (F.size("__chunks") - F.size("__kept")).alias("n_removed"),
        F.array_join("__kept", " ").alias("rebuilt_text"),
    )


def _fixed_chunks(
    docs: DataFrame, id_col: str, text_col: str, chunk_words: int
) -> DataFrame:
    """Fixed-width chunking: each document's words in non-overlapping
    ``chunk_words``-word windows, empty chunks dropped. Pure map. Returns
    (id_col, __chunks array<string>)."""
    # Stage the split through its own projection: inlined, the transform
    # lambda re-evaluates ``split(text)`` once PER CHUNK ELEMENT (array
    # HOFs run interpreted, no common-subexpression elimination) — a
    # 20-chunk document split its text 20 times. Same expressions, same
    # results; CollapseProject keeps the stage (split is non-cheap).
    ws = F.col("__rrc_ws")
    return docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__rrc_ws")
    ).select(
        F.col(id_col),
        F.filter(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        (F.size(ws) - 1) / F.lit(chunk_words),
                        F.lit(0),
                    ).cast("int"),
                ),
                lambda i: F.array_join(
                    F.slice(ws, i * chunk_words + 1, chunk_words),
                    " ",
                ),
            ),
            lambda c: c != "",
        ).alias("__chunks"),
    )


def cdc_chunks(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    boundary_mod: int = 4,
    boundary_hash: str = "xxhash64",
) -> DataFrame:
    """Content-defined chunking: a chunk boundary falls AFTER any word
    whose hash ≡ 0 (mod ``boundary_mod``) — the gear/Rabin idea
    of rsync/LBFS/FastCDC applied at word granularity. Boundaries depend
    only on local content, so inserting or deleting a word perturbs ONLY
    the chunk containing the edit; every later chunk is byte-identical
    (fixed-width windows shift globally — the failure mode
    ``remove_repeated_chunks`` accepts for its zero-shuffle chunking).
    Mean chunk length ≈ ``boundary_mod`` words.

    ``boundary_hash`` picks the per-word boundary test. Array HOF lambdas
    run on Catalyst's interpreted path (no whole-stage codegen), so the
    per-word expression cost is the whole game here:

    - ``"xxhash64"`` (default): Spark's native 64-bit hash — the cheapest
      per-word eval, the production choice. Engine-specific bit pattern
      (DuckDB cannot replay it).
    - ``"md5"``: portable across engines — a 100 TB chunking resumed on a
      different engine/version reproduces identical boundaries. ONE hex
      digit of the digest is converted (supports ``boundary_mod`` ≤ 16);
      round 4 converted fifteen digits per word through ``conv(hex,16,10)``
      and that conversion alone was ~70% of the operator's runtime.

    Pure map: the chunk array is built with array HOFs — document text
    does not shuffle here. Chunks that are empty strings (a trailing
    boundary, or a lone empty word from doubled spacing) are dropped,
    mirroring the SQL-window restatement exactly. Returns
    (id_col, __chunks array<string>).
    """
    ws = F.col("__cdc_ws")
    if boundary_hash == "xxhash64":
        def _is_boundary(i):
            return F.pmod(F.xxhash64(F.element_at(ws, i)),
                          F.lit(boundary_mod)) == 0
    elif boundary_hash == "md5":
        if boundary_mod > 16:
            raise ValueError(
                "md5 boundary uses one hex digit: boundary_mod must be <= 16"
            )

        def _is_boundary(i):
            # Last hex digit of the digest as a 4-bit int; DuckDB replays
            # it as CAST('0x' || substr(md5(w), 32, 1) AS BIGINT).
            return (
                F.conv(F.substring(F.md5(F.element_at(ws, i)), 32, 1), 16, 10)
                .cast("int") % boundary_mod == 0
            )
    else:
        raise ValueError(f"unknown boundary_hash {boundary_hash!r} "
                         "(expected 'xxhash64' or 'md5')")
    # Stage the word array and the boundary positions through their own
    # projections: ``bpos`` (the per-word hash filter — the expensive
    # interpreted-HOF expression) is referenced by BOTH ``starts`` and
    # ``ends``, and ``ws`` several times more. Array HOFs fall back to
    # interpreted evaluation where common-subexpression elimination does
    # not apply, so inlined they evaluate once per reference — the
    # per-word hashing ran twice per row. CollapseProject keeps the
    # stages separate (the staged expressions are non-cheap), so each
    # now evaluates exactly once. Same expressions, same results.
    bpos = F.filter(F.sequence(F.lit(1), F.size(ws)), _is_boundary)
    bp = F.col("__cdc_bp")
    starts = F.concat(F.array(F.lit(1)), F.transform(bp, lambda p: p + 1))
    ends = F.concat(bp, F.array(F.size(ws)))
    chunks = F.filter(
        F.zip_with(
            starts,
            ends,
            lambda s, e: F.array_join(F.slice(ws, s, e - s + 1), " "),
        ),
        lambda c: c != "",
    )
    return (
        docs.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("__cdc_ws")
        )
        .select(F.col(id_col), ws, bpos.alias("__cdc_bp"))
        .select(F.col(id_col), chunks.alias("__chunks"))
    )


def remove_repeated_chunks_cdc(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    boundary_mod: int = 4,
    max_count: int = 1,
    boundary_hash: str = "xxhash64",
) -> DataFrame:
    """``remove_repeated_chunks`` with content-defined instead of
    fixed-width chunks: any CDC chunk occurring more than ``max_count``
    times corpus-wide is dropped from every document, and documents are
    rebuilt from the survivors. Because boundaries are content-local,
    boilerplate repeated at DIFFERENT word offsets across documents
    still chunks identically and is caught — the case fixed windows
    structurally miss. Same shuffle ledger as the fixed variant: hashes
    aggregate (shuffle 1), drop decisions come back as (doc, chunk_idx)
    pairs (shuffles 2-3); text stays map-side.

    Returns (id_col, n_chunks, n_removed, rebuilt_text).

    Ledgered caches (see ``release_chunk_caches``): entering any other
    ledgered dedup operator releases THIS call's caches — results stay
    correct (unpersisted plans recompute), but the cached shingle /
    signature work is silently re-paid. Materialize this result before
    the next ledgered call.
    """
    chunked = cdc_chunks(docs, id_col, text_col, boundary_mod,
                         boundary_hash=boundary_hash)
    return _drop_overrepresented_chunks(chunked, id_col, max_count)


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_df: int = 20,
    threshold: float = 0.6,
) -> DataFrame:
    """Asymmetric near-duplication: DIRECTED (contained, container) pairs
    where containment(A in B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ threshold —
    the relation Jaccard misses by construction: a short document quoted
    wholesale inside a much longer one has low Jaccard (the union is
    dominated by the container) but containment ≈ 1. This is the
    "is-a-subset" signal used to drop quote-expansions, boilerplate
    wrappers, and re-posts with appended commentary.

    Returns (contained, container, containment, n_contained,
    n_container); both directions of every candidate pair are scored, so
    mutual near-equality shows up as two rows.

    Scale shape — identical to ``ngram_jaccard_pairs`` up to the verify
    arithmetic: shingles are 60-bit hashes (the shuffle never carries
    text), candidates come from an inverted-index equi-join capped at
    document frequency ≤ ``max_df`` (bounding posting-list blow-up on
    common shingles; cf. Bayardo et al., WWW'07), and only candidates pay
    the exact intersection count. The directed emit is a map-side union
    of two projections of the SAME verified pair set — no second join.

    Ledgered caches (see ``release_chunk_caches``): entering any other
    ledgered dedup operator releases THIS call's caches — results stay
    correct (unpersisted plans recompute), but the cached shingle /
    signature work is silently re-paid. Materialize this result before
    the next ledgered call.
    """
    # Ledgered cache — same leak class the chunk-dedup persist had
    # (round-7 advisor): release the previous ledgered intermediate, then
    # register this call's shingle cache so release_chunk_caches() (or the
    # next ledgered call) can drop it.
    release_chunk_caches()
    sh = shingle_hashes(docs, id_col, text_col, shingle_n).cache()
    _CHUNK_CACHES.append(sh)
    sh.count()  # populate before fan-out (see minhash_lsh_pairs)
    cand = _inverted_index_pairs(sh, max_df)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "h")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    scored = inter.join(na, "doc_a").join(nb, "doc_b")
    fwd = scored.select(
        F.col("doc_a").alias("contained"),
        F.col("doc_b").alias("container"),
        (F.col("inter") / F.col("na")).alias("containment"),
        F.col("na").alias("n_contained"),
        F.col("nb").alias("n_container"),
    )
    rev = scored.select(
        F.col("doc_b").alias("contained"),
        F.col("doc_a").alias("container"),
        (F.col("inter") / F.col("nb")).alias("containment"),
        F.col("nb").alias("n_contained"),
        F.col("na").alias("n_container"),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold)


#: prefix_filter="auto" engages the Bayardo index reduction above this
#: estimated naive-candidate volume (Σ df² over capped terms)
_PREFIX_FILTER_AUTO = 20_000_000


def tfidf_cosine_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df: int | None = None,
    threshold: float = 0.3,
    prefix_filter: bool | str = "auto",
) -> DataFrame:
    """WEIGHTED all-pairs similarity: (doc_a, doc_b, cosine, n_shared)
    pairs whose tf-idf cosine ≥ threshold — the APSS problem (Bayardo et
    al., "Scaling Up All Pairs Similarity Search", WWW'07). Jaccard and
    containment treat every shingle equally; tf-idf cosine weights terms
    by rarity, so two documents sharing distinctive vocabulary match even
    when their boilerplate differs — the template-resistant near-dup
    signal, and the classic sparse-vector sibling of the embedding-cosine
    operators in ``operators/similarity.py``.

    Scale shape — the corpus text never shuffles:
    - term frequencies combine map-side per (doc, term-hash); terms move
      as 60-bit md5 hashes (collisions merge two terms corpus-wide —
      deterministic, both engines hash identically);
    - document frequency / idf aggregate the tf table down to vocabulary
      size and SHUFFLE-join back (never broadcast: raw web-scale
      vocabularies are driver-OOM-sized);
    - candidates come from the df-capped inverted index (posting lists of
      common terms are dropped — they contribute little idf weight and
      quadratic candidates; the Bayardo bound). ``max_df=None`` (default)
      scales the cap WITH the corpus — max(50, N // 10) — so the same
      call finds pairs at any corpus size (a fixed cap that admits pairs
      at one scale filters everything at 10x: a term's absolute df grows
      linearly with N while its distinctiveness is relative);
    - ``prefix_filter`` (Bayardo/PPJoin prefix filtering — EXACT, the
      output is identical): each doc indexes only the terms
      whose suffix potential ``Σ u_d(t') · maxu(t')`` (terms at or after
      t in the global (maxu DESC, t ASC) order, u = tf-idf weight over
      the doc's FULL norm) still reaches ``threshold``. For any pair
      with cosine ≥ threshold, the shared term that is smallest in that
      global order has suffix potential ≥ the pair's cosine in BOTH
      docs, so both index it and the prefix-prefix join finds the pair
      (the WWW'07 argument). Common low-idf terms have tiny maxu, sort
      last, and fall out of every prefix — which is what keeps candidate
      volume survivable when a corpus shares a lot of vocabulary (the
      df cap alone admits 500-doc posting lists at N=5000: an sf1
      stress without the prefix filter generated hundreds of millions
      of candidate rows and ran the executors into GC death).
      ``"auto"`` (default) engages it only when the naive candidate
      estimate Σ df² over capped terms — one tiny aggregate on the
      already-built vocabulary table — exceeds ``_PREFIX_FILTER_AUTO``
      (20M): small corpora keep the cheap one-join path, big ones get
      the armor, and the adaptive gate itself never scans data (the
      weighted-quantile engagement rule, applied here);
    - only candidates pay the exact dot product, summed per pair as
      DECIMAL over products of identical doubles (order-free).

    Determinism: idf = ln((1+N)/(1+df)) is decimal-squeezed (Java vs
    libm log differ by 1 ulp); norms sum w² as DECIMAL then take one
    IEEE-correctly-rounded sqrt; cosine divides identical doubles. The
    DuckDB oracle replays every step bit-for-bit.

    Ledgered caches (see ``release_chunk_caches``): entering any other
    ledgered dedup operator releases THIS call's caches — results stay
    correct (unpersisted plans recompute), but the cached shingle /
    signature work is silently re-paid. Materialize this result before
    the next ledgered call.
    """
    n_docs = docs.select(id_col).distinct().count()
    if max_df is None:
        max_df = max(50, n_docs // 10)
    w = (
        _spread(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("wd"),
        )
        .filter(F.col("wd") != "")
        .select("doc_id", md5_long("wd").alias("t"))
    )
    tf = w.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    from paimon_presto_spark.functions.numeric import decimal_squeeze

    weighted = tf.join(df_t, "t").select(
        "doc_id",
        "t",
        "df",
        (
            F.col("tf").cast("double")
            * decimal_squeeze(
                F.log(
                    (F.lit(1.0) + F.lit(float(n_docs)))
                    / (F.lit(1.0) + F.col("df").cast("double"))
                )
            )
        ).alias("wt"),
    )
    # Ledgered cache: weighted feeds THREE consumers (norms + both sides
    # of the candidate self-join) — uncached, each re-runs the full
    # tokenize/hash/tf/idf lineage over the corpus (same fan-out class as
    # the shingle caches above).
    release_chunk_caches()
    weighted = weighted.cache()
    _CHUNK_CACHES.append(weighted)
    weighted.count()  # populate before fan-out
    norms = weighted.groupBy("doc_id").agg(
        F.sqrt(
            F.sum((F.col("wt") * F.col("wt")).cast("decimal(28,10)")).cast(
                "double"
            )
        ).alias("nrm")
    )
    rare = weighted.filter(F.col("df") <= max_df)
    a = rare.select(F.col("doc_id").alias("doc_a"), "t", F.col("wt").alias("wa"))
    b = rare.select(F.col("doc_id").alias("doc_b"), "t", F.col("wt").alias("wb"))
    if prefix_filter == "auto":
        # estimated naive candidate volume = Σ df² over the capped
        # vocabulary. Computed as Σ df over the CAPPED ROWS of the
        # cached `weighted` table (term t contributes df rows, each
        # carrying df, so the row-sum IS Σ df²) — one aggregate over an
        # in-memory cache, never a lineage recompute: the previous
        # df_t-based estimate re-ran the full tokenize/tf pipeline and
        # cost ~1 s at sf0.1, more than the decision could save.
        est = rare.agg(F.sum(F.col("df").cast("long"))).collect()[0][0]
        prefix_filter = bool(est is not None and est > _PREFIX_FILTER_AUTO)
    if prefix_filter:
        # normalized weights u = wt / full-norm, term ceiling maxu(t),
        # per-doc suffix potentials along the global (maxu DESC, t ASC)
        # order — a doc indexes t only while pot >= threshold. Exact:
        # every qualifying pair's smallest-ordered shared term is
        # indexed by both members (suffix potential >= the pair's
        # cosine there), so the prefix-prefix join misses nothing; the
        # exact dot below then discards any over-admitted candidate.
        unit = rare.join(norms, "doc_id").select(
            "doc_id", "t", (F.col("wt") / F.col("nrm")).alias("u")
        )
        maxu = unit.groupBy("t").agg(F.max("u").alias("mxu"))
        wsuf = (
            Window.partitionBy("doc_id")
            .orderBy(F.asc("mxu"), F.desc("t"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # the admission test carries a 1e-9 slack: `pot` is a plain
        # double running sum while the FINAL pair predicate divides a
        # DECIMAL-summed dot by exact norms, so at a razor-edge
        # threshold (pot == cosine == threshold in real arithmetic, e.g.
        # exact duplicates at threshold=1.0) double rounding could
        # under-shoot `pot` and prune a pair the naive path emits.
        # Over-admission is always safe — candidates are a superset and
        # the exact dot below decides membership.
        indexed = (
            unit.join(maxu, "t")
            .withColumn("pot", F.sum(F.col("u") * F.col("mxu")).over(wsuf))
            .filter(F.col("pot") >= threshold - 1e-9)
            .select("doc_id", "t")
        )
        # Ledgered cache (same rule as `weighted` above): `indexed`
        # feeds BOTH sides of the candidate self-join — uncached, the
        # norms join + maxu aggregate + per-doc suffix window would run
        # twice per call.
        indexed = indexed.cache()
        _CHUNK_CACHES.append(indexed)
        indexed.count()  # populate before fan-out (same rule as `weighted`)
        cand = (
            indexed.select(F.col("doc_id").alias("doc_a"), "t")
            .join(indexed.select(F.col("doc_id").alias("doc_b"), "t"), "t")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        # exact dot over ALL shared capped terms of each candidate pair
        dots = (
            cand.join(a, "doc_a")
            .join(b, ["doc_b", "t"])
            .groupBy("doc_a", "doc_b")
            .agg(
                F.sum((F.col("wa") * F.col("wb")).cast("decimal(28,10)"))
                .cast("double")
                .alias("dot"),
                F.count(F.lit(1)).alias("n_shared"),
            )
        )
    else:
        dots = (
            a.join(b, "t")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(
                F.sum((F.col("wa") * F.col("wb")).cast("decimal(28,10)"))
                .cast("double")
                .alias("dot"),
                F.count(F.lit(1)).alias("n_shared"),
            )
        )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cosine"),
            "n_shared",
        )
        .filter(F.col("cosine") >= threshold)
    )


def minhash_recall_audit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    k: int = 16,
    bands: int = 4,
    min_jaccard: float = 0.3,
) -> DataFrame:
    """MEASURED MinHash-LSH recall — the S-curve as data, not theory:
    ground-truth near-dup pairs (exact Jaccard ≥ ``min_jaccard`` via the
    uncapped inverted index — any pair with Jaccard > 0 shares a shingle,
    so the index is exhaustive above 0) are bucketed by Jaccard decile
    and, per bucket, checked against the banded-LSH candidate set.
    Returns (jband, n_truth, n_found, recall) — the audit a pipeline runs
    before trusting a (k, bands) setting at a new threshold, the dedup
    twin of ``knn_lsh_recall``'s ANN recall gauge. With k=16, bands=4 the
    theoretical 50%-recall point sits near j ≈ 0.71; this measures where
    it actually lands on YOUR corpus.

    The deliberate-precision rung (exact ground truth is quadratic in
    per-shingle document frequency): run it on a sample at 100 TB, like
    the Jaccard verifier it shares machinery with — not the throughput
    path.

    Ledgered caches (see ``release_chunk_caches``): entering any other
    ledgered dedup operator releases THIS call's caches — results stay
    correct (unpersisted plans recompute), but the cached shingle /
    signature work is silently re-paid. Materialize this result before
    the next ledgered call.
    """
    # same contract the production banding enforces: a k that does not
    # split evenly would silently audit a TRUNCATED signature that
    # minhash_lsh_pairs itself refuses to run
    assert k % bands == 0, "k must divide evenly into bands"
    release_chunk_caches()
    sh = shingle_hashes(docs, id_col, text_col, shingle_n).cache()
    _CHUNK_CACHES.append(sh)
    sh.count()  # populate before fan-out (see minhash_lsh_pairs)
    truth_cand = _inverted_index_pairs(sh, max_df=None)
    truth = jaccard_verify(truth_cand, sh).filter(
        F.col("jaccard") >= min_jaccard
    )
    mh = minhash_signature(sh, k).cache()
    _CHUNK_CACHES.append(mh)
    mh.count()  # both band-join sides consume it (see minhash_lsh_pairs)
    lsh_cand = band_candidates(mh, bands, k // bands).withColumn(
        "__hit", F.lit(1)
    )
    # decile buckets: floor(j*10) of identical doubles — engine-portable
    marked = truth.join(lsh_cand, ["doc_a", "doc_b"], "left").withColumn(
        "jband",
        F.least(F.lit(9), F.floor(F.col("jaccard") * 10)).cast("int"),
    )
    return (
        marked.groupBy("jband")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_found"),
        )
        .withColumn(
            "recall",
            F.round(
                F.col("n_found").cast("double") / F.col("n_truth").cast("double"),
                6,
            ),
        )
    )
