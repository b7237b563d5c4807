"""LLM-training-data pipeline operators over ``documents`` / ``embeddings``.

These go beyond reference parity (SURVEY §7 M4): deduplication (exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine), similarity search,
text analysis, and document fingerprinting — each an oracle-checked
``queries()`` entry. All hashing uses the portable md5-derived family from
``functions/hashing.py`` so Spark and the DuckDB oracle compute identical
signatures (integer arithmetic end-to-end).

Scale design (the whole point at 100 TB):
- Shingling/minhashing is a single explode → groupBy pass: shuffle keyed on
  shingle hash, combiner-friendly MIN aggregation.
- LSH banding turns all-pairs O(n²) into an equi-join on (band, key) —
  Spark sort-merge/broadcast handles it; only candidate pairs are verified.
- Brute-force embedding scans exist as correctness baselines; the
  LSH-bucketed variant in ``operators/similarity.py`` is the scale path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from paimon_presto_spark.functions.hashing import (
    BASE_MOD,
    HASH_PRIME,
    hash_params,
    md5_long,
)
from paimon_presto_spark.operators.dedup import (
    jaccard_verify,
    minhash_lsh_pairs,
    minhash_signature,
    ngram_containment,
    ngram_jaccard_pairs,
    shingle_set,
    simhash_signatures,
)
from paimon_presto_spark.functions.vectors import cosine_similarity
from paimon_presto_spark.queries import register
from paimon_presto_spark.queries.relational import davg, dsum, o_davg, o_dsum
from paimon_presto_spark.sources.testdata import load_table

MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = MINHASH_K // LSH_BANDS
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 32
COSINE_DEDUP_THRESHOLD = 0.45


# --- shared SQL fragments for the DuckDB oracles ---------------------------


def _o_shingle_sql(n: int) -> str:
    """DuckDB CTEs producing (doc_id, s) distinct word n-gram shingles."""
    gram = " || ' ' || ".join(f"tk[i + {j}]" for j in range(n))
    return f"""
        toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM documents),
        sh AS (
            SELECT DISTINCT doc_id,
                   UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tk) - {n - 2}, 1)),
                                         i -> {gram})) AS s
            FROM toks
        )
    """


_O_HASH = "CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT)"


def _o_minhash_aggs() -> str:
    return ",\n".join(
        f"MIN(({a} * (h % {BASE_MOD}) + {b}) % {HASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(hash_params(MINHASH_K))
    )


def _o_bands_union(src: str = "mh") -> str:
    """LSH band rows from a minhash CTE — (doc_id, band, bkey) via one
    SELECT per band. One definition for every oracle that bands; the
    band-key layout (LSH_ROWS signature chunks concatenated) must match
    ``operators/dedup.minhash_lsh_pairs`` exactly."""
    return "\nUNION ALL\n".join(
        f"SELECT doc_id, {j} AS band, CONCAT_WS(',', "
        + ", ".join(f"mh{j * LSH_ROWS + r}" for r in range(LSH_ROWS))
        + f") AS bkey FROM {src}"
        for j in range(LSH_BANDS)
    )




_O_JACCARD_TAIL = """
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
            GROUP BY c.doc_a, c.doc_b
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
        SELECT i.doc_a, i.doc_b,
               ROUND(i.inter / (sa.n + sb.n - i.inter), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.inter / (sa.n + sb.n - i.inter) >= {thr}
        ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
        SELECT MD5(text) AS text_hash,
               MIN(doc_id) AS keeper_doc_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY MD5(text)
        ORDER BY keeper_doc_id
    """,
    tags=("dedup", "exact"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy keeping the lowest doc_id per text.

    One shuffle keyed on the 128-bit content hash; at 100 TB group keys are
    hashes (not full texts) so shuffle payload stays small — select the
    keeper ids, then semi-join to materialize kept documents.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .orderBy("keeper_doc_id")
    )


@register(
    "dedup_minhash_lsh",
    oracle=(
        "WITH "
        + _o_shingle_sql(3)
        + f""",
        hashed AS (SELECT doc_id, {_O_HASH} AS h FROM sh),
        mh AS (
            SELECT doc_id,
                   {_o_minhash_aggs()}
            FROM hashed GROUP BY doc_id
        ),
        bands AS (
            """
        + _o_bands_union()
        + """
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                        AND a.doc_id < b.doc_id
        ),
        """
        + _O_JACCARD_TAIL.format(thr=JACCARD_THRESHOLD)
    ),
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: shingle → MinHash(16) → LSH(4 bands × 4 rows) →
    exact-Jaccard verification of candidates (threshold 0.5).

    The LSH band join replaces the O(n²) all-pairs comparison with an
    equi-join on (band, signature-chunk) — the standard web-scale dedup
    pipeline (shingle/minhash per Broder; banding per MMDS ch.3).
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        minhash_lsh_pairs(
            docs, shingle_n=3, k=MINHASH_K, bands=LSH_BANDS,
            threshold=JACCARD_THRESHOLD,
        )
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


#: doc_id split for the incremental-dedup entry: ids below are the "old"
#: (already-deduped) corpus, the rest are the new increment.
INCREMENTAL_SPLIT = 300


def _oracle_minhash_incremental(split: int) -> str:
    """Full-corpus LSH pairs restricted to pairs touching >= 1 new doc —
    the equivalence the incremental operator promises (signatures are
    per-document, so incremental == full ∩ touches-new)."""
    bands_union = _o_bands_union()
    return (
        "WITH "
        + _o_shingle_sql(3)
        + f""",
        hashed AS (SELECT doc_id, {_O_HASH} AS h FROM sh),
        mh AS (SELECT doc_id, {_o_minhash_aggs()} FROM hashed GROUP BY doc_id),
        bands AS ({bands_union}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                        AND a.doc_id < b.doc_id
        ),
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
            GROUP BY c.doc_a, c.doc_b
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id)
        SELECT i.doc_a, i.doc_b,
               ROUND(i.inter / (sa.n + sb.n - i.inter), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE i.inter / (sa.n + sb.n - i.inter) >= {JACCARD_THRESHOLD}
          AND (i.doc_a >= {split} OR i.doc_b >= {split})
        ORDER BY doc_a, doc_b
    """
    )


@register(
    "dedup_minhash_incremental",
    oracle=_oracle_minhash_incremental(INCREMENTAL_SPLIT),
    tags=("dedup", "minhash", "lsh", "incremental"),
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection: the documents table split into an
    already-deduped "old" corpus (doc_id < 300) and a new increment; only
    pairs touching the increment are produced, with the old corpus never
    paired against itself and re-shingled only for candidate members
    (``operators/dedup.py:minhash_lsh_pairs_incremental``). The oracle is
    the FULL-corpus LSH pair set filtered to touches-new — certifying the
    operator's equivalence claim, not just its plan shape."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") < INCREMENTAL_SPLIT)
    new = docs.filter(F.col("doc_id") >= INCREMENTAL_SPLIT)
    from paimon_presto_spark.operators.dedup import minhash_lsh_pairs_incremental

    return (
        minhash_lsh_pairs_incremental(
            old, new, shingle_n=3, k=MINHASH_K, bands=LSH_BANDS,
            threshold=JACCARD_THRESHOLD,
        )
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


def _o_simhash_bits() -> tuple[str, str]:
    """(per-token bit sums, simhash reconstruction) SQL fragments."""
    sums = ",\n".join(
        f"SUM((((h >> {j}) & 1) * 2 - 1)) AS s{j}" for j in range(SIMHASH_BITS)
    )
    sim = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN 1 ELSE 0 END) * {1 << j}" for j in range(SIMHASH_BITS)
    )
    return sums, sim


_O_SIMHASH_SUMS, _O_SIMHASH_VALUE = _o_simhash_bits()


@register(
    "dedup_simhash",
    oracle=f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS s
            FROM documents
        ),
        hashed AS (SELECT doc_id, {_O_HASH} AS h FROM toks),
        sums AS (
            SELECT doc_id, {_O_SIMHASH_SUMS}
            FROM hashed GROUP BY doc_id
        ),
        sigs AS (SELECT doc_id, {_O_SIMHASH_VALUE} AS simhash FROM sums)
        SELECT simhash, COUNT(*) AS n_docs,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM sigs
        GROUP BY simhash
        HAVING COUNT(*) > 1
        ORDER BY simhash
    """,
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 32-bit token-set signatures; colliding signatures
    form duplicate clusters.

    Signature construction is one explode + groupBy (bit-sum aggregation) —
    a single shuffle keyed on doc_id, constant state per doc. Clustering on
    the exact signature is itself a groupBy; the Hamming-≤-k pair expansion
    (byte-chunk banding, pigeonhole recall guarantee) lives in
    ``operators/dedup.py:simhash_pairs`` for the scale path.
    """
    docs = load_table(spark, sf_dir, "documents")
    sigs = simhash_signatures(docs, bits=SIMHASH_BITS)
    return (
        sigs.groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("simhash")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=(
        "WITH "
        + _o_shingle_sql(5)
        + """,
        df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
        rare AS (SELECT doc_id, sh.s FROM sh JOIN df ON sh.s = df.s WHERE df.df <= 20),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
        ),
        """
        + _O_JACCARD_TAIL.format(thr=0.3)
    ),
    tags=("dedup", "jaccard", "ngram"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-gram Jaccard near-dup via inverted-index candidate generation.

    Candidates = pairs sharing a *rare* shingle (document frequency ≤ 20 —
    the df cap is what keeps the inverted-index join from exploding on
    common shingles at scale), then exact Jaccard ≥ 0.3 over full sets.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        ngram_jaccard_pairs(docs, shingle_n=5, max_df=20, threshold=0.3)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


_O_PAIRS_CTE = """
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
            GROUP BY c.doc_a, c.doc_b
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (
            SELECT i.doc_a, i.doc_b
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE i.inter / (sa.n + sb.n - i.inter) >= {thr}
        )
"""


@register(
    "dedup_connected_components",
    oracle=(
        "WITH RECURSIVE "
        + _o_shingle_sql(3)
        + f""",
        hashed AS (SELECT doc_id, {_O_HASH} AS h FROM sh),
        mh AS (
            SELECT doc_id,
                   {_o_minhash_aggs()}
            FROM hashed GROUP BY doc_id
        ),
        bands AS (
            """
        + _o_bands_union()
        + """
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                        AND a.doc_id < b.doc_id
        ),
        """
        + _O_PAIRS_CTE.format(thr=JACCARD_THRESHOLD)
        + """,
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(doc_id, label) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
        )
        SELECT doc_id, MIN(label) AS component
        FROM reach GROUP BY doc_id ORDER BY doc_id
    """
    ),
    tags=("dedup", "minhash", "connected-components"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level dedup: MinHash/LSH near-dup PAIRS resolved into
    transitive duplicate CLUSTERS via distributed connected components
    (``operators/dedup.connected_components``) — a chain a~b, b~c
    collapses to one keeper even though a~c was never scored. Component id
    = min doc_id, so keepers are deterministic. The oracle recomputes the
    same pair graph and walks it with a recursive CTE.

    The propagation walk (diameter-bounded) escalates to alternating
    large-star/small-star rounds when a graph turns out chain-shaped —
    the labels are a property of the graph, so the algorithm choice
    cannot change this oracle-gated result.
    """
    docs = load_table(spark, sf_dir, "documents")
    from paimon_presto_spark.operators.dedup import connected_components

    pairs = minhash_lsh_pairs(
        docs, shingle_n=3, k=MINHASH_K, bands=LSH_BANDS,
        threshold=JACCARD_THRESHOLD,
    ).select("doc_a", "doc_b")
    return connected_components(pairs).orderBy("doc_id")


@register(
    "decontaminate_ngram_overlap",
    oracle=(
        "WITH "
        + _o_shingle_sql(5)
        + """,
        train AS (SELECT DISTINCT s FROM sh WHERE doc_id % 2 = 0),
        test AS (SELECT doc_id, s FROM sh WHERE doc_id % 2 = 1)
        SELECT t.doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
               SUM(CASE WHEN tr.s IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                   / COUNT(*) AS containment
        FROM test t LEFT JOIN train tr ON t.s = tr.s
        GROUP BY t.doc_id
        ORDER BY t.doc_id
    """
    ),
    tags=("dedup", "decontamination", "ngram"),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: 5-gram containment of each "eval" doc
    (odd doc_id) in the "training" corpus (even doc_id) —
    ``operators/dedup.py:ngram_containment``. The train side is scanned
    once with a broadcast semi-join probe and never shuffled; only matched
    hashes (bounded by the eval vocabulary) move."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    return ngram_containment(train, test, shingle_n=5).orderBy("doc_id")


@register(
    "eval_contamination",
    oracle=(
        "WITH "
        + _o_shingle_sql(3)
        + """,
        ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 2 = 1),
        corp AS (SELECT doc_id, s FROM sh WHERE doc_id % 2 = 0)
        SELECT c.doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_overlap,
               SUM(CASE WHEN e.s IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                   / COUNT(*) AS containment
        FROM corp c LEFT JOIN ev e ON c.s = e.s
        GROUP BY c.doc_id
        ORDER BY c.doc_id
    """
    ),
    tags=("dedup", "decontamination", "ngram"),
)
def eval_contamination_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mirrored decontamination asymmetry
    (``operators/pipeline.eval_contamination``): the EVAL shingle
    vocabulary broadcasts (eval sets are bounded by construction) and the
    100 TB *corpus* side is scanned once with a map-side broadcast left
    join — the opposite side choice from ``decontaminate_ngram_overlap``,
    whose broadcast is the probe vocabulary. Use whichever side is small.
    """
    from paimon_presto_spark.operators.pipeline import eval_contamination

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    evals = docs.filter(F.col("doc_id") % 2 == 1)
    return eval_contamination(corpus, evals, shingle_n=3).orderBy("doc_id")


def _oracle_bloom_decontaminate(
    shingle_n: int, m_bits: int, k_hashes: int, flag_ratio: float
) -> str:
    """DuckDB twin of ``operators/dedup.bloom_decontaminate``: identical
    universal-hash positions, identical 63-bits-per-word bitmap, identical
    all-k-bits hit rule — integer arithmetic end-to-end, so the bitmap is
    replayed exactly."""
    from paimon_presto_spark.operators.dedup import BLOOM_WORD_BITS as W

    params = ", ".join(f"({a}, {b})" for a, b in hash_params(k_hashes))
    return (
        "WITH "
        + _o_shingle_sql(shingle_n)
        + f""",
        hp(a, b) AS (SELECT * FROM (VALUES {params})),
        test_h AS (SELECT DISTINCT {_O_HASH} AS h FROM sh WHERE doc_id % 2 = 1),
        tpos AS (
            SELECT ((a * (h % {BASE_MOD}) + b) % {HASH_PRIME}) % {m_bits} AS p
            FROM test_h CROSS JOIN hp
        ),
        bitmap AS (
            SELECT p // {W} AS word,
                   bit_or(1::BIGINT << CAST(p % {W} AS INT)) AS bm
            FROM tpos GROUP BY 1
        ),
        train_h AS (
            SELECT DISTINCT doc_id, {_O_HASH} AS h FROM sh WHERE doc_id % 2 = 0
        ),
        ppos AS (
            SELECT doc_id, h,
                   ((a * (h % {BASE_MOD}) + b) % {HASH_PRIME}) % {m_bits} AS p
            FROM train_h CROSS JOIN hp
        ),
        hits AS (
            SELECT doc_id, h,
                   MIN(CASE WHEN bm IS NOT NULL
                             AND (bm & (1::BIGINT << CAST(p % {W} AS INT)))
                                 = (1::BIGINT << CAST(p % {W} AS INT))
                        THEN 1 ELSE 0 END) AS hit
            FROM ppos LEFT JOIN bitmap ON ppos.p // {W} = bitmap.word
            GROUP BY doc_id, h
        )
        SELECT doc_id,
               COUNT(*) AS n_shingles,
               CAST(SUM(hit) AS BIGINT) AS n_hits,
               (CAST(SUM(hit) AS DOUBLE) / COUNT(*)) >= {flag_ratio} AS flagged
        FROM hits GROUP BY doc_id ORDER BY doc_id
    """
    )


BLOOM_M_BITS = 1 << 16
BLOOM_K_HASHES = 4
BLOOM_FLAG_RATIO = 0.5


@register(
    "decontaminate_bloom",
    oracle=_oracle_bloom_decontaminate(
        5, BLOOM_M_BITS, BLOOM_K_HASHES, BLOOM_FLAG_RATIO
    ),
    tags=("dedup", "decontamination", "bloom", "sketch"),
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination: flag training docs (even doc_id) whose
    5-gram shingles mostly hit a Bloom filter of the eval corpus (odd
    doc_id) — ``operators/dedup.py:bloom_decontaminate``.

    The constant-size companion to ``decontaminate_ngram_overlap``: the
    broadcast is an 8 KiB bitmap REGARDLESS of eval-set size (vs a
    vocabulary that grows with it), at the price of a bounded
    false-positive rate that only ever over-flags. The bitmap is replayed
    bit-exactly by the DuckDB oracle (integer universal hashing, 63 bits
    per word)."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    from paimon_presto_spark.operators.dedup import bloom_decontaminate

    return bloom_decontaminate(
        train,
        test,
        shingle_n=5,
        m_bits=BLOOM_M_BITS,
        k_hashes=BLOOM_K_HASHES,
        flag_ratio=BLOOM_FLAG_RATIO,
    ).orderBy("doc_id")


@register(
    "dedup_embedding_cosine",
    oracle=f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(LIST_COSINE_SIMILARITY(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 6) AS cos_sim
        FROM embeddings a
        JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE LIST_COSINE_SIMILARITY(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
              > {COSINE_DEDUP_THRESHOLD}
        ORDER BY vec_a, vec_b
    """,
    tags=("dedup", "embedding", "cosine"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: pairs with cosine > 0.45 (brute-force baseline).

    Correctness baseline for ``operators/similarity.py``'s LSH-bucketed
    variant — at 100 TB you never run all-pairs; random-hyperplane bucketing
    bounds each bucket's pair count.
    """
    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    cos = cosine_similarity(F.col("emb_a"), F.col("emb_b"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") > COSINE_DEDUP_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim"))
        .orderBy("vec_a", "vec_b")
    )


def _oracle_lsh_pairs(n_planes: int, dim: int, threshold: float) -> str:
    """DuckDB twin of ``lsh_cosine_pairs``: same seeded hyperplanes inlined
    as literals, same {0} ∪ {1<<j} multiprobe flips, same exact-cosine
    verify — the *approximate* operator still has an exact oracle because
    the candidate set is deterministic."""
    from paimon_presto_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(x) for x in plane)}]) > 0 THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(planes)
    )
    flips = [0] + [1 << j for j in range(n_planes)]
    return f"""
        WITH bucketed AS (
            SELECT vec_id, embedding, {bucket} AS bucket
            FROM embeddings
        ),
        probed AS (
            SELECT a.vec_id, a.embedding,
                   xor(a.bucket::BIGINT, f.flip::BIGINT) AS bucket
            FROM bucketed a, (SELECT UNNEST({flips}) AS flip) f
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               ROUND(LIST_COSINE_SIMILARITY(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]), 6) AS cos_sim
        FROM probed a
        JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE LIST_COSINE_SIMILARITY(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
              > {threshold}
        ORDER BY vec_a, vec_b
    """


@register(
    "dedup_embedding_lsh",
    oracle=_oracle_lsh_pairs(n_planes=8, dim=64, threshold=COSINE_DEDUP_THRESHOLD),
    tags=("dedup", "embedding", "cosine", "lsh", "ann"),
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, LSH-bucketed (``operators/similarity.py:
    lsh_cosine_pairs``) — the 100 TB-safe plan next to
    ``dedup_embedding_cosine``'s all-pairs baseline: one narrow bucketing
    pass + one bucket equi-join, no BroadcastNestedLoopJoin. Deterministic
    seeded hyperplanes let the DuckDB oracle replay the exact candidate
    set, so this approximate operator is still hash-gated."""
    from paimon_presto_spark.operators.similarity import lsh_cosine_pairs

    e = load_table(spark, sf_dir, "embeddings")
    out = lsh_cosine_pairs(
        e, COSINE_DEDUP_THRESHOLD, n_planes=8, dim=64
    )
    return (
        out.select("vec_a", "vec_b", F.round("cos_sim", 6).alias("cos_sim"))
        .orderBy("vec_a", "vec_b")
    )


SEMDEDUP_CLUSTERS = 8
#: Looser than the pairwise dedup threshold: clustering fences the search to
#: same-cluster rows, so a lower bar still yields a selective (not
#: degenerate) drop set — 62/500 dropped at sf0.01.
SEMDEDUP_THRESHOLD = 0.35


def _oracle_semdedup(k: int, dim: int, threshold: float) -> str:
    """DuckDB twin of ``operators/similarity.semdedup``: the same unit
    centroids (seeded Gaussian, normalized driver-side by the SHARED
    ``unit_centroids``) inlined as literals, the same argmax tie-break
    (sim DESC, cid ASC), the same keep-lowest-(cos_centroid, id) rule."""
    from paimon_presto_spark.operators.similarity import _hyperplanes, unit_centroids

    cents = unit_centroids(list(enumerate(_hyperplanes(dim, k, seed=7))))
    values = ", ".join(
        f"({cid}, [{', '.join(repr(x) for x in v)}]::DOUBLE[])" for cid, v in cents
    )
    return f"""
        WITH cent(cid, uv) AS (SELECT * FROM (VALUES {values})),
        scored AS (
            SELECT e.vec_id, e.embedding, c.cid,
                   list_dot_product(e.embedding::DOUBLE[], c.uv) AS s
            FROM embeddings e CROSS JOIN cent c
        ),
        best AS (
            SELECT vec_id, embedding, cid, s,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, cid ASC) AS rn
            FROM scored
        ),
        assigned AS (
            SELECT vec_id, embedding, cid AS cluster,
                   s / sqrt(list_dot_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[])) AS cos_c
            FROM best WHERE rn = 1
        ),
        dropped AS (
            SELECT DISTINCT a.vec_id
            FROM assigned a JOIN assigned b
              ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
             AND (b.cos_c < a.cos_c
                  OR (b.cos_c = a.cos_c AND b.vec_id < a.vec_id))
            WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                           a.embedding::DOUBLE[]))
                     * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[])))
                  > {threshold}
        )
        SELECT a.vec_id, a.cluster, ROUND(a.cos_c, 6) AS cos_centroid,
               CASE WHEN d.vec_id IS NULL THEN 'kept' ELSE 'dropped' END AS status
        FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
        ORDER BY a.vec_id
    """


@register(
    "dedup_semantic_clusters",
    oracle=_oracle_semdedup(SEMDEDUP_CLUSTERS, 64, SEMDEDUP_THRESHOLD),
    tags=("dedup", "embedding", "cosine", "semdedup", "cluster"),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup: cluster embeddings by nearest centroid, find
    near-dup pairs ONLY within clusters, keep the most-atypical member.

    The third rung of the embedding-dedup ladder (all-pairs baseline →
    LSH-bucketed → cluster-fenced): at 100 TB the pair search is an
    equi-join on the cluster id, so task work is bounded by cluster
    population, and assignment is a map-only argmax over broadcast
    centroids (``operators/similarity.py:semdedup``). Centroids here are
    seeded Gaussians so the DuckDB oracle replays the exact clustering; in
    production they come from ``kmeans_centroids``.
    """
    from paimon_presto_spark.operators.similarity import _hyperplanes, semdedup

    cents = list(enumerate(_hyperplanes(64, SEMDEDUP_CLUSTERS, seed=7)))
    e = load_table(spark, sf_dir, "embeddings")
    out = semdedup(e, cents, SEMDEDUP_THRESHOLD)
    return out.select(
        "vec_id",
        "cluster",
        F.round("cos_centroid", 6).alias("cos_centroid"),
        "status",
    ).orderBy("vec_id")


def _oracle_semdedup_incremental(
    k: int, dim: int, threshold: float, split: int
) -> str:
    """DuckDB twin of ``semdedup_incremental``: same centroids/argmax as
    ``_oracle_semdedup``, drop rule restricted to NEW rows with the
    corpus-stability asymmetry (an old neighbour always beats a new one)."""
    from paimon_presto_spark.operators.similarity import _hyperplanes, unit_centroids

    cents = unit_centroids(list(enumerate(_hyperplanes(dim, k, seed=7))))
    values = ", ".join(
        f"({cid}, [{', '.join(repr(x) for x in v)}]::DOUBLE[])" for cid, v in cents
    )
    return f"""
        WITH cent(cid, uv) AS (SELECT * FROM (VALUES {values})),
        scored AS (
            SELECT e.vec_id, e.embedding, c.cid,
                   list_dot_product(e.embedding::DOUBLE[], c.uv) AS s
            FROM embeddings e CROSS JOIN cent c
        ),
        best AS (
            SELECT vec_id, embedding, cid, s,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, cid ASC) AS rn
            FROM scored
        ),
        assigned AS (
            SELECT vec_id, embedding, cid AS cluster,
                   s / sqrt(list_dot_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[])) AS cos_c
            FROM best WHERE rn = 1
        ),
        dropped AS (
            SELECT DISTINCT a.vec_id
            FROM assigned a JOIN assigned b
              ON a.cluster = b.cluster AND a.vec_id <> b.vec_id
             AND a.vec_id >= {split}
             AND (b.vec_id < {split}
                  OR b.cos_c < a.cos_c
                  OR (b.cos_c = a.cos_c AND b.vec_id < a.vec_id))
            WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                  / (sqrt(list_dot_product(a.embedding::DOUBLE[],
                                           a.embedding::DOUBLE[]))
                     * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[])))
                  > {threshold}
        )
        SELECT a.vec_id, a.cluster, ROUND(a.cos_c, 6) AS cos_centroid,
               CASE WHEN d.vec_id IS NULL THEN 'kept' ELSE 'dropped' END AS status
        FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
        WHERE a.vec_id >= {split}
        ORDER BY a.vec_id
    """


@register(
    "dedup_semantic_incremental",
    oracle=_oracle_semdedup_incremental(
        SEMDEDUP_CLUSTERS, 64, SEMDEDUP_THRESHOLD, INCREMENTAL_SPLIT
    ),
    tags=("dedup", "embedding", "semdedup", "cluster", "incremental"),
)
def dedup_semantic_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup: admit the new embedding batch (vec_id >= 300)
    against the published corpus (vec_id < 300) —
    ``operators/similarity.py:semdedup_incremental``. One verdict per NEW
    vector; old members are never paired against each other and never
    dropped (an old near-duplicate always wins — corpus stability), while
    new-vs-new pairs use the standard keep rule. At 100 TB the old side's
    assignment is a stored by-product of its own admission pass, so only
    the increment is argmax-scored."""
    from paimon_presto_spark.operators.similarity import (
        _hyperplanes,
        semdedup_incremental,
    )

    e = load_table(spark, sf_dir, "embeddings")
    old = e.filter(F.col("vec_id") < INCREMENTAL_SPLIT)
    new = e.filter(F.col("vec_id") >= INCREMENTAL_SPLIT)
    cents = list(enumerate(_hyperplanes(64, SEMDEDUP_CLUSTERS, seed=7)))
    out = semdedup_incremental(old, new, cents, SEMDEDUP_THRESHOLD)
    return out.select(
        "vec_id",
        "cluster",
        F.round("cos_centroid", 6).alias("cos_centroid"),
        "status",
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


@register(
    "knn_bruteforce_topk",
    oracle="""
        SELECT q_id, n_id, cos_sim, rnk
        FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                   ROUND(LIST_COSINE_SIMILARITY(q.embedding::DOUBLE[],
                                                c.embedding::DOUBLE[]), 6) AS cos_sim,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY LIST_COSINE_SIMILARITY(q.embedding::DOUBLE[],
                                                       c.embedding::DOUBLE[]) DESC,
                                c.vec_id
                   ) AS rnk
            FROM embeddings q
            JOIN embeddings c ON c.vec_id >= 5
            WHERE q.vec_id < 5
        )
        WHERE rnk <= 10
        ORDER BY q_id, rnk
    """,
    tags=("similarity", "knn", "topk"),
)
def knn_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: 5 query vectors vs the corpus.

    The query side is broadcast (it is always small); the corpus is scanned
    once, and per-query top-k is a WindowGroupLimit — no global sort. This
    is the exact-answer baseline the ANN operators are judged against.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = F.broadcast(
        e.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
        )
    )
    c = e.filter(F.col("vec_id") >= 5).select(
        F.col("vec_id").alias("n_id"), F.col("embedding").alias("n_emb")
    )
    cos = cosine_similarity(F.col("q_emb"), F.col("n_emb"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), F.asc("n_id"))
    return (
        c.crossJoin(q)
        .withColumn("cos_raw", cos)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 10)
        .select("q_id", "n_id", F.round("cos_raw", 6).alias("cos_sim"), "rnk")
        .orderBy("q_id", "rnk")
    )


@register(
    "array_subscript_embeddings",
    oracle=f"""
        SELECT label,
               COUNT(*) AS n_vectors,
               {o_davg('CAST(embedding[1] AS DOUBLE)', 'dim0_avg')},
               {o_davg('CAST(embedding[64] AS DOUBLE)', 'dim63_avg')}
        FROM embeddings
        GROUP BY label
        ORDER BY label
    """,
    tags=("array", "subscript", "aggregation"),
)
def array_subscript_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array subscript + aggregation — SURVEY §2.2 subscripts
    (``PrestoDistributedQueryTest.java:974``; map subscript
    ``TestPrestoITCase.java:705-725``)."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            davg(F.element_at("embedding", 1).cast("double"), "dim0_avg"),
            davg(F.element_at("embedding", 64).cast("double"), "dim63_avg"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "text_token_stats",
    oracle="""
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS total_tokens,
               MIN(LEN(STRING_SPLIT(text, ' '))) AS min_tokens,
               MAX(LEN(STRING_SPLIT(text, ' '))) AS max_tokens,
               (CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)) AS avg_chars
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    tags=("text", "tokens", "aggregation"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per source — whitespace tokenizer, pure codegen."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ntok).alias("total_tokens"),
            F.min(ntok).alias("min_tokens"),
            F.max(ntok).alias("max_tokens"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        )
        .orderBy("source")
    )


def _bpe_pat_sql() -> str:
    from paimon_presto_spark.functions.text import BPE_TOKEN_PATTERN

    return BPE_TOKEN_PATTERN.replace("'", "''")


@register(
    "text_bpe_token_stats",
    oracle=f"""
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(LEN(REGEXP_EXTRACT_ALL(text, '{_bpe_pat_sql()}')))
                    AS BIGINT) AS total_bpe_tokens,
               MIN(LEN(REGEXP_EXTRACT_ALL(text, '{_bpe_pat_sql()}')))
                   AS min_bpe_tokens,
               MAX(LEN(REGEXP_EXTRACT_ALL(text, '{_bpe_pat_sql()}')))
                   AS max_bpe_tokens
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    tags=("text", "tokens", "bpe", "regexp"),
)
def text_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (GPT-2-style pre-tokenizer regex) — the token
    budget measure LLM pipelines actually bill by, next to the whitespace
    count of ``text_token_stats``. ``regexp_count`` runs in codegen; the
    pattern avoids lookahead so Java regex and RE2 (DuckDB) agree.
    """
    from paimon_presto_spark.functions.text import bpe_token_count

    d = load_table(spark, sf_dir, "documents")
    ntok = bpe_token_count(F.col("text"))
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(ntok).alias("total_bpe_tokens"),
            F.min(ntok).alias("min_bpe_tokens"),
            F.max(ntok).alias("max_bpe_tokens"),
        )
        .orderBy("source")
    )


@register(
    "text_quality_filter",
    oracle="""
        SELECT doc_id,
               LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
               ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                     / LEN(STRING_SPLIT(text, ' ')), 6) AS mean_token_len
        FROM documents
        WHERE LEN(STRING_SPLIT(text, ' ')) BETWEEN 15 AND 40
          AND CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
              / LEN(STRING_SPLIT(text, ' ')) < 6.0
        ORDER BY doc_id
    """,
    tags=("text", "quality", "filter"),
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: keep docs by token count and mean token length.

    The standard cheap-heuristic pre-filter of LLM data pipelines; all
    arithmetic is integer counts + one deterministic division.
    """
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    mean_len = F.length(F.regexp_replace("text", " ", "")).cast("double") / ntok
    return (
        d.select("doc_id", ntok.alias("n_tokens"), mean_len.alias("mtl_raw"))
        .filter(F.col("n_tokens").between(15, 40) & (F.col("mtl_raw") < 6.0))
        .select("doc_id", "n_tokens", F.round("mtl_raw", 6).alias("mean_token_len"))
        .orderBy("doc_id")
    )


@register(
    "text_langid_stopword_density",
    oracle="""
        WITH toks AS (
            SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok
            FROM documents
        ),
        per_doc AS (
            SELECT doc_id, lang,
                   COUNT(*) AS n_tokens,
                   SUM(CASE WHEN tok IN ('the', 'a', 'of', 'to', 'and')
                            THEN 1 ELSE 0 END) AS en_hits
            FROM toks
            GROUP BY doc_id, lang
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(en_hits) AS BIGINT) AS total_hits,
               ROUND(CAST(SUM(en_hits) AS DOUBLE) / SUM(n_tokens), 6)
                   AS stopword_density
        FROM per_doc
        GROUP BY lang
        ORDER BY lang
    """,
    tags=("text", "langid"),
)
def text_langid_stopword_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: function-word (stopword) density per language
    label. The full classifier (n-gram profiles, argmax over languages) is
    ``operators/text.py:language_id``; this oracle-checked query pins the
    density computation it is built on."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
    per_doc = tok.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(
            F.when(F.col("tok").isin("the", "a", "of", "to", "and"), 1).otherwise(0)
        ).alias("en_hits"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("en_hits").alias("total_hits"),
            F.round(F.sum("en_hits").cast("double") / F.sum("n_tokens"), 6).alias(
                "stopword_density"
            ),
        )
        .orderBy("lang")
    )


@register(
    "doc_fingerprint",
    oracle=(
        "WITH "
        + _o_shingle_sql(5)
        + f""",
        hashed AS (SELECT doc_id, {_O_HASH} AS h FROM sh),
        fp AS (
            SELECT doc_id,
                   MIN((3 * (h % {BASE_MOD}) + 1) % {HASH_PRIME}) AS fingerprint
            FROM hashed GROUP BY doc_id
        )
        SELECT fingerprint, COUNT(*) AS n_docs,
               MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM fp
        GROUP BY fingerprint
        HAVING COUNT(*) > 1
        ORDER BY fingerprint
    """
    ),
    tags=("text", "fingerprint"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: min-hash (k=1) over 5-gram shingles;
    colliding fingerprints cluster near-identical documents. (The (3h+1)
    affine params are ``hash_params(1)[0]`` — kept literal in the oracle.)"""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_set(docs, "doc_id", "text", 5)
    hashed = sh.select("doc_id", md5_long(F.col("s")).alias("h"))
    a, b = hash_params(1)[0]
    fp = hashed.groupBy("doc_id").agg(
        F.min((F.lit(a) * (F.col("h") % BASE_MOD) + F.lit(b)) % HASH_PRIME).alias("fingerprint")
    )
    return (
        fp.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("fingerprint")
    )


def _oracle_curate_pipeline() -> str:
    """DuckDB twin of the COMPOSED curation pipeline: each stage's oracle
    fragment (exact-dedup grouping, quality expressions, the minhash/band/
    Jaccard chain, recursive-CTE components, containment probe) rebased
    onto the previous stage's survivor set — stage thresholds identical to
    ``curate_corpus``'s defaults."""
    gram3 = " || ' ' || ".join(f"tk[i + {j}]" for j in range(3))
    shingle3 = (
        f"UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(tk) - 1, 1)),"
        f" i -> {gram3}))"
    )
    bands_union = _o_bands_union()
    return f"""
        WITH RECURSIVE
        corpus0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        evals AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
        keep1 AS (SELECT MIN(doc_id) AS doc_id FROM corpus0 GROUP BY MD5(text)),
        c1 AS (SELECT c.doc_id, c.text FROM corpus0 c
               JOIN keep1 k ON c.doc_id = k.doc_id),
        c2 AS (
            SELECT doc_id, text FROM c1
            WHERE LEN(STRING_SPLIT(text, ' ')) BETWEEN 5 AND 100000
              AND (LEN(REGEXP_REPLACE(text, '[a-zA-Z0-9 ]', '', 'g'))
                   / LEN(text)) <= CAST(0.3 AS DOUBLE)
        ),
        toks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM c2),
        sh AS (SELECT DISTINCT doc_id, {shingle3} AS s FROM toks),
        hashed AS (SELECT doc_id, {_O_HASH} AS h FROM sh),
        mh AS (SELECT doc_id, {_o_minhash_aggs()} FROM hashed GROUP BY doc_id),
        bands AS ({bands_union}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                        AND a.doc_id < b.doc_id
        ),
        {_O_PAIRS_CTE.format(thr=JACCARD_THRESHOLD)},
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(doc_id, label) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
        ),
        comps AS (SELECT doc_id, MIN(label) AS component
                  FROM reach GROUP BY doc_id),
        drops3 AS (SELECT doc_id FROM comps WHERE component <> doc_id),
        c3 AS (SELECT doc_id, text FROM c2
               WHERE doc_id NOT IN (SELECT doc_id FROM drops3)),
        etoks AS (SELECT STRING_SPLIT(text, ' ') AS tk FROM evals),
        esh AS (SELECT DISTINCT CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) AS h
                FROM (SELECT {shingle3} AS s FROM etoks) t),
        ctoks AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS tk FROM c3),
        csh AS (SELECT DISTINCT doc_id,
                       CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) AS h
                FROM (SELECT doc_id, {shingle3} AS s FROM ctoks) t),
        cont AS (
            SELECT c.doc_id, COUNT(*) AS n_sh,
                   SUM(CASE WHEN e.h IS NOT NULL THEN 1 ELSE 0 END) AS n_ov
            FROM csh c LEFT JOIN esh e ON c.h = e.h GROUP BY c.doc_id
        ),
        drops4 AS (SELECT doc_id FROM cont
                   WHERE (CAST(n_ov AS DOUBLE) / n_sh) > CAST(0.8 AS DOUBLE)),
        c4 AS (SELECT doc_id FROM c3
               WHERE doc_id NOT IN (SELECT doc_id FROM drops4)),
        n AS (SELECT (SELECT COUNT(*) FROM corpus0) AS n0,
                     (SELECT COUNT(*) FROM c1) AS n1,
                     (SELECT COUNT(*) FROM c2) AS n2,
                     (SELECT COUNT(*) FROM c3) AS n3,
                     (SELECT COUNT(*) FROM c4) AS n4)
        SELECT stage, stage_order, n_dropped FROM (
            SELECT 'exact_dedup' AS stage, 0 AS stage_order,
                   CAST(n0 - n1 AS BIGINT) AS n_dropped FROM n
            UNION ALL SELECT 'quality_filter', 1, CAST(n1 - n2 AS BIGINT) FROM n
            UNION ALL SELECT 'near_dup_clusters', 2, CAST(n2 - n3 AS BIGINT) FROM n
            UNION ALL SELECT 'decontaminate', 3, CAST(n3 - n4 AS BIGINT) FROM n
            UNION ALL SELECT 'kept', 99, CAST(n4 AS BIGINT) FROM n
        ) ORDER BY stage_order
    """


@register(
    "pipeline_curate_corpus",
    oracle=_oracle_curate_pipeline(),
    tags=("pipeline", "dedup", "quality", "decontaminate", "composition"),
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline (``operators/pipeline.curate_corpus``)
    run over the documents table, using the even-id half as the corpus and
    the odd-id half as the "eval set": returns the per-stage drop report
    plus a final kept-count row. Deterministic end to end (exact dedup,
    seeded MinHash-LSH, min-id keepers, iterative-but-converged connected
    components), so even the composition is oracle-gated: the DuckDB twin
    rebases each stage's oracle fragment onto the previous stage's
    survivors.
    """
    from paimon_presto_spark.operators.pipeline import curate_corpus

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    evals = docs.filter(F.col("doc_id") % 2 == 1)
    kept, report = curate_corpus(corpus, eval_docs=evals)
    n_kept = kept.count()
    final = spark.createDataFrame(
        [("kept", 99, int(n_kept))], "stage string, stage_order int, n_dropped long"
    )
    return report.unionByName(final).orderBy("stage_order")


@register(
    "dedup_exact_substring",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents
        ),
        sizes AS (SELECT doc_id, LEN(w) AS n_tokens FROM toks),
        grams AS (
            SELECT doc_id, i - 1 AS pos,
                   CAST('0x' || substr(md5(
                       array_to_string(list_slice(w, i, i + 9), ' ')
                   ), 1, 15) AS BIGINT) AS h
            FROM toks, UNNEST(generate_series(1, LEN(w) - 9)) AS t(i)
            WHERE LEN(w) >= 10
        ),
        dup_h AS (
            SELECT h FROM grams GROUP BY h HAVING COUNT(*) > 1
        ),
        dup AS (
            SELECT grams.doc_id, grams.pos FROM grams, dup_h
            WHERE grams.h = dup_h.h
        ),
        cover AS (
            SELECT doc_id, pos,
                   LEAST(10, COALESCE(
                       LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos,
                       10)) AS c
            FROM dup
        ),
        per_doc AS (
            SELECT doc_id, COUNT(*) AS dup_ngrams, SUM(c) AS covered
            FROM cover GROUP BY doc_id
        )
        SELECT sizes.doc_id,
               CAST(sizes.n_tokens AS BIGINT) AS n_tokens,
               CAST(COALESCE(per_doc.dup_ngrams, 0) AS BIGINT) AS dup_ngrams,
               CAST(COALESCE(per_doc.covered, 0) AS BIGINT) AS covered_tokens,
               CAST(COALESCE(per_doc.covered, 0) AS DOUBLE)
                   / CAST(sizes.n_tokens AS DOUBLE) AS dup_frac
        FROM sizes LEFT JOIN per_doc ON sizes.doc_id = per_doc.doc_id
        WHERE sizes.doc_id < 60
        ORDER BY sizes.doc_id
    """,
    tags=("dedup", "exact-substring", "ngram", "llm-pipeline"),
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring duplication (Lee et al., ACL 2022, in
    word-window form — ``operators/dedup.repeated_ngram_spans``): every
    10-token window is hashed corpus-wide; windows whose hash repeats are
    duplicated spans, and per document we report the duplicated-window
    count, the token coverage of the union of those spans, and the
    coverage fraction that curation thresholds on. Duplicate-hash counts
    come from ALL documents; the output is trimmed to doc_id < 60 to keep
    the gate compact.
    """
    from paimon_presto_spark.operators.dedup import repeated_ngram_spans

    d = load_table(spark, sf_dir, "documents")
    prof = repeated_ngram_spans(d, n=10)
    return (
        prof.filter(F.col("doc_id") < 60)
        .select(
            "doc_id",
            "n_tokens",
            "dup_ngrams",
            "covered_tokens",
            (
                F.col("covered_tokens").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


@register(
    "dedup_keep_best_in_cluster",
    oracle=(
        "WITH RECURSIVE "
        + _o_shingle_sql(3)
        + f""",
        hashed AS (SELECT doc_id, {_O_HASH} AS h FROM sh),
        mh AS (
            SELECT doc_id,
                   {_o_minhash_aggs()}
            FROM hashed GROUP BY doc_id
        ),
        bands AS (
            """
        + _o_bands_union()
        + """
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                        AND a.doc_id < b.doc_id
        ),
        """
        + _O_PAIRS_CTE.format(thr=JACCARD_THRESHOLD)
        + """,
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(doc_id, label) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.doc_id
        ),
        comp AS (
            SELECT doc_id, MIN(label) AS component FROM reach GROUP BY doc_id
        ),
        best AS (
            SELECT c.component, d.doc_id, d.n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.component
                       ORDER BY d.n_chars DESC, d.doc_id ASC
                   ) AS rn,
                   COUNT(*) OVER (PARTITION BY c.component) AS n_members,
                   SUM(d.n_chars) OVER (PARTITION BY c.component)
                       AS total_chars
            FROM comp c JOIN documents d ON d.doc_id = c.doc_id
        )
        SELECT component, CAST(n_members AS BIGINT) AS n_members,
               doc_id AS keeper_id, n_chars AS keeper_chars,
               CAST(total_chars AS BIGINT) AS total_chars
        FROM best WHERE rn = 1
        ORDER BY component
    """
    ),
    tags=("dedup", "minhash", "connected-components", "canonicalization"),
)
def dedup_keep_best_in_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: resolve MinHash/LSH near-dup pairs
    into transitive clusters (``operators/dedup.connected_components``),
    then KEEP the best document of each cluster — max ``n_chars``, ties
    to the smallest doc_id — instead of blindly keeping the minimum id.
    This is how production dedup actually discards data: the keeper is
    chosen by a quality signal, so a truncated mirror never shadows the
    full original. One row per multi-member cluster: (component,
    n_members, keeper_id, keeper_chars, total_chars).

    Scale shape: pair generation and components are the proven banded /
    label-propagation paths; the propagation walk runs with an EXPLICIT
    4-round budget — a genuine near-dup cluster is 2-3 hops, so
    convergence inside 4 rounds is the expected path and anything deeper
    is an adversarial chain that escalates to the O(log n)
    alternating-star rounds (round-7 verdict #7: the budget is a stated
    contract of the entry, not an implicit module default); the keeper
    choice adds ONE aggregation keyed by component (max over a
    (quality, -id) struct — map-side combinable), joined against the docs
    table on its primary key.
    """
    from paimon_presto_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, shingle_n=3, k=MINHASH_K, bands=LSH_BANDS,
        threshold=JACCARD_THRESHOLD,
    ).select("doc_a", "doc_b")
    comp = connected_components(pairs, star_switch_budget=4)
    member = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    return (
        member.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(
                F.struct(
                    F.col("n_chars"), (-F.col("doc_id")).alias("neg_id")
                )
            ).alias("best"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "component",
            "n_members",
            (-F.col("best.neg_id")).alias("keeper_id"),
            F.col("best.n_chars").alias("keeper_chars"),
            "total_chars",
        )
        .orderBy("component")
    )


@register(
    "dedup_ngram_containment",
    oracle=(
        "WITH "
        + _o_shingle_sql(3)
        + """,
        df AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY s),
        rare AS (
            SELECT doc_id, sh.s FROM sh JOIN df ON sh.s = df.s
            WHERE df.df <= 20
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id < b.doc_id
        ),
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
            GROUP BY c.doc_a, c.doc_b
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        scored AS (
            SELECT i.doc_a, i.doc_b, i.inter, sa.n AS na, sb.n AS nb
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
        ),
        directed AS (
            SELECT doc_a AS contained, doc_b AS container,
                   inter / CAST(na AS DOUBLE) AS containment,
                   na AS n_contained, nb AS n_container
            FROM scored
            UNION ALL
            SELECT doc_b, doc_a, inter / CAST(nb AS DOUBLE), nb, na
            FROM scored
        )
        SELECT contained, container,
               ROUND(containment, 6) AS containment,
               CAST(n_contained AS BIGINT) AS n_contained,
               CAST(n_container AS BIGINT) AS n_container
        FROM directed
        WHERE containment >= 0.6
        ORDER BY contained, container
    """
    ),
    tags=("dedup", "containment", "ngram", "asymmetric"),
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection
    (``operators/dedup.py:ngram_containment_pairs``): directed
    (contained, container) pairs with 3-gram shingle containment ≥ 0.6 —
    the subset relation Jaccard misses by construction (a short document
    quoted inside a long one has low Jaccard but containment ≈ 1), used
    to drop quote-expansions and reposts-with-commentary while keeping
    the container. Candidates come from the df-capped inverted index;
    only candidates pay the exact intersection; the directed emit is two
    projections of one verified pair set."""
    from paimon_presto_spark.operators.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    out = ngram_containment_pairs(
        docs, shingle_n=3, max_df=20, threshold=0.6
    )
    return out.select(
        "contained", "container",
        F.round("containment", 6).alias("containment"),
        "n_contained", "n_container",
    ).orderBy("contained", "container")


#: shared by the adaptive headline entry and its forced-engagement twin
_TFIDF_COSINE_ORACLE = """
        WITH words AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(u.w), 1, 15) AS BIGINT) AS t
            FROM documents, UNNEST(string_split(text, ' ')) AS u(w)
            WHERE u.w <> ''
        ),
        nn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd,
                      GREATEST(50, COUNT(DISTINCT doc_id) // 10) AS cap
               FROM documents),
        tf AS (
            SELECT doc_id, t, COUNT(*) AS tf FROM words GROUP BY doc_id, t
        ),
        dft AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
        wt AS (
            SELECT tf.doc_id, tf.t, dft.df,
                   CAST(tf.tf AS DOUBLE)
                       * CAST(CAST(CAST(LN((1.0 + nn.nd)
                             / (1.0 + CAST(dft.df AS DOUBLE)))
                         AS DECIMAL(28,10)) AS VARCHAR) AS DOUBLE) AS wt
            FROM tf JOIN dft ON tf.t = dft.t, nn
        ),
        capv AS (SELECT cap FROM nn),
        nrm AS (
            SELECT doc_id,
                   SQRT(CAST(SUM(CAST(wt * wt AS DECIMAL(28,10)))
                        AS DOUBLE)) AS nrm
            FROM wt GROUP BY doc_id
        ),
        dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(SUM(CAST(a.wt * b.wt AS DECIMAL(28,10)))
                        AS DOUBLE) AS dot,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM wt a JOIN wt b ON a.t = b.t AND a.doc_id < b.doc_id
            WHERE a.df <= (SELECT cap FROM capv)
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT d.doc_a, d.doc_b,
               ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cosine,
               d.n_shared
        FROM dots d
        JOIN nrm na ON na.doc_id = d.doc_a
        JOIN nrm nb ON nb.doc_id = d.doc_b
        WHERE d.dot / (na.nrm * nb.nrm) >= 0.25
        ORDER BY d.doc_a, d.doc_b
"""


@register(
    "dedup_tfidf_cosine",
    oracle=_TFIDF_COSINE_ORACLE,
    tags=("dedup", "tfidf", "cosine", "apss", "weighted"),
)
def dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted all-pairs similarity
    (``operators/dedup.py:tfidf_cosine_pairs``): document pairs whose
    TF-IDF cosine ≥ 0.25 (df cap max(50, N/10): a term's absolute df
    grows with the corpus while distinctiveness is relative, so the cap
    scales too — a fixed cap filters every pair at 10x) — Bayardo et
    al.'s APSS, the sparse-vector
    sibling of embedding cosine. Terms weight by rarity, so shared
    distinctive vocabulary matches documents whose boilerplate differs —
    the template-resistant near-dup signal Jaccard (equal-weight
    shingles) misses. Candidates come from the df-capped inverted index
    (common terms carry little idf and quadratic posting lists); norms
    stay exact over ALL terms; dots/norms sum as DECIMAL over products
    of identical doubles, idf is decimal-squeezed, sqrt is IEEE-correct
    in both engines — the oracle replays every step bit-for-bit."""
    from paimon_presto_spark.operators.dedup import tfidf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    # prefix_filter="auto": the production default (round-9 verdict #6 —
    # the adaptive-engagement pattern that fixed weighted-median). The
    # engagement estimate Σ df² is one aggregate over the operator's
    # already-cached weighted table (free at any scale); small corpora
    # keep the cheap one-join path, big ones get the Bayardo armor. The
    # forced-engagement twin dedup_tfidf_cosine_prefix keeps the prefix
    # path itself under the oracle gate.
    out = tfidf_cosine_pairs(docs, threshold=0.25, prefix_filter="auto")
    return out.select(
        "doc_a", "doc_b",
        F.round("cosine", 6).alias("cosine"),
        "n_shared",
    ).orderBy("doc_a", "doc_b")


@register(
    "dedup_tfidf_cosine_prefix",
    oracle=_TFIDF_COSINE_ORACLE,
    tags=("dedup", "tfidf", "cosine", "apss", "prefix-filter", "twin"),
)
def dedup_tfidf_cosine_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forced-engagement twin of ``dedup_tfidf_cosine``: the EXACT
    Bayardo/PPJoin prefix-filtered path (suffix-potential indexing over
    the global (maxu DESC, t ASC) term order, prefix-prefix candidate
    join, exact-dot verify), forced ON regardless of the corpus-size
    estimate so the index-reduction machinery stays oracle-gated at test
    scale — the same twin rule as agg_weighted_quartiles for the
    decomposition path. The oracle is the SHARED naive replay: prefix
    filtering is output-invariant by theorem (WWW'07), so both entries
    hash against the identical SQL, and a prefix bug that drops or
    over-admits one candidate pair fails THIS entry's gate while the
    adaptive headline entry keeps benching the production default."""
    from paimon_presto_spark.operators.dedup import tfidf_cosine_pairs

    docs = load_table(spark, sf_dir, "documents")
    out = tfidf_cosine_pairs(docs, threshold=0.25, prefix_filter=True)
    return out.select(
        "doc_a", "doc_b",
        F.round("cosine", 6).alias("cosine"),
        "n_shared",
    ).orderBy("doc_a", "doc_b")


@register(
    "dedup_minhash_recall",
    oracle=(
        "WITH "
        + _o_shingle_sql(3)
        + f""",
        hashed AS (SELECT doc_id, {_O_HASH} AS h FROM sh),
        mh AS (
            SELECT doc_id,
                   {_o_minhash_aggs()}
            FROM hashed GROUP BY doc_id
        ),
        bands AS (
            """
        + _o_bands_union()
        + """
        ),
        lsh AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                        AND a.doc_id < b.doc_id
        ),
        tcand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM hashed a
            JOIN hashed b ON a.h = b.h AND a.doc_id < b.doc_id
        ),
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
            FROM tcand c
            JOIN hashed sa ON sa.doc_id = c.doc_a
            JOIN hashed sb ON sb.doc_id = c.doc_b AND sb.h = sa.h
            GROUP BY c.doc_a, c.doc_b
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM hashed GROUP BY doc_id),
        truth AS (
            SELECT i.doc_a, i.doc_b,
                   i.inter / (sa.n + sb.n - i.inter) AS j
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE i.inter / (sa.n + sb.n - i.inter) >= 0.3
        ),
        marked AS (
            SELECT t.j,
                   CASE WHEN l.doc_a IS NULL THEN 0 ELSE 1 END AS hit
            FROM truth t
            LEFT JOIN lsh l ON l.doc_a = t.doc_a AND l.doc_b = t.doc_b
        )
        SELECT CAST(LEAST(9, FLOOR(j * 10)) AS INT) AS jband,
               CAST(COUNT(*) AS BIGINT) AS n_truth,
               CAST(SUM(hit) AS BIGINT) AS n_found,
               ROUND(CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
                   AS recall
        FROM marked GROUP BY 1 ORDER BY jband
    """
    ),
    tags=("dedup", "minhash", "lsh", "recall", "audit"),
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured MinHash-LSH recall per Jaccard decile
    (``operators/dedup.py:minhash_recall_audit``): exact ground-truth
    pairs (uncapped inverted index — exhaustive above Jaccard 0) bucketed
    by decile and checked against the banded candidate set — the LSH
    S-curve as DATA for this corpus and (k=16, bands=4), the dedup twin
    of ``knn_lsh_recall``. The audit one runs before trusting a banding
    at a new threshold; deliberate-precision rung (sampled at 100 TB)."""
    from paimon_presto_spark.operators.dedup import minhash_recall_audit

    docs = load_table(spark, sf_dir, "documents")
    return minhash_recall_audit(
        docs, shingle_n=3, k=MINHASH_K, bands=LSH_BANDS, min_jaccard=0.3
    ).orderBy("jband")


def _oracle_incremental_ingest() -> str:
    """Declarative replay of the composed daily-ingest pipeline: quality
    gate on the increment, near-dup admit (a new doc is dropped iff it
    pairs with ANY old doc or with a smaller-id new doc — the greedy
    keep-min rule over the pair graph, never transitive), old corpus
    immutable, final corpus = old ∪ admitted certified by a content
    checksum."""
    bands_union = _o_bands_union()
    return (
        "WITH "
        + _o_shingle_sql(3)
        + f""",
        old AS (SELECT doc_id FROM documents WHERE doc_id % 3 <> 0),
        newq AS (
            SELECT doc_id FROM documents
            WHERE doc_id % 3 = 0
              AND LEN(string_split(text, ' ')) >= 20
        ),
        elig AS (SELECT doc_id FROM old UNION ALL SELECT doc_id FROM newq),
        hashed AS (
            SELECT sh.doc_id, {_O_HASH} AS h
            FROM sh JOIN elig ON elig.doc_id = sh.doc_id
        ),
        mh AS (SELECT doc_id, {_o_minhash_aggs()} FROM hashed GROUP BY doc_id),
        bands AS ({bands_union}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
                        AND a.doc_id < b.doc_id
        ),
        inter AS (
            SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
            FROM cand c
            JOIN sh sa ON sa.doc_id = c.doc_a
            JOIN sh sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
            GROUP BY c.doc_a, c.doc_b
        ),
        sizes AS (
            SELECT sh.doc_id, COUNT(*) AS n
            FROM sh JOIN elig ON elig.doc_id = sh.doc_id
            GROUP BY sh.doc_id
        ),
        pairs AS (
            SELECT i.doc_a, i.doc_b FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
            WHERE i.inter / (sa.n + sb.n - i.inter) >= {JACCARD_THRESHOLD}
        ),
        dropped AS (
            SELECT DISTINCT d FROM (
                SELECT p.doc_b AS d FROM pairs p
                JOIN newq nb ON nb.doc_id = p.doc_b
                UNION ALL
                SELECT p.doc_a FROM pairs p
                JOIN newq na ON na.doc_id = p.doc_a
                JOIN old ob ON ob.doc_id = p.doc_b
            )
        ),
        admitted AS (
            SELECT doc_id FROM newq
            WHERE doc_id NOT IN (SELECT d FROM dropped)
        ),
        final AS (
            SELECT d.doc_id, d.text FROM documents d
            WHERE d.doc_id IN (SELECT doc_id FROM old)
               OR d.doc_id IN (SELECT doc_id FROM admitted)
        )
        SELECT * FROM (
            SELECT 'new_arrivals' AS stage, 0 AS stage_order,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                    WHERE doc_id % 3 = 0) AS n
            UNION ALL
            SELECT 'quality_dropped', 1,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                    WHERE doc_id % 3 = 0)
                   - (SELECT CAST(COUNT(*) AS BIGINT) FROM newq)
            UNION ALL
            SELECT 'dup_dropped', 2,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM dropped)
            UNION ALL
            SELECT 'admitted', 3,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM admitted)
            UNION ALL
            SELECT 'corpus_final', 4,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM final)
            UNION ALL
            SELECT 'corpus_checksum', 5,
                   (SELECT CAST(SUM(CAST('0x' || SUBSTR(MD5(text), 1, 15)
                                         AS BIGINT) % {HASH_PRIME})
                           AS BIGINT) FROM final)
            UNION ALL
            -- a doc with < 3 tokens yields no shingles and therefore no
            -- signature row; admitted docs always qualify (>= 20 tokens)
            SELECT 'index_final', 6,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM documents d
                    WHERE d.doc_id % 3 <> 0
                      AND LEN(string_split(d.text, ' ')) >= 3)
                   + (SELECT CAST(COUNT(*) AS BIGINT) FROM admitted)
        ) ORDER BY stage_order
    """
    )


@register(
    "pipeline_incremental_ingest",
    oracle=_oracle_incremental_ingest(),
    tags=("pipeline", "incremental", "dedup", "quality", "table-format",
          "composition"),
)
def pipeline_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed DAILY-INGEST lifecycle — the operational twin of
    ``pipeline_curate_corpus``: a snapshot-committed corpus table holds
    yesterday's curated documents; today's increment (doc_id % 3 == 0)
    passes a quality gate (>= 20 tokens — a threshold that actually
    bisects the test corpora, so the gate predicate's cross-engine
    parity is certified non-trivially), is near-dup-admitted against
    the old corpus and smaller-id members of the increment via the
    INCREMENTAL MinHash-LSH path
    (``operators/dedup.minhash_lsh_pairs_incremental`` — the old corpus
    is never re-paired against itself), and the survivors append to the
    corpus through the catalog as one atomic snapshot. The MinHash
    signature index is itself a CATALOG TABLE (the dedup twin of the
    stored IVF-PQ ANN index): seeded once from yesterday's corpus,
    READ BACK as ``old_signatures`` for the probe — so the old corpus
    is not even re-shingled for candidate generation, only candidate
    members are (semi-join-bounded) — and maintained by appending the
    admitted increment's signatures after the commit. The gate
    certifies the per-stage accounting, the final corpus read back
    FROM THE TABLE (count + content checksum), AND the maintained
    index's row count — proving the admit decisions, the table-layer
    commit, and the index maintenance compose losslessly.

    Admit rule (greedy keep-min over the pair graph, deliberately NOT
    transitive): a new doc is dropped iff it pairs with any old doc or
    with a smaller-id new doc — whether or not that smaller doc is
    itself admitted. Old documents are immutable — ingest never revokes
    yesterday's corpus.

    100 TB shape: the increment is orders of magnitude smaller than the
    corpus; candidate volume scales with |new| x bucket population (the
    band join probes with the increment's bands only), the quality gate
    is map-only, and the append is one snapshot commit. The full-corpus
    re-read here is the test-scale certification, not the production
    path (production trusts the incremental invariant this oracle
    proves).
    """
    from paimon_presto_spark.catalog import Catalog
    from paimon_presto_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
        minhash_signature,
        shingle_hashes,
    )
    from paimon_presto_spark.queries.advanced import _scratch_dir

    from concurrent.futures import ThreadPoolExecutor

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    gate = F.size(F.split(F.col("text"), " ")) >= 20
    newq = new.filter(gate)

    wh = _scratch_dir("ingest-")
    cat = Catalog(spark, wh)
    cat.create_database("ing", ignore_if_exists=True)
    corpus = cat.create_table(
        "ing", "corpus", "doc_id bigint, text string",
        primary_keys=["doc_id"], options={"bucket": "4"},
    )
    sig_ddl = "doc_id bigint, " + ", ".join(
        f"mh{i} bigint" for i in range(MINHASH_K)
    )
    sig_index = cat.create_table(
        "ing", "signatures", sig_ddl,
        primary_keys=["doc_id"], options={"bucket": "4"},
    )
    # Overlap independent jobs (optimization guide §2.6): the corpus seed
    # commit, the signature-index seed commit, and the stage-count scan
    # touch disjoint tables/outputs and none depends on another — run the
    # corpus seed on a helper thread so its job tail back-fills with the
    # index seed's tasks instead of idling the executors. The probe below
    # needs only the INDEX seed, which stays on this thread, completing
    # before sig_index.to_df() is read; the corpus future is joined before
    # the admitted commit (same table => snapshot order preserved).
    with ThreadPoolExecutor(max_workers=1) as pool:
        futs = []
        fut_corpus = pool.submit(corpus.upsert, old)  # snapshot 1
        futs.append(fut_corpus)
        # finally: every worker future is .result()ed even when the main
        # thread raises first — the with-block's silent shutdown(wait=True)
        # would otherwise swallow a worker-side upsert failure and mask
        # the root cause of a partial-commit state (round-11 advice).
        try:
            # one scan answers both stage counts (arrivals + gate
            # survivors)
            stage_counts = new.agg(
                F.count(F.lit(1)).alias("n_new"),
                F.count_if(gate).alias("n_newq"),
            ).collect()[0]
            n_new, n_newq = stage_counts["n_new"], stage_counts["n_newq"]
            sig_index.upsert(                    # seed: yesterday's index
                minhash_signature(
                    shingle_hashes(old, "doc_id", "text", 3), MINHASH_K
                )
            )

            # The increment's shingles feed TWO consumers: the probe's
            # candidate/verify machinery (inside the operator, which
            # ledger-caches this frame) and the post-commit index
            # maintenance below — sharing one frame means the admitted
            # signatures encode from the CACHED shingles instead of
            # re-splitting/re-exploding the admitted texts.
            new_sh = shingle_hashes(newq, "doc_id", "text", 3)
            # The corpus seed future keeps running underneath — the probe
            # reads only the signature INDEX, committed above.
            pairs = minhash_lsh_pairs_incremental(
                old, newq, shingle_n=3, k=MINHASH_K, bands=LSH_BANDS,
                threshold=JACCARD_THRESHOLD,
                old_signatures=sig_index.to_df(),  # probe the STORED index
                new_shingles=new_sh,
            ).select("doc_a", "doc_b")
            # Drop rule as ONE expression over the pair list (two joins
            # against the id tables removed): the operator only emits
            # pairs with >= 1 NEW member, and membership here is the
            # ingest fixture's own partition predicate (doc_id % 3 == 0 —
            # every %3==0 doc that entered the pipeline passed the gate,
            # because only old ∪ newq were signatured). doc_a < doc_b by
            # the operator's canonicalization, so: doc_b new -> doc_b
            # drops (its partner is old or a smaller-id new doc either
            # way); doc_b old -> doc_a must be the new member -> doc_a
            # drops.
            # cache: the drop set is consumed by its own count AND the
            # admit anti-join — without the cache the expensive candidate
            # verification executes once per consumer. The verify now
            # runs exactly once, inside this count.
            dropped = (
                pairs.select(
                    F.when(F.col("doc_b") % 3 == 0, F.col("doc_b"))
                    .otherwise(F.col("doc_a"))
                    .alias("nid")
                )
                .distinct()
                .cache()
            )
            n_dropped = dropped.count()
            # cache + materialize: the admitted increment feeds BOTH
            # commits below (corpus append and index maintenance), which
            # run concurrently — materializing first means each reads the
            # cached rows instead of racing to recompute the anti-join.
            admitted = newq.join(
                dropped, newq.doc_id == dropped.nid, "left_anti"
            ).cache()
            admitted.count()
            fut_corpus.result()  # corpus table free: seed committed first
            fut_admit = pool.submit(corpus.upsert, admitted)  # snapshot 2
            futs.append(fut_admit)
            sig_index.upsert(                # index maintenance: only the
                minhash_signature(           # admitted increment encodes,
                    new_sh.join(             # from the operator's cached
                        admitted.select("doc_id"), "doc_id", "left_semi"
                    ),                       # shingles — no re-shingling
                    MINHASH_K,
                )
            )
            fut_admit.result()
            dropped.unpersist()

            # final audit: the corpus read-back and the index count touch
            # different tables — overlap them too.
            final = corpus.to_df()
            fut_row = pool.submit(
                lambda: final.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(md5_long("text") % HASH_PRIME).alias("ck"),
                ).collect()[0]
            )
            futs.append(fut_row)
            n_index = sig_index.to_df().count()
            row = fut_row.result()
            admitted.unpersist()
        finally:
            for f in futs:
                f.result()
    return spark.createDataFrame(
        [
            ("new_arrivals", 0, int(n_new)),
            ("quality_dropped", 1, int(n_new - n_newq)),
            ("dup_dropped", 2, int(n_dropped)),
            ("admitted", 3, int(n_newq - n_dropped)),
            ("corpus_final", 4, int(row["n"])),
            ("corpus_checksum", 5, int(row["ck"])),
            ("index_final", 6, int(n_index)),
        ],
        "stage string, stage_order int, n long",
    ).orderBy("stage_order")
