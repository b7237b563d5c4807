"""Text analysis operators: quality metrics, language identification,
token statistics. All built-in-function compositions (codegen; the only
shuffle is the caller's, if any).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from paimon_presto_spark.functions.hashing import single_partition_key
from paimon_presto_spark.functions.numeric import decimal_squeeze
from paimon_presto_spark.functions.text import mean_token_length, punct_ratio, token_count

#: Minimal function-word profiles. Real pipelines plug fasttext-style models
#: in via a pandas UDF; this heuristic keeps the operator dependency-free
#: and fully deterministic (same shape as the reference-free cld heuristics).
STOPWORD_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "to", "and", "is", "in"),
    "es": ("el", "la", "de", "que", "y", "los", "es"),
    "fr": ("le", "la", "de", "et", "les", "des", "un"),
    "de": ("der", "die", "und", "das", "ist", "von", "ein"),
    "zh": ("的", "是", "不", "我", "了", "在", "有"),
}


def quality_metrics(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document quality features: token count, mean token length,
    punctuation ratio. The standard cheap pre-filter of LLM data pipelines;
    filter on the outputs (e.g. 15 ≤ n_tokens ≤ 4096, mean_token_len < 12).
    """
    t = F.col(text_col)
    return docs.select(
        F.col(id_col),
        token_count(t).alias("n_tokens"),
        F.length(t).alias("n_chars"),
        mean_token_length(t).alias("mean_token_len"),
        punct_ratio(t).alias("punct_ratio"),
    )


def language_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Heuristic language ID: argmax of function-word hit density per
    language profile. Returns (id, predicted_lang, score).

    One explode + one groupBy; the per-language hit counters are a fixed
    set of conditional sums, so the aggregation state is constant-size —
    safe at any corpus size. Ties resolve to the lexicographically smallest
    language (deterministic).
    """
    tok = docs.select(F.col(id_col), F.explode(F.split(text_col, " ")).alias("tok"))
    aggs = [
        F.sum(F.when(F.col("tok").isin(*words), 1).otherwise(0)).alias(f"hits_{lang}")
        for lang, words in sorted(STOPWORD_PROFILES.items())
    ]
    per_doc = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_tokens"), *aggs)
    langs = sorted(STOPWORD_PROFILES)
    pairs = F.array(
        *[
            F.struct(
                (F.col(f"hits_{la}") / F.col("n_tokens")).alias("score"),
                F.lit(la).alias("lang"),
            )
            for la in langs
        ]
    )
    # fold keeps the FIRST maximum → smallest language code wins ties
    # (pairs is built in sorted-lang order)
    best = F.aggregate(
        pairs,
        F.struct(F.lit(-1.0).alias("score"), F.lit("").alias("lang")),
        lambda acc, x: F.when(x["score"] > acc["score"], x).otherwise(acc),
    )
    return per_doc.select(
        F.col(id_col),
        best["lang"].alias("predicted_lang"),
        best["score"].alias("score"),
    )


def posting_lists(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Positional inverted index: one (term, doc, pos) posting per word
    occurrence — the classic text-search layout. At 100 TB the postings
    are the shuffle payload (term + two integers, never the document),
    hash-partitioned by term so each term's posting list is co-located;
    downstream term lookups become partition-pruned equi-joins. Position
    is 1-based (matches SQL ``generate_subscripts``)."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos0", "term"),
    ).select("term", "doc_id", (F.col("pos0") + 1).alias("pos"))


def phrase_match(postings: DataFrame, phrase: list[str]) -> DataFrame:
    """Documents containing the exact word sequence ``phrase``, with match
    counts: the m-way positional join over posting lists (term filters
    prune each side to one list; joins are equi on (doc_id, pos-offset) —
    the standard phrase-query plan of inverted-index engines). Returns
    (doc_id, n_matches)."""
    if not phrase:
        raise ValueError("phrase must have at least one word")
    cur = (
        postings.filter(F.col("term") == phrase[0])
        .select("doc_id", F.col("pos").alias("p0"))
    )
    for i, word in enumerate(phrase[1:], start=1):
        nxt = postings.filter(F.col("term") == word).select(
            F.col("doc_id").alias("d_i"), F.col("pos").alias("p_i")
        )
        cur = cur.join(
            nxt,
            (F.col("doc_id") == F.col("d_i"))
            & (F.col("p_i") == F.col("p0") + i),
        ).select("doc_id", "p0")
    return cur.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_matches"))


#: The rule set of gopher_quality_rules, in bit order (bit i set in
#: ``fail_mask`` = rule i FAILED). Mirrors the document-level heuristics
#: of Rae et al. 2021 ("Scaling Language Models: ... Gopher", §A1.1) at
#: word granularity — the published rule family most LLM pipelines
#: (Gopher, MassiveText, Dolma, FineWeb) start from.
GOPHER_RULES: tuple[str, ...] = (
    "word_count",      # min_words <= n <= max_words
    "mean_word_len",   # 3 <= mean word length <= 10
    "symbol_ratio",    # '#' / '...' occurrences per word < 0.1
    "alpha_words",     # >= 80% of words contain an alphabetic char
    "stopword_hits",   # >= 2 distinct common function words present
)


def gopher_quality_rules(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher-style document quality rules with per-rule attribution.

    Unlike a single keep/drop score, each rule contributes one bit to
    ``fail_mask`` (bit order = ``GOPHER_RULES``), so a pipeline can report
    WHY documents were dropped and tune thresholds per source — the
    operational need the Gopher/Dolma papers call out. ``keep`` is true
    iff every rule passes.

    100 TB shape: pure map — every rule is a codegen expression over the
    doc's own text (word splits, one regexp count, one array HOF for the
    alpha/stopword tests); no shuffle, no UDF, trivially parallel. The
    stopword test uses the fixed 7-word English function-word profile
    (``STOPWORD_PROFILES['en']``) — production swaps in per-language
    profiles keyed by a lang column.

    Returns (id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
    stopword_hits, fail_mask, keep).
    """
    t = F.col(text_col)
    ws = F.split(t, " ")
    n_words = F.size(ws)
    mean_len = F.length(F.regexp_replace(t, " ", "")) / n_words
    symbol_ratio = (
        F.size(F.split(t, "#", -1)) - 1
        + F.size(F.split(t, r"\.\.\.", -1)) - 1
    ) / n_words
    alpha_ratio = (
        F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]")))
        / n_words
    )
    stop_hits = F.size(
        F.array_intersect(
            ws, F.array(*[F.lit(w) for w in STOPWORD_PROFILES["en"]])
        )
    )
    scored = docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.cast("double").alias("symbol_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        stop_hits.alias("stopword_hits"),
    )
    fails = [
        ~F.col("n_words").between(min_words, max_words),
        ~F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len),
        F.col("symbol_ratio") >= max_symbol_ratio,
        F.col("alpha_word_ratio") < min_alpha_word_ratio,
        F.col("stopword_hits") < min_stopword_hits,
    ]
    mask = None
    for i, cond in enumerate(fails):
        bit = F.when(cond, F.lit(1 << i)).otherwise(F.lit(0))
        mask = bit if mask is None else mask + bit
    return scored.select(
        "*",
        mask.cast("int").alias("fail_mask"),
    ).withColumn("keep", F.col("fail_mask") == 0)


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 15,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 ranking of ``docs`` against a bag of ``query_terms``:
    (doc_id, n_terms_hit, score_dec DECIMAL, rnk), top-``k`` documents.
    The retrieval scorer of Lucene/Elasticsearch and the lexical half of
    most RAG stacks (Robertson & Zaragoza 2009), expressed as two count
    aggregations and a broadcast of per-term statistics.

    Scale shape (100 TB corpus, handful of query terms):
    - Document lengths: ONE map-side-combined count keyed by doc — the
      text never shuffles, only (doc, long).
    - Term frequencies: the explode is filtered to the query terms BEFORE
      the aggregation, so the tf shuffle carries only matching postings
      (corpus-total occurrences of the query terms, not the corpus).
    - df/idf: aggregates the tf table down to |query_terms| rows —
      broadcast back, as is the single-row (N, avgdl) global reduction.
    - Per-doc score: decimal SUM over ≤|query_terms| partial scores,
      then one TakeOrderedAndProject top-k. Nothing quadratic, no UDFs.

    Determinism (the oracle must replay bit-for-bit): tf/df/dl/N are
    exact integers; avgdl and the length normalization are single
    correctly-rounded double ops written in the same shape as the oracle
    SQL; ln() — the one transcendental — is squeezed through
    DECIMAL(28,10) (the registry's decimal rule); per-term scores are
    summed as DECIMAL so partial-aggregation order cannot matter.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    words = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("wd"),
    ).filter(F.col("wd") != "")
    dl = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        words.filter(F.col("wd").isin(query_terms))
        .groupBy("doc_id", "wd")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("wd").agg(F.count(F.lit(1)).alias("df"))
    # idf = ln(1 + (N - df + 0.5) / (df + 0.5)), decimal-squeezed: Java's
    # Math.log may sit 1 ulp off libm's, so the raw value is not portable.
    idf = (
        df_t.crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            decimal_squeeze(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
            ),
        )
        .select("wd", "idf", "n_docs", "sum_dl")
    )
    scored = (
        tf.join(F.broadcast(idf), "wd")
        .join(dl, "doc_id")
        .withColumn(
            "avgdl", F.col("sum_dl").cast("double") / F.col("n_docs")
        )
        .withColumn(
            "term_score",
            # Literal arithmetic stays IN the plan (lit(k1) + lit(1.0),
            # not Python's k1 + 1.0): the oracle SQL spells the same
            # two-literal add, so both engines round the identical op —
            # a Python-side pre-add could differ by one ulp on ties.
            F.col("idf")
            * (
                (F.col("tf") * (F.lit(k1) + F.lit(1.0)))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        (F.lit(1.0) - F.lit(b))
                        + (F.lit(b) * F.col("dl")) / F.col("avgdl")
                    )
                )
            ),
        )
    )
    ranked = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_terms_hit"),
        F.sum(F.col("term_score").cast("decimal(28,10)")).alias("score_dec"),
    )
    # Global top-k as sort+limit (TakeOrderedAndProject: per-partition
    # heaps, no global sort, no unpartitioned window over the corpus);
    # the rank window then runs over exactly k rows.
    top = ranked.orderBy(F.desc("score_dec"), F.asc("doc_id")).limit(k)
    w = Window.partitionBy(single_partition_key("doc_id")).orderBy(
        F.desc("score_dec"), F.asc("doc_id")
    )
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "doc_id", "n_terms_hit", "score_dec", "rnk"
    )


#: Stand-in logistic-regression head for model-based quality filtering
#: (the FineWeb-Edu / DCLM pattern: a tiny classifier scores every doc,
#: the pipeline keeps those above a probability threshold). The weights
#: here are fixed, documented constants over the Gopher feature vector —
#: production swaps in a trained head; the PLUMBING (featurize -> linear
#: score -> sigmoid -> threshold, all codegen, zero UDFs) is the part
#: that must scale, and it is identical either way.
QUALITY_LOGREG_WEIGHTS: dict[str, float] = {
    "bias": -3.0,
    "log1p_n_words": 0.4,     # longer docs mildly favored (log-scaled)
    "mean_word_len": 0.15,    # natural prose sits ~4-6
    "alpha_word_ratio": 1.5,  # alphabetic text favored
    "stopword_hits": 0.5,     # function words = sentence structure
    "symbol_ratio": -8.0,     # #/... boilerplate strongly penalized
}


def quality_logreg_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Model-based quality scoring: a logistic-regression head over the
    Gopher feature vector — (id, n_words, quality_prob, kept). The
    classifier-filter stage of modern curation stacks, kept deterministic
    and dependency-free by fixing the weights (``QUALITY_LOGREG_WEIGHTS``).

    100 TB shape: pure map, exactly like ``gopher_quality_rules`` (whose
    featurization this reuses) — every feature, the dot product, and the
    sigmoid are codegen expressions over the doc's own text; no shuffle,
    no UDF, no model server in the hot path.

    Determinism: features are single correctly-rounded divisions of exact
    integers; both transcendentals (ln(1+n_words), exp(-z)) are squeezed
    through DECIMAL(28,10); the dot product accumulates left-to-right in
    the same literal order as the oracle SQL.

    Overflow guard: z is clamped at -40 before the sigmoid. Without it a
    symbol-heavy doc (symbol_ratio ≈ 5 ⇒ z ≈ -40+) makes exp(-z) exceed
    DECIMAL(28,10)'s 1e18 integer range — a job-killing
    NUMERIC_VALUE_OUT_OF_RANGE under ANSI, silent NULLs otherwise.
    sigmoid(-40) ≈ 4e-18 rounds to probability 0, so the clamp is
    value-invisible; exp(+large) is never a risk (it squeezes to decimal
    0 and the sigmoid saturates at 1). The oracle applies the identical
    GREATEST(z, -40.0).
    """
    w = QUALITY_LOGREG_WEIGHTS
    feats = gopher_quality_rules(docs, id_col=id_col, text_col=text_col)
    ln1w = decimal_squeeze(F.log(F.lit(1.0) + F.col("n_words")))
    z = (
        F.lit(w["bias"])
        + F.lit(w["log1p_n_words"]) * ln1w
        + F.lit(w["mean_word_len"]) * F.col("mean_word_len")
        + F.lit(w["alpha_word_ratio"]) * F.col("alpha_word_ratio")
        + F.lit(w["stopword_hits"]) * F.col("stopword_hits")
        + F.lit(w["symbol_ratio"]) * F.col("symbol_ratio")
    )
    z = F.greatest(z, F.lit(-40.0))
    prob = F.lit(1.0) / (F.lit(1.0) + decimal_squeeze(F.exp(-z)))
    return feats.select(
        F.col(id_col),
        F.col("n_words"),
        prob.alias("quality_prob"),
        (prob >= F.lit(threshold)).cast("int").alias("kept"),
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009):
    merge per-query rankings from heterogeneous retrievers into one list
    by score = Σ_r 1/(c + rank_r) — rank-level fusion, so a lexical BM25
    score and a dense cosine never need calibrating against each other
    (the hybrid-retrieval standard; c=60 is the paper's constant).

    Each input is a (q_id, n_id, rnk) frame — any retriever's top-k (the
    ANN operators in ``operators/similarity.py``, ``bm25_topk``'s rank
    output, ...). Returns (q_id, n_id, rrf_score, n_lists, rnk) — the
    fused per-query top-``k``, with ``n_lists`` = how many input
    rankings surfaced the candidate.

    Scale shape: inputs are top-k-bounded by construction (k x |queries|
    rows each), so the union + one hash aggregation + per-query window
    is all bounded work — fusion cost never depends on corpus size.
    Determinism: 1/(c + rnk) is one correctly-rounded double division of
    exact integers; contributions sum as DECIMAL(28,10) (order-free), so
    fused ranks are reproducible and oracle-gateable.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    u = rankings[0].select("q_id", "n_id", "rnk")
    for r in rankings[1:]:
        u = u.unionByName(r.select("q_id", "n_id", "rnk"))
    scored = u.groupBy("q_id", "n_id").agg(
        F.sum(
            (
                F.lit(1.0) / (F.lit(float(c)) + F.col("rnk").cast("double"))
            ).cast("decimal(28,10)")
        )
        .cast("double")
        .alias("rrf_score"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("rrf_score"), F.asc("n_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("q_id", "n_id", "rrf_score", "n_lists", "rnk")
    )
