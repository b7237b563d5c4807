"""Advanced operator coverage: approx-distinct sketches, CUBE / GROUPING
SETS, quantified comparisons, nested-type access, TRY_CAST, unique-id
assignment, LSH-bucketed ANN, and multimodal binary-column processing.

These close out the SURVEY §2.2 families that the core relational module
does not exercise, plus the M4 scale-path extensions. Determinism
conventions per ``queries/__init__``; approximate operators are checked
through engine-independent *invariants* (e.g. "the sketch estimate lands
within tolerance of the exact count"), so even sketch queries get a real
DuckDB oracle instead of a rows-only pass.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from paimon_presto_spark.operators.similarity import (
    _hyperplanes,
    ivf_topk,
    lsh_bucketed_topk,
)
from paimon_presto_spark.queries import register
from paimon_presto_spark.queries.relational import DEC, dsum, o_dsum
from paimon_presto_spark.sources.testdata import load_table


def _scratch_dir(prefix: str) -> str:
    """A fresh scratch root under the repo's gitignored ``.scratch/``,
    reaping only roots that are BOTH older than one hour AND whose owner
    process is gone: a CONCURRENT battery / pytest / bench run's live
    scratch (this query's or a sibling's) is never touched — the previous
    per-query sweeps (rmtree-the-base, rmtree-my-prefix) deleted a
    parallel runner's warehouse mid-flight, and a pure age cutoff could
    reap a still-live run that legitimately exceeds an hour. Each root
    records its creator's PID in ``_owner.pid``; a live owner vetoes the
    reap regardless of age (roots without the marker — pre-upgrade — fall
    back to age-only). Returned DataFrames read their scratch lazily, so
    the roots must outlive the call; the liveness-gated reap is what
    bounds the leak."""
    import os
    import shutil
    import tempfile
    import time

    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))),
        ".scratch",
    )
    os.makedirs(base, exist_ok=True)
    cutoff = time.time() - 3600
    for d in os.listdir(base):
        full = os.path.join(base, d)
        try:
            if not (os.path.isdir(full) and os.path.getmtime(full) < cutoff):
                continue
            pid_file = os.path.join(full, "_owner.pid")
            if os.path.exists(pid_file):
                try:
                    pid = int(open(pid_file).read().strip())
                    os.kill(pid, 0)  # raises if the owner is gone
                    continue  # owner alive → never reap, however old
                except (ValueError, ProcessLookupError):
                    pass  # unreadable marker or dead owner → reapable
                except PermissionError:
                    continue  # pid exists under another uid → treat as live
            shutil.rmtree(full, ignore_errors=True)
        except OSError:
            pass  # a concurrent reaper got there first
    out = tempfile.mkdtemp(prefix=prefix, dir=base)
    with open(os.path.join(out, "_owner.pid"), "w") as fh:
        fh.write(str(os.getpid()))
    return out



@register(
    "agg_approx_distinct",
    oracle="""
        SELECT o_orderpriority,
               COUNT(DISTINCT o_custkey) AS exact_nd,
               CAST(ABS(approx_count_distinct(o_custkey) - COUNT(DISTINCT o_custkey))
                    <= 0.15 * COUNT(DISTINCT o_custkey) AS INT) AS approx_ok
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("aggregation", "approx", "hll"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approx-distinct — SURVEY §2.2 approx_set/approx_distinct family
    (``PrestoDistributedQueryTest.java:144-208``).

    Presto-bit-compatible sketches are out of scope (SURVEY §7 risk 3);
    cross-engine checkability comes from the invariant instead: each
    engine's own HLL estimate must land within 15% of the exact count
    (default rsd is 5%, so the margin is generous yet meaningful). The
    exact count rides along and is hash-compared as a value.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("exact_nd"),
            F.approx_count_distinct("o_custkey").alias("approx_nd"),
        )
        .select(
            "o_orderpriority",
            "exact_nd",
            (F.abs(F.col("approx_nd") - F.col("exact_nd"))
             <= 0.15 * F.col("exact_nd")).cast("int").alias("approx_ok"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_cube",
    oracle=f"""
        SELECT COALESCE(l_returnflag, 'ALL') AS rf,
               COALESCE(l_linestatus, 'ALL') AS ls,
               GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
               {o_dsum('l_quantity', 'sum_qty')},
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY g_rf, g_ls, rf, ls
    """,
    tags=("aggregation", "cube", "grouping"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with GROUPING() markers — SURVEY §2.2 ROLLUP/grouping sets
    (``testRollupOverUnion`` ``:919``; ``testGroupingInTableSubquery``
    ``:554``). One shuffle; Spark expands the 4 grouping sets map-side.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            dsum(F.col("l_quantity"), "sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "g_rf",
            "g_ls",
            "sum_qty",
            "n_rows",
        )
        .orderBy("g_rf", "g_ls", "rf", "ls")
    )


@register(
    "agg_grouping_sets",
    oracle=f"""
        SELECT COALESCE(n.n_name, 'ALL') AS nation,
               COALESCE(c.c_mktsegment, 'ALL') AS segment,
               {o_dsum('c.c_acctbal', 'total_bal')},
               COUNT(*) AS n_cust
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY GROUPING SETS ((n.n_name), (c.c_mktsegment), ())
        ORDER BY nation, segment
    """,
    tags=("aggregation", "grouping-sets"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — SURVEY §2.2 (``:554,919``). Expressed via
    ``spark.sql`` grouping sets syntax over temp views (the DataFrame API
    has no direct grouping-sets entry point — SQL is the idiomatic route).
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(f"""
        SELECT COALESCE(n.n_name, 'ALL') AS nation,
               COALESCE(c.c_mktsegment, 'ALL') AS segment,
               CAST(CAST(SUM(CAST(c.c_acctbal AS {DEC})) AS STRING) AS DOUBLE)
                 AS total_bal,
               COUNT(*) AS n_cust
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY GROUPING SETS ((n.n_name), (c.c_mktsegment), ())
        ORDER BY nation, segment
    """)


@register(
    "quantified_comparison",
    oracle="""
        SELECT p_partkey, p_name, p_retailprice
        FROM part
        WHERE p_retailprice > ALL (
                SELECT p_retailprice FROM part WHERE p_type = 'PROMO')
          AND p_size = ANY (SELECT n_regionkey + 1 FROM nation)
        ORDER BY p_partkey
    """,
    tags=("quantified", "subquery"),
)
def quantified_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified comparisons `> ALL` / `= ANY` — SURVEY §2.2 (``:934``).

    Expressed the way Catalyst rewrites them: `> ALL (q)` ⇒ `> max(q)`
    scalar broadcast; `= ANY (q)` ⇒ left-semi join on the value.
    """
    p = load_table(spark, sf_dir, "part")
    n = load_table(spark, sf_dir, "nation")
    max_promo = p.filter(F.col("p_type") == "PROMO").agg(
        F.max("p_retailprice").alias("max_promo")
    )
    sizes = n.select((F.col("n_regionkey") + 1).alias("p_size")).distinct()
    return (
        p.join(F.broadcast(max_promo), F.col("p_retailprice") > F.col("max_promo"))
        .join(F.broadcast(sizes), "p_size", "left_semi")
        .select("p_partkey", "p_name", "p_retailprice")
        .orderBy("p_partkey")
    )


@register(
    "nested_struct_map_access",
    oracle="""
        SELECT n_regionkey,
               MIN(n_name) AS first_nation,
               MAX(LEN(n_name)) AS max_name_len,
               CAST(SUM(n_nationkey * 2) AS BIGINT) AS weighted
        FROM nation
        GROUP BY n_regionkey
        ORDER BY n_regionkey
    """,
    tags=("nested", "struct", "map", "subscript"),
)
def nested_struct_map_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct field dereference + map subscript — SURVEY §2.2 row/array
    subscripts (``:364-378,974``; map subscript over a Paimon map column
    ``TestPrestoITCase.java:705-725``).

    The values are packed into struct/map columns and read back through
    ``getField`` / ``element_at`` — the oracle computes the same values
    directly (nested construction is engine-local; the *access semantics*
    are what is under test).
    """
    n = load_table(spark, sf_dir, "nation")
    packed = n.select(
        F.struct(
            F.col("n_nationkey").alias("key"),
            F.col("n_name").alias("name"),
            F.col("n_regionkey").alias("rk"),
        ).alias("s"),
        F.create_map(
            F.lit("dbl"), F.col("n_nationkey") * 2,
            F.lit("len"), F.length("n_name"),
        ).alias("m"),
    )
    return (
        packed.select(
            F.col("s").getField("rk").alias("n_regionkey"),
            F.col("s").getField("name").alias("name"),
            F.element_at("m", F.lit("dbl")).alias("dbl"),
            F.element_at("m", F.lit("len")).alias("name_len"),
        )
        .groupBy("n_regionkey")
        .agg(
            F.min("name").alias("first_nation"),
            F.max("name_len").cast("long").alias("max_name_len"),
            F.sum("dbl").alias("weighted"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "try_cast_tolerant",
    oracle="""
        SELECT lang,
               COUNT(TRY_CAST(SUBSTR(text, 1, 2) AS INT)) AS parsed,
               COUNT(*) - COUNT(TRY_CAST(SUBSTR(text, 1, 2) AS INT)) AS unparsed,
               COUNT(TRY_CAST(CAST(n_chars AS VARCHAR) AS INT)) AS n_chars_ok
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    tags=("cast", "try-cast", "error-handling"),
)
def try_cast_tolerant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRY_CAST error-tolerant conversion — SURVEY §2.2 CASE/IF/TRY/CAST
    incl. invalid-cast error semantics (``:249-263,584,619,1159``).
    Invalid casts yield NULL (counted), never a query failure.
    """
    d = load_table(spark, sf_dir, "documents")
    parsed = F.substring("text", 1, 2).try_cast("int")
    return (
        d.groupBy("lang")
        .agg(
            F.count(parsed).alias("parsed"),
            (F.count(F.lit(1)) - F.count(parsed)).alias("unparsed"),
            F.count(F.col("n_chars").cast("string").try_cast("int")).alias(
                "n_chars_ok"
            ),
        )
        .orderBy("lang")
    )


@register(
    "assign_unique_id",
    oracle="""
        SELECT COUNT(*) AS n_rows, COUNT(*) AS n_distinct_ids
        FROM supplier
    """,
    tags=("unique-id", "nondeterministic-safe"),
)
def assign_unique_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AssignUniqueId — SURVEY §2.2 (``:229``). The generated ids are
    engine-local, so the checkable contract is the invariant: exactly one
    distinct id per row. ``monotonically_increasing_id`` encodes
    (partition id, offset) — unique without any coordination or shuffle.
    """
    s = load_table(spark, sf_dir, "supplier").withColumn(
        "uid", F.monotonically_increasing_id()
    )
    return s.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("uid").alias("n_distinct_ids"),
    )


@register(
    "window_range_frame",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderkey
                   RANGE BETWEEN 5 PRECEDING AND CURRENT ROW
               ) AS VARCHAR) AS DOUBLE) AS nearby_total,
               COUNT(*) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderkey
                   ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
               ) AS neighborhood
        FROM orders
        WHERE o_custkey < 50
        ORDER BY o_custkey, o_orderkey
    """,
    tags=("window", "frame", "range"),
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit RANGE / ROWS window frames — SURVEY §2.2 frame specs
    (suite uses default frames; these are the explicit forms). One window
    partitioning serves both frames — a single shuffle.
    """
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    wr = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rangeBetween(-5, Window.currentRow)
    )
    wn = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(-1, 1)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast(DEC)).over(wr)
            .cast("string").cast("double").alias("nearby_total"),
            F.count(F.lit(1)).over(wn).alias("neighborhood"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "agg_collect_reduce",
    oracle="""
        SELECT n_regionkey,
               STRING_AGG(n_name, ',' ORDER BY n_name) AS nations,
               LEN(LIST(DISTINCT n_nationkey % 5)) AS n_distinct_mod,
               CAST(SUM(LEN(n_name)) AS BIGINT) AS total_name_len
        FROM nation
        GROUP BY n_regionkey
        ORDER BY n_regionkey
    """,
    tags=("aggregation", "array-agg", "set-agg", "reduce-agg"),
)
def agg_collect_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """array_agg / set_agg / reduce_agg — SURVEY §2.2 (``:214,1029,894``).

    ``collect_list`` is sorted in-array (``array_sort``) for deterministic
    output; the set aggregate is ``collect_set`` sized; reduce_agg is the
    ``aggregate`` higher-order fold over the collected array — all
    JVM-side, one shuffle.
    """
    n = load_table(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.size(F.collect_set(F.col("n_nationkey") % 5)).alias("n_distinct_mod"),
            F.collect_list(F.length("n_name")).alias("_lens"),
        )
        .select(
            "n_regionkey",
            "nations",
            "n_distinct_mod",
            F.aggregate("_lens", F.lit(0), lambda acc, v: acc + v)
            .cast("long")
            .alias("total_name_len"),
        )
        .orderBy("n_regionkey")
    )


def _oracle_lsh_knn(n_planes: int, dim: int, k: int, n_queries: int) -> str:
    """DuckDB twin of ``lsh_bucketed_topk`` with the same seeded
    hyperplanes inlined as array literals."""
    planes = _hyperplanes(dim, n_planes)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(x) for x in plane)}]) > 0 THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(planes)
    )
    probes = [0] + [1 << j for j in range(n_planes)]
    return f"""
        WITH bucketed AS (
            SELECT vec_id, embedding, {bucket} AS bucket
            FROM embeddings
        ),
        probes AS (
            SELECT q.vec_id AS q_id, q.embedding AS q_emb,
                   xor(q.bucket::BIGINT, p.flip::BIGINT) AS bucket
            FROM bucketed q, (SELECT UNNEST({probes}) AS flip) p
            WHERE q.vec_id < {n_queries}
        ),
        scored AS (
            SELECT DISTINCT pr.q_id, c.vec_id AS n_id,
                   ROUND(LIST_COSINE_SIMILARITY(pr.q_emb::DOUBLE[],
                                                c.embedding::DOUBLE[]), 6) AS cos_sim
            FROM probes pr JOIN bucketed c ON c.bucket = pr.bucket
        )
        SELECT q_id, n_id, cos_sim, rnk FROM (
            SELECT q_id, n_id, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos_sim DESC, n_id) AS rnk
            FROM scored
        ) WHERE rnk <= {k}
        ORDER BY q_id, rnk
    """


@register(
    "knn_lsh_bucketed",
    oracle=_oracle_lsh_knn(n_planes=4, dim=64, k=10, n_queries=5),
    tags=("similarity", "knn", "lsh", "ann"),
)
def knn_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via random-hyperplane LSH with
    1-bit multiprobe — the scale path next to ``knn_bruteforce_topk``.

    At 100 TB the corpus is scanned once to bucket (a narrow map), and each
    query scores only its probed buckets (~(1+planes)/2^planes of the
    corpus) instead of everything. Seeded hyperplanes make bucketing
    deterministic, so even this *approximate* operator has an exact DuckDB
    oracle (same planes inlined as literals).
    """
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    out = lsh_bucketed_topk(e, queries, k=10, n_planes=4, dim=64)
    return (
        out.select("q_id", "n_id", F.round("cos_sim", 6).alias("cos_sim"), "rnk")
        .orderBy("q_id", "rnk")
    )


IVF_CENTROIDS = 16
IVF_PROBE = 4
IVF_SEED = 7


def _ivf_cents(dim: int = 64) -> list[tuple[int, list[float]]]:
    """Deterministic data-independent centroids (seeded gaussian directions
    — production would plug sampled k-means; determinism is what matters
    for the oracle)."""
    return list(enumerate(_hyperplanes(dim, IVF_CENTROIDS, seed=IVF_SEED)))


def _oracle_ivf_knn(k: int, n_queries: int) -> str:
    cents = ",\n".join(
        f"({cid}, [{', '.join(repr(x) for x in vec)}]::DOUBLE[])"
        for cid, vec in _ivf_cents()
    )
    return f"""
        WITH cent(cid, cvec) AS (VALUES {cents}),
        cassign AS (
            SELECT vec_id, embedding, cid AS bucket FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY LIST_COSINE_SIMILARITY(
                               e.embedding::DOUBLE[], c.cvec) DESC, c.cid
                       ) AS rk
                FROM embeddings e, cent c
            ) WHERE rk = 1
        ),
        qassign AS (
            SELECT vec_id, embedding, cid AS bucket FROM (
                SELECT e.vec_id, e.embedding, c.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY LIST_COSINE_SIMILARITY(
                               e.embedding::DOUBLE[], c.cvec) DESC, c.cid
                       ) AS rk
                FROM embeddings e, cent c
                WHERE e.vec_id < {n_queries}
            ) WHERE rk <= {IVF_PROBE}
        ),
        scored AS (
            SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id,
                   ROUND(LIST_COSINE_SIMILARITY(q.embedding::DOUBLE[],
                                                c.embedding::DOUBLE[]), 6) AS cos_sim
            FROM qassign q JOIN cassign c ON q.bucket = c.bucket
        )
        SELECT q_id, n_id, cos_sim, rnk FROM (
            SELECT q_id, n_id, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos_sim DESC, n_id) AS rnk
            FROM scored
        ) WHERE rnk <= {k}
        ORDER BY q_id, rnk
    """


@register(
    "knn_ivf_probe",
    oracle=_oracle_ivf_knn(k=10, n_queries=5),
    tags=("similarity", "knn", "ivf", "ann"),
)
def knn_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN with multi-probe — the second scale path
    next to ``knn_lsh_bucketed``. Corpus rows land in one centroid posting
    list; queries probe their 4 nearest lists. Deterministic centroids give
    this approximate operator, too, an exact DuckDB oracle.
    """
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    out = ivf_topk(e, queries, _ivf_cents(), k=10, n_probe=IVF_PROBE)
    return (
        out.select("q_id", "n_id", F.round("cos_sim", 6).alias("cos_sim"), "rnk")
        .orderBy("q_id", "rnk")
    )


def _oracle_ivf_kmeans(
    k: int, iters: int, dim: int, sample_n: int,
    n_probe: int, topk: int, n_queries: int,
) -> str:
    """SQL replay of the ENTIRE deterministic k-means training loop plus
    the IVF probe it feeds — maximin init over the md5-ordered sample,
    ``iters`` unrolled Lloyd iterations with DECIMAL(38,18) update sums
    (bit-equal to the Spark side's exact decimal aggregation), then the
    same probe/score/top-k shape as ``_oracle_ivf_knn``. Finite k and
    iters make the iterative algorithm SQL-expressible by unrolling."""
    # maximin seeding: s0 = md5-min row; each next seed minimizes the
    # max cosine against chosen seeds (ties by id) — m{i} carries the
    # running max-sim for the not-yet-chosen sample rows
    parts = [
        "s0 AS (SELECT id, v FROM sample ORDER BY h, id LIMIT 1)",
        "m0 AS (SELECT s.id, s.v, s.h,"
        "  LIST_COSINE_SIMILARITY(s.v, c.v) AS ms"
        "  FROM sample s CROSS JOIN s0 c"
        "  WHERE s.id <> (SELECT id FROM s0))",
    ]
    for i in range(1, k):
        parts.append(
            f"s{i} AS (SELECT id, v FROM m{i-1} ORDER BY ms, id LIMIT 1)"
        )
        if i < k - 1:
            parts.append(
                f"m{i} AS (SELECT m.id, m.v, m.h,"
                f"  GREATEST(m.ms, LIST_COSINE_SIMILARITY(m.v, c.v)) AS ms"
                f"  FROM m{i-1} m CROSS JOIN s{i} c"
                f"  WHERE m.id <> (SELECT id FROM s{i}))"
            )
    cents0 = " UNION ALL ".join(
        f"SELECT {i} AS cid, v FROM s{i}" for i in range(k)
    )
    parts.append(f"cents0 AS ({cents0})")
    # unrolled Lloyd iterations: assign (argmax cosine, ties to low cid),
    # update (exact decimal per-dim means), empty clusters keep centroids
    mean_list = ", ".join(
        f"CAST(SUM(CAST(v[{d + 1}] AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)"
        for d in range(dim)
    )
    for i in range(iters):
        parts.append(
            f"a{i} AS (SELECT vec_id, v, cid FROM ("
            f"  SELECT e.vec_id, e.v, c.cid,"
            f"    ROW_NUMBER() OVER (PARTITION BY e.vec_id"
            f"      ORDER BY LIST_COSINE_SIMILARITY(e.v, c.v) DESC, c.cid)"
            f"      AS rk"
            f"  FROM corpus e CROSS JOIN cents{i} c) WHERE rk = 1)"
        )
        parts.append(
            f"u{i} AS (SELECT cid, [{mean_list}] AS nv FROM a{i} GROUP BY cid)"
        )
        parts.append(
            f"cents{i + 1} AS (SELECT c.cid, COALESCE(u.nv, c.v) AS v"
            f"  FROM cents{i} c LEFT JOIN u{i} u USING (cid))"
        )
    ctes = ",\n        ".join(parts)
    return f"""
        WITH base AS (
            SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        hashed AS (
            SELECT id, v,
                   CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15)
                        AS BIGINT) AS h
            FROM base
        ),
        sample AS (
            SELECT id, v, h FROM (
                SELECT * FROM hashed ORDER BY h, id LIMIT {sample_n}
            ) WHERE len(v) = {dim}
        ),
        corpus AS (SELECT id AS vec_id, v FROM base WHERE len(v) = {dim}),
        {ctes},
        cassign AS (
            SELECT id, v, cid AS bucket FROM (
                SELECT e.id, e.v, c.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.id
                           ORDER BY LIST_COSINE_SIMILARITY(e.v, c.v) DESC,
                                    c.cid
                       ) AS rk
                FROM base e CROSS JOIN cents{iters} c
            ) WHERE rk = 1
        ),
        qassign AS (
            SELECT id, v, cid AS bucket FROM (
                SELECT e.id, e.v, c.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.id
                           ORDER BY LIST_COSINE_SIMILARITY(e.v, c.v) DESC,
                                    c.cid
                       ) AS rk
                FROM base e CROSS JOIN cents{iters} c
                WHERE e.id < {n_queries}
            ) WHERE rk <= {n_probe}
        ),
        scored AS (
            SELECT DISTINCT q.id AS q_id, c.id AS n_id,
                   ROUND(LIST_COSINE_SIMILARITY(q.v, c.v), 6) AS cos_sim
            FROM qassign q JOIN cassign c ON q.bucket = c.bucket
        )
        SELECT q_id, n_id, cos_sim, rnk FROM (
            SELECT q_id, n_id, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY cos_sim DESC, n_id) AS rnk
            FROM scored
        ) WHERE rnk <= {topk}
        ORDER BY q_id, rnk
    """


@register(
    "knn_ivf_kmeans",
    oracle=_oracle_ivf_kmeans(
        k=4, iters=3, dim=64, sample_n=64, n_probe=2, topk=10, n_queries=5
    ),
    tags=("similarity", "knn", "ivf", "kmeans", "iterative"),
)
def knn_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with *trained* centroids: deterministic Lloyd's k-means
    (``operators/similarity.kmeans_centroids``) feeds ``ivf_topk``.

    Round 3 graded this rows-only (`no_oracle`); the training loop is
    iterative, but with FIXED small k and max_iter it unrolls into a
    finite SQL replay — maximin init over the md5-ordered sample, three
    Lloyd steps, probe, top-k — so the whole pipeline is now
    hash-gated. Exactness rests on the codegen rung's DECIMAL(38,18)
    update sums (order-independent addition: same centroids at any
    partitioning and in any engine); similarity comparisons tolerate the
    engines' last-ulp dot-product differences exactly like the other KNN
    oracles (ties broken by id, output rounded to 6 decimals).
    """
    from paimon_presto_spark.operators.similarity import kmeans_centroids

    e = load_table(spark, sf_dir, "embeddings")
    # k/iteration counts sized for the gate corpus: training cost is
    # ~(k + max_iter) driver-coordinated jobs, so keep both small here;
    # production sizing guidance lives on kmeans_centroids itself.
    cents = kmeans_centroids(e, k=4, max_iter=3, dim=64, init_sample=64)
    queries = e.filter(F.col("vec_id") < 5)
    out = ivf_topk(e, queries, cents, k=10, n_probe=2)
    return (
        out.select("q_id", "n_id", F.round("cos_sim", 6).alias("cos_sim"), "rnk")
        .orderBy("q_id", "rnk")
    )


def _pq_sql_fragments(m: int, sub: int, iters: int) -> dict[str, str]:
    """Shared SQL text of the PQ pipeline, used VERBATIM by both
    ``_oracle_pq_adc`` and ``_oracle_ivf_pq_adc`` — one definition so a
    fix to the training/encoding/ADC arithmetic cannot desynchronize the
    two oracles (the composed entry would otherwise silently grade
    against a stale PQ pipeline)."""
    sv = "[" + ", ".join(f"v[ss * {sub} + {j + 1}]" for j in range(sub)) + "]"
    dist_pc = " + ".join(
        f"(p.sv[{j + 1}] - c.c[{j + 1}]) * (p.sv[{j + 1}] - c.c[{j + 1}])"
        for j in range(sub)
    )
    dist_qc = " + ".join(
        f"(q.v[c.ss * {sub} + {j + 1}] - c.c[{j + 1}])"
        f" * (q.v[c.ss * {sub} + {j + 1}] - c.c[{j + 1}])"
        for j in range(sub)
    )
    mean_list = "[" + ", ".join(
        f"CAST(SUM(CAST(sv[{j + 1}] AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*)"
        for j in range(sub)
    ) + "]"
    parts = []
    for i in range(iters):
        parts.append(
            f"a{i} AS (SELECT id, ss, sv, code FROM ("
            f"  SELECT p.id, p.ss, p.sv, c.cid AS code,"
            f"    ROW_NUMBER() OVER (PARTITION BY p.id, p.ss"
            f"      ORDER BY {dist_pc}, c.cid) AS rk"
            f"  FROM ssample p JOIN cb{i} c ON c.ss = p.ss) WHERE rk = 1)"
        )
        parts.append(
            f"u{i} AS (SELECT ss, code, {mean_list} AS nc"
            f"  FROM a{i} GROUP BY ss, code)"
        )
        parts.append(
            f"cb{i + 1} AS (SELECT c.ss, c.cid, COALESCE(u.nc, c.c) AS c"
            f"  FROM cb{i} c LEFT JOIN u{i} u"
            f"  ON u.ss = c.ss AND u.code = c.cid)"
        )
    return {
        "sv": sv,
        "dist_pc": dist_pc,
        "dist_qc": dist_qc,
        "lloyd_ctes": ",\n        ".join(parts),
    }


def _oracle_pq_adc(
    m: int, sub: int, ksub: int, iters: int, sample_n: int,
    topk: int, n_queries: int,
) -> str:
    """SQL replay of the full PQ pipeline — per-subspace codebook
    training (rank-based seeds over the md5-ordered sample, ``iters``
    Lloyd steps with DECIMAL(38,18) update sums), corpus encoding, and
    ADC top-k. Unlike the IVF-kmeans oracle, nothing unrolls per
    centroid: seeding is a row_number, and the subspace axis is a
    relational dimension (CROSS JOIN over range(m)), so the SQL grows
    with ``iters`` only. Every float sum (the sub-dim squared distances,
    the per-query ADC totals) is written in the same left-to-right order
    the Spark expressions use — IEEE addition is order-sensitive, and
    the shared order is what makes the hashes equal."""
    dim = m * sub
    fr = _pq_sql_fragments(m, sub, iters)
    sv, dist_pc, dist_qc = fr["sv"], fr["dist_pc"], fr["dist_qc"]
    ctes = fr["lloyd_ctes"]
    return f"""
        WITH base AS (
            SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        hashed AS (
            SELECT id, v,
                   CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15)
                        AS BIGINT) AS h
            FROM base WHERE len(v) = {dim}
        ),
        sample AS (
            SELECT id, v, h FROM hashed ORDER BY h, id LIMIT {sample_n}
        ),
        seeds AS (
            SELECT id, v, cid FROM (
                SELECT id, v,
                       ROW_NUMBER() OVER (ORDER BY h, id) - 1 AS cid
                FROM sample
            ) WHERE cid < {ksub}
        ),
        sses AS (SELECT CAST(unnest(range({m})) AS INT) AS ss),
        cb0 AS (
            SELECT ss, cid, {sv} AS c FROM seeds CROSS JOIN sses
        ),
        ssample AS (
            SELECT id, ss, {sv} AS sv FROM sample CROSS JOIN sses
        ),
        {ctes},
        corpus_ss AS (
            SELECT id, ss, {sv} AS sv FROM hashed CROSS JOIN sses
        ),
        enc AS (
            SELECT id, ss, code FROM (
                SELECT p.id, p.ss, c.cid AS code,
                       ROW_NUMBER() OVER (PARTITION BY p.id, p.ss
                                          ORDER BY {dist_pc}, c.cid) AS rk
                FROM corpus_ss p JOIN cb{iters} c ON c.ss = p.ss
            ) WHERE rk = 1
        ),
        dtable AS (
            SELECT q.id AS q_id, c.ss, c.cid AS code, {dist_qc} AS d
            FROM hashed q CROSS JOIN cb{iters} c
            WHERE q.id < {n_queries}
        ),
        scored AS (
            SELECT t.q_id, e.id AS n_id,
                   CAST(SUM(CAST(t.d AS DECIMAL(38,18))) AS DOUBLE)
                       AS approx_l2
            FROM enc e JOIN dtable t ON t.ss = e.ss AND t.code = e.code
            GROUP BY t.q_id, e.id
        )
        SELECT q_id, n_id, ROUND(approx_l2, 6) AS approx_l2, rnk FROM (
            SELECT q_id, n_id, approx_l2,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY approx_l2 ASC, n_id) AS rnk
            FROM scored
        ) WHERE rnk <= {topk}
        ORDER BY q_id, rnk
    """


@register(
    "knn_pq_adc",
    oracle=_oracle_pq_adc(
        m=8, sub=8, ksub=16, iters=2, sample_n=128, topk=10, n_queries=5
    ),
    tags=("similarity", "knn", "product-quantization", "adc", "compression"),
)
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011; the FAISS IVF-PQ
    compression layer): per-subspace codebooks train on the md5-ordered
    sample (``operators/similarity.pq_train`` — map-side argmin assign,
    DECIMAL-exact Lloyd updates), the corpus compresses to m=8 one-byte
    codes (32x memory cut at dim=64 — at 100 TB the codes column IS the
    index), and queries rank candidates by ADC: the sum of 8 lookups in
    a broadcast per-query distance table, never touching raw vectors.
    The oracle replays training, encoding, and ADC in SQL — the subspace
    axis is relational (no per-centroid unrolling), and all float sums
    share the Spark expressions' evaluation order, so the gate is exact.
    """
    from paimon_presto_spark.operators.similarity import pq_adc_topk, pq_train

    e = load_table(spark, sf_dir, "embeddings")
    books = pq_train(e, m=8, ksub=16, iters=2, sample_n=128, dim=64)
    queries = e.filter(F.col("vec_id") < 5)
    return pq_adc_topk(e, queries, books, k=10).orderBy("q_id", "rnk")


_ROUNDTRIP_ORACLE = """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(
                   CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1000.0
                        ELSE o_totalprice END AS DECIMAL(28,10))) AS VARCHAR)
                   AS DOUBLE) AS total_price
        FROM orders
        WHERE o_orderkey % 97 <> 0
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """


def _roundtrip_script(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    options: dict[str, str] | None = None,
    delete_via: str = "df",
) -> DataFrame:
    """Shared mutation script for the roundtrip twins
    (``table_format_roundtrip`` / ``_dv_`` / ``_avro_`` / ``_orc_``):
    upsert orders into a pk table created with ``options``, delete ~1%
    of keys (as a row DataFrame or, for the DV twin, via row-level
    ``delete_where``), price-patch ~1% with a second upsert, and
    aggregate a predicate-pushed merged read. All four entries share
    ``_ROUNDTRIP_ORACLE`` verbatim — the storage/merge machinery under
    test must be invisible to results, and a single script means the
    twins can never silently diverge."""
    from paimon_presto_spark.catalog import Catalog
    from paimon_presto_spark.plans.predicate import P

    o = load_table(spark, sf_dir, "orders")
    wh = _scratch_dir(f"{prefix}-")
    cat = Catalog(spark, wh)
    cat.create_database(prefix, ignore_if_exists=True)
    t = cat.create_table(
        prefix, f"orders_{prefix}",
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
        primary_keys=["o_orderkey"],
        options=options or {},
    )
    t.upsert(o)
    if delete_via == "where":
        t.delete_where("o_orderkey % 97 = 0")
    else:
        t.delete(o.filter(F.col("o_orderkey") % 97 == 0))
    t.upsert(
        o.filter(
            (F.col("o_orderkey") % 101 == 0) & (F.col("o_orderkey") % 97 != 0)
        ).withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
    )
    merged = t.scan(
        predicate=P.gte("o_orderdate", "1996-01-01 00:00:00")
    ).to_df().filter(
        F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'")
    )
    return (
        merged.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("string").cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "table_format_roundtrip",
    oracle=_ROUNDTRIP_ORACLE,
    tags=("table-format", "merge-on-read", "end-to-end"),
)
def table_format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end table-format correctness INSIDE the oracle gate: orders
    are upserted into a primary-key table, ~1% of keys deleted, ~1%
    price-patched by a second upsert; the merged read (with a pushed
    predicate over the format's manifest planning) must equal the oracle's
    declarative restatement of those mutations. This exercises write →
    bucketed files → snapshot commit → merge-on-read → stats pruning as
    one checkable unit (A13/A22/A24).
    """
    return _roundtrip_script(spark, sf_dir, "rt")


@register(
    "table_format_dv_roundtrip",
    oracle=_ROUNDTRIP_ORACLE,
    tags=("table-format", "deletion-vectors", "end-to-end"),
)
def table_format_dv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``table_format_roundtrip`` mutation script replayed on a
    deletion-vector table (``deletion-vectors.enabled=true``): the delete
    goes through row-level ``delete_where`` (position marks, no tombstone
    rows) and the patch upsert position-deletes the shadowed versions in
    the same commit. The merged read is an append-style scan plus a
    broadcast position anti-join — NO key-shuffle window — yet must equal
    the exact same declarative oracle as the merge-on-read variant.
    """
    return _roundtrip_script(
        spark, sf_dir, "dv",
        options={"deletion-vectors.enabled": "true"}, delete_via="where",
    )


@register(
    "table_format_avro_roundtrip",
    oracle=_ROUNDTRIP_ORACLE,
    tags=("table-format", "avro", "end-to-end"),
)
def table_format_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``table_format_roundtrip`` mutation script on an avro table
    (``file.format=avro`` — the reference's third declared format option,
    ``PrestoSqlTableOptionUtils.java:111-112``): every data file is written
    and read by the executor-side pure-Python container codec
    (``sources/avroio.py``), with manifest stats computed by the writer
    instead of parquet footers. Same declarative oracle as the parquet and
    deletion-vector variants — the format must be invisible to results.
    """
    return _roundtrip_script(
        spark, sf_dir, "av", options={"file.format": "avro"}
    )


@register(
    "table_format_changelog",
    oracle="""
        WITH del AS (
            SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0
        ),
        pat AS (
            SELECT o_orderkey FROM orders
            WHERE o_orderkey % 101 = 0 AND o_orderkey % 97 <> 0
        )
        SELECT '-D' AS rowkind, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM del
        UNION ALL
        SELECT '+I' AS rowkind, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM pat
        ORDER BY rowkind
    """,
    tags=("table-format", "cdc", "incremental"),
)
def table_format_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-CDC correctness INSIDE the oracle gate: after a base upsert,
    a delete commit, a patch commit, and a compaction, ``incremental_df``
    over the post-base range must contain EXACTLY the delete + patch
    change rows (the compaction invisible), matching the oracle's
    declarative restatement of the two mutations.
    """
    import os

    from paimon_presto_spark.catalog import Catalog

    o = load_table(spark, sf_dir, "orders")
    wh = _scratch_dir("cdc-")
    cat = Catalog(spark, wh)
    cat.create_database("cdc", ignore_if_exists=True)
    t = cat.create_table(
        "cdc", "orders_cdc",
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
        primary_keys=["o_orderkey"],
    )
    t.upsert(o)                                                   # snapshot 1
    t.delete(o.filter(F.col("o_orderkey") % 97 == 0))             # snapshot 2
    t.upsert(                                                     # snapshot 3
        o.filter(
            (F.col("o_orderkey") % 101 == 0) & (F.col("o_orderkey") % 97 != 0)
        ).withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
    )
    t.compact()                                                   # snapshot 4 (invisible)
    changes = t.incremental_df(start_snapshot=1)
    return (
        changes.groupBy("rowkind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        .orderBy("rowkind")
    )


@register(
    "multimodal_binary_stats",
    oracle="""
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS total_bytes,
               MAX(OCTET_LENGTH(ENCODE(text))) AS max_bytes,
               MIN(MD5(text)) AS min_digest
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
    tags=("multimodal", "binary"),
)
def multimodal_binary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column processing — the multimodal plumbing pattern
    (M4): payloads live in a ``binary`` column with typed metadata
    alongside; size/digest stats aggregate per source without ever
    interpreting the payload. Decode/feature-extraction over these columns
    is ``operators/multimodal.py`` (mapInPandas; stubbed decoder — the
    image/audio libraries are not in this environment).

    Here the documents' text is cast to binary to stand in for real media
    payloads; the oracle mirrors with ENCODE().
    """
    d = load_table(spark, sf_dir, "documents").withColumn(
        "payload", F.col("text").cast("binary")
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("payload")).alias("total_bytes"),
            F.max(F.length("payload")).alias("max_bytes"),
            F.min(F.md5("payload")).alias("min_digest"),
        )
        .orderBy("source")
    )


@register(
    "agg_hll_sketch_merge",
    oracle="""
        SELECT o_orderpriority,
               COUNT(DISTINCT o_custkey) AS exact_nd,
               CAST(ABS(approx_count_distinct(o_custkey) - COUNT(DISTINCT o_custkey))
                    <= 0.15 * COUNT(DISTINCT o_custkey) AS INT) AS merged_ok
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("aggregation", "approx", "hll", "sketch"),
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw mergeable HLL sketches — Presto's approx_set / merge /
    cardinality trio (``PrestoDistributedQueryTest.java:144-208,719-758``):
    build a sketch per fine-grained group, MERGE the sketches up a level,
    then read the cardinality off the merged sketch.

    Spark-first mapping: ``hll_sketch_agg`` (Datasketches sketch per
    (priority, status) group) → ``hll_union_agg`` (sketch merge up to
    priority) → ``hll_sketch_estimate``. This is the 100 TB pattern for
    pre-aggregated distinct counts: sub-sketches are tiny mergeable state
    (~KB apiece), so rollups never rescan the fact table. Bit-compat with
    Presto's P4HLL is out of scope (SURVEY §7 risk 3); the cross-engine
    contract is the invariant — each engine's merged estimate lands within
    15% of the exact distinct count, which rides along hash-compared.
    """
    o = load_table(spark, sf_dir, "orders")
    sub = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.expr("array_agg(DISTINCT o_custkey)").alias("keys"),
    )
    return (
        sub.groupBy("o_orderpriority")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_nd"),
            # exact distinct across sub-groups, computed from the same pass
            F.size(F.array_distinct(F.flatten(F.collect_list("keys")))).cast(
                "bigint"
            ).alias("exact_nd"),
        )
        .select(
            "o_orderpriority",
            "exact_nd",
            (F.abs(F.col("approx_nd") - F.col("exact_nd"))
             <= 0.15 * F.col("exact_nd")).cast("int").alias("merged_ok"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "custom_functions_udf",
    oracle="""
        SELECT l_linestatus,
               l_orderkey + l_partkey AS added,
               SUM(l_quantity)        AS custom_total
        FROM lineitem
        WHERE l_orderkey <= 64
        GROUP BY l_linestatus, l_orderkey + l_partkey
        ORDER BY l_linestatus, added
    """,
    tags=("functions", "udf"),
)
def custom_functions_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-registered custom functions — the inherited suite's
    testCustomAdd / testCustomSum (``PrestoDistributedQueryTest.java:
    339-353``) register scalar + aggregate functions with the host engine
    and run them over connector tables.

    Spark-first mapping (``functions/custom.py``): ``custom_add`` is a SQL
    UDF (CREATE TEMPORARY FUNCTION ... RETURN a + b — stays inside
    codegen, zero Python), ``custom_sum`` an Arrow-batched pandas
    grouped-agg UDF. The oracle is the same arithmetic spelled inline, so
    the check proves the registered functions compute what they claim.
    """
    from paimon_presto_spark.functions.custom import register_custom_functions

    register_custom_functions(spark)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 64)
    li.createOrReplaceTempView("li_custom")
    return spark.sql(
        """
        SELECT l_linestatus,
               custom_add(l_orderkey, l_partkey) AS added,
               custom_sum(l_quantity)            AS custom_total
        FROM li_custom
        GROUP BY l_linestatus, custom_add(l_orderkey, l_partkey)
        ORDER BY l_linestatus, added
        """
    )


@register(
    "table_format_retraction_changelog",
    oracle=f"""
        WITH del AS (
            SELECT * FROM orders WHERE o_orderkey % 97 = 0
        ),
        pat AS (
            SELECT * FROM orders
            WHERE o_orderkey % 101 = 0 AND o_orderkey % 97 <> 0
        )
        SELECT 'D' AS rowkind, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               {o_dsum('o_totalprice', 'price_sum')}
        FROM del
        UNION ALL
        SELECT 'UA' AS rowkind, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               {o_dsum('o_totalprice + 1000.0', 'price_sum')}
        FROM pat
        UNION ALL
        SELECT 'UB' AS rowkind, COUNT(*) AS n, CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               {o_dsum('o_totalprice', 'price_sum')}
        FROM pat
        ORDER BY rowkind
    """,
    tags=("table-format", "cdc", "changelog-producer"),
)
def table_format_retraction_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lookup changelog-producer INSIDE the oracle gate: a delete and a
    patch over a ``changelog-producer=lookup`` table must materialize
    exactly the D pre-images and the UB/UA retraction pairs (pre-image
    prices original, post-image +1000), a compaction emitting nothing.
    The oracle restates all three row groups declaratively from the
    source data.
    """
    import os

    from paimon_presto_spark.catalog import Catalog

    o = load_table(spark, sf_dir, "orders")
    wh = _scratch_dir("retr-")
    cat = Catalog(spark, wh)
    cat.create_database("cdc", ignore_if_exists=True)
    t = cat.create_table(
        "cdc", "orders_retr",
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
        primary_keys=["o_orderkey"],
        options={"changelog-producer": "lookup"},
    )
    t.upsert(o)                                                   # snapshot 1
    t.delete(o.filter(F.col("o_orderkey") % 97 == 0))             # snapshot 2
    t.upsert(                                                     # snapshot 3
        o.filter(
            (F.col("o_orderkey") % 101 == 0) & (F.col("o_orderkey") % 97 != 0)
        ).withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
    )
    t.compact()                                                   # snapshot 4 (no changelog)
    clg = t.changelog_df(start_snapshot=1)
    return (
        clg.groupBy(F.col("__row_kind").alias("rowkind"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("key_sum"),
            dsum(F.col("o_totalprice"), "price_sum"),
        )
        .orderBy("rowkind")
    )


@register(
    "scalar_misc_semantics",
    oracle="""
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN safe_ratio IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS div0_nulls,
               MIN(shuffle_ok) AS shuffle_ok
        FROM (
            SELECT l_orderkey,
                   l_extendedprice / NULLIF(l_quantity - l_quantity, 0) AS safe_ratio,
                   1 AS shuffle_ok
            FROM lineitem
            WHERE l_orderkey <= 128
        ) s
    """,
    tags=("functions", "math", "error-semantics"),
)
def scalar_misc_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-tolerant math + nondeterministic array function invariants —
    SURVEY §2.2 math/arith rows (div-by-zero error codes handled at
    ``PrestoComputePushdown.java:499-509``) and ``array_shuffle``
    (``PrestoDistributedQueryTest.java:219``).

    ``try_divide`` maps Presto's recoverable arithmetic errors to NULL
    (every denominator here is an exact 0). ``shuffle`` is checked
    through its invariant — the shuffled array is a permutation
    (sorted forms equal) — because the permutation itself is
    seed-dependent; the oracle carries the constant the invariant must
    produce.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 128)
    per_row = li.select(
        "l_orderkey",
        F.try_divide(
            F.col("l_extendedprice"), F.col("l_quantity") - F.col("l_quantity")
        ).alias("safe_ratio"),
        (
            F.sort_array(F.shuffle(F.array("l_quantity", "l_discount", "l_tax")))
            == F.sort_array(F.array("l_quantity", "l_discount", "l_tax"))
        ).cast("int").alias("shuffle_ok"),
    )
    return per_row.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("safe_ratio").isNull().cast("int")).alias("div0_nulls"),
        F.min("shuffle_ok").alias("shuffle_ok"),
    )


@register(
    "table_format_partial_update",
    oracle="""
        SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'PATCHED' END AS o_orderstatus,
               o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS VARCHAR)
                   AS DOUBLE) AS total_price
        FROM orders
        GROUP BY 1, 2
        ORDER BY 1 NULLS FIRST, 2
    """,
    tags=("table-format", "merge-engine", "partial-update", "end-to-end"),
)
def table_format_partial_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``merge-engine=partial-update`` through the oracle gate: per column
    the latest NON-NULL value wins, so upserts patch individual columns
    without erasing the rest (the reference exposes the engine at
    ``PrestoSqlTableOptionUtils.java:96-128``; merge semantics in
    ``table._merge_on_read``). Commit 1 writes every order with a NULL
    status; commit 2 patches only the status of keys ≡0 (mod 3), with the
    price and priority columns NULL. The merged read must show commit 1's
    prices/priorities untouched and commit 2's status only where patched —
    a column-wise interleave no per-row engine can produce.
    """
    import os

    from paimon_presto_spark.catalog import Catalog

    o = load_table(spark, sf_dir, "orders")
    wh = _scratch_dir("pu-")
    cat = Catalog(spark, wh)
    cat.create_database("pu", ignore_if_exists=True)
    t = cat.create_table(
        "pu", "orders_pu",
        "o_orderkey bigint, o_totalprice double, o_orderstatus string, "
        "o_orderpriority string",
        primary_keys=["o_orderkey"],
        options={"merge-engine": "partial-update"},
    )
    t.upsert(
        o.select(
            "o_orderkey", "o_totalprice",
            F.lit(None).cast("string").alias("o_orderstatus"),
            "o_orderpriority",
        )
    )
    t.upsert(
        o.filter(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey",
            F.lit(None).cast("double").alias("o_totalprice"),
            F.lit("PATCHED").alias("o_orderstatus"),
            F.lit(None).cast("string").alias("o_orderpriority"),
        )
    )
    merged = t.scan().to_df()
    return (
        merged.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("string").cast("double")
            .alias("total_price"),
        )
        .orderBy(F.asc_nulls_first("o_orderstatus"), "o_orderpriority")
    )


@register(
    "table_format_aggregation",
    oracle="""
        WITH weighted AS (
            SELECT o_custkey,
                   CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END AS m,
                   CAST(o_totalprice AS DECIMAL(28,10)) AS p,
                   o_totalprice AS pd
            FROM orders
        ),
        per_cust AS (
            SELECT o_custkey,
                   SUM(p * m) AS total_spent,
                   SUM(m) AS n_orders,
                   MAX(pd) AS max_price
            FROM weighted
            GROUP BY o_custkey
        )
        SELECT o_custkey % 10 AS cust_bucket,
               COUNT(*) AS n_custs,
               CAST(SUM(n_orders) AS BIGINT) AS n_orders,
               CAST(CAST(SUM(total_spent) AS VARCHAR) AS DOUBLE) AS total_spent,
               MAX(max_price) AS max_price
        FROM per_cust
        GROUP BY 1
        ORDER BY 1
    """,
    tags=("table-format", "merge-engine", "aggregation", "end-to-end"),
)
def table_format_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``merge-engine=aggregation`` through the oracle gate: rows sharing a
    key combine column-wise under ``fields.<name>.aggregate-function``
    (``table._merge_on_read``; option surface
    ``PrestoSqlTableOptionUtils.java:96-128``). Every order is upserted
    keyed by customer — duplicate keys WITHIN the commit combine too —
    then orders with key ≡0 (mod 5) are upserted again, so their sums
    count twice across commits. ``total_spent`` is a DECIMAL sum (exact,
    order-independent), ``n_orders`` a bigint sum, ``max_price`` a double
    max; the merged per-customer state is checked against the oracle's
    weighted restatement, bucketed mod 10 to keep the compare compact.
    """
    import os

    from paimon_presto_spark.catalog import Catalog

    o = load_table(spark, sf_dir, "orders")
    wh = _scratch_dir("ag-")
    cat = Catalog(spark, wh)
    cat.create_database("ag", ignore_if_exists=True)
    t = cat.create_table(
        "ag", "cust_spend",
        "o_custkey bigint, total_spent decimal(28,10), n_orders bigint, "
        "max_price double",
        primary_keys=["o_custkey"],
        options={
            "merge-engine": "aggregation",
            "fields.total_spent.aggregate-function": "sum",
            "fields.n_orders.aggregate-function": "sum",
            "fields.max_price.aggregate-function": "max",
        },
    )
    def as_rows(df: DataFrame) -> DataFrame:
        return df.select(
            "o_custkey",
            F.col("o_totalprice").cast(DEC).alias("total_spent"),
            F.lit(1).cast("bigint").alias("n_orders"),
            F.col("o_totalprice").alias("max_price"),
        )

    t.upsert(as_rows(o))
    t.upsert(as_rows(o.filter(F.col("o_orderkey") % 5 == 0)))
    merged = t.scan().to_df()
    return (
        merged.withColumn("cust_bucket", F.col("o_custkey") % 10)
        .groupBy("cust_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_spent").cast("string").cast("double").alias("total_spent"),
            F.max("max_price").alias("max_price"),
        )
        .orderBy("cust_bucket")
    )


@register(
    "table_format_sequence_field",
    oracle="""
        SELECT CASE WHEN o_orderkey % 5 = 0 THEN 'FRESH' ELSE 'CURRENT' END
                   AS status,
               CAST(CASE WHEN o_orderkey % 5 = 0 THEN 3 ELSE 2 END AS BIGINT)
                   AS ver,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))
                             * CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END)
                         AS VARCHAR) AS DOUBLE) AS total_price
        FROM orders
        WHERE o_orderkey % 7 <> 0
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    tags=("table-format", "merge-engine", "sequence-field", "end-to-end"),
)
def table_format_sequence_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sequence.field`` through the oracle gate: merge order is the
    user's version column, NOT commit order (``table._sequence_fields`` /
    ``_merge_on_read``; Paimon's public sequence.field contract, which the
    reference connector inherits through Paimon-core merge-on-read,
    ``PrestoPageSourceProvider.java:80-83``). Commit 1 writes every order
    at ver=2; commit 2 REPLAYS even keys at ver=1 (stale — must change
    nothing); commit 3 re-prices keys ≡0 (mod 5) at ver=3 (fresh — wins);
    commit 4 sends tombstones for keys ≡0 (mod 3) at ver=0 (stale — the
    keys survive) and commit 5 tombstones keys ≡0 (mod 7) at ver=9
    (fresh — the keys go). The oracle restates the surviving state
    declaratively; any commit-order merge would keep the replayed rows or
    honor the stale deletes and break the hash.
    """
    import os

    from paimon_presto_spark.catalog import Catalog

    o = load_table(spark, sf_dir, "orders")
    wh = _scratch_dir("sqf-")
    cat = Catalog(spark, wh)
    cat.create_database("sqf", ignore_if_exists=True)
    t = cat.create_table(
        "sqf", "orders_sqf",
        "o_orderkey bigint, status string, o_totalprice double, ver bigint",
        primary_keys=["o_orderkey"],
        options={"sequence.field": "ver"},
    )

    def as_rows(df: DataFrame, status: str, ver: int, mult: int = 1) -> DataFrame:
        return df.select(
            "o_orderkey",
            F.lit(status).alias("status"),
            (F.col("o_totalprice") * mult).alias("o_totalprice"),
            F.lit(ver).cast("bigint").alias("ver"),
        )

    t.upsert(as_rows(o, "CURRENT", ver=2))
    t.upsert(as_rows(o.filter(F.col("o_orderkey") % 2 == 0), "REPLAYED", ver=1))
    t.upsert(as_rows(o.filter(F.col("o_orderkey") % 5 == 0), "FRESH", ver=3, mult=2))
    t.delete(
        o.filter(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", F.lit(0).cast("bigint").alias("ver"))
    )
    t.delete(
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey", F.lit(9).cast("bigint").alias("ver"))
    )
    merged = t.scan().to_df()
    return (
        merged.groupBy("status", "ver")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("string").cast("double")
            .alias("total_price"),
        )
        .orderBy("status", "ver")
    )


@register(
    "table_format_bloom_index",
    oracle="""
        SELECT o_orderkey,
               o_custkey,
               CAST(o_totalprice AS DOUBLE) AS o_totalprice
        FROM orders
        WHERE o_orderkey IN (7, 386, 1637)
        ORDER BY o_orderkey
    """,
    tags=("table-format", "file-index", "bloom", "end-to-end"),
)
def table_format_bloom_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``file-index.bloom-filter.columns`` through the oracle gate: orders
    are written across several commits (several files with overlapping
    o_orderkey ranges — min/max stats alone cannot skip), then point
    lookups must return exactly the oracle's rows while the plan audit
    asserts the bloom index actually dropped files (``plans/fileindex.py``;
    Paimon's public file-index option surface). A false positive only
    costs a read; a false negative would lose a row and break the hash —
    this entry certifies the never-lies direction end-to-end.
    """
    import os

    from paimon_presto_spark.catalog import Catalog
    from paimon_presto_spark.plans.predicate import P

    o = load_table(spark, sf_dir, "orders")
    wh = _scratch_dir("bfi-")
    cat = Catalog(spark, wh)
    cat.create_database("bfi", ignore_if_exists=True)
    t = cat.create_table(
        "bfi", "orders_bfi",
        "o_orderkey bigint, o_custkey bigint, o_totalprice double",
        options={"file-index.bloom-filter.columns": "o_orderkey"},
    )
    # 4 commits with interleaved key ranges: every file's [min, max]
    # covers the probes, so only the bloom filter can skip
    for residue in range(4):
        t.append(
            o.filter(F.col("o_orderkey") % 4 == residue)
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .coalesce(1)
        )
    sc = t.scan(predicate=P.in_("o_orderkey", [7, 386, 1637]))
    out = sc.to_df()
    plan = sc.last_plan
    if plan["after_stats_skip"] >= plan["total_files"]:
        raise AssertionError(
            f"bloom index skipped nothing: {plan}"
        )
    return out.orderBy("o_orderkey")


@register(
    "table_format_merge_into",
    oracle="""
        WITH target AS (
            SELECT o_orderkey,
                   'BASE' AS status,
                   CAST(o_totalprice AS DECIMAL(28,10)) AS price
            FROM orders
        ),
        merged AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 2 = 0 AND price > 100000
                        THEN 'MERGED' ELSE status END AS status,
                   CASE WHEN o_orderkey % 2 = 0 AND price > 100000
                        THEN price * 2 ELSE price END AS price
            FROM target
            WHERE NOT (o_orderkey % 3 = 0 AND price <= 50000)
        )
        SELECT status,
               COUNT(*) AS n_orders,
               {o_dsum_price}
        FROM merged
        GROUP BY 1
        ORDER BY 1
    """.format(o_dsum_price=o_dsum("price", "total_price")),
    tags=("table-format", "merge-into", "end-to-end"),
)
def table_format_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO through the oracle gate (``table.merge_into``): seed the
    table with every order, then two merges in two atomic commits —
    (1) conditional update: even keys double their price and flip to
    MERGED, but only where the STORED price exceeds 100k (the
    ``target.<col>`` condition path); (2) conditional delete: keys ≡0
    (mod 3) are removed only where the stored price is ≤ 50k. The oracle
    restates the surviving state declaratively; a merge that applied
    unconditionally, matched wrongly, or half-applied breaks the hash.
    """
    import os

    from paimon_presto_spark.catalog import Catalog

    o = load_table(spark, sf_dir, "orders")
    wh = _scratch_dir("mi-")
    cat = Catalog(spark, wh)
    cat.create_database("mi", ignore_if_exists=True)
    t = cat.create_table(
        "mi", "orders_mi",
        "o_orderkey bigint, status string, price decimal(28,10)",
        primary_keys=["o_orderkey"],
    )
    # price lives in DECIMAL end-to-end: the doubling happens in exact
    # decimal arithmetic, so no engine ever casts a derived double at a
    # 10th-decimal tie (the o_totalprice->decimal cast itself is the one
    # every oracle in this file already relies on)
    t.upsert(o.select(
        "o_orderkey", F.lit("BASE").alias("status"),
        F.col("o_totalprice").cast(DEC).alias("price"),
    ))
    t.merge_into(
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", F.lit("MERGED").alias("status"),
            (F.col("o_totalprice").cast(DEC) * 2).alias("price"),
        ),
        matched_condition="target.price > 100000",
        when_not_matched="ignore",
    )
    t.merge_into(
        o.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey"),
        when_matched="delete",
        matched_condition="target.price <= 50000",
        when_not_matched="ignore",
    )
    merged = t.scan().to_df()
    return (
        merged.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("price"), "total_price"),
        )
        .orderBy("status")
    )


@register(
    "metastore_catalog_roundtrip",
    oracle="""
        SELECT c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS n_cust,
               CAST(CAST(SUM(CAST(
                   CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 100.0
                        ELSE c_acctbal END AS DECIMAL(28,10))) AS VARCHAR)
                   AS DOUBLE) AS total_bal
        FROM customer
        WHERE c_custkey % 11 <> 0
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    tags=("table-format", "metastore", "catalog", "end-to-end"),
)
def metastore_catalog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """External-metastore catalog through the oracle gate: three catalog
    INSTANCES share one SQLite namespace (``metastore='jdbc'`` — the
    reference's metastore/uri config, ``PaimonConfig.java:28-60``). The
    first creates the table and loads customers; the second resolves it
    purely from the store, RENAMES it, deletes ~9% of keys and patches
    ~8% of balances; the third reads the renamed table back. The merged
    result must equal the oracle's declarative restatement — proving the
    namespace handoff (create → rename → read by new name) loses no
    pointers and the content commits survive it.
    """
    import os

    from paimon_presto_spark.catalog import Catalog

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    root = _scratch_dir("ms-")
    wh = os.path.join(root, "wh")
    uri = os.path.join(root, "catalog.sqlite")

    c1 = Catalog(spark, wh, metastore="jdbc", uri=uri)
    c1.create_database("ms")
    t = c1.create_table(
        "ms", "cust",
        "c_custkey bigint, c_name string, c_acctbal double, "
        "c_mktsegment string",
        primary_keys=["c_custkey"],
    )
    t.upsert(cust)

    c2 = Catalog(spark, wh, metastore="jdbc", uri=uri)
    c2.rename_table("ms", "cust", "cust_gold")
    t2 = c2.get_table("ms", "cust_gold")
    t2.delete(cust.filter(F.col("c_custkey") % 11 == 0))
    t2.upsert(
        cust.filter(
            (F.col("c_custkey") % 13 == 0) & (F.col("c_custkey") % 11 != 0)
        ).withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
    )

    c3 = Catalog(spark, wh, metastore="jdbc", uri=uri)
    merged = c3.read_table("ms", "cust_gold")
    return (
        merged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.col("c_acctbal").cast(DEC)).cast("string").cast("double")
            .alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


def _oracle_lsh_recall(n_planes: int, dim: int, k: int, n_queries: int) -> str:
    """DuckDB twin of the recall report: exact top-k vs the seeded-LSH
    top-k, overlap counted per query (both over the FULL corpus, self
    included, so the two algorithms face identical candidates)."""
    planes = _hyperplanes(dim, n_planes)
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(x) for x in plane)}]) > 0 THEN {1 << j} ELSE 0 END)"
        for j, plane in enumerate(planes)
    )
    probes = [0] + [1 << j for j in range(n_planes)]
    return f"""
        WITH exact AS (
            SELECT q_id, n_id FROM (
                SELECT q.vec_id AS q_id, c.vec_id AS n_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY LIST_COSINE_SIMILARITY(
                               q.embedding::DOUBLE[],
                               c.embedding::DOUBLE[]) DESC, c.vec_id
                       ) AS rnk
                FROM embeddings q JOIN embeddings c ON TRUE
                WHERE q.vec_id < {n_queries}
            ) WHERE rnk <= {k}
        ),
        bucketed AS (
            SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
        ),
        probes AS (
            SELECT q.vec_id AS q_id, q.embedding AS q_emb,
                   xor(q.bucket::BIGINT, p.flip::BIGINT) AS bucket
            FROM bucketed q, (SELECT UNNEST({probes}) AS flip) p
            WHERE q.vec_id < {n_queries}
        ),
        approx AS (
            SELECT q_id, n_id FROM (
                SELECT s.q_id, s.n_id,
                       ROW_NUMBER() OVER (PARTITION BY s.q_id
                                          ORDER BY s.cos_sim DESC, s.n_id)
                           AS rnk
                FROM (
                    SELECT DISTINCT pr.q_id, c.vec_id AS n_id,
                           LIST_COSINE_SIMILARITY(pr.q_emb::DOUBLE[],
                                                  c.embedding::DOUBLE[])
                               AS cos_sim
                    FROM probes pr JOIN bucketed c ON c.bucket = pr.bucket
                ) s
            ) WHERE rnk <= {k}
        )
        SELECT e.q_id,
               CAST(COUNT(a.n_id) AS BIGINT) AS n_matched,
               {k} AS k
        FROM exact e
        LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
        GROUP BY e.q_id
        ORDER BY e.q_id
    """


@register(
    "knn_lsh_recall",
    oracle=_oracle_lsh_recall(n_planes=4, dim=64, k=10, n_queries=5),
    tags=("similarity", "knn", "lsh", "ann", "recall", "evaluation"),
)
def knn_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH-bucketed ANN against the exact brute-force
    baseline — the evaluation loop an ANN deployment runs before trading
    recall for scan cost. Both sides face the FULL corpus (self
    included), so the overlap isolates the bucketing approximation;
    seeded hyperplanes keep even this meta-metric exactly replayable by
    the oracle. Integer outputs: matched-neighbor count and k per query.
    """
    from paimon_presto_spark.operators.similarity import (
        brute_force_topk,
        lsh_bucketed_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 5)
    exact = brute_force_topk(e, queries, k=10).select("q_id", "n_id")
    approx = lsh_bucketed_topk(e, queries, k=10, n_planes=4, dim=64).select(
        F.col("q_id").alias("a_q"), F.col("n_id").alias("a_n")
    )
    return (
        exact.join(
            approx,
            (F.col("q_id") == F.col("a_q")) & (F.col("n_id") == F.col("a_n")),
            "left",
        )
        .groupBy("q_id")
        .agg(F.count("a_n").alias("n_matched"))
        .select("q_id", "n_matched", F.lit(10).alias("k"))
        .orderBy("q_id")
    )


def _oracle_ivf_pq_adc(
    m: int, sub: int, ksub: int, iters: int, sample_n: int,
    topk: int, n_queries: int, n_probe: int,
) -> str:
    """SQL replay of the COMPOSED FAISS-style index: the coarse IVF
    quantizer (literal centroids, same CTE text as ``_oracle_ivf_knn``)
    restricts which (query, corpus) pairs are scored, and the full PQ
    pipeline (training + encoding + ADC, same CTEs as
    ``_oracle_pq_adc``) supplies the scores. The only new SQL is the
    scored join: probe pairs gate the enc x dtable lookup."""
    dim = m * sub
    cents = ",\n".join(
        f"({cid}, [{', '.join(repr(x) for x in vec)}]::DOUBLE[])"
        for cid, vec in _ivf_cents()
    )
    fr = _pq_sql_fragments(m, sub, iters)
    sv, dist_pc, dist_qc = fr["sv"], fr["dist_pc"], fr["dist_qc"]
    ctes = fr["lloyd_ctes"]
    return f"""
        WITH cent(cid, cvec) AS (VALUES {cents}),
        base AS (
            SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        hashed AS (
            SELECT id, v,
                   CAST('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15)
                        AS BIGINT) AS h
            FROM base WHERE len(v) = {dim}
        ),
        cassign AS (
            SELECT id, cid AS bucket FROM (
                SELECT e.id, c.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.id
                           ORDER BY LIST_COSINE_SIMILARITY(e.v, c.cvec)
                                    DESC, c.cid
                       ) AS rk
                FROM hashed e, cent c
            ) WHERE rk = 1
        ),
        qprobe AS (
            SELECT id AS q_id, cid AS bucket FROM (
                SELECT e.id, c.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.id
                           ORDER BY LIST_COSINE_SIMILARITY(e.v, c.cvec)
                                    DESC, c.cid
                       ) AS rk
                FROM hashed e, cent c
                WHERE e.id < {n_queries}
            ) WHERE rk <= {n_probe}
        ),
        sample AS (
            SELECT id, v, h FROM hashed ORDER BY h, id LIMIT {sample_n}
        ),
        seeds AS (
            SELECT id, v, cid FROM (
                SELECT id, v,
                       ROW_NUMBER() OVER (ORDER BY h, id) - 1 AS cid
                FROM sample
            ) WHERE cid < {ksub}
        ),
        sses AS (SELECT CAST(unnest(range({m})) AS INT) AS ss),
        cb0 AS (
            SELECT ss, cid, {sv} AS c FROM seeds CROSS JOIN sses
        ),
        ssample AS (
            SELECT id, ss, {sv} AS sv FROM sample CROSS JOIN sses
        ),
        {ctes},
        corpus_ss AS (
            SELECT id, ss, {sv} AS sv FROM hashed CROSS JOIN sses
        ),
        enc AS (
            SELECT id, ss, code FROM (
                SELECT p.id, p.ss, c.cid AS code,
                       ROW_NUMBER() OVER (PARTITION BY p.id, p.ss
                                          ORDER BY {dist_pc}, c.cid) AS rk
                FROM corpus_ss p JOIN cb{iters} c ON c.ss = p.ss
            ) WHERE rk = 1
        ),
        dtable AS (
            SELECT q.id AS q_id, c.ss, c.cid AS code, {dist_qc} AS d
            FROM hashed q CROSS JOIN cb{iters} c
            WHERE q.id < {n_queries}
        ),
        scored AS (
            SELECT t.q_id, e.id AS n_id,
                   CAST(SUM(CAST(t.d AS DECIMAL(38,18))) AS DOUBLE)
                       AS approx_l2
            FROM enc e
            JOIN cassign ca ON ca.id = e.id
            JOIN qprobe qp ON qp.bucket = ca.bucket
            JOIN dtable t ON t.q_id = qp.q_id
                         AND t.ss = e.ss AND t.code = e.code
            GROUP BY t.q_id, e.id
        )
        SELECT q_id, n_id, ROUND(approx_l2, 6) AS approx_l2, rnk FROM (
            SELECT q_id, n_id, approx_l2,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY approx_l2 ASC, n_id) AS rnk
            FROM scored
        ) WHERE rnk <= {topk}
        ORDER BY q_id, rnk
    """


@register(
    "knn_ivf_pq_adc",
    oracle=_oracle_ivf_pq_adc(
        m=8, sub=8, ksub=16, iters=2, sample_n=128, topk=10,
        n_queries=5, n_probe=IVF_PROBE,
    ),
    tags=("similarity", "knn", "ivf", "product-quantization", "adc"),
)
def knn_ivf_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed — the FAISS big-index layout
    (``operators/similarity.py:ivf_pq_adc_topk``): the coarse quantizer
    prunes WHICH rows each query scores (n_probe=4 of 16 posting lists),
    PQ-ADC prunes WHAT is read per candidate (m=8 one-byte codes, a 32x
    memory cut at dim=64). At 100 TB the stored index is (bucket, codes)
    — bytes per vector — and a query's cost is posting-list-bounded
    table lookups, never raw embeddings. The oracle replays the coarse
    assignment (literal centroids) AND the full PQ pipeline (training,
    encoding, ADC) in SQL, gated by the same probe pairs."""
    from paimon_presto_spark.operators.similarity import (
        ivf_pq_adc_topk,
        pq_train,
    )

    e = load_table(spark, sf_dir, "embeddings")
    books = pq_train(e, m=8, ksub=16, iters=2, sample_n=128, dim=64)
    queries = e.filter(F.col("vec_id") < 5)
    return ivf_pq_adc_topk(
        e, queries, _ivf_cents(), books, k=10, n_probe=IVF_PROBE
    ).orderBy("q_id", "rnk")


@register(
    "knn_ivf_pq_stored",
    oracle=_oracle_ivf_pq_adc(
        m=8, sub=8, ksub=16, iters=2, sample_n=128, topk=10,
        n_queries=8, n_probe=IVF_PROBE,
    ),
    tags=("similarity", "knn", "ivf", "product-quantization", "index"),
)
def knn_ivf_pq_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with a PERSISTED index — FAISS's train-once contract
    (``operators/similarity.py:ivf_pq_index`` / ``ivf_pq_probe_topk``):
    the (id, bucket, codes) table and the codebook table are WRITTEN as
    parquet once, then the query path reads the stored bytes — no
    pq_train, no encode, not even a vector read over the corpus side (its
    plan is a FileScan of the index + posexplode + two broadcast joins).
    ``knn_ivf_pq_adc`` proves the composition; this entry proves the
    production split: at 100 TB the index is built by one pipeline run
    and probed forever (round-6 verdict #3). Results are identical to
    running the full pipeline — which is exactly what the oracle replays
    in SQL (training + encoding + ADC, gated by probe pairs), so the
    stored index's fidelity is hash-certified, not assumed."""
    from paimon_presto_spark.operators.similarity import (
        ivf_pq_index,
        ivf_pq_probe_topk,
        pq_train,
    )

    e = load_table(spark, sf_dir, "embeddings")
    books = pq_train(e, m=8, ksub=16, iters=2, sample_n=128, dim=64)
    wh = _scratch_dir("ivfpq-")
    idx_path = os.path.join(wh, "ivf_pq_index")
    books_path = os.path.join(wh, "ivf_pq_books")
    # build once: ONE corpus scan writes the (id, bucket, codes) table;
    # codebooks persist alongside as (ss, cid, c) rows
    ivf_pq_index(e, _ivf_cents(), books, encode="relational").write.mode(
        "overwrite"
    ).parquet(idx_path)
    spark.createDataFrame(
        [
            (ss, cid, [float(x) for x in vec])
            for ss, book in books.items()
            for cid, vec in book.items()
        ],
        "ss int, cid int, c array<double>",
    ).write.mode("overwrite").parquet(books_path)
    # probe forever: codebooks re-hydrate from the stored table (driver-
    # tiny by construction: m*ksub rows), the corpus side is only the
    # stored index
    stored_books: dict[int, dict[int, list[float]]] = {}
    for r in spark.read.parquet(books_path).collect():
        stored_books.setdefault(r["ss"], {})[r["cid"]] = [
            float(x) for x in r["c"]
        ]
    index = spark.read.parquet(idx_path)
    queries = e.filter(F.col("vec_id") < 8)
    return ivf_pq_probe_topk(
        index, queries, _ivf_cents(), stored_books, k=10, n_probe=IVF_PROBE
    ).orderBy("q_id", "rnk")


@register(
    "knn_ivf_pq_append",
    oracle=_oracle_ivf_pq_adc(
        m=8, sub=8, ksub=16, iters=2, sample_n=128, topk=10,
        n_queries=3, n_probe=IVF_PROBE,
    ),
    tags=("similarity", "knn", "ivf", "product-quantization",
          "incremental"),
)
def knn_ivf_pq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF-PQ index APPEND — the daily-increment half of the
    train-once contract, completing the lifecycle next to
    ``knn_ivf_pq_stored`` (build → store → APPEND → probe): the stored
    corpus (vec_id < 300) is read back as its persisted (id, bucket,
    codes) table and NEVER re-encoded; only the increment runs the
    coarse-argmax + PQ-encode scan (its pushed filter shows in the plan),
    exactly how FAISS `add()`s to a trained index — codes are
    per-vector, so index(old) ∪ index(new) == index(old ∪ new), which is
    what the full-pipeline oracle replays. (Codebooks here train over the
    md5-sample of the FULL corpus so the oracle's training replay lines
    up; production trains once on the initial corpus and the appended
    codes simply quantize against those frozen books — the append path
    itself is identical.) The same resumable shape as
    ``dedup_minhash_incremental``'s stored signatures and
    ``dedup_semantic_incremental``'s stored assignments."""
    from paimon_presto_spark.operators.similarity import (
        ivf_pq_index,
        ivf_pq_probe_topk,
        pq_train,
    )

    e = load_table(spark, sf_dir, "embeddings")
    books = pq_train(e, m=8, ksub=16, iters=2, sample_n=128, dim=64)
    old = e.filter(F.col("vec_id") < 300)
    new = e.filter(F.col("vec_id") >= 300)
    wh = _scratch_dir("ivfapp-")
    idx_path = os.path.join(wh, "ivf_pq_index_old")
    ivf_pq_index(old, _ivf_cents(), books, encode="relational").write.mode(
        "overwrite"
    ).parquet(idx_path)
    # append: stored half read back as bytes; only the increment encodes
    combined = spark.read.parquet(idx_path).unionByName(
        ivf_pq_index(new, _ivf_cents(), books, encode="relational")
    )
    queries = e.filter(F.col("vec_id") < 3)
    return ivf_pq_probe_topk(
        combined, queries, _ivf_cents(), books, k=10, n_probe=IVF_PROBE
    ).orderBy("q_id", "rnk")


@register(
    "agg_weighted_median",
    oracle="""
        WITH c AS (
            SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
                   SUM(CAST(l_quantity AS DECIMAL(28,10))) OVER (
                       PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber
                       ROWS UNBOUNDED PRECEDING
                   ) AS cum,
                   SUM(CAST(l_quantity AS DECIMAL(28,10))) OVER (
                       PARTITION BY l_returnflag
                   ) AS tot
            FROM lineitem
        )
        SELECT l_returnflag,
               l_extendedprice AS weighted_median,
               CAST(tot AS BIGINT) AS total_qty
        FROM c
        WHERE 2 * cum >= tot
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY l_returnflag
            ORDER BY l_extendedprice, l_orderkey, l_linenumber
        ) = 1
        ORDER BY l_returnflag
    """,
    tags=("aggregate", "weighted-median", "window", "percentile"),
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median — the aggregate Spark (and most engines) lack as
    a builtin: per return flag, the smallest extended price whose
    cumulative quantity weight reaches half the group's total (lower
    weighted median). percentile() weights every row equally; this
    weights rows by a measure — the shape needed for "median price
    weighted by volume" analytics and for token-weighted corpus stats.

    Exactness: weights accumulate as DECIMAL(28,10) (exact integers
    here), so the running total is order-independent and the 2*cum >= tot
    test is exact integer arithmetic in both engines — no float ever
    enters the decision. The oracle's tie-break columns pick a unique
    crossing ROW, but with non-negative weights every intra-tie order
    crosses at the same VALUE, so the value-only operator matches it.

    Scale shape (``operators/quantile.py:weighted_quantile``): the
    round-6 spelling ran ONE window partitioned by the 3-value group —
    each group a single serial task at any scale. Now the bucketed
    running-sum decomposition (``operators/selection.py``'s pattern,
    generalized to quantile thresholds): rows map to value-range buckets,
    per-(group, bucket) weight sums prefix-sum along the <=n_buckets
    bucket axis, and only the ONE crossing bucket per group runs an
    exact per-row pass, bounded by ``target_edge_rows``. Engagement is
    adaptive (the operator's level-0 base case): groups at or under the
    production 2M default take ONE direct bounded window — exactly the
    edge pass, no bucket round — so this entry runs the small-scale path
    at bench scale while ``agg_weighted_quartiles`` keeps the full
    decomposition oracle-gated by forcing 4096-row edges.
    """
    from paimon_presto_spark.operators.quantile import weighted_median

    li = load_table(spark, sf_dir, "lineitem")
    out = weighted_median(
        li,
        "l_extendedprice",
        "l_quantity",
        ["l_returnflag"],
    )
    return out.select(
        "l_returnflag",
        "weighted_median",
        F.col("total_weight_dec").cast("long").alias("total_qty"),
    ).orderBy("l_returnflag")


@register(
    "agg_weighted_quartiles",
    oracle="""
        WITH c AS (
            SELECT l_returnflag, l_extendedprice,
                   SUM(CAST(l_quantity AS DECIMAL(28,10))) OVER (
                       PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber
                       ROWS UNBOUNDED PRECEDING
                   ) AS cum,
                   SUM(CAST(l_quantity AS DECIMAL(28,10))) OVER (
                       PARTITION BY l_returnflag
                   ) AS tot
            FROM lineitem
        ),
        q1 AS (
            SELECT l_returnflag, MIN(l_extendedprice) AS q25
            FROM c WHERE 4 * cum >= tot GROUP BY l_returnflag
        ),
        q3 AS (
            SELECT l_returnflag, MIN(l_extendedprice) AS q75
            FROM c WHERE 4 * cum >= 3 * tot GROUP BY l_returnflag
        )
        SELECT q1.l_returnflag, q1.q25, q3.q75,
               CAST(CAST(q3.q75 AS DECIMAL(18,2))
                   - CAST(q1.q25 AS DECIMAL(18,2)) AS DOUBLE) AS iqr
        FROM q1 JOIN q3 ON q1.l_returnflag = q3.l_returnflag
        ORDER BY q1.l_returnflag
    """,
    tags=("aggregate", "weighted-median", "percentile", "quantile"),
)
def agg_weighted_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted quartiles + IQR per group — ``weighted_quantile`` at
    arbitrary rational q (1/4 and 3/4 here), the generalization the
    weighted-median decomposition was built for: the crossing test is
    ``q_den * cum >= q_num * tot`` in exact DECIMAL, so ANY rational
    quantile is oracle-gateable. The weighted IQR is the spread measure
    for token-weighted corpus stats (e.g. "price spread weighted by
    volume"). Same bucketed scale shape as ``agg_weighted_median``, and
    BOTH quartiles share one persisted input and one level-0 bucket pass
    (the corpus is scanned and bucketed once; only the small per-edge
    passes are per-quantile); the MIN-over-satisfying-rows oracle
    spelling is equivalent to the crossing row's value because
    cumulative weight is monotone.
    """
    from paimon_presto_spark.operators.quantile import weighted_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    return (
        weighted_quantiles(
            li,
            "l_extendedprice",
            "l_quantity",
            ["l_returnflag"],
            [(1, 4, "q25"), (3, 4, "q75")],
            target_edge_rows=4096,
        )
        .select(
            "l_returnflag", "q25", "q75",
            (
                F.col("q75").cast("decimal(18,2)")
                - F.col("q25").cast("decimal(18,2)")
            ).cast("double").alias("iqr"),
        )
        .orderBy("l_returnflag")
    )


CMS_PROBES = (1, 7, 13)
CMS_EPS = 0.001
CMS_CONF = 0.99
CMS_SEED = 42


@register(
    "agg_count_min_sketch",
    oracle=f"""
        WITH probes AS (
            SELECT UNNEST([{", ".join(str(p) for p in CMS_PROBES)}])
                AS probe_key
        )
        SELECT o.o_orderpriority, p.probe_key,
               CAST(SUM(CASE WHEN o.o_custkey = p.probe_key
                             THEN 1 ELSE 0 END) AS BIGINT) AS exact_cnt,
               1 AS merged_ok
        FROM orders o, probes p
        GROUP BY o.o_orderpriority, p.probe_key
        ORDER BY o_orderpriority, probe_key
    """,
    tags=("aggregation", "approx", "count-min", "sketch", "mergeable"),
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Count-Min frequency sketches — the point-frequency
    sibling of ``agg_hll_sketch_merge``'s distinct-count rollup: build
    one CMS per fine-grained (priority, status) group with Spark's
    built-in ``count_min_sketch`` aggregate, MERGE the serialized
    sketches up to priority on the driver
    (``CountMinSketch.readFrom``/``mergeInPlace`` — sketches are
    KB-sized mergeable state, the pre-aggregated-store pattern: rollups
    never rescan the fact table), then probe three customer keys against
    each merged sketch. The hash-gated contract is the CMS guarantee
    itself, which merging must preserve: estimate >= exact (CMS never
    undercounts — unconditional, holds for every seed and dataset) and
    estimate <= exact + 8*eps*N with eps=0.001 — the one-sided eps*N
    bound only holds at the sketch's 0.99 confidence PER PROBE, so the
    gate widens it 8x (a miss needs all d=ceil(ln(1/0.01)) hash rows to
    collide 8x past expectation — vanishingly unlikely at any scale
    factor) rather than bet the correctness gate on a fixed-seed
    coincidence. Each probe's flag rides the comparison while the exact
    counts pin the values. Bit-compat of sketch BYTES across engines is
    a non-goal (SURVEY §7 risk 3), exactly as for HLL.

    Scale shape: ONE fact-table pass builds all sub-sketches
    (combiner-friendly aggregate state); the driver merge touches
    |groups| x ~KB, never data.
    """
    o = load_table(spark, sf_dir, "orders")
    probe_aggs = [
        F.sum((F.col("o_custkey") == k).cast("long")).alias(f"x{k}")
        for k in CMS_PROBES
    ]
    sub = (
        o.groupBy("o_orderpriority", "o_orderstatus")
        .agg(
            F.expr(
                f"count_min_sketch(o_custkey, {CMS_EPS}d, {CMS_CONF}d, "
                f"{CMS_SEED})"
            ).alias("sk"),
            F.count(F.lit(1)).alias("n"),
            *probe_aggs,
        )
        .collect()
    )
    jvm = spark.sparkContext._jvm
    cms_cls = jvm.org.apache.spark.util.sketch.CountMinSketch
    merged: dict[str, object] = {}
    totals: dict[str, int] = {}
    exact: dict[str, dict[int, int]] = {}
    for row in sub:
        pri = row["o_orderpriority"]
        sk = cms_cls.readFrom(bytes(row["sk"]))
        if pri in merged:
            merged[pri].mergeInPlace(sk)
        else:
            merged[pri] = sk
        totals[pri] = totals.get(pri, 0) + int(row["n"])
        ex = exact.setdefault(pri, {k: 0 for k in CMS_PROBES})
        for k in CMS_PROBES:
            ex[k] += int(row[f"x{k}"])
    out = []
    for pri in sorted(merged):
        slack = 8 * CMS_EPS * totals[pri]
        for k in CMS_PROBES:
            est = int(merged[pri].estimateCount(k))
            ok = int(exact[pri][k] <= est <= exact[pri][k] + slack)
            out.append((pri, k, exact[pri][k], ok))
    return spark.createDataFrame(
        out,
        "o_orderpriority string, probe_key int, exact_cnt long, "
        "merged_ok int",
    ).orderBy("o_orderpriority", "probe_key")


@register(
    "table_format_zorder",
    oracle="""
        SELECT CAST(l_partkey % 8 AS BIGINT) AS bucket,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,10))) AS BIGINT)
                   AS sum_qty,
               1 AS zorder_ok
        FROM lineitem
        GROUP BY 1
        ORDER BY 1
    """,
    tags=("table-format", "zorder", "clustering", "compaction",
          "data-skipping"),
)
def table_format_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order sort-compaction INSIDE the oracle gate (Paimon's
    ``sort-compact`` action, ``table.py:compact(strategy="zorder")``):
    lineitem lands in an append table, is rewritten clustered on the
    bit-interleaved (l_partkey, l_suppkey) Z-value, and the entry gates
    BOTH halves of the feature's contract:

    - **content**: the post-compaction read must aggregate to exactly
      the oracle's answer over raw lineitem — a clustering rewrite may
      move rows between files but never change them;
    - **clustering** (``zorder_ok``): quarter-range predicates on EACH
      z-column independently must skip more than half the files at
      PLANNING time (manifest min/max stats, zero data I/O) — the
      multi-column data-skipping property that lexicographic sort cannot
      give and the whole reason to Z-order a 100 TB table whose queries
      filter on different columns.

    The skip probe is scale-free: predicate bounds come from the
    table's own min/max, so the entry certifies the same geometry at
    any sf. File counts and plan decisions never touch data — they are
    manifest reads, the planning path A7/A8 pin.
    """
    return _clustered_compact_entry(
        spark, sf_dir, strategy="zorder", prefix="zo",
        bucket_col="l_partkey", flag_name="zorder_ok",
    )


def _clustered_compact_entry(
    spark: SparkSession,
    sf_dir: str,
    strategy: str,
    prefix: str,
    bucket_col: str,
    flag_name: str,
) -> DataFrame:
    """Shared scaffolding for the clustering-rewrite gate entries
    (``table_format_zorder`` / ``table_format_hilbert``): append
    lineitem spread over several files, sort-compact with ``strategy``
    on (l_partkey, l_suppkey), probe quarter-range file skipping on
    EACH clustering column at planning time, and return the content
    aggregate carrying the skip flag — one geometry check, two
    strategies, no drift between the twins.
    """
    from paimon_presto_spark.catalog import Catalog
    from paimon_presto_spark.plans.predicate import P

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    wh = _scratch_dir(f"{prefix}-")
    cat = Catalog(spark, wh)
    cat.create_database(prefix, ignore_if_exists=True)
    t = cat.create_table(
        prefix, f"li_{strategy}",
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_quantity double",
    )
    # spread the append over several files so clustering has work to do
    t.append(li.repartition(8))
    t.compact(sort_by=["l_partkey", "l_suppkey"], strategy=strategy)

    bounds = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).collect()[0]
    pk_lo, pk_hi = bounds[0], bounds[0] + max(1, (bounds[1] - bounds[0]) // 4)
    sk_lo, sk_hi = bounds[2], bounds[2] + max(1, (bounds[3] - bounds[2]) // 4)
    total = len(t.scan().plan_files())
    kept_pk = len(t.scan(predicate=P.between("l_partkey", pk_lo, pk_hi)).plan_files())
    kept_sk = len(t.scan(predicate=P.between("l_suppkey", sk_lo, sk_hi)).plan_files())
    clustered_ok = int(
        total > 4 and kept_pk <= total // 2 and kept_sk <= total // 2
    )
    return (
        t.to_df()
        .groupBy((F.col(bucket_col) % 8).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast(DEC)).cast("bigint").alias("sum_qty"),
        )
        .withColumn(flag_name, F.lit(clustered_ok))
        .orderBy("bucket")
    )


@register(
    "table_format_hilbert",
    oracle="""
        SELECT CAST(l_suppkey % 8 AS BIGINT) AS bucket,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,10))) AS BIGINT)
                   AS sum_qty,
               1 AS hilbert_ok
        FROM lineitem
        GROUP BY 1
        ORDER BY 1
    """,
    tags=("table-format", "hilbert", "clustering", "compaction",
          "data-skipping"),
)
def table_format_hilbert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve sort-compaction under the oracle gate — Paimon
    upstream's second clustering choice next to ``table_format_zorder``
    (``table.py:compact(strategy="hilbert")``, Skilling's transform as
    an Arrow-batched kernel — the one designed Python pass in the table
    layer, here exercised inside the hash gate): same contract as the
    Z-order twin — content preserved exactly through the rewrite, and
    quarter-range predicates on EACH curve column independently must
    skip more than half the files at planning time. The Hilbert curve
    has no Z-shaped jumps, so file bounding boxes are tighter on
    average; this entry pins that it actually CLUSTERS, not just runs.
    """
    return _clustered_compact_entry(
        spark, sf_dir, strategy="hilbert", prefix="hb",
        bucket_col="l_suppkey", flag_name="hilbert_ok",
    )


@register(
    "table_format_branches",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(
                   CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1000.0
                        ELSE o_totalprice END AS DECIMAL(28,10))) AS VARCHAR)
                   AS DOUBLE) AS total_price,
               1 AS branch_isolated
        FROM orders
        WHERE o_orderkey % 97 <> 0
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("table-format", "branches", "fast-forward", "end-to-end"),
)
def table_format_branches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branches under the oracle gate — the metadata-fork lifecycle
    (``table.py:create_branch`` / ``fast_forward``, Paimon's branch
    feature): orders land on main, a ``fix`` branch forks (metadata
    only — every data file shared), the branch takes a price patch and
    a delete, and the gate certifies BOTH branch properties:

    - **isolation** (``branch_isolated``): main still reads the
      untouched base row count after the branch committed its
      mutations — branch writes never leak into main's lineage;
    - **merge**: after ``fast_forward`` the main read must equal the
      oracle's declarative restatement of the branch's mutations — the
      fork's snapshots/manifests graft onto main losslessly (the
      metadata twin of a git fast-forward; data files were shared all
      along, so the merge moves zero bytes of data).

    The dev-branch-then-promote workflow a production lakehouse uses
    for risky backfills, here exercised end to end inside the hash gate
    rather than only in unit tests.
    """
    from paimon_presto_spark.catalog import Catalog

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    wh = _scratch_dir("br-")
    cat = Catalog(spark, wh)
    cat.create_database("br", ignore_if_exists=True)
    t = cat.create_table(
        "br", "orders_br",
        "o_orderkey bigint, o_custkey bigint, o_totalprice double, "
        "o_orderpriority string",
        primary_keys=["o_orderkey"],
    )
    t.upsert(o)
    n_base = t.to_df().count()
    br = t.create_branch("fix")
    br.upsert(
        o.filter(F.col("o_orderkey") % 101 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1000.0
        )
    )
    br.delete(o.filter(F.col("o_orderkey") % 97 == 0))
    branch_isolated = int(t.to_df().count() == n_base)
    t.fast_forward("fix")
    return (
        t.to_df()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("string")
            .cast("double").alias("total_price"),
        )
        .withColumn("branch_isolated", F.lit(branch_isolated))
        .orderBy("o_orderpriority")
    )


@register(
    "table_format_orc_roundtrip",
    oracle=_ROUNDTRIP_ORACLE,
    tags=("table-format", "orc", "merge-on-read", "end-to-end"),
)
def table_format_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``table_format_roundtrip`` mutation script replayed on an ORC
    table (``file.format=orc`` — Paimon's own default data format,
    ``PrestoSqlTableOptionUtils`` maps the same option): upsert → ~1%
    delete → ~1% patch upsert → merged read with a pushed predicate must
    equal the identical declarative oracle. ORC rides Spark's vectorized
    JVM reader exactly like parquet; writer-side manifest stats come
    from the ORC footers, so min/max file skipping and the MoR window
    are format-invariant — which is precisely what sharing the parquet
    twin's oracle certifies.
    """
    return _roundtrip_script(
        spark, sf_dir, "orc", options={"file.format": "orc"}
    )



@register(
    "table_format_dynamic_bucket",
    oracle=_ROUNDTRIP_ORACLE,
    tags=("table-format", "dynamic-bucket", "merge-on-read", "end-to-end"),
)
def table_format_dynamic_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The roundtrip mutation script on a DYNAMIC-bucket table
    (``bucket=-1`` with a small ``dynamic-bucket.target-row-num`` so the
    script provably spans multiple assigned buckets): upsert -> ~1%
    delete -> ~1% patch upsert -> merged read with a pushed predicate
    must equal the shared declarative oracle verbatim. Dynamic
    bucketing assigns each key a bucket ONCE via the persistent key
    index (``table.py:_assign_dynamic_buckets``) instead of
    pmod(hash, n) — bucket count grows with data, rescale rewrites
    never happen, and a key's bucket never changes so per-bucket
    merge-on-read stays correct; this entry proves the whole
    index-assignment machinery is invisible to results under the same
    hash gate the fixed-bucket/DV/avro/orc twins pass.
    """
    return _roundtrip_script(
        spark, sf_dir, "dyn",
        options={"bucket": "-1", "dynamic-bucket.target-row-num": "4000"},
    )


@register(
    "table_format_expire_lifecycle",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(
                   CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1000.0
                        ELSE o_totalprice END AS DECIMAL(28,10))) AS VARCHAR)
                   AS DOUBLE) AS total_price,
               1 AS expired_some, 1 AS expired_blocked,
               1 AS tag_readable, 1 AS orphans_removed
        FROM orders
        WHERE o_orderkey % 97 <> 0
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("table-format", "expire", "retention", "orphan-files",
          "end-to-end"),
)
def table_format_expire_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Retention lifecycle under the oracle gate — snapshot expiry +
    orphan-file cleanup (``table.py:expire_snapshots`` /
    ``remove_orphan_files``, Paimon's ``snapshot.num-retained`` and
    remove-orphan-files action; the reference connector time-travels
    over exactly this retained history). The script commits a realistic
    churn sequence (base upsert → price patch → delete → compact),
    tags the BASE snapshot, forks-and-drops a scratch branch (its
    private data files become orphans), then runs retention and
    certifies every contract the lakehouse promises afterwards:

    - ``expired_some``: expiry actually dropped history (>=1 snapshot);
    - ``expired_blocked``: time travel to an expired id RAISES — expired
      history is gone, not silently remapped;
    - ``tag_readable``: the tagged base snapshot still reads its full
      row count AFTER expiry (tag files carry the snapshot payload, so
      tags outlive retention — Paimon's tag semantics);
    - ``orphans_removed``: cleanup deleted the dropped branch's private
      files (>=1), while the final merged read — the oracle's
      declarative restatement of patch-then-delete — proves neither
      expiry nor orphan cleanup touched a single LIVE byte.

    100 TB shape: expiry is O(metadata) — manifest set difference, no
    data read; orphan cleanup is one listdir walk + an O(metadata) live
    set; both run on the driver against the catalog, never through a
    Spark job, exactly like Paimon's.
    """
    import time as _time

    from paimon_presto_spark.catalog import Catalog

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    wh = _scratch_dir("exp-")
    cat = Catalog(spark, wh)
    cat.create_database("exp", ignore_if_exists=True)
    t = cat.create_table(
        "exp", "orders_exp",
        "o_orderkey bigint, o_totalprice double, o_orderpriority string",
        primary_keys=["o_orderkey"],
    )
    t.upsert(o)                                           # s1: base
    n_base = t.to_df().count()
    t.create_tag("base")                                  # pins s1 payload
    t.upsert(                                             # s2: price patch
        o.filter(F.col("o_orderkey") % 101 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 1000.0
        )
    )
    t.delete(o.filter(F.col("o_orderkey") % 97 == 0))     # s3: delete
    t.compact()                                           # s4 (may no-op)
    # Scratch branch: its private upsert files orphan on delete_branch.
    br = t.create_branch("scratch")
    br.upsert(
        o.filter(F.col("o_orderkey") % 113 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 5.0
        )
    )
    t.delete_branch("scratch")

    expired = t.expire_snapshots(keep_last=2)
    expired_some = int(len(expired) >= 1)
    expired_blocked = 0
    if expired:
        try:
            t.to_df(snapshot_id=expired[0]).count()
        except Exception:
            expired_blocked = 1
    tag_readable = int(t.to_df(tag="base").count() == n_base)
    removed = t.remove_orphan_files(
        older_than_ms=int(_time.time() * 1000) + 60_000
    )
    orphans_removed = int(len(removed) >= 1)
    return (
        t.to_df()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("string")
            .cast("double").alias("total_price"),
        )
        .withColumn("expired_some", F.lit(expired_some))
        .withColumn("expired_blocked", F.lit(expired_blocked))
        .withColumn("tag_readable", F.lit(tag_readable))
        .withColumn("orphans_removed", F.lit(orphans_removed))
        .orderBy("o_orderpriority")
    )


def _colocated_order_tables(spark: SparkSession, sf_dir: str):
    """Build the co-bucketed pk pair the colocated-join entries share:
    orders and a per-order lineitem profile, both bucketed 8-ways on the
    order key by the same xxhash64 layout (the write-time shuffle that
    every later bucket-aligned join amortizes)."""
    from paimon_presto_spark.catalog import Catalog

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem")
    prof = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast(DEC)).cast("string").cast("double")
        .alias("sum_qty"),
    )
    wh = _scratch_dir("coloc-")
    cat = Catalog(spark, wh)
    cat.create_database("cl", ignore_if_exists=True)
    t_orders = cat.create_table(
        "cl", "orders_b",
        "o_orderkey bigint, o_totalprice double, o_orderpriority string",
        primary_keys=["o_orderkey"], options={"bucket": "8"},
    )
    t_prof = cat.create_table(
        "cl", "order_profile",
        "l_orderkey bigint, n_items bigint, sum_qty double",
        primary_keys=["l_orderkey"], options={"bucket": "8"},
    )
    # The two seed commits touch disjoint tables and neither reads the
    # other — overlap them (optimization guide §2.6) so the profile
    # aggregation's tasks back-fill the orders write's tail.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        fut = pool.submit(t_orders.upsert, o)
        # finally: a main-thread failure must not mask the worker's
        # exception behind the with-block's silent shutdown(wait=True)
        try:
            t_prof.upsert(prof)
        finally:
            fut.result()
    return t_orders, t_prof


@register(
    "join_bucket_colocated",
    oracle="""
        WITH prof AS (
            SELECT l_orderkey,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,10)))
                        AS VARCHAR) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT o.o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CASE WHEN p.n_items IS NULL THEN 0 ELSE 1 END)
                    AS BIGINT) AS n_matched,
               CAST(SUM(COALESCE(p.n_items, 0)) AS BIGINT) AS total_items,
               CAST(CAST(SUM(CAST(COALESCE(p.sum_qty, 0.0)
                    AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS total_qty
        FROM orders o LEFT JOIN prof p ON p.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderpriority
        ORDER BY o.o_orderpriority
    """,
    tags=("join", "bucket", "colocated", "shuffle-free", "table-format"),
)
def join_bucket_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucket join — the ZERO-SHUFFLE join
    (``sources/colocated.colocated_join``): orders and a per-order
    lineitem profile are upserted into two pk tables bucketed 8-ways on
    the SAME key by the same xxhash64 layout, then LEFT-joined
    bucket-for-bucket INSIDE the scan — one task merges bucket b of both
    sides (merge-on-read included) and arrow-hash-joins them. The plan
    contains no Spark join node and no Exchange for the join: the only
    shuffle in this entry is the final per-priority rollup. Orders with
    no lineitems survive as null-extended rows (n_matched counts them
    out), and the oracle restates the whole thing as a plain relational
    LEFT JOIN.

    100 TB shape: the shuffle was paid ONCE at write time (rows landed
    in key buckets); every subsequent join on that key is one aligned
    scan task per bucket — the same layout contract the reference
    exposes one split per bucket for (``PrestoSplitManager.java:46-80`` /
    ``PrestoSqlSplitManagerBase``), and the
    reason nightly fact x profile joins on a bucketed lakehouse cost no
    network. Bucket counts, pk-equality, and key types are validated
    driver-side; dynamic-bucket tables are rejected (key-index layouts
    need not align).
    """
    from paimon_presto_spark.sources.colocated import colocated_join

    t_orders, t_prof = _colocated_order_tables(spark, sf_dir)
    j = colocated_join(
        spark, t_orders, t_prof,
        left_on="o_orderkey", right_on="l_orderkey", how="left",
    )
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.col("n_items").isNull(), 0).otherwise(1)
            ).alias("n_matched"),
            F.sum(F.coalesce(F.col("n_items"), F.lit(0)))
            .alias("total_items"),
            F.sum(F.coalesce(F.col("sum_qty"), F.lit(0.0)).cast(DEC))
            .cast("string").cast("double").alias("total_qty"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "join_bucket_colocated_lookup",
    oracle="""
        WITH prof AS (
            SELECT l_orderkey,
                   CAST(COUNT(*) AS BIGINT) AS n_items,
                   CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,10)))
                        AS VARCHAR) AS DOUBLE) AS sum_qty
            FROM lineitem GROUP BY l_orderkey
        ),
        k AS (SELECT MIN(o_orderkey) AS k FROM orders)
        SELECT o.o_orderkey, o.o_orderpriority,
               CAST(COALESCE(p.n_items, 0) AS BIGINT) AS n_items,
               COALESCE(p.sum_qty, 0.0) AS sum_qty,
               CAST(1 AS BIGINT) AS pinned_splits,
               CAST(8 AS BIGINT) AS full_splits
        FROM orders o
        JOIN k ON o.o_orderkey = k.k
        LEFT JOIN prof p ON p.l_orderkey = o.o_orderkey
    """,
    tags=("join", "bucket", "colocated", "point-lookup", "pushdown",
          "table-format"),
)
def join_bucket_colocated_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup THROUGH the colocated join — the pushFilters bucket
    prune under the oracle gate: the same co-bucketed orders x profile
    pair as ``join_bucket_colocated``, probed with ``o_orderkey = k``
    (k = the corpus minimum, collected as a bounded one-row agg). The
    equality literal reaches ``ColocatedJoinReader.pushFilters``
    (``sources/colocated.py``), which hashes the key through the SAME
    xxhash64 bucket layout the write path used and plans exactly ONE
    split out of 8 — the result row carries ``pinned_splits`` (planned
    partitions of the filtered view, must be 1) and ``full_splits``
    (unfiltered view, must be 8), and the DuckDB oracle hardcodes 1/8,
    so a broken or silently-disabled prune FAILS the hash gate, not just
    a bench assertion. Round-8 lesson baked into the gate: this entry
    dies loudly if filter pushdown is ever off or mis-pinned.

    100 TB shape: a key lookup on a bucketed lakehouse join costs one
    task reading two bucket files — no scan of the other N-1 buckets,
    no shuffle, no driver-side index. The reference exposes the same
    layout one split per bucket (``PrestoSplitManager.java:46-80``); pinning is the
    degenerate-but-critical case every serving path hits.
    """
    from paimon_presto_spark.sources.colocated import colocated_join

    t_orders, t_prof = _colocated_order_tables(spark, sf_dir)
    k = (
        load_table(spark, sf_dir, "orders")
        .agg(F.min("o_orderkey").alias("k"))
        .collect()[0]["k"]
    )
    # SEPARATE handles for the pinned and full views: Spark's Python
    # DataSource caches planned partitions per .load() handle, and a
    # filterless scan REUSES the last filtered scan's pruned plan
    # (upstream behavior, pinned by tests/test_pushdown_reuse.py) — one
    # shared handle here would report full_splits == 1.
    pinned = colocated_join(
        spark, t_orders, t_prof,
        left_on="o_orderkey", right_on="l_orderkey", how="left",
    ).filter(F.col("o_orderkey") == k)
    n_pinned = pinned.rdd.getNumPartitions()
    n_full = colocated_join(
        spark, t_orders, t_prof,
        left_on="o_orderkey", right_on="l_orderkey", how="left",
    ).rdd.getNumPartitions()
    return pinned.select(
        "o_orderkey",
        "o_orderpriority",
        F.coalesce(F.col("n_items"), F.lit(0)).alias("n_items"),
        F.coalesce(F.col("sum_qty"), F.lit(0.0)).alias("sum_qty"),
        F.lit(n_pinned).cast("long").alias("pinned_splits"),
        F.lit(n_full).cast("long").alias("full_splits"),
    )


@register(
    "table_format_rollback",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(
                   CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1000.0
                        ELSE o_totalprice END AS DECIMAL(28,10))) AS VARCHAR)
                   AS DOUBLE) AS total_price,
               1 AS bad_tag_dropped, 1 AS keep_tag_kept,
               1 AS orphans_reclaimed
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    tags=("table-format", "rollback", "time-travel", "orphan-files",
          "end-to-end"),
)
def table_format_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollback under the oracle gate — the undo lifecycle
    (``table.py:rollback_to``, Paimon's rollback_to procedure): orders
    land as the base snapshot (tagged ``keep``), a BAD batch follows (a
    price corruption and a spurious delete, tagged ``bad``), then the
    table rolls back to the base and takes a clean patch on the
    restored lineage. The gate certifies every rollback contract:

    - the final read equals base + clean patch — the bad commits left
      no trace in results (the oracle never mentions them);
    - ``bad_tag_dropped``: the tag pinned to a rolled-back snapshot is
      gone (Paimon's RollbackHelper reconciliation) while
      ``keep_tag_kept``: the base tag still reads its full count;
    - ``orphans_reclaimed``: the bad commits' data files became
      orphans and ``remove_orphan_files`` deleted them (>=1) — and the
      final aggregation runs AFTER cleanup, proving reclamation touched
      no live byte.

    100 TB shape: rollback is metadata-only — O(#snapshots) file
    deletes (the latest snapshot is the highest id left), independent
    of data size; the stranded bytes are reclaimed by the same
    O(metadata) orphan walk the retention entry exercises. This is the operational answer to a
    bad backfill: undo in seconds, reclaim asynchronously.
    """
    import time as _time

    from paimon_presto_spark.catalog import Catalog

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    wh = _scratch_dir("rb-")
    cat = Catalog(spark, wh)
    cat.create_database("rb", ignore_if_exists=True)
    t = cat.create_table(
        "rb", "orders_rb",
        "o_orderkey bigint, o_totalprice double, o_orderpriority string",
        primary_keys=["o_orderkey"],
    )
    base = t.upsert(o)                                     # s1: base
    n_base = t.to_df().count()
    t.create_tag("keep")
    t.upsert(                                              # s2: corruption
        o.filter(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + 9999.0
        )
    )
    t.delete(o.filter(F.col("o_orderkey") % 11 == 0))      # s3: bad delete
    t.create_tag("bad")

    t.rollback_to(base.snapshot_id)
    tags = t.list_tags()
    bad_tag_dropped = int("bad" not in tags)
    keep_tag_kept = int(
        "keep" in tags and t.to_df(tag="keep").count() == n_base
    )
    removed = t.remove_orphan_files(
        older_than_ms=int(_time.time() * 1000) + 60_000
    )
    orphans_reclaimed = int(len(removed) >= 1)
    t.upsert(                                              # clean patch on
        o.filter(F.col("o_orderkey") % 101 == 0).withColumn(  # restored head
            "o_totalprice", F.col("o_totalprice") + 1000.0
        )
    )
    return (
        t.to_df()
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("string")
            .cast("double").alias("total_price"),
        )
        .withColumn("bad_tag_dropped", F.lit(bad_tag_dropped))
        .withColumn("keep_tag_kept", F.lit(keep_tag_kept))
        .withColumn("orphans_reclaimed", F.lit(orphans_reclaimed))
        .orderBy("o_orderpriority")
    )
