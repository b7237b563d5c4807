"""Oracle-gated multimodal entries driving the REAL decode paths.

``multimodal_binary_stats`` (queries/advanced.py) gates the opaque-binary
plumbing; the entries here gate the DECODERS themselves: each synthesizes
deterministic media payloads (binary PPM images / PCM-16 WAV clips) whose
pixel/sample values are a closed-form function of ``doc_id``, pushes them
through the real Arrow-batched decode / resize / feature operators in
``operators/multimodal.py``, and hash-compares the DECODED statistics
against a DuckDB oracle that evaluates the same closed form symbolically —
the decoder, the nearest-neighbor resampler, and the WAV parser sit
INSIDE the correctness gate, not beside it.

Scale shape (both entries): synthesis and decode are 1→1 mapInPandas
stages — pure Arrow-batched maps, no shuffle; the only exchange is the
final per-corpus aggregation-free ORDER BY at output (and a tiny 1-1
feature join in the image entry). At 100 TB the payload column never
shuffles; partition sizing follows OUTPUT bytes when a resize shrinks
10x (see operators/multimodal.py:resize_images).

Determinism: pixel/sample math is integer end-to-end; the one float (WAV
RMS) is sqrt(exact_int / n) — two correctly-rounded IEEE ops both engines
share — squeezed through DECIMAL(28,10).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from paimon_presto_spark.functions.numeric import decimal_squeeze
from paimon_presto_spark.queries import register
from paimon_presto_spark.sources.testdata import load_table

#: number of documents turned into synthetic media rows
MEDIA_DOCS = 20


def _image_media(docs: DataFrame) -> DataFrame:
    """(media_id, payload): one binary-PPM image per doc; gray pixel
    (r, c) = (doc_id*31 + r*7 + c*13) % 256, size (8 + id%5) x (6 + id%4)."""
    import pandas as pd

    from paimon_presto_spark.operators.multimodal import encode_ppm

    def synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = 8 + did % 5, 6 + did % 4
                px = []
                for r in range(h):
                    line = bytearray()
                    for c in range(w):
                        g = (did * 31 + r * 7 + c * 13) % 256
                        line += bytes((g, g, g))
                    px.append(bytes(line))
                rows.append((did, encode_ppm(w, h, px)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return docs.select("doc_id").mapInPandas(
        synth, schema="media_id bigint, payload binary"
    )


@register(
    "multimodal_image_pipeline",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, 8 + doc_id % 5 AS w, 6 + doc_id % 4 AS h
            FROM documents WHERE doc_id < {MEDIA_DOCS}
        ),
        px AS (
            SELECT d.doc_id, d.w, d.h,
                   CAST(SUM((d.doc_id * 31
                             + LEAST(y.y * d.h // 4, d.h - 1) * 7
                             + LEAST(x.x * d.w // 4, d.w - 1) * 13) % 256)
                        AS BIGINT) AS r_sum
            FROM d, UNNEST(range(4)) AS y(y), UNNEST(range(4)) AS x(x)
            GROUP BY d.doc_id, d.w, d.h
        )
        SELECT doc_id, w AS width, h AS height,
               CAST(3 + LEN(CAST(w AS VARCHAR)) + 1
                    + LEN(CAST(h AS VARCHAR)) + 5 + w * h * 3
                    AS BIGINT) AS n_bytes_in,
               CAST(11 + 48 AS BIGINT) AS n_bytes_out,
               r_sum
        FROM px
        ORDER BY doc_id
    """,
    tags=("multimodal", "image", "decode", "resize", "arrow"),
)
def multimodal_image_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image decode → nearest-neighbor resize → re-decode, hash-gated:
    synthesizes one deterministic binary-PPM image per document (pixel
    values a closed-form function of doc_id), runs the REAL
    ``extract_image_features`` (decoded dimensions) and ``resize_images``
    (decode → 4x4 nearest resample → PPM re-encode) operators, re-decodes
    the resized payload, and returns integer statistics — decoded source
    dims, input/output byte counts, and the red-channel sum over the
    resized thumbnail. The DuckDB oracle never touches a byte of image
    data: it evaluates the same pixel formula through the same
    ``min(y*h//4, h-1)`` resample index map symbolically, so a
    one-pixel-off decoder or resampler fails the hash.

    The decode stack prefers pillow when installed and falls back to the
    built-in pure-Python PNG/BMP/PPM codecs (this environment) — PPM is
    lossless, so the gate holds on either path.
    """
    from paimon_presto_spark.operators.multimodal import (
        decode_image_pixels,
        extract_image_features,
        resize_images,
    )

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < MEDIA_DOCS
    )
    # cache: the synthesized media feeds BOTH the feature branch and the
    # resize branch — uncached, the documents scan and the Python synth
    # stage would execute twice
    media = _image_media(d).cache()
    feats = extract_image_features(media).select(
        "media_id", "width", "height"
    )
    resized = resize_images(media, out_width=4, out_height=4)

    import pandas as pd

    def rsum(batches):
        for pdf in batches:
            rows = []
            for mid, payload, nbi, nbo in zip(
                pdf["media_id"], pdf["resized"],
                pdf["n_bytes_in"], pdf["n_bytes_out"],
            ):
                _, _, px = decode_image_pixels(bytes(payload))
                rows.append(
                    (
                        int(mid),
                        int(nbi),
                        int(nbo),
                        sum(sum(row[0::3]) for row in px),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_bytes_in", "n_bytes_out", "r_sum"],
            )

    stats = resized.mapInPandas(
        rsum,
        schema="media_id bigint, n_bytes_in bigint, n_bytes_out bigint, "
               "r_sum bigint",
    )
    # materialize eagerly, then release the media cache — a lazily
    # returned plan would pin one cached frame per invocation across
    # bench/gate loops (the streaming entries' leak-avoid pattern)
    rows = (
        feats.join(stats, "media_id")
        .select(
            F.col("media_id").alias("doc_id"),
            "width",
            "height",
            "n_bytes_in",
            "n_bytes_out",
            "r_sum",
        )
        .collect()
    )
    media.unpersist()
    return spark.createDataFrame(
        [tuple(r) for r in rows],
        "doc_id long, width int, height int, n_bytes_in bigint, "
        "n_bytes_out bigint, r_sum bigint",
    ).orderBy("doc_id")


@register(
    "multimodal_audio_features",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, 64 + doc_id % 32 AS n
            FROM documents WHERE doc_id < {MEDIA_DOCS}
        ),
        s AS (
            SELECT d.doc_id, d.n,
                   ((d.doc_id * 37 + i.i * 11) % 2048) - 1024 AS v
            FROM d, UNNEST(range(d.n)) AS i(i)
        ),
        agg AS (
            SELECT doc_id, n, SUM(v * v) AS ss FROM s GROUP BY doc_id, n
        )
        SELECT doc_id,
               8000 AS sample_rate,
               1 AS n_channels,
               CAST(n AS BIGINT) AS n_samples,
               CAST(TRUNC(CAST(n * 1000 AS DOUBLE) / 8000) AS BIGINT)
                   AS duration_ms,
               ROUND(CAST(CAST(CAST(SQRT(CAST(ss AS DOUBLE) / n)
                   AS DECIMAL(28,10)) AS VARCHAR) AS DOUBLE), 6) AS rms
        FROM agg
        ORDER BY doc_id
    """,
    tags=("multimodal", "audio", "wav", "decode", "arrow"),
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV parse hash-gated: synthesizes one PCM-16 mono WAV clip per
    document (sample i = ((doc_id*37 + i*11) % 2048) - 1024, written with
    the stdlib ``wave`` module), runs the REAL ``extract_audio_features``
    parser (rate / channels / frame count / duration / RMS), and compares
    against the oracle's symbolic evaluation of the same sample formula.
    RMS = sqrt(exact-integer energy / n) — both engines perform the same
    two correctly-rounded IEEE ops (the operator uses math.sqrt, not
    pow(x, 0.5), for exactly this reason), squeezed through
    DECIMAL(28,10); duration mirrors the parser's float-divide-then-
    truncate with TRUNC over the same double division.
    """
    import io
    import wave

    import pandas as pd

    from paimon_presto_spark.operators.multimodal import (
        extract_audio_features,
    )

    def synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 64 + did % 32
                frames = b"".join(
                    (((did * 37 + i * 11) % 2048) - 1024).to_bytes(
                        2, "little", signed=True
                    )
                    for i in range(n)
                )
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(8000)
                    w.writeframes(frames)
                rows.append((did, buf.getvalue()))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < MEDIA_DOCS
    )
    media = d.select("doc_id").mapInPandas(
        synth, schema="media_id bigint, payload binary"
    )
    out = extract_audio_features(media)
    return out.select(
        F.col("media_id").alias("doc_id"),
        "sample_rate",
        "n_channels",
        "n_samples",
        "duration_ms",
        F.round(decimal_squeeze(F.col("rms")), 6).alias("rms"),
    ).orderBy("doc_id")


@register(
    "multimodal_frame_sample",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, text, LEN(text) AS tl,
                   (doc_id % 5 + 1) * 1750 AS dur
            FROM documents
            WHERE doc_id < {MEDIA_DOCS}
              AND OCTET_LENGTH(ENCODE(text)) = LEN(text)
        ),
        f AS (
            SELECT doc_id, i.i AS frame_idx, i.i * 1000 AS frame_ts_ms,
                   i.i % GREATEST(tl, 1) AS off, text, tl
            FROM d, UNNEST(range(GREATEST(dur // 1000, 1))) AS i(i)
        )
        SELECT doc_id,
               CAST(frame_idx AS INT) AS frame_idx,
               CAST(frame_ts_ms AS BIGINT) AS frame_ts_ms,
               CAST(LEAST(16, tl - off) AS BIGINT) AS frame_len,
               md5(SUBSTRING(text, off + 1, 16)) AS frame_digest
        FROM f
        ORDER BY doc_id, frame_idx
    """,
    tags=("multimodal", "video", "frame-sample", "arrow", "stub"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling, 1→N Arrow-batched — completes the
    decode / feature / resize / FRAME-SAMPLE quartet under the hash gate.
    The real path demuxes with PyAV (absent here, raises
    NotImplementedError naming the dependency — the designed stub); the
    deterministic fake decoder stands in, and THAT is what this entry
    gates: one row per sampled frame (``max(1, duration_ms // 1000)``
    frames, ts = i*1000 ms), each frame a byte-slice of the payload that
    the oracle reproduces with string arithmetic. Frames come back as
    length + md5 digest (binary columns can't ride the pandas hash
    compare). Docs are filtered to pure-ASCII text IN BOTH ENGINES so the
    oracle's character slicing equals the operator's byte slicing by
    construction, not by luck.

    Scale shape: a pure 1→N mapInPandas explode — the variable-fanout
    batch shape real frame extraction needs (output rows ≫ input rows;
    partition sizing follows frames, not clips). Nothing shuffles.
    """
    from paimon_presto_spark.operators.multimodal import sample_frames

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < MEDIA_DOCS)
        .filter(F.octet_length("text") == F.length("text"))
    )
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
        ((F.col("doc_id") % 5 + 1) * 1750).alias("duration_ms"),
    )
    frames = sample_frames(media, every_ms=1000, use_fake_decoder=True)
    return frames.select(
        F.col("media_id").alias("doc_id"),
        "frame_idx",
        "frame_ts_ms",
        F.length("frame").cast("long").alias("frame_len"),
        F.md5("frame").alias("frame_digest"),
    ).orderBy("doc_id", "frame_idx")


#: image near-dup corpus: 48 synthetic 8x8 images — 8 clusters of 4
#: variants, 4 clusters of 3, 4 singletons (unique base patterns)
PHASH_DOCS = 48
PHASH_MULTI = 44          # doc_id below this: group = doc_id % 12
PHASH_GROUPS = 12
PHASH_MAX_HAMMING = 3



def _keep_best_clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared tail of the perceptual-dedup twins: transitive clusters from
    the qualifying pairs (``connected_components``, 4-round star-switch
    budget — real media-dup clusters are 1-2 hops), singletons as their
    own keeper, then one struct-max aggregation per cluster keeping the
    best doc by quality (max n_chars, ties to smallest doc_id) plus the
    sorted member list and char total the oracles assert."""
    from paimon_presto_spark.operators.dedup import connected_components

    comp = connected_components(pairs, star_switch_budget=4)
    singles = docs.join(comp, "doc_id", "left_anti").select(
        "doc_id", F.col("doc_id").alias("component")
    )
    member = comp.unionByName(singles).join(docs, "doc_id")
    return (
        member.groupBy("component")
        .agg(
            F.max(
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
            ).alias("best"),
            F.count(F.lit(1)).alias("cluster_size"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("members"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            (-F.col("best.neg_id")).alias("kept_doc_id"),
            "cluster_size",
            "members",
            "total_chars",
        )
        .orderBy("kept_doc_id")
    )


def _neardup_image_media(docs: DataFrame) -> DataFrame:
    """(media_id, payload): one 8x8 binary-PPM per doc, engineered so the
    8x8 aHash grid maps one pixel per cell. Base pattern per group g:
    cell p is bright (224) iff ((g+1)*(p+7)*2654435761) % 256 < 128, dark
    (32) otherwise; variant v flips the first v cells. Bright/dark sit
    ~90 luma away from any achievable mean, so variant v1 vs v2 of one
    group lands at Hamming distance exactly |v1-v2| (<= 3) while distinct
    groups stay >= 19 apart (validated offline) — cluster structure is
    unambiguous at max_hamming=3."""
    import pandas as pd

    from paimon_presto_spark.operators.multimodal import encode_ppm

    def synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did < PHASH_MULTI:
                    g, v = did % PHASH_GROUPS, did // PHASH_GROUPS
                else:
                    g, v = did - PHASH_MULTI + PHASH_GROUPS, 0
                px = []
                for r in range(8):
                    line = bytearray()
                    for c in range(8):
                        p = r * 8 + c
                        bit = ((g + 1) * (p + 7) * 2654435761) % 256 < 128
                        if p < v:
                            bit = not bit
                        gray = 224 if bit else 32
                        line += bytes((gray, gray, gray))
                    px.append(bytes(line))
                rows.append((did, encode_ppm(8, 8, px)))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return docs.select("doc_id").mapInPandas(
        synth, schema="media_id bigint, payload binary"
    )


@register(
    "dedup_image_phash",
    oracle=f"""
        WITH RECURSIVE d AS (
            SELECT doc_id, n_chars,
                   CASE WHEN doc_id < {PHASH_MULTI}
                        THEN doc_id % {PHASH_GROUPS}
                        ELSE doc_id - {PHASH_MULTI} + {PHASH_GROUPS} END AS g,
                   CASE WHEN doc_id < {PHASH_MULTI}
                        THEN doc_id // {PHASH_GROUPS} ELSE 0 END AS v
            FROM documents WHERE doc_id < {PHASH_DOCS}
        ),
        cells AS (
            SELECT d.doc_id, p.p,
                   CASE WHEN (((d.g + 1) * (p.p + 7) * 2654435761) % 256
                              < 128) != (p.p < d.v)
                        THEN 1 ELSE 0 END AS bit
            FROM d, UNNEST(range(64)) AS p(p)
        ),
        ham AS (
            SELECT a.doc_id AS da, b.doc_id AS db
            FROM cells a JOIN cells b
              ON a.p = b.p AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)
                   AS BIGINT) <= {PHASH_MAX_HAMMING}
        ),
        edges AS (
            SELECT da, db FROM ham UNION ALL SELECT db AS da, da AS db FROM ham
        ),
        reach(src, dst) AS (
            SELECT doc_id, doc_id FROM d
            UNION
            SELECT r.src, e.db FROM reach r JOIN edges e ON r.dst = e.da
        ),
        comp AS (
            SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
        ),
        member AS (
            SELECT c.component, c.doc_id, d.n_chars
            FROM comp c JOIN d ON c.doc_id = d.doc_id
        ),
        agg AS (
            SELECT component,
                   CAST(COUNT(*) AS BIGINT) AS cluster_size,
                   STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                       AS members,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM member GROUP BY component
        ),
        best AS (
            SELECT component, doc_id AS kept_doc_id,
                   ROW_NUMBER() OVER (PARTITION BY component
                                      ORDER BY n_chars DESC, doc_id) AS rn
            FROM member
        )
        SELECT b.kept_doc_id, a.cluster_size, a.members, a.total_chars
        FROM best b JOIN agg a ON b.component = a.component
        WHERE b.rn = 1
        ORDER BY kept_doc_id
    """,
    tags=("multimodal", "image", "dedup", "phash", "banding", "arrow"),
)
def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup — the standard image-pipeline dedup
    stage, with the REAL decoder and aHash inside the correctness gate:
    synthesizes 48 deterministic binary-PPM images (8 clusters of 4
    near-dup variants, 4 of 3, 4 singletons), decodes them with the real
    Arrow-batched ``extract_image_features`` (luma -> 8x8 average-hash),
    finds pairs at Hamming distance <= 3 via the signature-agnostic
    chunk banding (``operators/dedup.hamming_banded_pairs``: 8 chunks of
    8 bits, pigeonhole-complete recall for <= 3 flips, equi-join — never
    all-pairs), resolves transitive clusters
    (``connected_components``, 4-round star-switch budget: real
    image-dup clusters are 1-2 hops), and keeps the best image of each
    cluster by document quality (max n_chars, ties to smallest doc_id).
    Singleton images survive as their own keeper. The DuckDB oracle never
    decodes a byte: it evaluates the pixel formula symbolically through
    the same bright>mean>dark threshold invariant, closes the pair graph
    with a recursive CTE, and must agree on every cluster membership —
    one flipped hash bit anywhere moves a doc across clusters and fails
    the hash gate.

    100 TB shape: decode+hash is a 1->1 Arrow map (no shuffle of pixel
    data — the 64-bit signature is what shuffles, 8 bytes/image); banding
    is the SimHash equi-join path; components run label propagation with
    an explicit budget. This composes the multimodal decode stack with
    the dedup machinery exactly the way a production image corpus is
    deduplicated (reference scope: the brief's multimodal + dedup
    requirements; pattern parity with ``dedup_simhash``'s banding).
    """
    from paimon_presto_spark.operators.dedup import hamming_banded_pairs
    from paimon_presto_spark.operators.multimodal import extract_image_features

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < PHASH_DOCS
    ).select("doc_id", "n_chars")
    media = _neardup_image_media(docs)
    sigs = extract_image_features(media).select(
        F.col("media_id").alias("doc_id"), F.col("phash")
    )
    pairs = hamming_banded_pairs(
        sigs, sig_col="phash", id_col="doc_id",
        bits=64, max_hamming=PHASH_MAX_HAMMING, chunks=8,
    ).select("doc_a", "doc_b")
    return _keep_best_clusters(docs, pairs)


#: audio near-dup corpus — the SAME cluster geometry as the image entry
#: (8 clusters of 4 variants, 4 of 3, 4 singletons), deliberately: the
#: banded-Hamming machinery is signature-agnostic, and reusing the
#: geometry makes the image/audio twins directly comparable. 64 blocks of
#: 4 PCM-16 samples per clip; block p is LOUD (|amp| 800) iff the group's
#: pattern bit is set, QUIET (|amp| 100) otherwise; variant v flips the
#: first v blocks.
AFP_DOCS = PHASH_DOCS
AFP_MULTI = PHASH_MULTI
AFP_GROUPS = PHASH_GROUPS
AFP_MAX_HAMMING = PHASH_MAX_HAMMING
AFP_LOUD = 800
AFP_QUIET = 100
AFP_BLOCK_SAMPLES = 4


def _neardup_audio_media(docs: DataFrame) -> DataFrame:
    """(media_id, payload): one PCM-16 mono WAV per doc (256 samples =
    64 blocks x 4), engineered so the energy-sign hash maps one block per
    bit. Loud blocks (4x800^2 energy) sit strictly above any achievable
    clip-mean block energy and quiet blocks (4x100^2) strictly below —
    for ANY mix with 0 < k < 64 loud blocks: 64*E_loud > k*E_loud +
    (64-k)*E_quiet iff (64-k)*(E_loud - E_quiet) > 0, and symmetrically
    for quiet — so the fingerprint equals the pattern bits exactly and
    variant v1 vs v2 of one group lands at Hamming distance |v1-v2|.
    Samples alternate sign (+A, -A) so clips are zero-mean audio, not DC
    offsets; energy is sign-blind."""
    import io
    import wave

    import pandas as pd

    def synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did < AFP_MULTI:
                    g, v = did % AFP_GROUPS, did // AFP_GROUPS
                else:
                    g, v = did - AFP_MULTI + AFP_GROUPS, 0
                frames = bytearray()
                for p in range(64):
                    bit = ((g + 1) * (p + 7) * 2654435761) % 256 < 128
                    if p < v:
                        bit = not bit
                    amp = AFP_LOUD if bit else AFP_QUIET
                    for i in range(AFP_BLOCK_SAMPLES):
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

    return docs.select("doc_id").mapInPandas(
        synth, schema="media_id bigint, payload binary"
    )


@register(
    "dedup_audio_fingerprint",
    oracle=f"""
        WITH RECURSIVE d AS (
            SELECT doc_id, n_chars,
                   CASE WHEN doc_id < {AFP_MULTI}
                        THEN doc_id % {AFP_GROUPS}
                        ELSE doc_id - {AFP_MULTI} + {AFP_GROUPS} END AS g,
                   CASE WHEN doc_id < {AFP_MULTI}
                        THEN doc_id // {AFP_GROUPS} ELSE 0 END AS v
            FROM documents WHERE doc_id < {AFP_DOCS}
        ),
        blocks AS (
            SELECT d.doc_id, p.p,
                   CASE WHEN (((d.g + 1) * (p.p + 7) * 2654435761) % 256
                              < 128) != (p.p < d.v)
                        THEN {AFP_LOUD} ELSE {AFP_QUIET} END AS amp
            FROM d, UNNEST(range(64)) AS p(p)
        ),
        sig AS (
            SELECT doc_id, p,
                   CASE WHEN 64 * ({AFP_BLOCK_SAMPLES} * amp * amp)
                             > SUM({AFP_BLOCK_SAMPLES} * amp * amp)
                               OVER (PARTITION BY doc_id)
                        THEN 1 ELSE 0 END AS bit
            FROM blocks
        ),
        ham AS (
            SELECT a.doc_id AS da, b.doc_id AS db
            FROM sig a JOIN sig b
              ON a.p = b.p AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)
                   AS BIGINT) <= {AFP_MAX_HAMMING}
        ),
        edges AS (
            SELECT da, db FROM ham UNION ALL SELECT db AS da, da AS db FROM ham
        ),
        reach(src, dst) AS (
            SELECT doc_id, doc_id FROM d
            UNION
            SELECT r.src, e.db FROM reach r JOIN edges e ON r.dst = e.da
        ),
        comp AS (
            SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
        ),
        member AS (
            SELECT c.component, c.doc_id, d.n_chars
            FROM comp c JOIN d ON c.doc_id = d.doc_id
        ),
        agg AS (
            SELECT component,
                   CAST(COUNT(*) AS BIGINT) AS cluster_size,
                   STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                       AS members,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM member GROUP BY component
        ),
        best AS (
            SELECT component, doc_id AS kept_doc_id,
                   ROW_NUMBER() OVER (PARTITION BY component
                                      ORDER BY n_chars DESC, doc_id) AS rn
            FROM member
        )
        SELECT b.kept_doc_id, a.cluster_size, a.members, a.total_chars
        FROM best b JOIN agg a ON b.component = a.component
        WHERE b.rn = 1
        ORDER BY kept_doc_id
    """,
    tags=("multimodal", "audio", "dedup", "fingerprint", "banding", "arrow"),
)
def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint audio near-dup — the audio twin of
    ``dedup_image_phash``, completing perceptual dedup across all three
    media modalities (text SimHash / image aHash / audio energy-sign
    hash) over ONE signature-agnostic banding core. Synthesizes 48
    deterministic PCM-16 WAV clips (8 clusters of 4 near-dup variants, 4
    of 3, 4 singletons), decodes them with the real Arrow-batched
    ``extract_audio_fingerprint`` (stdlib ``wave`` parse → integer block
    energies → above-clip-mean sign map, chromaprint-lite), finds pairs
    at Hamming distance <= 3 via ``operators/dedup.hamming_banded_pairs``
    (8 chunks of 8 bits, pigeonhole-complete recall for <= 3 flips,
    equi-join — never all-pairs), resolves transitive clusters
    (``connected_components``), and keeps the best
    clip per cluster by document quality (max n_chars, ties to smallest
    doc_id); singletons survive as their own keeper. The DuckDB oracle
    never parses a byte: it rebuilds each block's amplitude from the
    pattern formula, recomputes the EXACT integer energies and the
    64*E > sum(E) mean threshold numerically, closes the pair graph with
    a recursive CTE, and must agree on every cluster membership — one
    flipped fingerprint bit anywhere moves a clip across clusters and
    fails the hash gate.

    100 TB shape: decode+hash is a 1->1 Arrow map (raw audio bytes never
    shuffle — the 8-byte fingerprint is what shuffles); banding is the
    same equi-join path the SimHash/image entries drive; components run
    label propagation with an explicit budget. (Reference scope: the
    brief's multimodal + dedup requirements; pattern parity with
    ``dedup_image_phash``.)
    """
    from paimon_presto_spark.operators.dedup import hamming_banded_pairs
    from paimon_presto_spark.operators.multimodal import (
        extract_audio_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < AFP_DOCS
    ).select("doc_id", "n_chars")
    media = _neardup_audio_media(docs)
    sigs = extract_audio_fingerprint(media).select(
        F.col("media_id").alias("doc_id"), F.col("afp")
    )
    pairs = hamming_banded_pairs(
        sigs, sig_col="afp", id_col="doc_id",
        bits=64, max_hamming=AFP_MAX_HAMMING, chunks=8,
    ).select("doc_a", "doc_b")
    return _keep_best_clusters(docs, pairs)


#: video near-dup corpus — the SAME cluster geometry as the image/audio
#: twins (8 clusters of 4 variants, 4 of 3, 4 singletons), deliberately:
#: the banded-Hamming machinery is signature-agnostic and the shared
#: geometry makes all three perceptual twins directly comparable. Each
#: "video" is a raw PPM-frame stream of 5 8x8 frames. Frame f of doc
#: (group g, variant v): cell p bright iff
#:   base(g,p) XOR (p < v AND f < 3) XOR (p == noise(g,f))
#: where base is the twins' pattern formula and noise(g,f) =
#: 32 + (g*7 + f*13) % 32. Variant flips hit a MAJORITY of frames (3 of
#: 5) so the temporal vote keeps them; noise flips hit exactly ONE frame
#: each (f*13 mod 32 distinct for f<5) so the vote suppresses them —
#: a wrong majority implementation fails the gate in both directions.
#: Noise cells live in [32,64), variant cells in [0,4): disjoint, so the
#: majority fingerprint equals base XOR (p<v) EXACTLY and the validated
#: image geometry carries over (within-group Hamming |v1-v2| <= 3,
#: cross-group >= 19; every frame's bright count validated in (0,64) so
#: the aHash threshold equals the pattern bit — validated offline).
VFP_DOCS = PHASH_DOCS
VFP_MULTI = PHASH_MULTI
VFP_GROUPS = PHASH_GROUPS
VFP_MAX_HAMMING = PHASH_MAX_HAMMING
VFP_FRAMES = 5
VFP_FLIP_FRAMES = 3


def _neardup_video_media(docs: DataFrame) -> DataFrame:
    """(media_id, payload): one 5-frame raw PPM stream per doc, built by
    concatenating ``encode_ppm`` frames — the exact interchange bytes the
    real ``sample_frames`` path emits per kept frame."""
    import pandas as pd

    from paimon_presto_spark.operators.multimodal import encode_ppm

    def synth(batches):
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did < VFP_MULTI:
                    g, v = did % VFP_GROUPS, did // VFP_GROUPS
                else:
                    g, v = did - VFP_MULTI + VFP_GROUPS, 0
                clip = b""
                for f in range(VFP_FRAMES):
                    noise = 32 + (g * 7 + f * 13) % 32
                    px = []
                    for r in range(8):
                        line = bytearray()
                        for c in range(8):
                            p = r * 8 + c
                            bit = ((g + 1) * (p + 7) * 2654435761) % 256 < 128
                            if p < v and f < VFP_FLIP_FRAMES:
                                bit = not bit
                            if p == noise:
                                bit = not bit
                            gray = 224 if bit else 32
                            line += bytes((gray, gray, gray))
                        px.append(bytes(line))
                    clip += encode_ppm(8, 8, px)
                rows.append((did, clip))
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return docs.select("doc_id").mapInPandas(
        synth, schema="media_id bigint, payload binary"
    )


@register(
    "dedup_video_fingerprint",
    oracle=f"""
        WITH RECURSIVE d AS (
            SELECT doc_id, n_chars,
                   CASE WHEN doc_id < {VFP_MULTI}
                        THEN doc_id % {VFP_GROUPS}
                        ELSE doc_id - {VFP_MULTI} + {VFP_GROUPS} END AS g,
                   CASE WHEN doc_id < {VFP_MULTI}
                        THEN doc_id // {VFP_GROUPS} ELSE 0 END AS v
            FROM documents WHERE doc_id < {VFP_DOCS}
        ),
        fb AS (
            SELECT d.doc_id, p.p, f.f,
                   CASE WHEN ((((d.g + 1) * (p.p + 7) * 2654435761) % 256
                               < 128)
                              != (p.p < d.v AND f.f < {VFP_FLIP_FRAMES}))
                             != (p.p = 32 + (d.g * 7 + f.f * 13) % 32)
                        THEN 1 ELSE 0 END AS bit
            FROM d, UNNEST(range(64)) AS p(p),
                 UNNEST(range({VFP_FRAMES})) AS f(f)
        ),
        sig AS (
            SELECT doc_id, p,
                   CASE WHEN 2 * SUM(bit) > {VFP_FRAMES}
                        THEN 1 ELSE 0 END AS bit
            FROM fb GROUP BY doc_id, p
        ),
        ham AS (
            SELECT a.doc_id AS da, b.doc_id AS db
            FROM sig a JOIN sig b
              ON a.p = b.p AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)
                   AS BIGINT) <= {VFP_MAX_HAMMING}
        ),
        edges AS (
            SELECT da, db FROM ham UNION ALL SELECT db AS da, da AS db FROM ham
        ),
        reach(src, dst) AS (
            SELECT doc_id, doc_id FROM d
            UNION
            SELECT r.src, e.db FROM reach r JOIN edges e ON r.dst = e.da
        ),
        comp AS (
            SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
        ),
        member AS (
            SELECT c.component, c.doc_id, d.n_chars
            FROM comp c JOIN d ON c.doc_id = d.doc_id
        ),
        agg AS (
            SELECT component,
                   CAST(COUNT(*) AS BIGINT) AS cluster_size,
                   STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                       AS members,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars
            FROM member GROUP BY component
        ),
        best AS (
            SELECT component, doc_id AS kept_doc_id,
                   ROW_NUMBER() OVER (PARTITION BY component
                                      ORDER BY n_chars DESC, doc_id) AS rn
            FROM member
        )
        SELECT b.kept_doc_id, a.cluster_size, a.members, a.total_chars
        FROM best b JOIN agg a ON b.component = a.component
        WHERE b.rn = 1
        ORDER BY kept_doc_id
    """,
    tags=("multimodal", "video", "dedup", "fingerprint", "banding", "arrow"),
)
def dedup_video_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-majority video near-dup — the FOURTH and final perceptual
    modality (text SimHash / image aHash / audio energy-sign / video
    frame-majority), all over ONE signature-agnostic banding core.
    Synthesizes 48 deterministic 5-frame raw-PPM video clips (8 clusters
    of 4 near-dup variants, 4 of 3, 4 singletons; variant edits hit a
    majority of frames, per-frame noise hits exactly one frame each),
    fingerprints them with the real Arrow-batched
    ``extract_video_fingerprint`` (PPM-stream demux → per-frame decode →
    per-frame 8×8 average-hash → temporal MAJORITY vote — the binarized
    temporal aggregation of video-copy-detection baselines), finds pairs
    at Hamming distance <= 3 via ``operators/dedup.hamming_banded_pairs``
    (8 chunks of 8 bits, pigeonhole-complete recall for <= 3 flips,
    equi-join — never all-pairs), resolves transitive clusters
    (``connected_components``), and keeps the best clip
    per cluster by document quality (max n_chars, ties to smallest
    doc_id); singletons survive as their own keeper. The DuckDB oracle
    never demuxes a byte: it rebuilds every FRAME's bit map from the
    pattern formula (base XOR majority-frame variant flips XOR
    single-frame noise), recomputes the majority vote numerically with a
    GROUP BY over frames, closes the pair graph with a recursive CTE, and
    must agree on every cluster membership — a fingerprint that ignores
    frame multiplicity (or counts noise frames as signal) moves a clip
    across clusters and fails the hash gate.

    100 TB shape: demux+hash is a 1→1 Arrow map — raw video bytes (the
    heaviest payloads of any modality) never shuffle, only the 8-byte
    fingerprint does; banding is the same equi-join path the
    SimHash/image/audio entries drive; components run label propagation
    with an explicit budget. (Reference scope: the brief's multimodal +
    dedup requirements; pattern parity with ``dedup_image_phash`` and
    ``dedup_audio_fingerprint``.)
    """
    from paimon_presto_spark.operators.dedup import hamming_banded_pairs
    from paimon_presto_spark.operators.multimodal import (
        extract_video_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < VFP_DOCS
    ).select("doc_id", "n_chars")
    media = _neardup_video_media(docs)
    sigs = extract_video_fingerprint(media).select(
        F.col("media_id").alias("doc_id"), F.col("vfp")
    )
    pairs = hamming_banded_pairs(
        sigs, sig_col="vfp", id_col="doc_id",
        bits=64, max_hamming=VFP_MAX_HAMMING, chunks=8,
    ).select("doc_a", "doc_b")
    return _keep_best_clusters(docs, pairs)


#: incremental split point for the image corpus: docs >= 36 are "today's
#: ingest" — exactly the v=3 variant of each 4-variant group (groups
#: 0..7) plus the 4 singletons, so the expected increment pair set is
#: fully determined: per group g, (g, g+36, ham 3), (g+12, g+36, ham 2),
#: (g+24, g+36, ham 1) = 24 pairs; singletons admit pair-free.
PHASH_NEW_START = 36


@register(
    "dedup_image_phash_incremental",
    oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   CASE WHEN doc_id < {PHASH_MULTI}
                        THEN doc_id % {PHASH_GROUPS}
                        ELSE doc_id - {PHASH_MULTI} + {PHASH_GROUPS} END AS g,
                   CASE WHEN doc_id < {PHASH_MULTI}
                        THEN doc_id // {PHASH_GROUPS} ELSE 0 END AS v
            FROM documents WHERE doc_id < {PHASH_DOCS}
        ),
        cells AS (
            SELECT d.doc_id, p.p,
                   CASE WHEN (((d.g + 1) * (p.p + 7) * 2654435761) % 256
                              < 128) != (p.p < d.v)
                        THEN 1 ELSE 0 END AS bit
            FROM d, UNNEST(range(64)) AS p(p)
        ),
        ham AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)
                        AS INTEGER) AS hamming
            FROM cells a JOIN cells b
              ON a.p = b.p AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING CAST(SUM(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END)
                   AS BIGINT) <= {PHASH_MAX_HAMMING}
        )
        SELECT doc_a, doc_b, hamming
        FROM ham
        WHERE doc_b >= {PHASH_NEW_START}
        ORDER BY doc_a, doc_b
    """,
    tags=("multimodal", "image", "dedup", "phash", "banding",
          "incremental", "arrow"),
)
def dedup_image_phash_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental perceptual near-dup — the store-and-reuse rung for the
    four perceptual modalities, mirroring ``dedup_minhash_incremental``:
    a fingerprint depends only on its media row, so yesterday's stored
    (id, signature) table stays valid and today's ingest admits against
    the corpus WITHOUT re-pairing old-vs-old
    (``operators/dedup.hamming_banded_pairs_incremental``: the
    increment's chunk buckets probe the corpus-wide build side; pair
    volume scales with |new| × bucket population, not |corpus|²). The
    48-image corpus splits at doc 36: the increment is exactly each
    group's v=3 variant plus the 4 singletons, so the oracle — which
    recomputes every signature bit symbolically, takes ALL qualifying
    pairs, and restricts to pairs touching the increment (pair order
    makes that ``doc_b >= 36``) — pins both recall directions: a missed
    new-vs-old pair (probe side too narrow) and a phantom old-vs-old
    pair (build side leaking into the probe) each fail the hash.
    Equivalence to the full generator restricted to new-touching pairs
    is additionally property-tested over random signature multisets
    (``tests/test_hamming_property.py``).

    100 TB shape: the stored-fingerprint table is the only old-side
    input (8 bytes/item); decode runs on the increment alone. Same
    banded equi-join as the full entries — never all-pairs. (Reference
    scope: the brief's dedup requirements; pattern parity with
    ``dedup_minhash_incremental``/``semdedup_incremental``.)
    """
    from paimon_presto_spark.operators.dedup import (
        hamming_banded_pairs_incremental,
    )
    from paimon_presto_spark.operators.multimodal import (
        extract_image_features,
    )

    # no keep-best tail here (unlike dedup_image_phash), so only the ids
    # are needed — n_chars would be a dead column
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < PHASH_DOCS
    ).select("doc_id")
    media = _neardup_image_media(docs)
    sigs = extract_image_features(media).select(
        F.col("media_id").alias("doc_id"), F.col("phash")
    )
    # filter-split of ONE lazy lineage: Spark does not share subplans
    # across the probe and build legs, so the 48-image decode recomputes
    # per consumer — deliberate at this scale (milliseconds) in exchange
    # for keeping the plan cache-free across battery loops. Production
    # reads old_sigs from the stored fingerprint table (8 bytes/item, no
    # decode), which is the shape the docstring and the sf1 pipeline
    # rows exercise; dedup_minhash_incremental's no-stored path instead
    # pays the ledgered-cache machinery because its shingle sets are
    # corpus-sized, which 48 signatures are not.
    old_sigs = sigs.filter(F.col("doc_id") < PHASH_NEW_START)
    new_sigs = sigs.filter(F.col("doc_id") >= PHASH_NEW_START)
    return hamming_banded_pairs_incremental(
        new_sigs, old_sigs, sig_col="phash", id_col="doc_id",
        bits=64, max_hamming=PHASH_MAX_HAMMING, chunks=8,
    ).orderBy("doc_a", "doc_b")
