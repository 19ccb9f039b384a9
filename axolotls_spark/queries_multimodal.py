"""Multimodal-column queries — binary payload + typed-metadata
pipeline over ``documents`` (payloads are the UTF-8 text bytes, so
DuckDB's ``encode()`` reproduces them for the oracle).

The decode/feature steps run through the fake codec backend
(multimodal/ops.py) — deterministic, so even the mapInPandas stages
are oracle-checkable where the arithmetic is SQL-expressible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from axolotls_spark import multimodal as M
from axolotls_spark.cacheutil import materialize
from axolotls_spark.io.sources import load_table, spread_for_cpu
from axolotls_spark.registry import register


@register(
    "multimodal_manifest",
    oracle="""
    SELECT
        doc_id,
        CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                        ELSE 'video' END AS media_type,
        octet_length(encode(text))::BIGINT AS byte_len,
        (64 + octet_length(encode(text)) % 512)::INT  AS width,
        (64 + (octet_length(encode(text)) * 7) % 512)::INT AS height,
        ceil(octet_length(encode(text)) / 256.0)::INT AS n_frames,
        md5(text) AS payload_md5
    FROM documents
    """,
    tags=("multimodal", "binary", "metadata"),
)
def multimodal_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata struct; emits scalars (not raw
    bytes) so the hash compare is engine-neutral."""
    docs = load_table(spark, sf_dir, "documents")
    m = M.attach_payload(docs)
    return m.select(
        "doc_id",
        F.col("meta.media_type").alias("media_type"),
        F.col("meta.byte_len").alias("byte_len"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.n_frames").alias("n_frames"),
        F.md5("payload").alias("payload_md5"),
    )


@register(
    "multimodal_decode",
    oracle="""
    SELECT
        doc_id,
        (64 + octet_length(encode(text)) % 512)::INT       AS dec_width,
        (64 + (octet_length(encode(text)) * 7) % 512)::INT AS dec_height
    FROM documents
    """,
    tags=("multimodal", "decode", "mapInPandas", "pandas-udf"),
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas decode (fake codec): the Python
    stage's output must match the SQL restatement of the same
    deterministic arithmetic — certifying the batch plumbing,
    not the codec."""
    docs = load_table(spark, sf_dir, "documents")
    dec = M.decode_media(M.attach_payload(docs), backend="fake")
    return dec.select("doc_id", "dec_width", "dec_height")


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, UNNEST(range(0, ceil(octet_length(encode(text)) / 256.0)::INT, 4))::INT AS frame_idx
    FROM documents
    WHERE doc_id % 3 = 2
    """,
    tags=("multimodal", "video", "frame-sample", "explode"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every-4th-frame sampling of video payloads; frame indices are
    oracle-checked, frame bytes covered by tests (DuckDB lacks blob
    slicing ergonomics worth duplicating)."""
    docs = load_table(spark, sf_dir, "documents")
    frames = M.frame_sample(M.attach_payload(docs), every=4)
    return frames.select("doc_id", "frame_idx")


@register(
    "multimodal_byte_histogram",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               CAST(octet_length(encode(text)) AS DOUBLE) AS n
        FROM documents
    ),
    nib AS (
        SELECT doc_id, n,
               strpos('0123456789ABCDEF', substr(hx, 2 * i.i + 1, 1)) - 1
                   AS v
        FROM b CROSS JOIN UNNEST(range(0, CAST(n AS BIGINT))) AS i(i)
    ),
    agg AS (
        SELECT doc_id, MAX(n) AS n,
               {", ".join(f"SUM(CASE WHEN v = {i} THEN 1 ELSE 0 END) AS c{i}" for i in range(16))}
        FROM nib GROUP BY doc_id
    )
    SELECT doc_id,
           sqrt(0.0 + {" + ".join(f"(c{i}/n)*(c{i}/n)" for i in range(16))})
               AS feat_norm,
           list_value({", ".join(f"c{i}/n" for i in range(16))}) AS features
    FROM agg
    """,
    tags=("multimodal", "feature-extraction", "mapInPandas", "vectorized"),
)
def multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bin L1-normalized byte histogram per payload (numpy over
    Arrow batches) — the featurizer shape of a real embedding stage.

    Hash-checked, not rows-only: the payload is the UTF-8 text, so
    the oracle recomputes each high nibble from ``hex(encode(text))``
    (the same trick ``image_ahash_fingerprints``'s bit-for-bit hex
    oracle uses) and rebuilds the identical 16 floats — a single
    c/n double division per bin is bit-exact across engines.  The L2
    norm is deliberately computed JVM-side as a SEQUENTIAL
    ``F.aggregate`` fold over the features array so its FP op order
    matches the oracle's left-associative sum literally — numpy's
    pairwise summation inside the UDF would not."""
    docs = load_table(spark, sf_dir, "documents")
    feats = M.byte_histogram_features(M.attach_payload(docs), bins=16)
    return feats.select(
        "doc_id",
        F.sqrt(
            F.aggregate(
                F.col("features"), F.lit(0.0), lambda a, x: a + x * x
            )
        ).alias("feat_norm"),
        F.col("features"),
    )


@register(
    "multimodal_tile_grid",
    oracle="""
    WITH img AS (
        SELECT doc_id,
               (64 + octet_length(encode(text)) % 512) AS width,
               (64 + (octet_length(encode(text)) * 7) % 512) AS height
        FROM documents WHERE doc_id % 3 = 0
    ),
    g AS (
        SELECT doc_id, width, height,
               CAST(ceil(width / 224.0) AS INT) AS nx,
               CAST(ceil(height / 224.0) AS INT) AS ny
        FROM img
    )
    SELECT doc_id,
           CAST(j * nx + i AS BIGINT) AS tile_id,
           CAST(i * 224 AS BIGINT) AS x0,
           CAST(j * 224 AS BIGINT) AS y0,
           CAST(LEAST(224, width - i * 224) AS BIGINT) AS tile_w,
           CAST(LEAST(224, height - j * 224) AS BIGINT) AS tile_h
    FROM g
    CROSS JOIN UNNEST(range(0, ny)) AS tj(j)
    CROSS JOIN UNNEST(range(0, nx)) AS ti(i)
    """,
    tags=("multimodal", "tiles", "vit", "map-only", "explode"),
)
def multimodal_tile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch manifest: every image exploded into its
    224×224 tile grid with clipped edge tiles — the coordinate plan
    a vision encoder's crop/resize stage consumes, derived entirely
    from the typed metadata struct.

    Scale shape: map-only (filter → two bounded explodes → integer
    arithmetic); the binary payload column is pruned out of the scan
    because only metadata is referenced — the central promise of the
    payload+metadata model at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    return M.tile_grid(M.attach_payload(docs))




# ---------------------------------------------------------------------------
# Perceptual average-hash (aHash) fingerprints + hamming top-k
# ---------------------------------------------------------------------------

#: Shared oracle preamble: the 64-bit aHash from hex(payload)
#: substring arithmetic — an independent restatement of
#: multimodal/ops.ahash64's numpy mapInPandas (cross-multiplied
#: integer mean comparison, so the two agree bit-for-bit).
_SQL_AHASH_CTES = """
    b AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               CAST(octet_length(encode(text)) AS BIGINT) AS n
        FROM documents
    ),
    v AS (
        SELECT doc_id, n,
               list_transform(range(0, n),
                 j -> CAST(('0x' || substr(hx, CAST(2 * j + 1 AS BIGINT), 2))
                           AS BIGINT)) AS vals
        FROM b
    ),
    t AS (
        SELECT doc_id, n, vals, COALESCE(list_sum(vals), 0) AS tot FROM v
    ),
    ch AS (
        SELECT doc_id, k,
               CASE WHEN COALESCE(list_sum(
                        vals[CAST(k * n // 64 + 1 AS BIGINT)
                             : CAST((k + 1) * n // 64 AS BIGINT)]), 0) * n
                         > tot * ((k + 1) * n // 64 - k * n // 64)
                    THEN 1 ELSE 0 END AS bit
        FROM t CROSS JOIN UNNEST(range(0, 64)) AS r(k)
    ),
    bandrows AS (
        SELECT doc_id, k // 16 AS band, SUM(bit << (k % 16)) AS bval
        FROM ch GROUP BY doc_id, k // 16
    ),
    ah AS (
        SELECT doc_id,
               MAX(CASE WHEN band = 0 THEN bval END) AS b0,
               MAX(CASE WHEN band = 1 THEN bval END) AS b1,
               MAX(CASE WHEN band = 2 THEN bval END) AS b2,
               MAX(CASE WHEN band = 3 THEN bval END) AS b3
        FROM bandrows GROUP BY doc_id
    )
"""

#: Probe payloads for the hamming nearest-neighbor report.
_AHASH_N_PROBES = 5
_AHASH_TOPK = 5


@register(
    "image_ahash_fingerprints",
    oracle=f"""
    WITH {_SQL_AHASH_CTES}
    SELECT doc_id,
           CAST(b0 AS BIGINT) AS b0, CAST(b1 AS BIGINT) AS b1,
           CAST(b2 AS BIGINT) AS b2, CAST(b3 AS BIGINT) AS b3
    FROM ah
    """,
    tags=("multimodal", "ahash", "perceptual-hash", "fingerprint",
          "mapInPandas"),
)
def image_ahash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit perceptual average-hash per payload, as four 16-bit
    band keys: the payload's 64 equal byte ranges are the 8x8 aHash
    "pixel" grid; bit k is set iff range k's mean byte exceeds the
    global mean (cross-multiplied, pure integers). Computed by
    Arrow-batched mapInPandas over the binary column
    (multimodal/ops.ahash64); the oracle re-derives every bit from
    hex(payload) substring arithmetic — the Python codec stage is
    value-certified hash-for-hash, not just row-counted. With a real
    codec the identical function runs on the 8x8-downsampled
    grayscale plane; the 16-bit band split is the key layout a
    banded hamming-LSH join consumes (lossless for distance <= 3 by
    pigeonhole over 4 bands)."""
    docs = load_table(spark, sf_dir, "documents")
    return M.ahash64(M.attach_payload(docs)).select(
        "doc_id", "b0", "b1", "b2", "b3"
    )


@register(
    "image_ahash_topk",
    oracle=f"""
    WITH {_SQL_AHASH_CTES},
    probes AS (
        SELECT doc_id AS probe_id, b0, b1, b2, b3 FROM ah
        WHERE doc_id < {_AHASH_N_PROBES}
    ),
    scored AS (
        SELECT p.probe_id, a.doc_id AS cand_id,
               bit_count(xor(p.b0, a.b0)) + bit_count(xor(p.b1, a.b1))
               + bit_count(xor(p.b2, a.b2)) + bit_count(xor(p.b3, a.b3))
                   AS hamming
        FROM probes p JOIN ah a ON a.doc_id <> p.probe_id
    )
    SELECT probe_id, cand_id, CAST(hamming AS BIGINT) AS hamming, rn
    FROM (
        SELECT probe_id, cand_id, hamming,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                                  ORDER BY hamming, cand_id) AS rn
        FROM scored
    ) WHERE rn <= {_AHASH_TOPK}
    """,
    tags=("multimodal", "ahash", "hamming", "topk", "near-dup"),
)
def image_ahash_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual near-duplicate search: for 5 probe payloads, the 5
    nearest others by 64-bit aHash hamming distance (bit_count of
    XORed band keys — 4 JVM intrinsic ops per comparison, no Python
    in the scoring path).

    Scale shape: probes broadcast against the hash relation (5
    integer columns per doc — the corpus bytes are touched exactly
    once, in the fingerprint stage); per-probe top-5 ranks the
    probe-partitioned scored relation, the cosine_topk shape. On
    this corpus the nearest non-self distances start at hamming 9
    (no byte-identical payloads), which the report surfaces
    honestly — a banded-LSH candidate stage would be layered in
    front only for thresholds <= 3 where it is lossless."""
    docs = load_table(spark, sf_dir, "documents")
    # h fans out to BOTH join sides (probes broadcast + candidate
    # stream), and the Arrow decode+hash pass is opaque to pushdown —
    # unpersisted, every payload crossed the Python boundary TWICE
    # (once to build 5 probe rows), on the single scan task (measured
    # 1.7 s wall for 0.14 cpu_s).  Spread the scan so the Python pass
    # parallelizes, and materialize it so it runs once.
    h = materialize(
        M.ahash64(M.attach_payload(spread_for_cpu(docs, "doc_id")))
    )
    probes = h.filter(F.col("doc_id") < _AHASH_N_PROBES).select(
        F.col("doc_id").alias("probe_id"),
        *[F.col(c).alias(f"p{c}") for c in ("b0", "b1", "b2", "b3")],
    )
    scored = h.join(
        F.broadcast(probes), F.col("doc_id") != F.col("probe_id")
    ).select(
        "probe_id",
        F.col("doc_id").alias("cand_id"),
        sum(
            F.bit_count(
                F.col(f"pb{i}").bitwiseXOR(F.col(f"b{i}"))
            )
            for i in range(4)
        )
        .cast("long")
        .alias("hamming"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("probe_id").orderBy("hamming", "cand_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _AHASH_TOPK)
        .select("probe_id", "cand_id", "hamming", "rn")
    )


# ---------------------------------------------------------------------------
# Byte-entropy compressibility quality signal
# ---------------------------------------------------------------------------

_ENT_THRESHOLD = 3.5  # bits over the 16-nibble alphabet (max 4.0)

#: entropy as an EXPLICIT fixed-order 16-term sum — both engines
#: evaluate the identical op sequence left to right, so the only
#: divergence channel is a 1-ulp log2 difference that the float32
#: output cast absorbs (same discipline as the byte-histogram L2).
_ENT_TERMS_SQL = " + ".join(
    f"(CASE WHEN c{i} > 0 THEN -(c{i}/n) * log2(c{i}/n) ELSE 0.0 END)"
    for i in range(16)
)


def _nibble_entropy_f32():
    """Order-0 entropy over a low-nibble count histogram (consumes
    columns ``n_bytes``, ``counts``) as an EXPLICIT fixed-order
    16-term sum cast to float32 — the pinned-op-order expression the
    oracle restates verbatim (``_ENT_TERMS_SQL``); shared by the
    standalone gate and the ingestion composite."""
    n = F.col("n_bytes").cast("double")
    terms = F.lit(0.0)
    for i in range(16):
        c = F.element_at(F.col("counts"), i + 1).cast("double")
        terms = terms + F.when(
            c > 0, -(c / n) * F.log2(c / n)
        ).otherwise(F.lit(0.0))
    return terms.cast("float")


@register(
    "multimodal_entropy_quality",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               CAST(octet_length(encode(text)) AS DOUBLE) AS n
        FROM documents
    ),
    nib AS (
        SELECT doc_id, n,
               strpos('0123456789ABCDEF', substr(hx, 2 * i.i + 2, 1)) - 1
                   AS v
        FROM b CROSS JOIN UNNEST(range(0, CAST(n AS BIGINT))) AS i(i)
    ),
    agg AS (
        SELECT doc_id, MAX(n) AS n,
               {", ".join(f"SUM(CASE WHEN v = {i} THEN 1 ELSE 0 END)::DOUBLE AS c{i}" for i in range(16))}
        FROM nib GROUP BY doc_id
    ),
    ent AS (
        SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
               CAST(0.0 + {_ENT_TERMS_SQL} AS REAL) AS nibble_entropy
        FROM agg
    )
    SELECT doc_id, n_bytes, nibble_entropy,
           CAST(CASE WHEN nibble_entropy < {_ENT_THRESHOLD} THEN 1 ELSE 0 END
                AS INT) AS low_entropy_flag
    FROM ent
    """,
    tags=("multimodal", "entropy", "compressibility", "quality-signal",
          "mapInPandas", "curation"),
)
def multimodal_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-0 byte-entropy compressibility per document — the
    classic "is this content repetitive/degenerate" quality signal
    (highly compressible payloads are boilerplate, padding, or
    generator loops; curation pipelines gate on it next to the
    Gopher filters).  Entropy is over the 16 LOW-nibble classes of
    the payload bytes (max 4 bits) — for ASCII text the
    discriminative half of each byte; high nibbles collapse onto the
    space/lowercase rows — thresholded into a keep/drop flag.

    Split of labor for engine-exactness: the Arrow-batched
    mapInPandas stage (numpy bincount — the shape a real
    zlib-ratio featurizer would take) emits only INTEGER counts;
    the entropy itself is JVM-side arithmetic written as an explicit
    fixed-order 16-term sum that the oracle restates verbatim, so
    the Python stage stays hash-exact and the float path has a
    pinned op order.  The flag compares the float32-cast entropy on
    BOTH engines, so the comparison operands are bit-identical.

    Scale shape: map-only — one pass over payloads, no shuffle at
    all; 100 TB cost is the scan plus 16 adds per byte."""
    docs = load_table(spark, sf_dir, "documents")
    hist = M.byte_count_histogram(M.attach_payload(docs), nibble="low")
    ent = hist.select(
        "doc_id",
        "n_bytes",
        _nibble_entropy_f32().alias("nibble_entropy"),
    )
    return ent.select(
        "doc_id",
        "n_bytes",
        "nibble_entropy",
        F.when(F.col("nibble_entropy") < _ENT_THRESHOLD, 1)
        .otherwise(0)
        .cast("int")
        .alias("low_entropy_flag"),
    )


_NIB = "strpos('0123456789ABCDEF', substr(hx, 2 * i.i + {off}, 1)) - 1"
_BYTE_VAL = f"(({_NIB.format(off=1)}) * 16 + ({_NIB.format(off=2)}))"


@register(
    "multimodal_scene_changes",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text))::BIGINT AS n
        FROM documents WHERE doc_id % 3 = 2
    ),
    byte AS (
        SELECT doc_id, i.i // 256 AS f, {_BYTE_VAL} AS v
        FROM b CROSS JOIN UNNEST(range(0, n)) AS i(i)
    ),
    fr AS (
        SELECT doc_id, f, SUM(v)::BIGINT AS s, COUNT(*)::BIGINT AS len
        FROM byte GROUP BY 1, 2
    ),
    lagd AS (
        SELECT doc_id, f, s, len,
               LAG(s) OVER (PARTITION BY doc_id ORDER BY f) AS ps,
               LAG(len) OVER (PARTITION BY doc_id ORDER BY f) AS plen
        FROM fr
    ),
    cuts AS (
        SELECT doc_id, f,
               CASE WHEN ps IS NOT NULL
                         AND ABS(s * plen - ps * len) > 4 * len * plen
                    THEN 1 ELSE 0 END AS cut
        FROM lagd
    ),
    agg AS (
        SELECT doc_id, COUNT(*)::BIGINT AS n_frames,
               SUM(cut)::BIGINT AS n_changes,
               COALESCE(MIN(CASE WHEN cut = 1 THEN f END), -1)::BIGINT
                   AS first_change
        FROM cuts GROUP BY doc_id
    )
    SELECT b.doc_id,
           COALESCE(a.n_frames, 0)::BIGINT AS n_frames,
           COALESCE(a.n_changes, 0)::BIGINT AS n_changes,
           COALESCE(a.first_change, -1)::BIGINT AS first_change
    FROM b LEFT JOIN agg a USING (doc_id)
    """,
    tags=("multimodal", "video", "scene-detection", "mapInPandas",
          "vectorized"),
)
def multimodal_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over the video payloads: per video,
    the frame count, the number of scene cuts (consecutive 256-byte
    frames whose mean byte value jumps by more than 4), and the first
    cut index — the manifest a curation pipeline uses to sample
    frames per-shot rather than uniformly.  The detection itself runs
    in an Arrow-batched numpy stage (multimodal/ops.scene_changes);
    the oracle recomputes every frame reduction from
    ``hex(encode(text))`` nibble arithmetic, so the Python stage's
    output is hash-certified end to end (the `image_ahash_topk` /
    `multimodal_byte_histogram` promotion pattern).  The cut test is
    cross-multiplied int64 — no float mean ever exists on either
    engine."""
    docs = load_table(spark, sf_dir, "documents")
    return M.scene_changes(M.attach_payload(docs)).select(
        "doc_id", "n_frames", "n_changes", "first_change"
    )


@register(
    "multimodal_audio_vad",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               octet_length(encode(text))::BIGINT AS n
        FROM documents WHERE doc_id % 3 = 1
    ),
    byte AS (
        SELECT doc_id, i.i // 64 AS w, {_BYTE_VAL} AS v
        FROM b CROSS JOIN UNNEST(range(0, n)) AS i(i)
    ),
    win AS (
        SELECT doc_id, w, SUM(v)::BIGINT AS s,
               SUM(v * v)::BIGINT AS s2, COUNT(*)::BIGINT AS len
        FROM byte GROUP BY 1, 2
    ),
    agg AS (
        SELECT doc_id, COUNT(*)::BIGINT AS n_windows,
               SUM(CASE WHEN 64 * s2 - s * s > 900 * 64 * 64
                        THEN 1 ELSE 0 END)::BIGINT AS n_active
        FROM win WHERE len = 64 GROUP BY doc_id
    )
    SELECT b.doc_id,
           COALESCE(a.n_windows, 0)::BIGINT AS n_windows,
           COALESCE(a.n_active, 0)::BIGINT AS n_active,
           CAST(COALESCE(a.n_active, 0)::DOUBLE
                / GREATEST(COALESCE(a.n_windows, 0), 1) AS REAL)
               AS active_ratio
    FROM b LEFT JOIN agg a USING (doc_id)
    """,
    tags=("multimodal", "audio", "vad", "mapInPandas", "vectorized"),
)
def multimodal_audio_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-based voice-activity detection over the audio payloads:
    per clip, the count of full 64-byte windows, how many clear the
    variance gate (active speech-like spans), and the active ratio —
    the silence-trimming statistic that decides how much of 100 TB of
    raw audio is worth transcribing.  numpy stage + hex-nibble oracle
    as in `multimodal_scene_changes`; the variance gate is the
    integer form ``W*sum(v^2) - sum(v)^2 > T*W^2`` so no float exists
    at the decision boundary; the single emitted float (active_ratio)
    is one c/n division, bit-exact in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    vad = M.audio_activity(M.attach_payload(docs))
    return vad.select(
        "doc_id",
        "n_windows",
        "n_active",
        (
            F.col("n_active").cast("double")
            / F.greatest(F.col("n_windows"), F.lit(1))
        )
        .cast("float")
        .alias("active_ratio"),
    )


# ---------------------------------------------------------------------------
# Multimodal ingestion lifecycle composite (round 8, VERDICT r7 item #4)
# ---------------------------------------------------------------------------

#: Exact-hamming admission threshold for the aHash near-dup screen —
#: the banded candidate join (any shared 16-bit band of 4) is
#: LOSSLESS for hamming <= 3 by pigeonhole, so verify-after-band
#: loses nothing.
_AHASH_DUP_TAU = 3

#: Entropy CTEs for the composite oracle — same arithmetic as
#: multimodal_entropy_quality's oracle, with CTE names that do not
#: collide with _SQL_AHASH_CTES' ``b``/``v``/``t`` chain.
_SQL_ENT_CTES = f"""
    eb AS (
        SELECT doc_id, hex(encode(text)) AS hx,
               CAST(octet_length(encode(text)) AS DOUBLE) AS n
        FROM documents
    ),
    enib AS (
        SELECT doc_id, n,
               strpos('0123456789ABCDEF', substr(hx, 2 * i.i + 2, 1)) - 1
                   AS v
        FROM eb CROSS JOIN UNNEST(range(0, CAST(n AS BIGINT))) AS i(i)
    ),
    eagg AS (
        SELECT doc_id, MAX(n) AS n,
               {", ".join(f"SUM(CASE WHEN v = {i} THEN 1 ELSE 0 END)::DOUBLE AS c{i}" for i in range(16))}
        FROM enib GROUP BY doc_id
    ),
    ent AS (
        SELECT doc_id, CAST(n AS BIGINT) AS n_bytes,
               CAST(0.0 + {_ENT_TERMS_SQL} AS REAL) AS nibble_entropy
        FROM eagg
    )
"""


@register(
    "multimodal_ingestion",
    oracle=f"""
    WITH {_SQL_ENT_CTES},
    {_SQL_AHASH_CTES},
    surv AS (
        SELECT doc_id FROM ent WHERE nibble_entropy >= {_ENT_THRESHOLD}
    ),
    sbh AS (
        SELECT a.doc_id, a.b0, a.b1, a.b2, a.b3
        FROM ah a JOIN surv s ON a.doc_id = s.doc_id
    ),
    bandl AS (
        SELECT doc_id, 0 AS band, b0 AS bval FROM sbh
        UNION ALL SELECT doc_id, 1, b1 FROM sbh
        UNION ALL SELECT doc_id, 2, b2 FROM sbh
        UNION ALL SELECT doc_id, 3, b3 FROM sbh
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM bandl x
        JOIN bandl y ON x.band = y.band AND x.bval = y.bval
                    AND x.doc_id < y.doc_id
    ),
    dups AS (
        SELECT DISTINCT c.doc_b AS doc_id
        FROM cand c
        JOIN sbh pa ON pa.doc_id = c.doc_a
        JOIN sbh pb ON pb.doc_id = c.doc_b
        WHERE bit_count(xor(pa.b0, pb.b0)) + bit_count(xor(pa.b1, pb.b1))
            + bit_count(xor(pa.b2, pb.b2)) + bit_count(xor(pa.b3, pb.b3))
              <= {_AHASH_DUP_TAU}
    ),
    cls AS (
        SELECT e.doc_id,
               CASE e.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                                 ELSE 'video' END AS media_type,
               e.n_bytes,
               CASE WHEN s.doc_id IS NULL THEN 1 ELSE 0 END AS gate_dropped,
               CASE WHEN s.doc_id IS NOT NULL AND d.doc_id IS NOT NULL
                    THEN 1 ELSE 0 END AS dup_dropped
        FROM ent e
        LEFT JOIN surv s ON e.doc_id = s.doc_id
        LEFT JOIN dups d ON e.doc_id = d.doc_id
    )
    SELECT media_type,
           COUNT(*)::BIGINT                                  AS n_total,
           SUM(gate_dropped)::BIGINT                         AS n_gate_dropped,
           SUM(dup_dropped)::BIGINT                          AS n_dup_dropped,
           SUM(CASE WHEN gate_dropped = 0 AND dup_dropped = 0
                    THEN 1 ELSE 0 END)::BIGINT               AS n_admitted,
           CAST(SUM(CASE WHEN gate_dropped = 0 AND dup_dropped = 0
                         THEN n_bytes ELSE 0 END) AS BIGINT) AS admitted_bytes
    FROM cls
    GROUP BY media_type
    """,
    tags=("multimodal", "composite", "lifecycle", "entropy", "ahash",
          "near-dup", "curation"),
)
def multimodal_ingestion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal ingestion lifecycle as ONE query (completes the
    composite trio next to ``daily_ingestion`` for text and
    ``vector_index_lifecycle`` for vectors — VERDICT r7 item #4):
    manifest → byte-entropy quality gate → aHash near-dup screen →
    per-media-type admission summary.

    Stages (each certified standalone by its own registry entry):
      1. manifest — binary payload + typed metadata
         (``multimodal_manifest``);
      2. quality gate — low-nibble entropy >= 3.5 bits keeps
         non-degenerate payloads (``multimodal_entropy_quality``,
         shared ``_nibble_entropy_f32`` expression);
      3. near-dup screen among gate survivors — banded 16-bit aHash
         keys generate candidates (any shared band; lossless for
         hamming <= 3 = _AHASH_DUP_TAU by pigeonhole over 4 bands),
         verified by EXACT 64-bit hamming; a survivor is dropped iff
         a smaller-id survivor sits within the threshold
         (``image_ahash_fingerprints``'s key layout);
      4. admission summary — per media type: totals, drops by cause,
         admitted count and admitted bytes (all integers — no float
         crosses the engine boundary; the gate comparison itself is
         on the float32-cast entropy, bit-identical in both engines).

    On this corpus the nearest non-identical payloads start at
    hamming 9 (``image_ahash_topk``'s measured report), so the
    screen's VERDICT is usually "no visual dups" — the candidate
    machinery still runs for real (~n^2/2^16 banded collision pairs
    reach the exact-hamming verify) and the oracle recomputes the
    identical screen, so an implementation that dropped or invented
    a duplicate would mismatch.

    Scale shape: ONE Arrow-batched map-only pass over the payload
    scan computes the entropy counts AND the aHash bands AND carries
    media_type (``entropy_ahash_pass`` — the payload crosses the
    JVM→Python boundary once, guide §4.1; the r8 first cut paid two
    payload passes plus doc_id-keyed meta/hash joins to reassemble
    what one row can carry) — no payload bytes ever shuffle; the
    gate and the survivor hash relation are FILTERS on that one
    materialized relation; the screen shuffles only 4 integer band keys per survivor (bucket
    equi-join, never all-pairs); the dup flag joins back
    merge-hinted (the r7 broadcast finding); the final rollup is a
    3-group hash aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    manifest = M.attach_payload(spread_for_cpu(docs, "doc_id"))

    # Stages 2+3 input: one payload pass.
    fused = materialize(
        M.entropy_ahash_pass(manifest, nibble="low")
        .withColumn("nibble_entropy", _nibble_entropy_f32())
    )

    # Stage 3: aHash near-dup screen among survivors — a filter on
    # the fused relation (the old plan joined a second payload pass
    # against the survivor ids).
    sbh = fused.filter(F.col("nibble_entropy") >= _ENT_THRESHOLD).select(
        "doc_id", "b0", "b1", "b2", "b3"
    )
    banded = sbh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("band"),
                        F.col(f"b{i}").alias("bval"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("p"),
    ).select("doc_id", "p.band", "p.bval")
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y").hint("merge"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bval") == F.col("y.bval"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    pa = sbh.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{i}").alias(f"pa{i}") for i in range(4)],
    )
    pb = sbh.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{i}").alias(f"pb{i}") for i in range(4)],
    )
    hamming = sum(
        F.bit_count(F.col(f"pa{i}").bitwiseXOR(F.col(f"pb{i}")))
        for i in range(4)
    )
    dups = (
        cand.join(pa.hint("merge"), "doc_a")
        .join(pb.hint("merge"), "doc_b")
        .filter(hamming <= _AHASH_DUP_TAU)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )

    # Stage 4: admission summary — media_type and the gate verdict
    # ride the fused relation (the old plan re-attached each with a
    # corpus-scaled doc_id join); only the small dup-id relation
    # joins back.
    per_doc = (
        fused.join(
            dups.withColumn("is_dup", F.lit(1)).hint("merge"),
            "doc_id",
            "left",
        )
        .select(
            "media_type",
            "n_bytes",
            F.when(F.col("nibble_entropy") >= _ENT_THRESHOLD, 0)
            .otherwise(1)
            .alias("gate_dropped"),
            F.when(
                (F.col("nibble_entropy") >= _ENT_THRESHOLD)
                & F.col("is_dup").isNotNull(),
                1,
            )
            .otherwise(0)
            .alias("dup_dropped"),
        )
    )
    admitted = (F.col("gate_dropped") == 0) & (F.col("dup_dropped") == 0)
    return per_doc.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("gate_dropped").cast("long").alias("n_gate_dropped"),
        F.sum("dup_dropped").cast("long").alias("n_dup_dropped"),
        F.sum(F.when(admitted, 1).otherwise(0)).cast("long").alias(
            "n_admitted"
        ),
        F.sum(F.when(admitted, F.col("n_bytes")).otherwise(0))
        .cast("long")
        .alias("admitted_bytes"),
    )
