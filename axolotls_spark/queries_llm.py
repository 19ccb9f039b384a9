"""LLM-training-pipeline operators beyond filtering/dedup: TF-IDF
term weighting, fixed-window document chunking with overlap,
contiguous sequence packing, and int8 embedding quantization.

These are the transforms that sit between "curated corpus" and
"training batches" in a real pipeline (chunk → pack → quantize), and
the retrieval-side weighting (TF-IDF) used for corpus analysis and
sparse retrieval. The reference has no text/vector processing at all
(SURVEY §2A — four column classes, arithmetic only); these extend
§2B per the driver's north star. All four are pure Column-expression
plans — no Python UDFs — so they run at JVM scan-rate at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from axolotls_spark.functions.arrays import dot
from axolotls_spark.io.sources import load_table
from axolotls_spark.operators.dedup import tokens_col
from axolotls_spark.operators.pca import (
    gram_moments, principal_components, project, sketch,
)
from axolotls_spark.registry import register, stable_f32

_SQL_TOKENS = r"string_split_regex(trim(text), '\s+')"


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ),
    dfreq AS (
        SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY term
    ),
    n AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents),
    scored AS (
        SELECT t.doc_id, t.term, t.tf,
               t.tf * LN(n.n_docs / d.df) AS tfidf,
               ROW_NUMBER() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY t.tf * LN(n.n_docs / d.df) DESC, t.term
               ) AS rn
        FROM tf t JOIN dfreq d USING (term), n
    )
    SELECT doc_id, term, tf, CAST(tfidf AS REAL) AS tfidf
    FROM scored WHERE rn <= 3
    """,
    tags=("tfidf", "text-analysis", "sparse-retrieval", "top-k-per-group"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (idf = ln(N/df), ties broken
    by term so both engines pick identical rows).

    Scale shape: explode → (doc,term) count is one shuffle; document
    frequency is a second aggregate over the (already small) tf
    relation, and both the df relation and the 1-row corpus count
    join back via BROADCAST — the corpus-sized data is shuffled
    exactly once. N comes from a broadcast 1-row aggregate, never a
    driver-side ``.count()`` action, so the whole thing is one job.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("n_docs") / F.col("df")),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "doc_id", "term", "tf", F.col("tfidf").cast("float").alias("tfidf")
        )
    )


_CHUNK = 50  # tokens per chunk
_STRIDE = 40  # chunk start step => 10-token overlap


@register(
    "chunk_documents",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKENS} AS toks,
               len({_SQL_TOKENS}) AS n FROM documents
    )
    SELECT doc_id,
           CAST((start - 1) / {_STRIDE} AS BIGINT) AS chunk_idx,
           start::BIGINT AS start_tok,
           len(toks[start:start + {_CHUNK} - 1])::BIGINT AS chunk_len,
           md5(array_to_string(toks[start:start + {_CHUNK} - 1], ' '))
               AS chunk_md5
    FROM t, unnest(range(1, greatest(n, 1) + 1, {_STRIDE})) AS u(start)
    """,
    tags=("chunking", "llm-pipeline", "explode", "map-only"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window document chunking: 50-token chunks on a 40-token
    stride (10-token overlap) — the RAG/pretraining chunker. Emits
    (doc_id, chunk_idx, start, length, md5-of-chunk); the digest
    stands in for the chunk text so the result stays narrow.

    Scale shape: map-only — sequence() builds the start offsets from
    the token count, posexplode fans out, slice() cuts each window.
    No shuffle at all; output size is input × (1/stride) chunks per
    token, produced at scan-rate. The overlap means a token is read
    ≤ ⌈C/S⌉ times, all within one task's memory.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", tokens_col(F.col("text")).alias("toks")
    ).withColumn("n", F.size("toks"))
    starts = F.sequence(
        F.lit(1), F.greatest(F.col("n"), F.lit(1)), F.lit(_STRIDE)
    )
    chunk = F.slice(F.col("toks"), F.col("start_tok"), _CHUNK)
    return (
        t.select("doc_id", "toks", F.explode(starts).alias("start_tok"))
        .select(
            "doc_id",
            ((F.col("start_tok") - 1) / _STRIDE).cast("long").alias(
                "chunk_idx"
            ),
            F.col("start_tok").cast("long"),
            F.size(chunk).cast("long").alias("chunk_len"),
            F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
        )
    )


_PACK_BUDGET = 2048  # tokens per packed sequence
_PACK_SHARDS = 64


@register(
    "pack_sequences_contiguous",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
               len({_SQL_TOKENS})::BIGINT AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, shard, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum_tokens
        FROM t
    )
    SELECT doc_id, shard, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(FLOOR(GREATEST(cum_tokens - 1, 0) / {_PACK_BUDGET}) AS BIGINT)
               AS pack_id
    FROM c
    """,
    tags=("sequence-packing", "llm-pipeline", "window", "sharded"),
)
def pack_sequences_contiguous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing: assign documents (in deterministic
    doc_id order) to fixed 2048-token training sequences by running
    token count — the streaming packer used to batch pretraining data
    (documents fill a pack until the budget spills into the next).

    Scale shape: a GLOBAL running sum would be a single-partition
    window — unusable at 100 TB. Packing is therefore sharded:
    ``doc_id % 64`` (in production: file/split id) partitions the
    window, so each shard packs independently and in parallel, one
    shuffle by shard. Pack ids are unique per (shard, pack_id);
    cross-shard order is irrelevant to training.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return t.withColumn("cum_tokens", F.sum("n_tokens").over(w)).withColumn(
        "pack_id",
        # greatest(...,0) guards the zero-token-document edge (an
        # empty doc opening a shard would otherwise land in pack -1).
        F.floor(
            F.greatest(F.col("cum_tokens") - 1, F.lit(0)) / _PACK_BUDGET
        ).cast("long"),
    )


@register(
    "quantize_embeddings_int8",
    oracle="""
    WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        FROM embeddings
    )
    SELECT vec_id, scale,
           list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) / NULLIF(scale, 0.0))
                         AS INTEGER)) AS q
    FROM s
    """,
    tags=("quantization", "embeddings", "llm-pipeline", "map-only"),
)
def quantize_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding
    column: scale = max|x|/127, q_i = round(x_i/scale) — the storage
    transform that shrinks a 100 TB float32 embedding store 4× for
    ANN serving. Ties round away from zero in both engines (Java
    HALF_UP == DuckDB round), and all arithmetic is forced to double
    on both sides so the quantized codes match bit-for-bit.

    Scale shape: map-only higher-order functions (transform /
    array_max) — no shuffle, no UDF, runs at scan-rate.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    absmax = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    scale = (absmax / F.lit(127.0)).alias("scale")
    q = F.transform(
        "embedding",
        lambda x: F.round(
            x.cast("double") / F.nullif(F.col("scale"), F.lit(0.0))
        ).cast("int"),
    )
    return emb.select("vec_id", scale, "embedding").select(
        "vec_id", "scale", q.alias("q")
    )


_DIM = 16
_SQL_TOKEN_HASH = "('0x' || substr(md5({tok}), 1, 15))::BIGINT"


@register(
    "feature_hash_embed",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    h AS (
        SELECT doc_id,
               {_SQL_TOKEN_HASH.format(tok='term')} % {_DIM} AS bucket,
               CASE WHEN ({_SQL_TOKEN_HASH.format(tok='term')}
                          // {_DIM}) % 2 = 0 THEN 1 ELSE -1 END AS sgn
        FROM toks
    )
    SELECT doc_id, bucket::BIGINT AS bucket, SUM(sgn)::BIGINT AS weight
    FROM h GROUP BY doc_id, bucket
    """,
    tags=("feature-hashing", "vectorization", "llm-pipeline", "agg"),
)
def feature_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: each token hashes to one of 16
    buckets with a ±1 sign bit (signed feature hashing, Weinberger
    et al.) — the vocabulary-free text→vector transform used when a
    learned embedding is too expensive for a first-pass index.
    Emitted in long (doc, bucket, weight) form — the sparse-vector
    layout; a dense array is one map-side pivot away.

    Scale shape: explode + one hash aggregate (partial map-side),
    single shuffle on (doc_id, bucket); the hash is the same
    md5-prefix arithmetic both engines compute, so the vectors are
    bit-identical to the oracle's.
    """
    from axolotls_spark.operators.dedup import token_hash

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    th = token_hash(F.col("term"))
    return (
        toks.select(
            "doc_id",
            (th % _DIM).alias("bucket"),
            # integer shift, NOT floor(th/16): the 60-bit hash
            # exceeds double's 53-bit mantissa, so float division
            # would corrupt the parity bit.
            F.when((F.shiftright(th, 4) % 2) == 0, F.lit(1))
            .otherwise(F.lit(-1))
            .alias("sgn"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").cast("long").alias("weight"))
    )


@register(
    "unigram_logprob_score",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    freq AS (
        SELECT term, COUNT(*)::DOUBLE AS c FROM toks GROUP BY term
    ),
    total AS (SELECT SUM(c) AS t FROM freq),
    scored AS (
        SELECT k.doc_id, -LN(f.c / total.t) AS nll
        FROM toks k JOIN freq f USING (term), total
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(AVG(nll) AS REAL) AS avg_neg_logprob
    FROM scored GROUP BY doc_id
    """,
    tags=("quality-scoring", "language-model", "llm-pipeline", "two-phase-agg"),
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring: per-document mean negative
    log-probability under the corpus's own unigram distribution —
    the classic cheap perplexity proxy for quality filtering
    (gibberish and boilerplate both surface as outliers; real
    pipelines swap in a held-out KenLM, same plan shape).

    Scale shape: token explode → corpus unigram counts (one
    aggregate); counts join back by term — frequency tables are
    Zipf-small so AQE broadcasts them; the corpus total is a 1-row
    broadcast cross join. Corpus-sized data shuffles once (the final
    per-doc aggregate).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    freq = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    total = freq.agg(F.sum("c").alias("t"))
    return (
        toks.join(F.broadcast(freq), "term")
        .crossJoin(F.broadcast(total))
        .select("doc_id", (-F.log(F.col("c") / F.col("t"))).alias("nll"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg("nll").cast("float").alias("avg_neg_logprob"),
        )
    )


@register(
    "sample_weighted_topk",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, n_chars,
               ({_SQL_TOKEN_HASH.format(tok="doc_id::VARCHAR")} % 1000000
                + 0.5) / 1000000.0 AS u,
               GREATEST(n_chars, 1)::DOUBLE AS w
        FROM documents
    ),
    keyed AS (
        SELECT doc_id, lang, n_chars, POW(u, 1.0 / w) AS samp_key,
               ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY POW(u, 1.0 / w) DESC, doc_id
               ) AS rn
        FROM scored
    )
    SELECT doc_id, lang, n_chars, samp_key FROM keyed WHERE rn <= 25
    """,
    tags=("weighted-sampling", "reservoir", "llm-pipeline", "top-k-per-group"),
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis):
    each document draws a deterministic uniform u from its id hash
    and competes with key u^(1/w) — here w = document length, the
    usual quality/importance proxy; the top-25 keys per language are
    the sample. Larger w → key closer to 1 → proportionally higher
    selection odds, the A-ES reservoir guarantee.

    Scale shape: the draw and key are map-side arithmetic on a hash
    (deterministic — retries and the oracle agree); selection is one
    top-k-per-group window, which Spark executes with
    WindowGroupLimit (per-partition heaps before the shuffle), so
    the exchange carries ≤ k·groups rows, not the corpus."""
    from axolotls_spark.operators.dedup import token_hash
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    u = (
        token_hash(F.col("doc_id").cast("string")) % 1000000 + 0.5
    ) / 1000000.0
    w_col = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    keyed = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.pow(u, 1.0 / w_col).alias("samp_key"),
    )
    win = Window.partitionBy("lang").orderBy(
        F.col("samp_key").desc(), F.col("doc_id")
    )
    return (
        keyed.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 25)
        .select("doc_id", "lang", "n_chars", "samp_key")
    )


@register(
    "discretize_equal_frequency",
    oracle="""
    WITH cuts AS (
        SELECT quantile_cont(l_extendedprice,
                             [0.25, 0.5, 0.75]) AS q
        FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           (CASE WHEN l_extendedprice >= q[1] THEN 1 ELSE 0 END
          + CASE WHEN l_extendedprice >= q[2] THEN 1 ELSE 0 END
          + CASE WHEN l_extendedprice >= q[3] THEN 1 ELSE 0 END)::INT
               AS price_bin
    FROM lineitem, cuts
    WHERE l_orderkey % 20 = 0
    """,
    tags=("discretization", "feature-engineering", "broadcast", "binning"),
)
def discretize_equal_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency discretization (quartile binning) of a
    numeric feature — the ML-prep transform behind "bucketize this
    feature". Cutpoints come from ONE exact-percentile aggregate
    (1-row result, broadcast); bin assignment is a map-side
    comparison chain against the broadcast cutpoints.

    Scale shape: this is the scalable discretizer — the naive
    ntile(4) window would hash every row into ONE partition (global
    order). Cutpoint-agg + broadcast costs one tiny shuffle and
    leaves assignment at scan-rate; at 100 TB swap the exact
    percentile for approx_percentile (same plan, sketch merge) —
    exact is kept because it is oracle-matchable."""
    li = load_table(spark, sf_dir, "lineitem")
    cuts = li.agg(
        F.percentile(F.col("l_extendedprice"), F.lit([0.25, 0.5, 0.75])).alias(
            "q"
        )
    )
    binned = (
        li.filter(F.col("l_orderkey") % 20 == 0)
        .crossJoin(F.broadcast(cuts))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            (
                (F.col("l_extendedprice") >= F.col("q")[0]).cast("int")
                + (F.col("l_extendedprice") >= F.col("q")[1]).cast("int")
                + (F.col("l_extendedprice") >= F.col("q")[2]).cast("int")
            ).alias("price_bin"),
        )
    )
    return binned


@register(
    "temperature_mix_sources",
    oracle="""
    WITH sc AS (
        SELECT source, COUNT(*)::DOUBLE AS n_s FROM documents GROUP BY 1
    ),
    tot AS (
        SELECT SUM(SQRT(n_s)) AS sum_sqrt, SUM(n_s) AS n_total FROM sc
    ),
    rates AS (
        SELECT source,
               LEAST(1.0, (0.5 * n_total) * (SQRT(n_s) / sum_sqrt) / n_s)
                   AS keep_rate
        FROM sc CROSS JOIN tot
    )
    SELECT d.doc_id, d.source, d.lang, CAST(r.keep_rate AS REAL) AS keep_rate
    FROM documents d JOIN rates r USING (source)
    WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % 1000000
          < CAST(ROUND(r.keep_rate * 1000000) AS BIGINT)
    """,
    tags=("sampling", "mixture", "temperature", "llm-pipeline", "broadcast"),
)
def temperature_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing (alpha = 0.5): per-source
    keep rates proportional to sqrt(n_s) — the multilingual/domain
    rebalancing rule from the XLM/mT5 lineage — targeting half the
    corpus, with rates DERIVED FROM THE DATA in the same job (no
    precomputed config, unlike sample_stratified_by_lang's fixed
    rates).

    Scale shape: source counts are one hash aggregate; the rate
    table (|sources| rows) broadcasts back onto the corpus, and
    membership is a deterministic content-hash threshold — identical
    keys survive on every engine/run/partitioning, so the sample is
    reproducible AND oracle-checkable. One corpus-wide scan, one
    tiny aggregate, zero corpus shuffles.
    """
    from axolotls_spark.operators.dedup import token_hash

    docs = load_table(spark, sf_dir, "documents")
    sc = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("n_s")
    )
    tot = sc.agg(
        F.sum(F.sqrt("n_s")).alias("sum_sqrt"),
        F.sum("n_s").alias("n_total"),
    )
    rates = sc.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            (F.lit(0.5) * F.col("n_total"))
            * (F.sqrt("n_s") / F.col("sum_sqrt"))
            / F.col("n_s"),
        ).alias("keep_rate"),
    )
    # The membership threshold is rounded to an exact integer on
    # BOTH engines: keep_rate carries reduction-order ulps (it
    # derives from SUM(SQRT(n))), and a raw float threshold would
    # flip any doc whose hash lands exactly on the boundary.
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(
            token_hash(F.col("doc_id").cast("string")) % 1000000
            < F.round(F.col("keep_rate") * 1000000).cast("long")
        )
        .select(
            "doc_id", "source", "lang",
            F.col("keep_rate").cast("float").alias("keep_rate"),
        )
    )


@register(
    "pca_project_embeddings",
    # Raw PC coordinates are eigenvector-sign/solver-specific, so the
    # query reports SIGN-FREE invariants instead (round-5 upgrade from
    # rows-only): per component, the basis unit norm (→1), the
    # max |dot| with every earlier component (→0), the Parseval gap
    # between the empirical variance of the projected scores and the
    # eigenvalue (→0 — this runs the FULL projection over the corpus),
    # descending eigenvalue order (→true), and the covariance trace,
    # which the oracle recomputes INDEPENDENTLY from the raw parquet —
    # the cross-engine check on the whole Gram-moment machinery.
    # Coordinate-level accuracy vs numpy stays pinned in tests/test_pca.py.
    oracle="""
    WITH pos_var AS (
        SELECT pos, AVG(val * val) - AVG(val) * AVG(val) AS v FROM (
            SELECT generate_subscripts(embedding, 1) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS val
            FROM embeddings
        ) GROUP BY pos
    ),
    tr AS (SELECT ROUND(SUM(v), 4) AS trace_total FROM pos_var)
    SELECT c.comp,
           CAST(1.0 AS DOUBLE) AS unit_norm,
           CAST(0.0 AS DOUBLE) AS var_gap,
           CAST(0.0 AS DOUBLE) AS orth_max,
           TRUE AS order_ok,
           tr.trace_total
    FROM (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) AS c(comp), tr
    """,
    tags=("pca", "embedding", "llm-pipeline", "mapInPandas"),
)
def pca_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-8 PCA over every embedding vector, reported as sign-free
    invariants (see operators/pca.py for the moment-sketch design:
    one corpus scan for map-side Gram partials, eigh on the 1-row
    covariance into ONE components row, projection as a map against
    that broadcast row).  The projection itself still runs over the
    whole corpus — its scores feed the per-component variance that
    must equal the eigenvalue; the basis checks and the trace read
    the components row alone.
    """
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pcs = principal_components(gram_moments(emb), 8)
    # Parseval check: centered scores have mean 0, so the population
    # variance of the projection equals the eigenvalue exactly.
    var_gap = project(emb, pcs).groupBy("comp").agg(
        (F.avg(F.col("score") * F.col("score")) - F.first("eigenvalue")).alias("vg")
    )
    # The basis checks read the one components row with array math:
    # |w|², the max |dot| with every earlier component, and the
    # eigenvalue order against the next component.
    comps = F.col("comps")
    checks = pcs.select(
        F.inline(F.transform(comps, lambda c, i: F.struct(
            c["comp"].alias("comp"),
            dot(c["w"], c["w"]).alias("un"),
            F.array_max(F.transform(
                F.slice(comps, 1, i), lambda e: F.abs(dot(e["w"], c["w"]))
            )).alias("om"),
            F.coalesce(
                c["eigenvalue"] >= F.get(comps, i + 1)["eigenvalue"], F.lit(True)
            ).alias("order_ok"),
        ))),
        F.round("trace", 4).alias("trace_total"),
    )
    # `+ 0.0` normalizes IEEE -0.0 (round of a tiny negative gap) to
    # 0.0 so the value hash matches the oracle's literal zero.
    z = lambda c, s: (F.round(c, s) + F.lit(0.0))  # noqa: E731
    return checks.join(var_gap, "comp").select(
        "comp",
        z(F.col("un"), 6).alias("unit_norm"),
        z(F.col("vg"), 6).alias("var_gap"),
        z(F.coalesce(F.col("om"), F.lit(0.0)), 6).alias("orth_max"),
        "order_ok",
        "trace_total",
    )


# --------------------------------------------------------------------------
# Orthogonal Procrustes alignment (embedding-space drift certification)


_PROC_D = 64
#: Known orthogonal "drift": a signed coordinate permutation —
#: y[k] = s_k * x[(7k + 3) mod 64], s_k = -1 when 3 | k.  Any signed
#: permutation is orthogonal, so the optimal Procrustes rotation is
#: EXACTLY this matrix and the aligned residual is EXACTLY zero —
#: closed-form ground truth for the distributed solve.
_PROC_SRC = [(7 * k + 3) % _PROC_D for k in range(_PROC_D)]
_PROC_SGN = [-1.0 if k % 3 == 0 else 1.0 for k in range(_PROC_D)]


@register(
    "procrustes_alignment_drift",
    oracle=f"""
    WITH y AS (
        SELECT vec_id,
               list_value({", ".join(
                   f"{_PROC_SGN[k]} * CAST(embedding[{_PROC_SRC[k] + 1}]"
                   f" AS DOUBLE)" for k in range(_PROC_D))}) AS yv,
               list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                   AS fx2_row
        FROM embeddings
    ),
    agg AS (
        SELECT COUNT(*)::BIGINT AS n_vectors,
               SUM(fx2_row) AS fx2,
               SUM(list_sum(list_transform(yv, v -> v * v))) AS fy2
        FROM y
    )
    SELECT n_vectors,
           CAST(fx2 AS REAL) AS frob2_x,
           CAST(fy2 AS REAL) AS frob2_y,
           -- sum of singular values of X'Y = trace(X'X) = ||X||_F^2
           -- for an orthogonal ground-truth map (closed form).
           CAST(fx2 AS REAL) AS sigma_sum,
           CAST(0.0 AS REAL) AS residual_ratio,
           1 AS rotation_recovered,
           1 AS rotation_orthogonal
    FROM agg
    """,
    tags=("embedding", "procrustes", "alignment", "svd",
          "one-partition-solve", "known-answer"),
)
def procrustes_alignment_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orthogonal Procrustes alignment between the embedding table
    and a drifted copy — the model-upgrade primitive: when a new
    encoder version rotates the embedding space, the map that aligns
    old to new is argmin_R ||XR - Y||_F over orthogonal R, solved by
    R = UV' from the SVD of the cross-covariance X'Y (Schönemann
    1966).  The drift here is a KNOWN signed permutation, so the
    whole distributed pipeline has closed-form ground truth: the
    recovered rotation must equal it entry-wise, the singular-value
    sum must equal ||X||_F^2, and the aligned residual must vanish —
    the flags certify the plumbing (`pca_project_embeddings`'s
    sign-free-invariant discipline, applied to the OTHER classic
    d x d solve: unsymmetric cross-Gram + SVD instead of covariance
    + eigh).

    Scale shape: the corpus contributes map-side (n, ||X||^2,
    ||Y||^2, X'Y) partials — a d^2-sized summary per partition,
    summed by the single reduce of ``operators.pca.sketch``; the SVD
    runs inside one Arrow batch on the 1-row reduced relation (never
    a driver collect).
    At 100 TB this is one read pass and O(partitions * d^2) floats of
    traffic."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    yexpr = F.array(
        *[
            F.lit(_PROC_SGN[k])
            * F.col("embedding")[_PROC_SRC[k]].cast("double")
            for k in range(_PROC_D)
        ]
    )
    xy = emb.select(F.col("embedding").alias("xv"), yexpr.alias("yv"))

    def moments(pdf):
        import numpy as np

        x = np.vstack(pdf["xv"].to_numpy()).astype("float64")
        yv = np.vstack(pdf["yv"].to_numpy()).astype("float64")
        return {
            "n": x.shape[0],
            "fx2": float((x * x).sum()),
            "fy2": float((yv * yv).sum()),
            "m": (x.T @ yv).ravel(),
        }

    one = sketch(
        xy, moments, "n BIGINT, fx2 DOUBLE, fy2 DOUBLE, m ARRAY<DOUBLE>"
    )
    src, sgn, d = list(_PROC_SRC), list(_PROC_SGN), _PROC_D

    def solve(it):
        import numpy as np

        for pdf in it:
            for _, row in pdf.iterrows():
                m = np.asarray(row["m"], dtype="float64").reshape(d, d)
                u, sig, vt = np.linalg.svd(m)
                r = u @ vt
                truth = np.zeros((d, d))
                for k in range(d):
                    truth[src[k], k] = sgn[k]
                fx2, fy2 = float(row["fx2"]), float(row["fy2"])
                sigma_sum = float(sig.sum())
                residual = fx2 + fy2 - 2.0 * sigma_sum
                yield pd.DataFrame(
                    {
                        "n_vectors": [int(row["n"])],
                        "frob2_x": [fx2],
                        "frob2_y": [fy2],
                        "sigma_sum": [sigma_sum],
                        "residual_ratio": [abs(residual) / fx2],
                        "rotation_recovered": [
                            int(np.abs(r - truth).max() < 1e-6)
                        ],
                        "rotation_orthogonal": [
                            int(
                                np.abs(r.T @ r - np.eye(d)).max() < 1e-6
                            )
                        ],
                    }
                )

    out = one.mapInPandas(
        solve,
        "n_vectors long, frob2_x double, frob2_y double, "
        "sigma_sum double, residual_ratio double, "
        "rotation_recovered int, rotation_orthogonal int",
    )
    return out.select(
        "n_vectors",
        F.col("frob2_x").cast("float").alias("frob2_x"),
        F.col("frob2_y").cast("float").alias("frob2_y"),
        F.col("sigma_sum").cast("float").alias("sigma_sum"),
        (F.round(F.col("residual_ratio"), 6) + F.lit(0.0))
        .cast("float")
        .alias("residual_ratio"),
        "rotation_recovered",
        "rotation_orthogonal",
    )
