"""Round-2 curation & retrieval operators for LLM data pipelines.

Extends §2B beyond round 1 with the published curation primitives a
100 TB training-data pipeline actually runs:

- ``cms_heavy_hitters``      — count-min sketch frequency estimation
  (Cormode & Muthukrishnan), deterministic md5-derived hash rows so
  the sketch itself is oracle-checkable bit-for-bit.
- ``semdedup_prune``         — SemDeDup (Abbas et al. 2023): k-means
  cluster the embedding space, prune near-cosine-duplicates *within*
  clusters only — pairwise work bounded by cluster size, never N².
- ``hybrid_search_rrf``      — reciprocal-rank fusion (Cormack et
  al.) of two independent rankers (BM25, term-coverage) — the
  standard hybrid-retrieval combiner.
- ``substring_span_dedup``   — exact hashed 12-token-span overlap
  between documents (the "Deduplicating Training Data Makes LMs
  Better" exact-substring signal, relationalized via shingle
  hashing).
- ``bpe_merge_candidates``   — one BPE vocabulary-induction step:
  most frequent adjacent character pair, weighted by token
  frequency; work scales with the Zipf-small vocabulary, not the
  corpus.
- ``ccnet_perplexity_buckets`` — CCNet-style head/middle/tail
  terciles of LM score per language (Wenzek et al. 2020).
- ``containment_pairs``      — asymmetric shingle containment
  |A∩B| / |A| (the "doc A is quoted inside doc B" detector that
  symmetric Jaccard misses).
- ``mutual_info_lang_source`` — mutual information between two
  categorical columns (feature-dependence screening).
- ``table_diff_checksum``    — two-level checksum reconciliation of
  a drifted replica: bucket digests prune identical data before any
  row-level diff.
- ``zorder_layout_keys``     — Z-order (Morton) interleaved sort key
  for multi-dimensional data-skipping layouts.

The reference has none of these (SURVEY §2A: four column classes,
element-wise arithmetic only — ``/root/reference/axolotls``); they
are §2B "LLM-data-pipeline operator" mandates. Every query is pure
Column-expression PySpark (no Python UDFs) and every one carries an
exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from axolotls_spark.cacheutil import materialize
from axolotls_spark.functions.arrays import ordered_pairs
from axolotls_spark.io.sources import load_table, spread_for_cpu
from axolotls_spark.operators.dedup import (
    doc_shingle_hashes,
    token_hash,
    tokens_col,
)
from axolotls_spark.queries_text import (
    _SQL_SHINGLES,
    _SQL_TOKEN_HASH,
    _SQL_TOKENS,
)
from axolotls_spark.registry import register, stable_f32

_SQL_DOT = (
    "list_sum(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
)
_SQL_NORM = (
    "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
)


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

_CMS_D = 4   # hash rows
_CMS_W = 64  # buckets per row


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    occ AS (
        SELECT term, i FROM toks CROSS JOIN UNNEST(range(0, {_CMS_D})) AS u(i)
    ),
    sketch AS (
        SELECT i,
               {_SQL_TOKEN_HASH.format(tok="i::VARCHAR || ' ' || term")} % {_CMS_W}
                   AS bucket,
               COUNT(*) AS cell
        FROM occ GROUP BY 1, 2
    ),
    exact AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
    top AS (
        SELECT term, cnt FROM (
            SELECT term, cnt,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rn
            FROM exact) WHERE rn <= 20
    ),
    probe AS (
        SELECT t.term, t.cnt, u.i,
               {_SQL_TOKEN_HASH.format(tok="u.i::VARCHAR || ' ' || t.term")}
                   % {_CMS_W} AS bucket
        FROM top t CROSS JOIN UNNEST(range(0, {_CMS_D})) AS u(i)
    )
    SELECT p.term, p.cnt AS exact_cnt,
           MIN(s.cell) AS cms_est,
           MIN(s.cell) - p.cnt AS overcount
    FROM probe p JOIN sketch s ON s.i = p.i AND s.bucket = p.bucket
    GROUP BY 1, 2
    """,
    tags=("sketch", "count-min", "heavy-hitters", "mergeable", "text"),
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=4 rows × w=64 buckets) over the corpus
    token stream, probed at the exact top-20 tokens so the one-sided
    overcount guarantee (est ≥ truth) is visible in the output.

    Scale shape: the sketch is a fixed 256-cell aggregate regardless
    of corpus size — map-side partial aggregation collapses each
    task's token stream to ≤256 rows before any exchange, and cells
    are trivially mergeable across partitions/days (the point of the
    sketch). Hash rows use engine-independent md5-prefix hashes
    (operators/dedup.py convention) so DuckDB reproduces every cell
    exactly. The exact-count side exists only as the probe's ground
    truth; a pure streaming deployment would keep the sketch alone.
    """
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("term"))
    rows = toks.select(
        "term",
        F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)])).alias("i"),
    )
    bucket = (
        token_hash(
            F.concat_ws(" ", F.col("i").cast("string"), F.col("term"))
        )
        % _CMS_W
    ).alias("bucket")
    sketch = rows.select("i", bucket).groupBy("i", "bucket").agg(
        F.count(F.lit(1)).alias("cell")
    )
    exact = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    # Distributed top-k (TakeOrderedAndProject) — the term-frequency
    # relation grows with the corpus's distinct vocabulary, so an
    # unpartitioned Window rank here would funnel it through one task.
    top = exact.orderBy(F.desc("cnt"), "term").limit(20)
    probe = top.select(
        "term",
        "cnt",
        F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)])).alias("i"),
    ).select("term", "cnt", "i", bucket)
    return (
        probe.join(F.broadcast(sketch), ["i", "bucket"])
        .groupBy("term", "cnt")
        .agg(F.min("cell").alias("cms_est"))
        .select(
            "term",
            F.col("cnt").alias("exact_cnt"),
            "cms_est",
            (F.col("cms_est") - F.col("cnt")).alias("overcount"),
        )
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic dedup inside k-means clusters
# ---------------------------------------------------------------------------


def _semdedup_oracle() -> str:
    from axolotls_spark.queries_similarity import _KMEANS_CTE

    return _KMEANS_CTE + f"""
    , mem AS (
        SELECT a2.vec_id, a2.cid, e.embedding,
               {_SQL_NORM.format(v='e.embedding')} AS nm
        FROM a2 JOIN embeddings e USING (vec_id)
    )
    SELECT b.vec_id, b.cid, MIN(a.vec_id) AS dup_of
    FROM mem a JOIN mem b
      ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE {_SQL_DOT.format(a='a.embedding', b='b.embedding')}
          / NULLIF(a.nm * b.nm, 0) >= 0.35
    GROUP BY 1, 2
    """


@register(
    "semdedup_prune",
    oracle=_semdedup_oracle(),
    tags=("dedup", "semantic", "semdedup", "clustering", "embedding"),
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embeddings
    (same deterministic k=8 / 2-iteration run the kmeans_* queries
    certify), then inside each cluster mark every vector whose
    cosine to a lower-id cluster-mate is ≥ 0.35 as a prune candidate
    (keep-lowest-id convention, matching dedup_by_embedding).

    Scale shape: THE point of SemDeDup — pairwise cosine runs only
    within a cluster (equi-join on cid), so total comparisons are
    Σ|cluster|², bounded by clustering granularity, never the N²
    all-pairs join; raise k as the corpus grows to hold cluster
    size — and therefore per-key join fan-out — constant. The
    kmeans assignment itself never shuffles the vectors
    (operators/clustering.py). Output is all-integer, so the whole
    cluster→prune pipeline is exactly hash-checked against the
    SQL-unrolled oracle.

    Reuse: the member relation (assignment ⋈ vectors, with the L2
    norm computed ONCE per vector) feeds both sides of the pairwise
    self-join through one reused exchange, so the kmeans lineage and
    the norms run once without a cache.
    """
    from axolotls_spark.functions.arrays import dot, norm
    from axolotls_spark.operators import clustering as CLU

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assign, _ = CLU.kmeans(emb, k=8, iters=2)
    # One explicit repartition by cid: AQE leaves a user-numbered
    # shuffle uncoalesced, so the CPU-dense pairwise join keeps one task
    # per cluster instead of folding the byte-tiny relation into one
    # task; both self-join sides reuse this one exchange.
    mem = (
        assign.select("vec_id", "cid")
        .join(emb, "vec_id")
        .select(
            "vec_id", "cid", "embedding", norm(F.col("embedding")).alias("nm")
        )
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")), "cid")
    )
    a = mem.select(
        F.col("vec_id").alias("a_id"),
        "cid",
        F.col("embedding").alias("a_vec"),
        F.col("nm").alias("a_nm"),
    )
    b = mem.select(
        F.col("vec_id").alias("b_id"),
        F.col("cid").alias("b_cid"),
        F.col("embedding").alias("b_vec"),
        F.col("nm").alias("b_nm"),
    )
    pairs = a.join(
        b, (a.cid == b.b_cid) & (F.col("a_id") < F.col("b_id"))
    )
    sim = dot(F.col("a_vec"), F.col("b_vec")) / F.nullif(
        F.col("a_nm") * F.col("b_nm"), F.lit(0.0)
    )
    return (
        pairs.filter(sim >= 0.35)
        .groupBy(F.col("b_id").alias("vec_id"), "cid")
        .agg(F.min("a_id").alias("dup_of"))
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 ⊕ term-coverage via reciprocal-rank fusion
# ---------------------------------------------------------------------------

_RRF_K = 60
_HY_K1 = 1.2
_HY_B = 0.75
_HY_QUERIES = (
    ("q0", ("data", "model")),
    ("q1", ("learning", "training", "deep")),
    ("q2", ("spark", "query")),
)
_HY_Q_VALUES = ", ".join(
    f"('{qid}', '{t}')" for qid, ts in _HY_QUERIES for t in ts
)


@register(
    "hybrid_search_rrf",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    tf AS (
        SELECT doc_id, term, COUNT(*)::DOUBLE AS tf
        FROM toks GROUP BY 1, 2
    ),
    dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1),
    stats AS (
        SELECT AVG(dl) AS avgdl, COUNT(*)::DOUBLE AS n_docs FROM dl
    ),
    dfreq AS (SELECT term, COUNT(*)::DOUBLE AS df FROM tf GROUP BY 1),
    q(query_id, term) AS (VALUES {_HY_Q_VALUES}),
    hits AS (
        SELECT q.query_id, t.doc_id, t.term, t.tf, d.df, dl.dl
        FROM q
        JOIN tf t    ON t.term = q.term
        JOIN dfreq d ON d.term = q.term
        JOIN dl      ON dl.doc_id = t.doc_id
    ),
    scored AS (
        SELECT h.query_id, h.doc_id,
               SUM(
                   LN((s.n_docs - h.df + 0.5) / (h.df + 0.5) + 1)
                   * h.tf * ({_HY_K1} + 1)
                   / (h.tf + {_HY_K1}
                      * (1 - {_HY_B} + {_HY_B} * h.dl / s.avgdl))
               ) AS bm25,
               COUNT(DISTINCT h.term) AS coverage,
               MAX(h.dl) AS dl
        FROM hits h CROSS JOIN stats s
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY bm25 DESC, doc_id) AS bm25_rank,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY coverage DESC, dl, doc_id)
                   AS cov_rank
        FROM scored
    ),
    fused AS (
        SELECT query_id, doc_id, bm25_rank, cov_rank,
               1.0 / ({_RRF_K} + bm25_rank)
               + 1.0 / ({_RRF_K} + cov_rank) AS rrf_score
        FROM ranked
    )
    SELECT query_id, doc_id, bm25_rank, cov_rank, rrf_score FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rrf_score DESC, doc_id) AS rn
        FROM fused) WHERE rn <= 10
    """,
    tags=("hybrid-retrieval", "rrf", "bm25", "rank-fusion", "topk"),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse a BM25 ranking with a term-coverage
    ranking (distinct query terms matched, shorter-doc tiebreak) via
    reciprocal-rank fusion, rrf = Σ 1/(60 + rank) — the standard
    combiner for lexical ⊕ secondary rankers (Cormack et al.;
    production pairs BM25 with an ANN ranker, same fusion shape).

    Scale shape: identical to bm25_search — the handful of query
    terms BROADCAST-prunes the inverted (doc, term) relation before
    any wide work, both rankers and the fusion run on the pruned
    candidate set, and ranks come from WindowGroupLimit windows over
    per-query candidates. RRF arithmetic on integer ranks is exact
    in both engines, so the fused ranking hash-matches.

    Reuse discipline: the inverted (doc, term, tf) relation feeds
    three consumers (doc lengths, document frequencies, the
    candidate probe) — persist it so the corpus is tokenized ONCE,
    not once per consumer.
    """
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    tf = materialize(
        toks.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")).persist()
    stats = dl.agg(
        F.avg("dl").alias("avgdl"),
        F.count(F.lit(1)).cast("double").alias("n_docs"),
    )
    dfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    q = spark.createDataFrame(
        [(qid, t) for qid, ts in _HY_QUERIES for t in ts],
        "query_id STRING, term STRING",
    )
    hits = (
        tf.join(F.broadcast(q), "term")
        .join(F.broadcast(dfreq.join(F.broadcast(q.select("term").distinct()), "term")), "term")
        .join(dl, "doc_id")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    contrib = idf * F.col("tf") * (_HY_K1 + 1) / (
        F.col("tf")
        + _HY_K1 * (1 - _HY_B + _HY_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        hits.crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(contrib).alias("bm25"),
            F.countDistinct("term").alias("coverage"),
            F.max("dl").alias("dl"),
        )
    )
    w_bm = Window.partitionBy("query_id").orderBy(F.desc("bm25"), "doc_id")
    w_cov = Window.partitionBy("query_id").orderBy(
        F.desc("coverage"), "dl", "doc_id"
    )
    fused = scored.select(
        "query_id",
        "doc_id",
        F.row_number().over(w_bm).alias("bm25_rank"),
        F.row_number().over(w_cov).alias("cov_rank"),
    ).withColumn(
        "rrf_score",
        1.0 / (_RRF_K + F.col("bm25_rank"))
        + 1.0 / (_RRF_K + F.col("cov_rank")),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score"), "doc_id"
    )
    return (
        fused.withColumn("rn", F.row_number().over(w_f))
        .filter(F.col("rn") <= 10)
        .select("query_id", "doc_id", "bm25_rank", "cov_rank", "rrf_score")
    )


# ---------------------------------------------------------------------------
# Exact substring-span overlap (hashed 12-token shingles)
# ---------------------------------------------------------------------------

_SPAN_N = 12


@register(
    "substring_span_dedup",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               {_SQL_TOKEN_HASH.format(tok='g')} AS sh
        FROM (
            SELECT doc_id,
                   array_to_string(toks[i:i + {_SPAN_N - 1}], ' ') AS g
            FROM t, UNNEST(range(1, len(toks) - {_SPAN_N - 2})) AS u(i)
            WHERE len(toks) >= {_SPAN_N}
        )
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared_spans
    FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
    tags=("dedup", "substring", "ngram", "contamination", "text"),
)
def substring_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact long-span overlap: document pairs sharing at least one
    verbatim 12-token span, with the count of distinct shared spans —
    the relational form of exact-substring dedup ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022):
    a 12-token exact match is overwhelming evidence of copying, and
    hashing the spans turns suffix-array matching into an equi-join.

    Scale shape: per-doc work is linear in token count (shingle +
    hash, map-only); candidate pairs come ONLY from per-span-hash
    combination expansion over ONE span-hash exchange — never an
    all-pairs comparison, and never the self-join that re-derived
    the tokenize+hash pass once PER SIDE (r8 §2.4). Boilerplate
    spans that appear in thousands of docs are the fan-out hazard
    (each span's pair block materializes in one task): at 100 TB add
    the per-span doc-count cap (drop spans with df above a threshold
    — they are boilerplate, not copying), exactly as
    ``winnow_shared_spans`` does with its df-cap.
    """
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    sh = doc_shingle_hashes(docs, n=_SPAN_N)
    groups = (
        sh.groupBy("sh")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = ordered_pairs("ids", "doc_a", "doc_b")
    return (
        groups.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_spans"))
    )


# ---------------------------------------------------------------------------
# BPE merge-candidate counting (one vocabulary-induction step)
# ---------------------------------------------------------------------------


@register(
    "bpe_merge_candidates",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    vocab AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
    pairs AS (
        SELECT substr(term, i, 2) AS pair,
               CAST(SUM(cnt) AS BIGINT) AS pair_count
        FROM vocab, UNNEST(range(1, length(term))) AS u(i)
        WHERE length(term) >= 2
        GROUP BY 1
    )
    SELECT pair, pair_count FROM (
        SELECT pair, pair_count,
               ROW_NUMBER() OVER (ORDER BY pair_count DESC, pair) AS rn
        FROM pairs) WHERE rn <= 20
    """,
    tags=("bpe", "tokenizer", "vocab-induction", "text", "topk"),
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One byte-pair-encoding induction step: the 20 most frequent
    adjacent character pairs across the corpus, weighted by word
    frequency — the argmax a BPE trainer (Sennrich et al. 2016)
    merges next. Iterating this query with a merge applied between
    rounds IS tokenizer training.

    Scale shape: the corpus collapses to its Zipf-small vocabulary
    (term, count) FIRST — one corpus-sized shuffle — and the
    character-pair explosion runs over the vocabulary only, so the
    expensive positional work scales with distinct words, not corpus
    tokens. That vocabulary-first trick is exactly how production
    BPE trainers stay tractable.
    """
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(F.explode(tokens_col(F.col("text"))).alias("term"))
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    pairs = (
        vocab.filter(F.length("term") >= 2)
        .select(
            "cnt",
            F.explode(
                F.sequence(F.lit(1), F.length("term") - 1)
            ).alias("i"),
            "term",
        )
        .select(
            F.col("term").substr(F.col("i"), F.lit(2)).alias("pair"), "cnt"
        )
        .groupBy("pair")
        .agg(F.sum("cnt").alias("pair_count"))
    )
    # Distributed top-k: the pair relation is vocabulary-sized (grows
    # with the corpus), so rank via orderBy+limit
    # (TakeOrderedAndProject), never an unpartitioned Window.
    return (
        pairs.orderBy(F.desc("pair_count"), "pair")
        .limit(20)
        .select("pair", "pair_count")
    )


_BPE_ROUNDS = 3


def _bpe_round_sql(r: int) -> str:
    """One unrolled BPE round for the oracle: count adjacent symbol
    pairs weighted by word frequency, pick the argmax (count desc,
    pair asc), rewrite every vocabulary word's symbol sequence with
    the merged token (space-wrapped literal replace — identical
    semantics in DuckDB and Spark, verified for the overlapping
    'a a a' case)."""
    prev = f"v{r - 1}"
    return f"""
    p{r} AS (
        SELECT arr[i] || ' ' || arr[i + 1] AS pair, SUM(cnt) AS pc
        FROM (SELECT string_split(sym, ' ') AS arr, cnt FROM {prev}),
             UNNEST(range(1, len(arr))) AS u{r}(i)
        GROUP BY 1
    ),
    t{r} AS (
        SELECT pair, replace(pair, ' ', '') AS merged, pc
        FROM p{r} ORDER BY pc DESC, pair LIMIT 1
    ),
    v{r} AS (
        SELECT trim(replace(' ' || sym || ' ',
                            ' ' || t{r}.pair || ' ',
                            ' ' || t{r}.merged || ' ')) AS sym, cnt
        FROM {prev} CROSS JOIN t{r}
    )"""


@register(
    "bpe_train_merges",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    vocab AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
    v0 AS (
        SELECT array_to_string(string_split(term, ''), ' ') AS sym, cnt
        FROM vocab
    ),
    {", ".join(_bpe_round_sql(r) for r in range(1, _BPE_ROUNDS + 1))}
    {" UNION ALL ".join(
        f"SELECT {r} AS round, pair, merged AS merged_token, "
        f"CAST(pc AS BIGINT) AS pair_count FROM t{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    )}
    """,
    tags=("bpe", "tokenizer", "training-loop", "vocab-induction"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TRAINING, not just one candidate count: three full merge
    rounds of Sennrich et al. (2016) — count adjacent symbol pairs
    weighted by word frequency, merge the argmax pair into a new
    token, rewrite the vocabulary, repeat. Returns the learned merge
    table (round, pair, merged_token, pair_count), i.e. the first
    three lines of a tokenizer's merges.txt. The oracle unrolls the
    identical three rounds in SQL, so the whole training loop — not
    just a step — is hash-certified.

    Scale shape (the vocabulary-first trick production BPE trainers
    use): the corpus collapses to its Zipf-small (word, count)
    vocabulary in ONE corpus-sized shuffle; every training round then
    operates on the vocabulary only — pair explode (bounded by word
    length), pair aggregate, argmax via orderBy+limit(1)
    (TakeOrderedAndProject), and a broadcast-merge rewrite (map-only
    literal replace, space-wrapped so symbol boundaries can't
    false-match). Each round's vocabulary is persisted: the rounds
    are sequential by nature, and without the persist round r's lazy
    plan re-derives rounds 1..r-1 (the Lloyd-iteration lesson)."""
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    vocab = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    v = vocab.select(
        F.array_join(F.split("term", ""), " ").alias("sym"), "cnt"
    )
    merge_rows = []
    for r in range(1, _BPE_ROUNDS + 1):
        # (r8: per-round eager counts were tried and REVERTED — jobs
        # 17->24, tasks 394->430 with nothing eliminated; the rounds'
        # cache builds already serialize through the broadcast-merge
        # dependency chain.)
        v = v.persist()
        pairs = (
            v.select(F.split("sym", " ").alias("arr"), "cnt")
            .filter(F.size("arr") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(arr) - 1), "
                        "i -> concat(element_at(arr, i), ' ', "
                        "element_at(arr, i + 1)))"
                    )
                ).alias("pair"),
                "cnt",
            )
            .groupBy("pair")
            .agg(F.sum("cnt").alias("pc"))
        )
        top = (
            pairs.orderBy(F.desc("pc"), "pair")
            .limit(1)
            .select("pair", F.expr("replace(pair, ' ', '')").alias("merged"),
                    "pc")
            .persist()  # read by the merge rewrite AND the output row
        )
        merge_rows.append(
            top.select(
                F.lit(r).alias("round"),
                "pair",
                F.col("merged").alias("merged_token"),
                F.col("pc").cast("long").alias("pair_count"),
            )
        )
        v = v.crossJoin(F.broadcast(top)).select(
            F.expr(
                "trim(replace(' ' || sym || ' ', ' ' || pair || ' ', "
                "' ' || merged || ' '))"
            ).alias("sym"),
            "cnt",
        )
    out = merge_rows[0]
    for m in merge_rows[1:]:
        out = out.unionByName(m)
    return out


_DSIR_B = 256
_DSIR_SQL_BUCKET = (
    "CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) % " + str(_DSIR_B)
)


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, {_DSIR_SQL_BUCKET} AS b
        FROM (SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS term
              FROM documents)
    ),
    raw AS (SELECT b, COUNT(*) AS c_r FROM toks GROUP BY 1),
    tgt AS (SELECT b, COUNT(*) AS c_t FROM toks WHERE lang = 'en'
            GROUP BY 1),
    tots AS (
        SELECT (SELECT COUNT(*) FROM toks) AS rt,
               (SELECT COUNT(*) FROM toks WHERE lang = 'en') AS tt
    ),
    model AS (
        SELECT raw.b,
               LN((COALESCE(tgt.c_t, 0) + 1.0) / (tots.tt + {_DSIR_B}))
             - LN((raw.c_r + 1.0) / (tots.rt + {_DSIR_B})) AS dl
        FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tots
    ),
    docb AS (
        SELECT doc_id, lang, b, COUNT(*) AS n
        FROM toks WHERE lang <> 'en'
        GROUP BY 1, 2, 3
    ),
    w AS (
        SELECT doc_id, lang, ROUND(SUM(n * dl), 6) AS logw
        FROM docb JOIN model USING (b)
        GROUP BY 1, 2
    )
    SELECT doc_id, lang, logw
    FROM w ORDER BY logw DESC, doc_id LIMIT 20
    """,
    tags=("dsir", "importance-sampling", "curation", "hashed-ngrams"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al., NeurIPS'23): score every
    non-English document by the log importance weight
    Σ log p_target(feature) − log p_raw(feature) under two hashed
    bag-of-words unigram models (256 buckets, +1 smoothing) — target
    = the English slice, raw = the whole corpus — and return the 20
    best-scoring candidates. This is the importance-resampling
    primitive that tilts a raw 100 TB crawl toward a target domain
    without training a classifier.

    Scale shape: the corpus tokenizes ONCE (persisted bucket
    relation feeds the raw model, the target model, and the per-doc
    fold); both models collapse to ≤256-row broadcast relations; the
    per-doc score is an integer (doc, bucket) count aggregate joined
    to the broadcast model — pure map-side arithmetic — and the
    top-20 is orderBy+limit on the ROUNDED score (ties by doc_id),
    so cross-engine float noise cannot reorder the cut."""
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    # Four consumers: raw, target, totals and the per-doc fold.
    toks = materialize(
        docs.select(
            "doc_id", "lang",
            F.explode(tokens_col(F.col("text"))).alias("term"),
        )
        .select(
            "doc_id", "lang", (token_hash(F.col("term")) % _DSIR_B).alias("b")
        )
    )
    raw = toks.groupBy("b").agg(F.count(F.lit(1)).alias("c_r"))
    tgt = (
        toks.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c_t"))
    )
    tots = toks.agg(
        F.count(F.lit(1)).alias("rt"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tt"),
    )
    model = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("c_t"), F.lit(0)) + F.lit(1.0))
                    / (F.col("tt") + F.lit(_DSIR_B))
                )
                - F.log(
                    (F.col("c_r") + F.lit(1.0))
                    / (F.col("rt") + F.lit(_DSIR_B))
                )
            ).alias("dl"),
        )
    )
    docb = (
        toks.filter(F.col("lang") != "en")
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = (
        docb.join(F.broadcast(model), "b")
        .groupBy("doc_id", "lang")
        .agg(F.round(F.sum(F.col("n") * F.col("dl")), 6).alias("logw"))
    )
    return w.orderBy(F.desc("logw"), "doc_id").limit(20).select(
        "doc_id", "lang", "logw"
    )


@register(
    "bpe_encode_compression",
    oracle=f"""
    WITH toks AS (
        SELECT unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    vocab AS (SELECT term, COUNT(*) AS cnt FROM toks GROUP BY 1),
    v0 AS (
        SELECT array_to_string(string_split(term, ''), ' ') AS sym, cnt
        FROM vocab
    ),
    {", ".join(_bpe_round_sql(r) for r in range(1, _BPE_ROUNDS + 1))},
    before AS (
        SELECT SUM(cnt) AS n_words,
               SUM(cnt * len(string_split(sym, ' '))) AS syms_before
        FROM v0
    ),
    after AS (
        SELECT SUM(cnt * len(string_split(sym, ' '))) AS syms_after
        FROM v{_BPE_ROUNDS}
    )
    SELECT CAST(n_words AS BIGINT) AS n_words,
           CAST(syms_before AS BIGINT) AS syms_before,
           CAST(syms_after AS BIGINT) AS syms_after,
           ROUND(CAST(syms_after AS DOUBLE) / syms_before, 6)
               AS compression
    FROM before CROSS JOIN after
    """,
    tags=("bpe", "tokenizer", "encode", "compression"),
)
def bpe_encode_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODING with the learned merges — the other half of the BPE
    story: apply the three trained merge rules to the corpus
    vocabulary and measure the token-stream compression (symbols
    after / symbols before; before = character count). This is the
    number a tokenizer team actually tracks per merge budget
    (fertility / bytes-per-token), and it certifies that the learned
    merges APPLY correctly, not just that they were chosen correctly.

    Scale shape: identical to bpe_train_merges (vocabulary-first;
    every round vocabulary-sized, merges broadcast); the encode cost
    is two aggregates over the initial and final vocabularies —
    corpus tokens are never re-materialized with merges applied,
    because symbol counts weighted by word frequency are sufficient
    statistics for the compression ratio."""
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    vocab = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    v0 = vocab.select(
        F.array_join(F.split("term", ""), " ").alias("sym"), "cnt"
    ).persist()  # start state feeds round 1 AND the 'before' aggregate
    v = v0
    for _ in range(_BPE_ROUNDS):
        v = v.persist()
        pairs = (
            v.select(F.split("sym", " ").alias("arr"), "cnt")
            .filter(F.size("arr") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(arr) - 1), "
                        "i -> concat(element_at(arr, i), ' ', "
                        "element_at(arr, i + 1)))"
                    )
                ).alias("pair"),
                "cnt",
            )
            .groupBy("pair")
            .agg(F.sum("cnt").alias("pc"))
        )
        top = (
            pairs.orderBy(F.desc("pc"), "pair")
            .limit(1)
            .select(
                "pair", F.expr("replace(pair, ' ', '')").alias("merged")
            )
        )
        v = v.crossJoin(F.broadcast(top)).select(
            F.expr(
                "trim(replace(' ' || sym || ' ', ' ' || pair || ' ', "
                "' ' || merged || ' '))"
            ).alias("sym"),
            "cnt",
        )
    n_syms = F.col("cnt") * F.size(F.split("sym", " "))
    before = v0.agg(
        F.sum("cnt").alias("n_words"),
        F.sum(n_syms).alias("syms_before"),
    )
    after = v.agg(F.sum(n_syms).alias("syms_after"))
    return before.crossJoin(F.broadcast(after)).select(
        F.col("n_words").cast("long").alias("n_words"),
        F.col("syms_before").cast("long").alias("syms_before"),
        F.col("syms_after").cast("long").alias("syms_after"),
        F.round(
            F.col("syms_after").cast("double") / F.col("syms_before"), 6
        ).alias("compression"),
    )


@register(
    "curation_funnel_report",
    oracle=f"""
    WITH base AS (
        SELECT doc_id, text, lang, n_chars,
               len({_SQL_TOKENS}) AS n_tokens
        FROM documents
    ),
    gates AS (
        SELECT COUNT(*) AS total,
               SUM(CASE WHEN lang IN ('en','de','fr') THEN 1 ELSE 0 END)
                   AS n_lang,
               SUM(CASE WHEN lang IN ('en','de','fr')
                         AND n_chars BETWEEN 50 AND 5000
                         AND n_tokens >= 10 THEN 1 ELSE 0 END) AS n_qual
        FROM base
    ),
    reps AS (
        SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang
        FROM base
        WHERE lang IN ('en','de','fr')
          AND n_chars BETWEEN 50 AND 5000 AND n_tokens >= 10
        GROUP BY text
    ),
    dd AS (
        SELECT COUNT(*) AS n_dedup,
               SUM(CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))
                             ::BIGINT % 100 <
                             CASE lang WHEN 'en' THEN 40
                                       WHEN 'de' THEN 70 ELSE 100 END
                        THEN 1 ELSE 0 END) AS n_sample
        FROM reps
    )
    SELECT s.stage_id, s.stage,
           CAST(s.rows_surviving AS BIGINT) AS rows_surviving,
           CAST(s.dropped_here AS BIGINT) AS dropped_here
    FROM gates CROSS JOIN dd,
    LATERAL (
        SELECT * FROM (VALUES
            (0, 'total',        total,    CAST(0 AS BIGINT)),
            (1, 'lang_gate',    n_lang,   total - n_lang),
            (2, 'quality_gate', n_qual,   n_lang - n_qual),
            (3, 'exact_dedup',  n_dedup,  n_qual - n_dedup),
            (4, 'sampled',      n_sample, n_dedup - n_sample)
        ) AS v(stage_id, stage, rows_surviving, dropped_here)
    ) s
    """,
    tags=("pipeline", "observability", "funnel", "governance"),
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability for ``pipeline_corpus_curation``: the
    per-stage survival funnel (total → language gate → quality gate →
    exact dedup → stratified sample) with rows dropped at each stage
    — the governance artifact a 100 TB curation run publishes next to
    its output so a 40% corpus shrink is attributable to a stage, not
    discovered downstream.

    Scale shape: stages 0–2 are conditional sums in ONE pass over the
    scan; dedup + sample survivors come from one aggregate over the
    gated text groups; the 5-row funnel is assembled from the two
    1-row aggregates with literal structs — no window, no second
    corpus pass per stage."""
    from axolotls_spark.operators.text_analysis import token_count

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "text", "lang", "n_chars",
        token_count(F.col("text")).alias("n_tokens"),
    )
    lang_ok = F.col("lang").isin("en", "de", "fr")
    qual_ok = (
        lang_ok
        & F.col("n_chars").between(50, 5000)
        & (F.col("n_tokens") >= 10)
    )
    gates = base.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(lang_ok.cast("long")).alias("n_lang"),
        F.sum(qual_ok.cast("long")).alias("n_qual"),
    )
    reps = (
        base.filter(qual_ok)
        .groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"), F.min("lang").alias("lang"))
    )
    rate = (
        F.when(F.col("lang") == "en", 40)
        .when(F.col("lang") == "de", 70)
        .otherwise(100)
    )
    keep = token_hash(F.col("doc_id").cast("string")) % 100 < rate
    dd = reps.agg(
        F.count(F.lit(1)).alias("n_dedup"),
        F.sum(keep.cast("long")).alias("n_sample"),
    )
    both = gates.crossJoin(F.broadcast(dd))
    stage = lambda sid, name, surv, drop: F.struct(
        F.lit(sid).alias("stage_id"),
        F.lit(name).alias("stage"),
        surv.cast("long").alias("rows_surviving"),
        drop.cast("long").alias("dropped_here"),
    )
    return both.select(
        F.explode(
            F.array(
                stage(0, "total", F.col("total"), F.lit(0)),
                stage(1, "lang_gate", F.col("n_lang"),
                      F.col("total") - F.col("n_lang")),
                stage(2, "quality_gate", F.col("n_qual"),
                      F.col("n_lang") - F.col("n_qual")),
                stage(3, "exact_dedup", F.col("n_dedup"),
                      F.col("n_qual") - F.col("n_dedup")),
                stage(4, "sampled", F.col("n_sample"),
                      F.col("n_dedup") - F.col("n_sample")),
            )
        ).alias("s")
    ).select("s.stage_id", "s.stage", "s.rows_surviving", "s.dropped_here")


#: Target mixture shares per language and the budget fraction of the
#: corpus to allocate. en's target (60% of the budget ≈ 48% of the
#: corpus) exceeds its availability (~43% of tokens), so the
#: waterfill's saturation + redistribution path is exercised at every
#: SF, not just in theory (pinned in tests).
_MIX_SHARES = {"en": 0.6, "de": 0.1, "fr": 0.1, "es": 0.1, "zh": 0.1}
_MIX_BUDGET_FRAC = 0.8

_MIX_SHARES_SQL = ", ".join(
    f"('{k}', {v})" for k, v in sorted(_MIX_SHARES.items())
)


@register(
    "mixture_waterfill_rates",
    oracle=f"""
    WITH toks AS (
        SELECT lang, len({_SQL_TOKENS}) AS n
        FROM documents
    ),
    avail AS (SELECT lang, SUM(n) AS avail FROM toks GROUP BY 1),
    tgt AS (SELECT * FROM (VALUES {_MIX_SHARES_SQL}) AS t(lang, share)),
    j AS (
        SELECT a.lang, CAST(a.avail AS DOUBLE) AS avail,
               CAST(t.share AS DOUBLE) AS share,
               CAST(a.avail AS DOUBLE) / CAST(t.share AS DOUBLE) AS bp
        FROM avail a JOIN tgt t USING (lang)
    ),
    tot AS (
        SELECT SUM(avail) * {_MIX_BUDGET_FRAC} AS budget,
               SUM(share) AS t_all
        FROM j
    ),
    c AS (
        SELECT j.*, tot.budget,
               COALESCE(SUM(avail) OVER (ORDER BY bp, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_avail,
               tot.t_all
               - COALESCE(SUM(share) OVER (ORDER BY bp, lang
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS t_rest,
               COALESCE(LAG(bp) OVER (ORDER BY bp, lang), 0) AS prev_bp
        FROM j CROSS JOIN tot
    ),
    w AS (
        -- The candidate level is valid only INSIDE its own segment
        -- [prev_bp, bp] of the piecewise-linear total(w) curve; a
        -- candidate below prev_bp belongs to an earlier segment and
        -- double-counts saturated sources.
        SELECT MIN(CASE WHEN (budget - cum_avail) / t_rest <= bp
                         AND (budget - cum_avail) / t_rest >= prev_bp
                        THEN (budget - cum_avail) / t_rest END) AS wstar
        FROM c
    )
    SELECT c.lang,
           CAST(c.avail AS BIGINT) AS avail_tokens,
           c.share AS target_share,
           CAST(ROUND(LEAST(c.avail, COALESCE(w.wstar, 1e308) * c.share), 4)
                AS DOUBLE) AS alloc_tokens,
           ROUND(LEAST(c.avail, COALESCE(w.wstar, 1e308) * c.share)
                 / c.avail, 6) AS sample_rate,
           (COALESCE(w.wstar, 1e308) * c.share >= c.avail) AS saturated
    FROM c CROSS JOIN w
    """,
    tags=("mixture", "waterfill", "sampling-rates", "curation"),
)
def mixture_waterfill_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture budgeting: given target language shares and a
    token budget (80% of the corpus), compute each language's
    allocation and sampling rate by WATERFILLING — sources that can't
    supply their target share saturate at their availability and the
    shortfall redistributes to the others, which is the closed-form
    solution of max-fill under per-source caps. en's 50% target
    exceeds its ~38% availability, so the saturation branch is live.

    Scale shape: the corpus collapses to one (lang, token-count)
    aggregate; everything after — breakpoints avail/share, exclusive
    cumulative sums over the ≤|languages|-row relation, the piecewise-
    linear solve for the water level, per-source min() — is bounded
    by the language domain (the one global window here ranks ≤5 rows,
    allowlisted as aggregate-bounded). No iteration: the water level
    solves in one pass over sorted breakpoints."""
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    avail = (
        docs.select("lang", F.size(tokens_col(F.col("text"))).alias("n"))
        .groupBy("lang")
        .agg(F.sum("n").cast("double").alias("avail"))
    )
    tgt = spark.createDataFrame(
        sorted(_MIX_SHARES.items()), "lang string, share double"
    )
    j = avail.join(F.broadcast(tgt), "lang").withColumn(
        "bp", F.col("avail") / F.col("share")
    )
    tot = j.agg(
        (F.sum("avail") * _MIX_BUDGET_FRAC).alias("budget"),
        F.sum("share").alias("t_all"),
    )
    wexc = Window.orderBy("bp", "lang").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wlag = Window.orderBy("bp", "lang")
    c = (
        j.crossJoin(F.broadcast(tot))
        .withColumn(
            "cum_avail", F.coalesce(F.sum("avail").over(wexc), F.lit(0.0))
        )
        .withColumn(
            "t_rest",
            F.col("t_all")
            - F.coalesce(F.sum("share").over(wexc), F.lit(0.0)),
        )
        .withColumn(
            "prev_bp", F.coalesce(F.lag("bp").over(wlag), F.lit(0.0))
        )
        .persist()  # feeds the water-level solve AND the final select
    )
    # Candidate valid only inside its own segment [prev_bp, bp] of the
    # piecewise-linear total(w) curve (below prev_bp it would double-
    # count saturated sources).
    w_cand = (F.col("budget") - F.col("cum_avail")) / F.col("t_rest")
    wstar = c.agg(
        F.min(
            F.when(
                (w_cand <= F.col("bp")) & (w_cand >= F.col("prev_bp")),
                w_cand,
            )
        ).alias("wstar")
    )
    lvl = F.coalesce(F.col("wstar"), F.lit(1e308))
    alloc = F.least(F.col("avail"), lvl * F.col("share"))
    return c.crossJoin(F.broadcast(wstar)).select(
        "lang",
        F.col("avail").cast("long").alias("avail_tokens"),
        F.col("share").alias("target_share"),
        F.round(alloc, 4).cast("double").alias("alloc_tokens"),
        F.round(alloc / F.col("avail"), 6).alias("sample_rate"),
        (lvl * F.col("share") >= F.col("avail")).alias("saturated"),
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity terciles per language
# ---------------------------------------------------------------------------

@register(
    "ccnet_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS term FROM documents
    ),
    freq AS (SELECT term, COUNT(*)::DOUBLE AS c FROM toks GROUP BY 1),
    total AS (SELECT SUM(c) AS t FROM freq),
    doc_nll AS (
        SELECT k.doc_id, k.lang,
               ROUND(AVG(-LN(f.c / total.t)), 6) AS nll_r
        FROM toks k JOIN freq f USING (term), total
        GROUP BY 1, 2
    ),
    tiled AS (
        SELECT lang, nll_r,
               NTILE(3) OVER (PARTITION BY lang
                              ORDER BY nll_r, doc_id) AS tile
        FROM doc_nll
    )
    SELECT lang,
           CASE tile WHEN 1 THEN 'head'
                     WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           CAST(AVG(nll_r) AS REAL) AS avg_nll
    FROM tiled
    GROUP BY 1, 2
    """,
    tags=("quality-scoring", "ccnet", "perplexity", "percentile", "curation"),
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus partitioning (Wenzek et al. 2020): score
    every document with the unigram LM (same pipeline
    unigram_logprob_score certifies), then split each language into
    head / middle / tail terciles of the score distribution — the
    bucketing CCNet uses to keep the cleanest third of Common Crawl.

    Terciles are RANK-based (ntile(3) with a doc_id tiebreak), not
    interpolated-percentile cuts: an interpolated cut value differs
    between engines in the last ulp and flips boundary documents at
    scale (observed at sf0.1), while ntile over a totally-ordered
    window is integer-deterministic. Per-doc scores are additionally
    rounded to 6 decimals on both engines so a reduction-order ulp
    in the AVG cannot reorder the window itself. The window
    partitions by language, so the rank pass shuffles only the tiny
    (doc, score) relation — one corpus-sized shuffle total (the
    per-doc aggregate).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    freq = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    total = freq.agg(F.sum("c").alias("t"))
    doc_nll = (
        toks.join(F.broadcast(freq), "term")
        .crossJoin(F.broadcast(total))
        .select("doc_id", "lang", (-F.log(F.col("c") / F.col("t"))).alias("nll"))
        .groupBy("doc_id", "lang")
        .agg(F.round(F.avg("nll"), 6).alias("nll_r"))
    )
    w = Window.partitionBy("lang").orderBy("nll_r", "doc_id")
    tiled = doc_nll.withColumn("tile", F.ntile(3).over(w))
    bucket = (
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
    )
    return (
        tiled.groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("nll_r").alias("avg_nll"),
        )
        .transform(lambda df: stable_f32(df, "avg_nll"))
    )


# ---------------------------------------------------------------------------
# Asymmetric shingle containment
# ---------------------------------------------------------------------------


@register(
    "containment_pairs",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, {_SQL_TOKEN_HASH.format(tok='g')} AS sh
        FROM (
            SELECT doc_id, array_to_string(toks[i:i + 2], ' ') AS g
            FROM t, UNNEST(range(1, len(toks) - 1)) AS u(i)
            WHERE len(toks) >= 3
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS doc_id, b.doc_id AS host_doc,
               COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc_id, i.host_doc, s.n_sh AS n_shingles, i.n_common,
           i.n_common / s.n_sh::DOUBLE AS containment
    FROM inter i JOIN sizes s ON s.doc_id = i.doc_id
    WHERE s.n_sh >= 5 AND i.n_common / s.n_sh::DOUBLE >= 0.8
    """,
    tags=("dedup", "containment", "ngram", "asymmetric", "text"),
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment C(A→B) = |A∩B| / |A| over
    3-token shingles: detects a document quoted or embedded inside a
    larger one — a relation symmetric Jaccard dilutes to
    insignificance when |B| ≫ |A| (Broder's containment, the other
    half of the resemblance framework MinHash approximates).

    Scale shape: same shared-shingle equi-join as the Jaccard verify
    stage (operators/dedup.py) — candidate pairs only ever arise
    from a common shingle hash, never all-pairs; per-doc shingle
    sizes are a second small aggregate joined back. The ≥5-shingle
    floor keeps trivially-short docs from producing degenerate 100%
    containments.
    """
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    sh = doc_shingle_hashes(docs, n=3)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("a_id"), "sh")
    b = sh.select(F.col("doc_id").alias("host_doc"), F.col("sh").alias("sh_b"))
    inter = (
        a.join(b, (a.sh == b.sh_b) & (F.col("a_id") != F.col("host_doc")))
        .groupBy(F.col("a_id").alias("doc_id"), "host_doc")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(sizes, "doc_id")
        .withColumn(
            "containment",
            F.col("n_common") / F.col("n_sh").cast("double"),
        )
        .filter((F.col("n_sh") >= 5) & (F.col("containment") >= 0.8))
        .select(
            "doc_id",
            "host_doc",
            F.col("n_sh").alias("n_shingles"),
            "n_common",
            "containment",
        )
    )


# ---------------------------------------------------------------------------
# Mutual information between categorical columns
# ---------------------------------------------------------------------------


@register(
    "mutual_info_lang_source",
    oracle="""
    WITH joint AS (
        SELECT lang, source, COUNT(*)::DOUBLE AS nxy
        FROM documents GROUP BY 1, 2
    ),
    px AS (SELECT lang, SUM(nxy) AS nx FROM joint GROUP BY 1),
    py AS (SELECT source, SUM(nxy) AS ny FROM joint GROUP BY 1),
    n AS (SELECT SUM(nxy) AS n FROM joint)
    SELECT COUNT(*) AS n_cells,
           CAST(MAX(n.n) AS BIGINT) AS n_docs,
           CAST(SUM((j.nxy / n.n)
                    * LN(j.nxy * n.n / (px.nx * py.ny))) AS REAL)
               AS mi_nats
    FROM joint j
    JOIN px USING (lang)
    JOIN py USING (source)
    CROSS JOIN n
    """,
    tags=("statistics", "mutual-information", "categorical", "agg"),
)
def mutual_info_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(lang; source) in nats — the
    information-theoretic dependence screen between two categorical
    columns (complements chisq_lang_source's significance test with
    an effect-size measure; MI is what feature-selection pipelines
    rank by).

    Scale shape: one corpus-sized contingency aggregate; marginals
    derive from the (tiny) joint table and broadcast back — the
    corpus is read once and shuffled once regardless of scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    joint = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("double").alias("nxy")
    )
    px = joint.groupBy("lang").agg(F.sum("nxy").alias("nx"))
    py = joint.groupBy("source").agg(F.sum("nxy").alias("ny"))
    n = joint.agg(F.sum("nxy").alias("n"))
    return (
        joint.join(F.broadcast(px), "lang")
        .join(F.broadcast(py), "source")
        .crossJoin(F.broadcast(n))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.max("n").cast("long").alias("n_docs"),
            F.sum(
                (F.col("nxy") / F.col("n"))
                * F.log(
                    F.col("nxy") * F.col("n") / (F.col("nx") * F.col("ny"))
                )
            ).alias("mi_nats"),
        )
        .transform(lambda df: stable_f32(df, "mi_nats"))
    )


# ---------------------------------------------------------------------------
# Two-level checksum table reconciliation
# ---------------------------------------------------------------------------

_DIFF_MOD = 997   # 1-in-997 rows dropped / perturbed in the replica
_DIFF_BUCKETS = 512


def _sql_row_checksum(price_expr: str) -> str:
    return _SQL_TOKEN_HASH.format(
        tok=(
            "o_orderkey::VARCHAR || '|' || o_custkey::VARCHAR || '|' "
            "|| o_orderstatus || '|' "
            f"|| CAST(FLOOR(({price_expr}) * 100) AS BIGINT)::VARCHAR"
        )
    )


@register(
    "table_diff_checksum",
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               {_SQL_TOKEN_HASH.format(tok='o_orderkey::VARCHAR')} % {_DIFF_MOD}
                   AS drift,
               o_orderkey % {_DIFF_BUCKETS} AS bucket
        FROM orders
    ),
    p AS (
        SELECT o_orderkey, bucket,
               {_sql_row_checksum('o_totalprice')} AS cks
        FROM keyed
    ),
    r AS (
        SELECT o_orderkey, bucket,
               {_sql_row_checksum(
                   "o_totalprice + CASE WHEN drift = 1 THEN 1.0 ELSE 0.0 END"
               )} AS cks
        FROM keyed WHERE drift <> 0
    ),
    ps AS (SELECT bucket, COUNT(*) AS cnt, bit_xor(cks) AS dig
           FROM p GROUP BY 1),
    rs AS (SELECT bucket, COUNT(*) AS cnt, bit_xor(cks) AS dig
           FROM r GROUP BY 1),
    bad AS (
        SELECT COALESCE(ps.bucket, rs.bucket) AS bucket
        FROM ps FULL OUTER JOIN rs USING (bucket)
        WHERE ps.cnt IS DISTINCT FROM rs.cnt
           OR ps.dig IS DISTINCT FROM rs.dig
    ),
    pf AS (SELECT * FROM p WHERE bucket IN (SELECT bucket FROM bad)),
    rf AS (SELECT * FROM r WHERE bucket IN (SELECT bucket FROM bad))
    SELECT COALESCE(pf.o_orderkey, rf.o_orderkey) AS o_orderkey,
           CASE WHEN rf.o_orderkey IS NULL THEN 'missing_in_replica'
                ELSE 'changed' END AS diff_type
    FROM pf FULL OUTER JOIN rf USING (o_orderkey)
    WHERE rf.o_orderkey IS NULL OR pf.cks <> rf.cks
    """,
    tags=("reconciliation", "checksum", "table-diff", "data-quality"),
)
def table_diff_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level checksum reconciliation between a table and a
    drifted replica (here: a deterministic 1-in-997 sample of rows
    dropped, another 1-in-997 with a perturbed price — the drift a
    replication bug produces). Level 1 digests each of 512 key
    buckets (row count + XOR of per-row 60-bit checksums — order-
    independent and overflow-free); level 2 row-diffs ONLY the
    buckets whose digests disagree.

    Scale shape: this is how cross-region reconciliation works at
    100 TB — the full-table pass produces 512 summary rows per side,
    and the expensive row-level full-outer join touches only the
    ~0.2%% of data living in mismatched buckets (semi-join pruned
    before the wide join). Checksums avoid float formatting drift by
    hashing FLOOR(price*100) cents; XOR digests merge across
    partitions in any order.

    Reuse discipline: both sides' checksums are computed in ONE
    persisted pass over the table (the first plan draft scanned
    orders six times — once per summary/diff leg); every later leg
    is a projection of the cache. With two physically separate
    tables each side gets its own single persisted checksum pass —
    the join structure is unchanged.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    keyed = o.select(
        "*",
        (token_hash(F.col("o_orderkey").cast("string")) % _DIFF_MOD).alias(
            "drift"
        ),
        (F.col("o_orderkey") % _DIFF_BUCKETS).alias("bucket"),
    )

    def checksum(price: F.Column) -> F.Column:
        return token_hash(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.col("o_custkey").cast("string"),
                F.col("o_orderstatus"),
                F.floor(price * 100).cast("long").cast("string"),
            )
        )

    chk = keyed.select(
        "o_orderkey",
        "bucket",
        checksum(F.col("o_totalprice")).alias("p_cks"),
        F.when(
            F.col("drift") != 0,
            checksum(
                F.col("o_totalprice")
                + F.when(F.col("drift") == 1, 1.0).otherwise(0.0)
            ),
        ).alias("r_cks"),
    ).persist()
    p = chk.select("o_orderkey", "bucket", F.col("p_cks").alias("cks"))
    r = chk.filter(F.col("r_cks").isNotNull()).select(
        "o_orderkey", "bucket", F.col("r_cks").alias("cks")
    )
    ps = p.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt"), F.expr("bit_xor(cks)").alias("dig")
    )
    rs = r.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt"), F.expr("bit_xor(cks)").alias("dig")
    )
    bad = (
        ps.withColumnsRenamed({"cnt": "p_cnt", "dig": "p_dig"})
        .join(
            rs.withColumnsRenamed({"cnt": "r_cnt", "dig": "r_dig"}),
            "bucket",
            "full_outer",
        )
        .filter(
            ~F.col("p_cnt").eqNullSafe(F.col("r_cnt"))
            | ~F.col("p_dig").eqNullSafe(F.col("r_dig"))
        )
        .select("bucket")
    )
    pf = p.join(F.broadcast(bad), "bucket", "left_semi")
    rf = r.join(F.broadcast(bad), "bucket", "left_semi").withColumnsRenamed(
        {"cks": "r_cks"}
    )
    return (
        pf.join(rf.select("o_orderkey", "r_cks"), "o_orderkey", "full_outer")
        .filter(F.col("r_cks").isNull() | (F.col("cks") != F.col("r_cks")))
        .select(
            "o_orderkey",
            F.when(F.col("r_cks").isNull(), "missing_in_replica")
            .otherwise("changed")
            .alias("diff_type"),
        )
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout keys
# ---------------------------------------------------------------------------

_Z_BITS = 8


def _sql_zval(x: str, y: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "zorder_layout_keys",
    oracle=f"""
    WITH dims AS (
        SELECT o_orderkey,
               o_custkey % 256 AS x,
               EXTRACT(DOY FROM o_orderdate)::BIGINT % 256 AS y
        FROM orders
    )
    SELECT o_orderkey, x, y,
           {_sql_zval('x', 'y')} AS zval,
           ({_sql_zval('x', 'y')}) >> 10 AS file_bucket
    FROM dims
    """,
    tags=("layout", "zorder", "data-skipping", "clustering-write"),
)
def zorder_layout_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) interleaved sort key over two dimensions
    (customer, day-of-year): bit-interleave the 8-bit normalized
    coordinates so rows close in EITHER dimension land in the same
    file — the layout trick behind Delta/Iceberg Z-ordering that
    lets parquet min/max footer stats skip files for predicates on
    either column, where a plain sort only serves its leading column.

    Deployment pairs this with
    ``df.repartitionByRange('zval').sortWithinPartitions('zval')
    .write`` (io/sinks.py's sorted-clustered layout); here the key
    derivation + 64-way file bucketing (zval >> 10) is certified
    exactly — pure map-side integer bit arithmetic, zero shuffles,
    reproduced bit-for-bit by the SQL oracle.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    dims = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 256).alias("x"),
        (F.dayofyear("o_orderdate").cast("long") % 256).alias("y"),
    )
    zval = None
    for i in range(_Z_BITS):
        xbit = F.shiftleft(
            F.shiftright(F.col("x"), i).bitwiseAND(F.lit(1)), 2 * i
        )
        ybit = F.shiftleft(
            F.shiftright(F.col("y"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
        term = xbit + ybit
        zval = term if zval is None else zval + term
    return dims.select(
        "o_orderkey",
        "x",
        "y",
        zval.alias("zval"),
        F.shiftright(zval, 10).alias("file_bucket"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified train/val/test split
# ---------------------------------------------------------------------------


@register(
    "dataset_split_stratified",
    oracle=f"""
    WITH h AS (
        SELECT lang,
               {_SQL_TOKEN_HASH.format(tok="'split:' || doc_id::VARCHAR")} % 100
                   AS bucket
        FROM documents
    ),
    s AS (
        SELECT lang,
               CASE WHEN bucket < 90 THEN 'train'
                    WHEN bucket < 95 THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_docs
        FROM h GROUP BY 1, 2
    )
    SELECT lang, split, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(CAST(n_docs AS DOUBLE)
                / SUM(n_docs) OVER (PARTITION BY lang) AS REAL) AS frac
    FROM s
    """,
    tags=("split", "train-val-test", "deterministic", "sampling", "curation"),
)
def dataset_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment by hashing the
    document id into 100 buckets (namespaced 'split:' so it is
    independent of every other hash-based sampler), audited per
    language — the split recipe that survives re-sharding, re-runs
    and late-arriving data, unlike randomSplit.

    Scale shape: the assignment is a map-only expression; the audit
    is one aggregate to |langs|×3 rows and a window over that tiny
    relation. Fractions are exact integer ratios, so the float32
    emit is bit-stable.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1, 15,
            ),
            16, 10,
        ).cast("long") % 100
    )
    s = (
        docs.select(
            "lang",
            F.when(bucket < 90, "train")
            .when(bucket < 95, "val")
            .otherwise("test")
            .alias("split"),
        )
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return s.select(
        "lang",
        "split",
        F.col("n_docs").cast("long").alias("n_docs"),
        (
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(Window.partitionBy("lang"))
        )
        .cast("float")
        .alias("frac"),
    )


# ---------------------------------------------------------------------------
# Length-bucketed batching: padding-waste analysis
# ---------------------------------------------------------------------------

_LEN_BOUNDS = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096)
_LEN_CASE = (
    "CASE "
    + " ".join(f"WHEN n_tok <= {b} THEN {b}" for b in _LEN_BOUNDS)
    + f" ELSE {2 * _LEN_BOUNDS[-1]} END"
)


@register(
    "bucket_by_length",
    oracle=f"""
    WITH d AS (
        SELECT len({_SQL_TOKENS}) AS n_tok FROM documents
    ),
    b AS (SELECT n_tok, {_LEN_CASE} AS bucket FROM d)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
           CAST(1.0 - CAST(SUM(n_tok) AS DOUBLE)
                / (COUNT(*) * bucket) AS REAL) AS waste_frac
    FROM b GROUP BY bucket
    """,
    tags=("batching", "length-bucket", "padding", "tokenizer", "curation"),
)
def bucket_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each document to its power-of-two token-length bucket
    and measure the padding waste per bucket (1 − real/padded
    tokens) — the batch-shape analysis that decides a training
    pipeline's bucketed-batching boundaries. Boundaries are an
    explicit CASE ladder (shared text on both engines), not
    ceil(log2(n)) — float log at exact powers of two is an
    engine-dependent coin flip.

    Scale shape: tokenize → map-only bucket expression → one
    aggregate to ≤10 rows. Waste fractions are exact integer ratios;
    float32 emit is bit-stable.
    """
    from axolotls_spark.operators.dedup import tokens_col

    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    b = docs.select(
        F.size(tokens_col(F.col("text"))).alias("n_tok")
    ).select("n_tok", F.expr(_LEN_CASE).cast("long").alias("bucket"))
    agg = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
    )
    padded = F.col("n_docs") * F.col("bucket")
    return agg.select(
        "bucket",
        "n_docs",
        "total_tokens",
        padded.cast("long").alias("padded_tokens"),
        (F.lit(1.0) - F.col("total_tokens").cast("double") / padded)
        .cast("float")
        .alias("waste_frac"),
    )


# ---------------------------------------------------------------------------
# Output-shard balance report
# ---------------------------------------------------------------------------

_N_SHARDS = 64


@register(
    "shard_balance_report",
    oracle=f"""
    WITH d AS (
        SELECT {_SQL_TOKEN_HASH.format(tok="'shard:' || doc_id::VARCHAR")}
                   % {_N_SHARDS} AS shard,
               len({_SQL_TOKENS}) AS n_tok
        FROM documents
    ),
    s AS (
        SELECT shard, COUNT(*) AS n_docs, SUM(n_tok) AS tks
        FROM d GROUP BY 1
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(tks AS BIGINT) AS total_tokens,
           CAST(CAST(tks AS DOUBLE) / SUM(tks) OVER () AS REAL)
               AS token_share
    FROM s
    """,
    tags=("sharding", "balance", "deterministic", "curation", "qa"),
)
def shard_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-assign every document to one of 64 output shards
    (namespaced 'shard:' hash — independent of the split and sample
    hashes) and report each shard's document and token load — the QA
    pass that validates a training-data export won't produce skewed
    files before any bytes are written.

    Scale shape: assignment is map-only; the load report is one
    aggregate to 64 rows plus a window over them. Token shares are
    exact integer ratios — bit-stable float32.
    """
    from axolotls_spark.operators.dedup import tokens_col

    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    shard = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
                1, 15,
            ),
            16, 10,
        ).cast("long") % _N_SHARDS
    )
    s = (
        docs.select(
            shard.alias("shard"),
            F.size(tokens_col(F.col("text"))).alias("n_tok"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
        )
    )
    return s.select(
        "shard",
        "n_docs",
        "total_tokens",
        (
            F.col("total_tokens").cast("double")
            / F.sum("total_tokens").over(Window.partitionBy())
        )
        .cast("float")
        .alias("token_share"),
    )


# ---------------------------------------------------------------------------
# Dataset datasheet (governance card)
# ---------------------------------------------------------------------------

_DS_SHORT_TOKENS = 10


@register(
    "dataset_datasheet",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, source, n_chars,
               len({_SQL_TOKENS}) AS nt, md5(text) AS h
        FROM documents
    ),
    base AS (
        SELECT COUNT(*)::DOUBLE AS n_docs,
               SUM(nt)::DOUBLE AS total_tokens,
               AVG(nt::DOUBLE) AS mean_tokens,
               AVG(n_chars::DOUBLE) AS mean_chars,
               (COUNT(*) - COUNT(DISTINCT h))::DOUBLE AS n_dup_docs,
               COUNT(DISTINCT lang)::DOUBLE AS n_langs,
               COUNT(DISTINCT source)::DOUBLE AS n_sources,
               AVG(CASE WHEN nt < {_DS_SHORT_TOKENS} THEN 1.0
                        ELSE 0.0 END) AS short_doc_frac
        FROM d
    ),
    lent AS (
        SELECT COALESCE(-SUM(p * LN(p)), 0.0) AS lang_entropy
        FROM (
            SELECT COUNT(*)::DOUBLE
                   / (SELECT COUNT(*) FROM d) AS p
            FROM d GROUP BY lang
        )
    )
    SELECT metric, ROUND(value, 6) AS value FROM (
        SELECT 'n_docs' AS metric, n_docs AS value FROM base
        UNION ALL SELECT 'total_tokens', total_tokens FROM base
        UNION ALL SELECT 'mean_tokens', mean_tokens FROM base
        UNION ALL SELECT 'mean_chars', mean_chars FROM base
        UNION ALL SELECT 'n_exact_dup_docs', n_dup_docs FROM base
        UNION ALL SELECT 'n_langs', n_langs FROM base
        UNION ALL SELECT 'n_sources', n_sources FROM base
        UNION ALL SELECT 'short_doc_frac', short_doc_frac FROM base
        UNION ALL SELECT 'lang_entropy', lang_entropy FROM lent
    )
    """,
    tags=("governance", "datasheet", "profiling", "curation", "unpivot"),
)
def dataset_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card / datasheet for the document corpus (Gebru et
    al., "Datasheets for Datasets"): the one-pass governance summary
    a curation pipeline publishes alongside a release — size, token
    mass, exact-dup count (content hash), language/source breadth,
    language-distribution entropy, and the short-document fraction.

    Scale shape: ONE corpus scan feeds a single multi-metric
    aggregate (count-distincts included) plus a language-domain
    entropy aggregate; the wide 1-row result unpivots to the long
    (metric, value) card — the profile_table_stats pattern applied
    to the curation domain."""
    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    d = docs.select(
        "lang",
        "source",
        F.col("n_chars").cast("double").alias("n_chars"),
        F.size(tokens_col(F.col("text"))).cast("double").alias("nt"),
        F.md5("text").alias("h"),
    )
    base = d.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("nt").alias("total_tokens"),
        F.avg("nt").alias("mean_tokens"),
        F.avg("n_chars").alias("mean_chars"),
        (F.count("*") - F.countDistinct("h"))
        .cast("double")
        .alias("n_exact_dup_docs"),
        F.countDistinct("lang").cast("double").alias("n_langs"),
        F.countDistinct("source").cast("double").alias("n_sources"),
        F.avg(
            F.when(F.col("nt") < _DS_SHORT_TOKENS, 1.0).otherwise(0.0)
        ).alias("short_doc_frac"),
    )
    tot = d.agg(F.count("*").cast("double").alias("n"))
    lent = (
        d.groupBy("lang")
        .agg(F.count("*").cast("double").alias("c"))
        .crossJoin(F.broadcast(tot))
        .agg(
            F.coalesce(
                -F.sum(
                    (F.col("c") / F.col("n"))
                    * F.log(F.col("c") / F.col("n"))
                ),
                F.lit(0.0),
            ).alias("lang_entropy")
        )
    )
    wide = base.crossJoin(F.broadcast(lent))
    cols = [
        "n_docs", "total_tokens", "mean_tokens", "mean_chars",
        "n_exact_dup_docs", "n_langs", "n_sources", "short_doc_frac",
        "lang_entropy",
    ]
    return wide.unpivot([], cols, "metric", "value").select(
        "metric", F.round("value", 6).alias("value")
    )


# ---------------------------------------------------------------------------
# Deterministic epoch shuffle: reproducible global training order
# ---------------------------------------------------------------------------

_EPOCHS = 2
_ORDER_SHARDS = 16


@register(
    "epoch_shuffle_order",
    oracle=f"""
    WITH keyed AS (
        SELECT e.epoch, d.doc_id,
               len({_SQL_TOKENS}) AS n_tok,
               {_SQL_TOKEN_HASH.format(
                   tok="'epoch:' || e.epoch::VARCHAR || ':' "
                     "|| d.doc_id::VARCHAR")} AS hkey
        FROM documents d,
             (SELECT UNNEST(range(0, {_EPOCHS})) AS epoch) e
    ),
    ranked AS (
        SELECT epoch, doc_id, n_tok, hkey,
               ROW_NUMBER() OVER (PARTITION BY epoch
                                  ORDER BY hkey, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY epoch) AS n
        FROM keyed
    ),
    placed AS (
        SELECT epoch, doc_id, n_tok, hkey, rk,
               CAST(FLOOR((rk - 1) * {_ORDER_SHARDS} / n) AS BIGINT)
                   AS shard
        FROM ranked
    )
    SELECT CAST(epoch AS INT) AS epoch,
           CAST(shard AS INT) AS shard,
           COUNT(*)::BIGINT AS n_docs,
           SUM(n_tok)::BIGINT AS total_tokens,
           ARG_MIN(doc_id, rk) AS first_doc,
           SUM(rk * (hkey % 100000))::BIGINT AS order_checksum
    FROM placed
    GROUP BY 1, 2
    """,
    tags=("epoch-shuffle", "training-order", "sharding",
          "deterministic", "curation", "distributed-rank"),
)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch global shuffle — the reproducible
    training-order primitive: every epoch re-orders the corpus by a
    seeded hash (md5('epoch:<e>:<doc_id>')), the order is cut into
    16 contiguous shard blocks, and the manifest
    reports each (epoch, shard)'s load plus an ORDER CHECKSUM
    (sum of rank x hash-residue — pins the within-shard sequence,
    not just membership).  Any trainer replaying the manifest reads
    identical shards in identical order; epoch 1's assignment is
    statistically independent of epoch 0's (different seed string).

    Scale shape: the global sort is the distributed-rank primitive
    (operators/prefix.ranked_cumsum — range partitions + broadcast
    per-partition offsets), NEVER ``row_number() OVER (PARTITION BY
    epoch)``, which would funnel each epoch's entire corpus through
    one task.  Per-epoch ranks fall out of the global (epoch, hkey)
    order arithmetically (rank - epoch*N) because every epoch has
    exactly N rows.  Everything after the rank is one hash aggregate
    to epochs x shards = 32 rows.  All checksum arithmetic is exact
    BIGINT."""
    from axolotls_spark.operators.prefix import ranked_cumsum

    docs = spread_for_cpu(load_table(spark, sf_dir, "documents"), "doc_id")
    keyed = docs.select(
        F.col("doc_id"),
        F.size(tokens_col(F.col("text"))).alias("n_tok"),
        F.explode(
            F.array(*[F.lit(e).cast("int") for e in range(_EPOCHS)])
        ).alias("epoch"),
    ).select(
        "epoch",
        "doc_id",
        "n_tok",
        token_hash(
            F.concat(
                F.lit("epoch:"),
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ).alias("hkey"),
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    ranked = ranked_cumsum(
        keyed,
        [F.asc("epoch"), F.asc("hkey"), F.asc("doc_id")],
        "n_tok",
        rank_name="grank",
        cum_name="_cumtok",
    )
    placed = ranked.crossJoin(F.broadcast(n_docs)).select(
        "epoch",
        "doc_id",
        "n_tok",
        "hkey",
        (F.col("grank") - F.col("epoch") * F.col("n")).alias("rk"),
        # FLOOR, not a bare cast: DuckDB's double->BIGINT cast ROUNDS
        # while Spark's truncates; floor of the identical IEEE
        # division is engine-stable.
        F.floor(
            (F.col("grank") - F.col("epoch") * F.col("n") - 1)
            * _ORDER_SHARDS
            / F.col("n")
        )
        .cast("long")
        .alias("shard"),
    )
    return (
        placed.groupBy("epoch", "shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.min_by("doc_id", "rk").alias("first_doc"),
            F.sum(F.col("rk") * (F.col("hkey") % 100000))
            .cast("long")
            .alias("order_checksum"),
        )
        .select(
            F.col("epoch").cast("int"),
            F.col("shard").cast("int"),
            "n_docs",
            "total_tokens",
            "first_doc",
            "order_checksum",
        )
    )


# ---------------------------------------------------------------------------
# Greedy max-coverage subset selection (submodular curation)
# ---------------------------------------------------------------------------

_MC_K = 5

def _mc_oracle(k: int) -> str:
    parts = [
        f"""sh AS (
        SELECT DISTINCT doc_id, {_SQL_TOKEN_HASH.format(tok="s.shingle")} AS sh
        FROM (SELECT doc_id, UNNEST({_SQL_SHINGLES}) AS shingle
              FROM documents) s
    ),
    uni AS (SELECT COUNT(DISTINCT sh) AS u FROM sh)"""
    ]
    for r in range(1, k + 1):
        not_cov = (
            f"WHERE sh NOT IN (SELECT sh FROM cov{r - 1})" if r > 1 else ""
        )
        parts.append(f"""g{r} AS (
        SELECT doc_id, COUNT(*) AS gain FROM sh {not_cov} GROUP BY doc_id
    ),
    s{r} AS (
        SELECT {r} AS round, doc_id, gain FROM g{r}
        ORDER BY gain DESC, doc_id LIMIT 1
    ),
    cov{r} AS (
        {f"SELECT sh FROM cov{r - 1} UNION " if r > 1 else ""}
        SELECT s.sh FROM sh s JOIN s{r} USING (doc_id)
    )""")
    sel = "\n        UNION ALL ".join(
        f"SELECT * FROM s{r}" for r in range(1, k + 1)
    )
    cums = " + ".join(f"(SELECT gain FROM s{r})" for r in range(1, k + 1))
    return f"""
    WITH {", ".join(parts)},
    allsel AS ({sel})
    SELECT CAST(a.round AS INT) AS round, a.doc_id,
           CAST(a.gain AS BIGINT) AS marginal_gain,
           CAST((CASE a.round {" ".join(
                    f"WHEN {r} THEN " + (" + ".join(
                        f"(SELECT gain FROM s{j})" for j in range(1, r + 1)))
                    for r in range(1, k + 1))} END) AS BIGINT)
               AS covered_cum,
           CAST((CASE a.round {" ".join(
                    f"WHEN {r} THEN " + (" + ".join(
                        f"(SELECT gain FROM s{j})" for j in range(1, r + 1)))
                    for r in range(1, k + 1))} END)
                / CAST(uni.u AS DOUBLE) AS REAL) AS coverage_frac
    FROM allsel a CROSS JOIN uni
    """


@register(
    "greedy_max_coverage",
    oracle=_mc_oracle(_MC_K),
    tags=("submodular", "max-coverage", "subset-selection", "curation",
          "greedy", "facility-location"),
)
def greedy_max_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage subset selection: pick 5 documents that
    together cover the most distinct word-trigram shingles — the
    submodular data-selection primitive (facility-location family)
    behind "choose the k most complementary examples", with the
    classic (1 - 1/e) greedy guarantee.  Where ``semdedup_prune``
    REMOVES redundancy, this SELECTS for complementarity — the other
    half of corpus curation.

    Lazy-greedy at cluster scale is k rounds, each ONE hash aggregate
    over the not-yet-covered shingle stream: the selected doc's
    shingles (a broadcast-sized set) are anti-joined out, so round
    r's input only shrinks.  No per-candidate rescans, no driver
    collect — each round's winner is a 1-row relation broadcast into
    the next round's plan, and the cumulative coverage rides along
    by chaining those 1-row relations.  At 100 TB the same plan runs
    with stochastic-greedy sampling (Mirzasoleiman et al., AAAI'15)
    to cut rounds; documented here as the degrade path.

    Everything emitted is exact integers except the final coverage
    fraction (one division, float32); the per-round argmax is over
    integer gains with a doc_id tie-break, so both engines must
    select the identical subset in the identical order."""
    docs = load_table(spark, sf_dir, "documents")
    sh = doc_shingle_hashes(docs).persist()
    uni = sh.agg(F.countDistinct("sh").alias("u"))

    # Round structure (r8 optimization): every round's not-yet-covered
    # stream derives DIRECTLY from the cached base `sh`, anti-joined
    # against the union of the picked docs' shingles (set identity:
    # iterated subtraction == subtraction of the union), and the
    # 1-row pick is eagerly localCheckpoint-ed.  The previous shape
    # chained remaining_r off remaining_{r-1} with lazy persists —
    # each round's plan referenced the previous round's THREE times,
    # so the k=5 analyzed tree grew ~3^k (415k formatted-explain
    # lines) and one action fanned into 32 AQE jobs; the driver spent
    # more time analyzing and scheduling than executing (guide §7.3
    # large plans, §5 localCheckpoint).  This shape is linear in k:
    # per round one broadcast semi-pass over `sh` plus the pick job.
    picks = []
    prev_cum: DataFrame | None = None
    picked_docs: DataFrame | None = None
    for r in range(1, _MC_K + 1):
        if picked_docs is None:
            remaining = sh
        else:
            covered = sh.join(
                F.broadcast(picked_docs), "doc_id"
            ).select("sh")
            remaining = sh.join(F.broadcast(covered), "sh", "left_anti")
        gains = remaining.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("gain")
        )
        pick = gains.orderBy(F.col("gain").desc(), "doc_id").limit(1).select(
            F.lit(r).cast("int").alias("round"), "doc_id", "gain"
        )
        if prev_cum is None:
            pick = pick.withColumn("covered_cum", F.col("gain"))
        else:
            pick = pick.crossJoin(F.broadcast(prev_cum)).withColumn(
                "covered_cum", F.col("gain") + F.col("_pc")
            ).drop("_pc")
        pick = pick.localCheckpoint(eager=True)
        prev_cum = pick.select(F.col("covered_cum").alias("_pc"))
        picks.append(pick)
        pd = pick.select("doc_id")
        picked_docs = pd if picked_docs is None else picked_docs.unionAll(pd)

    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out.crossJoin(F.broadcast(uni)).select(
        "round",
        "doc_id",
        F.col("gain").alias("marginal_gain"),
        "covered_cum",
        (F.col("covered_cum") / F.col("u").cast("double"))
        .cast("float")
        .alias("coverage_frac"),
    )
