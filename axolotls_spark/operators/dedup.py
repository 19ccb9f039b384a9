"""Deduplication operators for LLM training-data pipelines.

Exact, hash, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a
document table — all expressed as distributed DataFrame ops (no
driver materialization, no cartesian products).

Input contract: the MinHash/Jaccard family (``minhash_wide``,
``minhash_signatures``, ``near_dup_candidate_pairs``,
``jaccard_pairs``, ``jaccard_prefix_pairs``, ``verify_pairs``) takes
a ``(doc_id, sh)`` shingle-hash relation, one row per distinct
shingle per document — ``doc_shingle_hashes(docs)`` over a
``(doc_id, text)`` corpus, or any other digest of
``doc_shingles(docs)``. The operators never re-derive it, so a caller
with several consumers builds and persists it once and passes it to
each.

Scale design (the 100 TB story):

- Exact dedup is a hash aggregate on the dedup key — one shuffle,
  map-side partial aggregation.
- MinHash+LSH: per-doc work is linear in token count; the only
  joins are (a) shingle→signature aggregation (shuffle on doc_id)
  and (b) banding, a group-by on (band, bucket_key) that expands
  pairs only within each bucket — candidate generation never
  compares all pairs. Pathological (giant) buckets can be capped.
- Token hashes use md5-prefix arithmetic (not Spark's xxhash64) so
  signatures are engine-independent — the DuckDB oracle reproduces
  them bit-for-bit, making even the LSH pipeline hash-checkable.

Hash function family: h_i(x) = (a_i * (x mod P) + b_i) mod P with
P = 2^31 - 1 (Mersenne prime); a_i*x stays < 2^62, so the math is
exact in 64-bit integers in both Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from axolotls_spark.functions.arrays import ordered_pairs
from axolotls_spark.io.sources import spread_for_cpu
from axolotls_spark.plans.audit import record_loop_plan

MERSENNE_P = 2_147_483_647  # 2^31 - 1

# Deterministic (a, b) parameters — generated once with
# random.Random(42); frozen literals so Spark, the oracle SQL, and
# any re-run agree without a shared RNG.
_MINHASH_PARAMS: tuple[tuple[int, int], ...] = (
    (1181241943, 1051802487),
    (240231708, 1968352745),
    (1616518890, 1532821674),
    (114964616, 1337093473),
    (1176911537, 1570006127),
    (1500872216, 862655672),
    (1465957471, 777157381),
    (1724586546, 1344903021),
    (412076483, 268979648),
    (196169513, 780242640),
    (849070079, 991925648),
    (44179594, 1961914889),
)


def minhash_params(k: int) -> tuple[tuple[int, int], ...]:
    if k > len(_MINHASH_PARAMS):
        raise ValueError(f"at most {len(_MINHASH_PARAMS)} hash functions frozen")
    return _MINHASH_PARAMS[:k]


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (matches oracle string_split_regex)."""
    return F.split(F.trim(text), r"\s+")


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of a text column.

    Guarded for short docs: sequence(1, size-n+1) would produce a
    *descending* [1, 0] when size < n (Spark sequences run either
    direction), so texts shorter than n tokens yield an empty array.
    """
    toks = tokens_col(text)
    seq = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(
            F.transform(seq, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        ),
    ).otherwise(F.array().cast("array<string>"))


def token_hash(col: Column) -> Column:
    """Engine-independent 60-bit token hash: int(md5(x)[:15], 16).

    Chosen over xxhash64 precisely so the DuckDB oracle can compute
    the identical value: ('0x' || substr(md5(x),1,15))::BIGINT.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame, keys: list[str]) -> DataFrame:
    """Exact dedup: one representative row per key set
    (min doc_id wins — deterministic, unlike dropDuplicates'
    arbitrary-row semantics, and still a single hash aggregate)."""
    others = [c for c in df.columns if c not in keys]
    aggs = [F.min(c).alias(c) for c in others]
    return df.groupBy(*keys).agg(*aggs) if aggs else df.distinct()


def doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — one row per distinct word n-gram per doc of a
    (doc_id, text) corpus: the one place a corpus becomes shingles."""
    return spread_for_cpu(docs, "doc_id").select(
        "doc_id", F.explode(shingles_col(F.col("text"), n)).alias("shingle")
    )


def doc_shingle_hashes(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, sh) — ``doc_shingles`` with ``token_hash`` applied: the
    shingle-hash relation every MinHash/Jaccard operator below takes."""
    return doc_shingles(docs, n).select(
        "doc_id", token_hash(F.col("shingle")).alias("sh")
    )


def minhash_wide(sh: DataFrame, k: int = 8) -> DataFrame:
    """(doc_id, minh_0 … minh_{k-1}, n_sh): whole MinHash signature in
    ONE row per doc, ONE shuffle, plus the doc's shingle-set size.

    Plan shape: the k hash functions are k parallel ``min()``
    aggregates over the same shingle rows — shuffle volume is the
    shingle stream itself (with map-side partial mins collapsing it
    to ≤ k values per doc per partition), not the k× exploded stream
    a (doc, i) long-format aggregation would move. ``n_sh`` rides the
    same aggregate for free (the SSJoin length filter's input).
    """
    params = minhash_params(k)
    shp = F.col("sh") % MERSENNE_P
    return sh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(a) * shp + F.lit(b)) % MERSENNE_P).alias(f"minh_{i}")
            for i, (a, b) in enumerate(params)
        ],
        F.count(F.lit(1)).alias("n_sh"),
    )


def minhash_signatures(sh: DataFrame, k: int = 8) -> DataFrame:
    """(doc_id, i, minh): long-format MinHash signature — the wide
    single-shuffle aggregate unpivoted by a post-shuffle projection
    (inline explode of k (i, minh) structs; adds zero exchanges)."""
    wide = minhash_wide(sh, k)
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).cast("int").alias("i"),
                    F.col(f"minh_{i}").alias("minh"),
                )
                for i in range(k)
            ]
        )
    ).alias("p")
    return wide.select("doc_id", pairs).select(
        "doc_id", F.col("p.i").alias("i"), F.col("p.minh").alias("minh")
    )


def lsh_banded_keys(wide: DataFrame, k: int, bands: int) -> DataFrame:
    """(doc_id, band, bucket_key) from a wide signature — pure
    projection (inline explode of per-band key structs), zero
    exchanges on top of the signature aggregate."""
    rows = k // bands
    return wide.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.concat_ws(
                            ",",
                            *[
                                F.col(f"minh_{b * rows + r}").cast("string")
                                for r in range(rows)
                            ],
                        ).alias("bucket_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id",
        F.col("bk.band").alias("band"),
        F.col("bk.bucket_key").alias("bucket_key"),
    )


def near_dup_candidate_pairs(
    sh: DataFrame, k: int = 8, bands: int = 2
) -> DataFrame:
    """Fused MinHash→LSH candidate pairs: shingle hashes → ONE wide
    signature aggregate → band keys as pure projection → bucket-group
    pair expansion.

    Two shuffles end-to-end (signature agg + bucket group) vs four
    for the long-format composition (signature agg on (doc,i), band
    re-agg, join) — the difference between 2 and 4 full passes over
    the signature stream at 100 TB.
    """
    if k % bands:
        raise ValueError("k must divide evenly into bands")
    banded = lsh_banded_keys(minhash_wide(sh, k), k, bands)
    return bucket_group_pairs(banded)


def bucket_group_pairs(banded: DataFrame) -> DataFrame:
    """(doc_a, doc_b) distinct candidate pairs from a banded-key
    relation, via bucket-group expansion instead of a self-join: a
    self-join would execute the whole shingle→minhash pipeline once
    PER SIDE (Spark doesn't share subplans across join inputs
    without an explicit cache). Grouping by bucket computes
    signatures once; per-bucket combinations are generated by a
    nested array transform. Bucket populations are small by
    construction (a big bucket means the corpus is mostly
    duplicates); the quadratic expansion is per-bucket and
    distributed.
    """
    buckets = (
        banded.groupBy("band", "bucket_key")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = F.explode(ordered_pairs("ids", "doc_a", "doc_b")).alias("p")
    return (
        buckets.select(pairs)
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


def verify_pairs(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_union): exact shingle-set overlap of
    each candidate pair, from the per-doc hash sets of ``sh``.

    The verify join is candidate-sized; each caller applies its own
    threshold to the integer counts. The sets are persisted because
    they feed two join SIDES, and Spark builds the collect_set
    aggregate once per side without the pin. Merge hints pin both
    corpus-scaled sides: the post-aggregation size estimator
    undervalues the set arrays, so the planner broadcasts them once
    the raised 64 MB threshold lets it — fine at sf0.1, driver-fatal
    at sf10, and the wrong shape at 100 TB.
    """
    sets = (
        sh.groupBy("doc_id")
        .agg(
            F.collect_set("sh").alias("shs"),
            F.count(F.lit(1)).alias("n_sh"),
        )
        .persist()
    )
    sa, sb = sets.alias("sa"), sets.alias("sb")
    inter = F.size(F.array_intersect(F.col("sa.shs"), F.col("sb.shs")))
    return (
        cand.join(sa.hint("merge"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb.hint("merge"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("n_inter"),
            (F.col("sa.n_sh") + F.col("sb.n_sh") - inter).alias("n_union"),
        )
    )


def _relation_fingerprint(df: DataFrame, cols) -> tuple:
    """1-row (count, xxhash64-sum) fingerprint of a materialized
    relation — the cheap convergence probe for the iterative loops
    below. Comparing fingerprints of consecutive rounds costs one
    map-side partial aggregate per relation (no shuffle join, no
    ``subtract``): at 100 TB the old per-round ``subtract`` probes
    doubled the cost of every star round. Hash-sum equality is
    order-independent and, on a distinct relation, equality of
    (count, sum) is a near-certain set-equality witness; callers
    confirm with one exact probe before terminating, so a 1-in-2^64
    collision can only cost one extra confirmation pass, never a
    wrong result.
    """
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal(38,0): summing int64 hashes overflows BIGINT under
        # ANSI mode; 38 digits absorbs 2^63-magnitude addends for any
        # realistic row count.
        F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast("decimal(38,0)")).alias(
            "h"
        ),
    ).first()
    return (row["n"], row["h"])


def connected_dedup_groups(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """(doc_id, group_rep): connected components over near-dup pairs
    — every doc labeled with the MIN doc_id of its duplicate cluster
    (isolated docs are their own representative).

    Iterative min-label propagation: each round every node adopts
    the smallest label among itself and its neighbors; converges in
    O(component diameter) rounds (near-dup clusters are usually
    shallow — for diameter-heavy graphs use
    ``connected_components_star``, whose round count is O(log^2 n)).
    Each round is one distributed join+aggregate; the driver only
    checks a one-row convergence probe (``limit(1)``), never the
    data — the standard Pregel-style loop shape. Each round's labels
    end in an eager ``localCheckpoint``: a cache alone does NOT
    truncate the logical plan, and with labels referenced twice per
    round (propagation join + convergence probe) the plan tree grows
    2^rounds — a 12-deep duplicate chain OOMed the driver purely on
    plan serialization before this was checkpointed.
    """
    # Persist the edge list: it is re-joined every round, and without
    # the persist each round would re-execute the whole upstream
    # candidate-pair pipeline (shingle → minhash → banding).
    edges = (
        pairs.selectExpr(f"doc_a AS src", f"doc_b AS dst")
        .unionAll(pairs.selectExpr("doc_b AS src", "doc_a AS dst"))
    ).persist()
    labels = docs.select(F.col(id_col).alias("id"), F.col(id_col).alias("rep"))
    labels = labels.persist()
    fp = _relation_fingerprint(labels, ("id", "rep"))
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("rep").alias("nbr_rep"))
        )
        new_labels = labels.join(
            neighbor_min, labels.id == neighbor_min.src, "left"
        ).select(
            "id",
            F.least(
                F.col("rep"), F.coalesce(F.col("nbr_rep"), F.col("rep"))
            ).alias("rep"),
        )
        # Expose the still-lazy round plan to the plan tooling — the
        # checkpoint below truncates lineage, which otherwise blinds
        # PLANS.md to the per-round shuffles (no-op outside capture).
        record_loop_plan("labelprop_round", new_labels)
        # eager: truncates the 2x/round lineage
        new_labels = new_labels.localCheckpoint()
        # Fingerprint probe (see _relation_fingerprint): one cheap
        # map-side agg instead of a label-sized shuffle join per
        # round; the exact join probe runs ONCE, only to confirm a
        # fingerprint match, so collisions cannot end the loop early.
        new_fp = _relation_fingerprint(new_labels, ("id", "rep"))
        changed = 1
        if new_fp == fp:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.rep") != F.col("o.rep"))
                .limit(1)
                .count()
            )
        labels.unpersist()
        labels = new_labels
        fp = new_fp
        if changed == 0:
            break
    else:
        # Silent non-convergence would hand back labels that look
        # valid but split real duplicate clusters — fail loudly and
        # name the diameter-proof alternative.
        raise RuntimeError(
            f"min-label propagation did not converge in {max_iters} "
            "rounds (component diameter exceeds the cap); use "
            "connected_components_star, whose round count is "
            "O(log^2 n) regardless of diameter"
        )
    return labels.select(
        F.col("id").alias(id_col), F.col("rep").alias("group_rep")
    )


def jaccard_pairs(sh: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    The shingle equi-join generates only co-occurring pairs; set
    sizes come from a pre-aggregated per-doc count (broadcast-sized
    relative to the pair stream). This is the verify stage after LSH
    at scale; standalone it is still shuffle-bound, never cartesian.
    """
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        shared.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_shared")
                / (F.col("sa.n_sh") + F.col("sb.n_sh") - F.col("n_shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_prefix_pairs(
    sh: DataFrame, tau_num: int = 1, tau_den: int = 5
) -> DataFrame:
    """Exact n-gram Jaccard join with PREFIX FILTERING (SSJoin /
    PPJoin family — Chaudhuri et al. ICDE'06, Xiao et al. WWW'08):
    candidates come from joining only each document's prefix — its
    ``|s| − ceil(τ·|s|) + 1`` globally-RAREST shingles under the
    (document-frequency, hash) total order — instead of all shared
    shingles. Any pair with J ≥ τ must intersect within those
    prefixes, so the filter is lossless; hot shingles (common-word
    trigrams), which blow ``jaccard_pairs``' candidate stream up
    quadratically in their document frequency, contribute candidates
    only for documents where they fall in the rare prefix.

    τ is the integer ratio ``tau_num/tau_den`` so the prefix length
    ``|s| − ceil(τ|s|) + 1`` is exact integer arithmetic (no float
    ceil ambiguity). Verification is exact: candidate pairs join the
    per-doc shingle-hash sets (bounded by document length) and the
    true Jaccard is computed from ``array_intersect`` — the brute-
    force all-co-occurring-pairs oracle must match EXACTLY, which is
    the completeness certification.

    Scale shape: one shingle shuffle for document frequencies, one
    per-doc window (partitioned — never global) for prefix ranks,
    one prefix-to-prefix equi-join (the candidate stream), and a
    candidate-sized ``verify_pairs`` join against the per-doc set
    arrays. ``sh`` has two consumers here (the ranked-window chain
    and the verify sets) and is deliberately not persisted: the
    InMemoryRelation build of the exploded shingle stream costs ~3x
    one recompute (measured r8), so callers persist it only when they
    read it a third time.
    """
    wdoc = Window.partitionBy("doc_id")
    # Document frequency as a count window over the SAME exchange the
    # prefix ranking needs anyway (r8 optimization): the old shape
    # aggregated dfreq separately and merge-joined it back — one more
    # shuffle plus a sort-merge join that the window form doesn't pay.
    ranked = (
        sh.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("sh"))
        )
        .select(
            "doc_id", "sh",
            F.row_number()
            .over(wdoc.orderBy("df", "sh"))
            .alias("rn"),
            F.count(F.lit(1)).over(wdoc).alias("n_sh"),
        )
    )
    # prefix length = n_sh - ceil(tau * n_sh) + 1, all integers.
    need = F.expr(
        f"(n_sh * {tau_num} + {tau_den} - 1) div {tau_den}"
    )
    # Persisted: the self-join below otherwise BUILDS
    # THE WHOLE ranked/window subtree twice — Spark does not share
    # common subtrees across join sides (r8 plan audit: the a and b
    # sides each carried their own dfreq+window cascade).
    pref = (
        ranked.filter(F.col("rn") <= F.col("n_sh") - need + 1)
        .select("doc_id", "sh", "rn", "n_sh")
        .persist()
    )
    # merge hint on the corpus-scaled prefix join side below: the
    # post-aggregation size estimator undervalues the prefix relation,
    # so the planner broadcasts it once the raised 64 MB threshold
    # lets it — fine at sf0.1, driver-fatal at sf10 (caught by the r7
    # measured-decade sweep), and the wrong shape at 100 TB where a
    # build side proportional to the corpus must never be a broadcast.
    #
    # Candidate dedup is a groupBy (same exchange the old DISTINCT
    # paid) that additionally aggregates the PPJoin positional bound
    # (Xiao et al. WWW'08): rn is each doc's rank in the GLOBAL
    # (df, sh) total order, so ranks are order-consistent across docs
    # and the last shared prefix element attains BOTH max-rank
    # aggregates; every shared element outside the two prefixes sits
    # strictly beyond it in both docs, giving
    #   |A ∩ B| <= cnt_p + min(n_a - i*, n_b - j*).
    # Pairs whose bound cannot reach tau are dropped BEFORE the wide
    # verify join attaches the per-doc hash arrays — lossless, and it
    # prunes the false-candidate bulk (measured 788k -> 478k candidate
    # pairs at tau=1/5, sf0.1, where only 256 verify).
    matches = pref.alias("a").join(
        pref.alias("b").hint("merge"),
        (F.col("a.sh") == F.col("b.sh"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        # Length filter (lossless): max overlap is min(n_a, n_b), so
        # J >= tau forces den*min >= num*max — applied inside the
        # join condition, before the pair stream is even emitted.
        & (
            F.least(F.col("a.n_sh"), F.col("b.n_sh")) * tau_den
            >= F.greatest(F.col("a.n_sh"), F.col("b.n_sh")) * tau_num
        ),
    )
    bound = F.col("cnt_p") + F.least(
        F.col("na") - F.col("ia"), F.col("nb") - F.col("jb")
    )
    cand = (
        matches.groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt_p"),
            F.max(F.col("a.rn")).alias("ia"),
            F.max(F.col("b.rn")).alias("jb"),
            F.max(F.col("a.n_sh")).alias("na"),
            F.max(F.col("b.n_sh")).alias("nb"),
        )
        .filter(
            (tau_den + tau_num) * bound
            >= tau_num * (F.col("na") + F.col("nb"))
        )
        .select("doc_a", "doc_b")
    )
    jaccard = F.col("n_inter") / F.col("n_union")
    return (
        verify_pairs(cand, sh)
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(tau_num) / F.lit(float(tau_den)))
    )


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash): bitwise-majority fingerprint over token
    hashes. Near-dup docs land within small Hamming distance.

    Expressed as explode(token × bit) → conditional sum → bit
    reassembly; all integer arithmetic, oracle-reproducible.
    """
    toks = spread_for_cpu(docs, "doc_id").select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("tok")
    ).select("doc_id", token_hash(F.col("tok")).alias("th"))
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    # SQL-function form: the python shiftright/shiftleft wrappers
    # only take literal shift amounts, the SQL expressions take any.
    weighted = toks.select(
        "doc_id",
        bit,
        F.expr("CASE WHEN shiftright(th, bit) % 2 = 1 THEN 1 ELSE -1 END").alias("w"),
    )
    return (
        weighted.groupBy("doc_id", "bit")
        .agg(F.sum("w").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), bit)"
                    " ELSE CAST(0 AS BIGINT) END"
                )
            ).alias("simhash")
        )
    )


def connected_components_star(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = 15,
) -> DataFrame:
    """(doc_id, group_rep) via the alternating large-star/small-star
    algorithm — the O(log^2 n)-round connected-components method of
    Kiveris et al. ("Connected Components in MapReduce and Beyond",
    SoCC'14), the scale alternative to min-label propagation
    (``connected_dedup_groups``), whose round count is the component
    DIAMETER. Near-dup clusters in crawl corpora routinely chain
    hundreds of docs deep (A~B~C~... under a pairwise threshold);
    at 100 TB the diameter-bound loop is the bottleneck and the
    star-contraction bound is not.

    One round = two one-shuffle passes over the current edge set:

    - large-star: every node's LARGER neighbors re-attach to the
      minimum of its closed neighborhood (emit (v, m) for v > u,
      m = min(N(u) ∪ {u})).
    - small-star: with edges oriented larger→smaller, every smaller
      neighbor and the node itself attach to that minimum.

    Both orientations of an edge are produced by a single explode
    (never edges.union(swap), which re-runs the upstream candidate
    lineage per side — SCALE.md "union-of-derivations"). Each round
    ends in an eager ``localCheckpoint`` — NOT a bare persist: one
    star round references its input four times (two per star step),
    so the logical plan would grow ~4^rounds and the driver dies
    serializing plan trees long before any executor breaks a sweat
    (found by the deep-chain unit test). Checkpointing truncates
    lineage to the materialized blocks, making round plans O(1);
    swap in ``DataFrame.checkpoint`` (reliable, HDFS-backed) when
    executor loss must be survivable mid-algorithm.

    Output matches ``connected_dedup_groups``: every document keyed
    by the minimum doc id of its duplicate cluster; isolated docs
    represent themselves.
    """
    edges = (
        pairs.select(
            F.col("doc_a").cast("long").alias("u"),
            F.col("doc_b").cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    fp = _relation_fingerprint(edges, ("u", "v"))
    for _ in range(max_rounds):
        # ---- large-star: undirect in one pass, group by node ----
        und = edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(F.col("v").alias("u"), F.col("u").alias("v")),
                )
            ).alias("e")
        ).select("e.u", "e.v")
        # Closed-neighborhood min as a WINDOW over the one hash(u)
        # exchange each star step already needs, instead of a
        # groupBy + self-join pair: same m per node, but one shuffle
        # per step where the agg+join form planned two (plus the
        # join stages), and neither star relation is referenced
        # twice any more — so the mid-round persist goes away too
        # (guide §2.4: operations keyed the same way share one
        # exchange). `large` loses its per-round distinct: duplicate
        # orientations only fan into the small-star explode, whose
        # output distinct below restores set semantics the
        # convergence probe relies on.
        wlarge = Window.partitionBy("u")
        large = (
            und.withColumn(
                "m", F.least(F.min("v").over(wlarge), F.col("u"))
            )
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # ---- small-star: edges now all point larger→smaller ----
        new_edges = (
            large.withColumn(
                "m", F.least(F.min("v").over(wlarge), F.col("u"))
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                        F.struct(F.col("u"), F.col("m").alias("v")),
                    )
                ).alias("e")
            )
            .select("e.u", "e.v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # Lazy round plan to the plan tooling before the checkpoint
        # truncates it (no-op outside capture — see plans/audit.py).
        record_loop_plan("altstar_round", new_edges)
        # Lazy checkpoint: the fingerprint probe right below is the
        # materializing action, so truncation still happens once per
        # round but without a separate checkpoint job.
        new_edges = new_edges.localCheckpoint(eager=False)
        # Convergence probe: the directed edge set is a fixpoint.
        # Compare 1-row hash fingerprints of the two checkpointed
        # relations (one cheap map-side agg each — no per-round
        # subtract shuffles, which at 100 TB doubled round cost);
        # only on fingerprint equality confirm once with ONE exact
        # symmetric-difference probe (both relations are distinct, so
        # a signed-count aggregate witnesses set equality in a single
        # shuffle — half the two subtract probes this replaced), so a
        # hash collision can never terminate the loop early.
        new_fp = _relation_fingerprint(new_edges, ("u", "v"))
        converged = False
        if new_fp == fp:
            converged = (
                new_edges.withColumn("_s", F.lit(1))
                .unionAll(edges.withColumn("_s", F.lit(-1)))
                .groupBy("u", "v")
                .agg(F.sum("_s").alias("_d"))
                .filter(F.col("_d") != 0)
                .limit(1)
                .count()
                == 0
            )
        edges.unpersist()
        edges = new_edges
        fp = new_fp
        if converged:
            break
    else:
        raise RuntimeError(
            f"alternating star did not reach a fixpoint in "
            f"{max_rounds} rounds — raise max_rounds (the bound is "
            "O(log^2 n) in the node count, ~15 covers any realistic "
            "corpus; non-convergence here usually means the pair "
            "relation is non-deterministic between passes)"
        )
    reps = edges.select(
        F.col("u").alias("id"), F.col("v").alias("rep")
    )
    return (
        docs.select(F.col(id_col))
        .join(reps, F.col(id_col) == F.col("id"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("rep"), F.col(id_col)).alias("group_rep"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing (MOSS) fingerprints
# ---------------------------------------------------------------------------

#: Winnowing packs (36-bit gram hash, 24-bit position complement)
#: into one BIGINT so a single windowed MIN selects the rightmost
#: minimal hash per window — the MOSS tie rule — in ONE pass with no
#: second self-referencing window. 36 + 24 = 60 bits keeps the packed
#: value far inside signed-64 range (a 40-bit hash would overflow at
#: h >= 2^39 under ANSI arithmetic).
_WIN_POS_BITS = 24
_WIN_POS_MASK = (1 << _WIN_POS_BITS) - 1


def winnow_fingerprints_df(
    docs: DataFrame, k: int = 3, w: int = 4
) -> DataFrame:
    """Winnowed document fingerprints (Schleimer, Wilkerson, Aiken —
    "Winnowing: Local Algorithms for Document Fingerprinting",
    SIGMOD'03, the MOSS algorithm).

    Every window of ``w`` consecutive token-``k``-gram hashes selects
    its minimum hash (rightmost on ties); the distinct selections are
    the fingerprint set. Guarantee: any shared token run of length
    >= w + k - 1 between two documents shares at least one
    fingerprint, while only ~2/(w+1) of gram hashes are kept.

    Distributed shape: one posexplode (rows ~= corpus token count),
    one per-document ordered window (bounded by document length —
    never a global window), one distinct. The rightmost-min tie rule
    needs the *position* of the windowed minimum, which a second
    window referencing the first's result would require; instead the
    36-bit md5-prefix hash and the bit-complement of the 24-bit gram
    position are packed into one BIGINT whose plain MIN is exactly
    (min hash, max position among min-hash ties) — all integer
    arithmetic, reproduced bit-for-bit by the DuckDB oracle.

    Returns (doc_id, fp_pos, fp_hash, n_grams): one row per distinct
    fingerprint; documents shorter than ``k`` tokens yield no rows.
    """
    toks = tokens_col(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )
    g = (
        docs.filter(F.size(toks) >= k)
        .select("doc_id", F.posexplode(grams).alias("j", "gram"))
        .select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("gram"), 1, 9), 16, 10).cast(
                    "long"
                )
                * (1 << _WIN_POS_BITS)
                + (F.lit(_WIN_POS_MASK) - F.col("j"))
            ).alias("packed"),
            "j",
        )
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("j")
        .rowsBetween(-(w - 1), 0)
    )
    anchored = g.select(
        "doc_id",
        "j",
        F.min("packed").over(win).alias("pmin"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("n_grams"),
    )
    # Only fully-formed windows anchor a selection; a document with
    # fewer than w grams has exactly one window (all of them), whose
    # anchor is its last gram.
    return (
        anchored.filter(
            F.col("j") >= F.least(F.lit(w), F.col("n_grams")) - 1
        )
        .select(
            "doc_id",
            (F.lit(_WIN_POS_MASK) - (F.col("pmin") % (1 << _WIN_POS_BITS)))
            .alias("fp_pos"),
            F.shiftright("pmin", _WIN_POS_BITS).alias("fp_hash"),
            "n_grams",
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# Weighted MinHash — Ioffe's consistent weighted sampling (ICDM 2010,
# "Improved Consistent Sampling, Weighted Minhash and L1 Sketching").
# Set-based MinHash above treats a document as {shingles}; term-WEIGHTED
# near-dup (TF / TF-IDF vectors) needs P(sample_A == sample_B) =
# J_w(A,B) = sum_t min(wA_t, wB_t) / sum_t max(wA_t, wB_t).  The
# reference has no weighted sketching (SURVEY §2A — eager torch kernels
# only); this is a §2B dedup-family extension.
#
# Per (term, rep) the sampler needs r ~ Gamma(2,1), c ~ Gamma(2,1),
# beta ~ U(0,1).  All three are derived from md5(term|rep|salt) so the
# DuckDB oracle replays them bit-for-bit ('0x'||substr(md5(..)))::BIGINT
# — the same engine-independence trick token_hash() uses.  The sample
# for rep i is argmin_t of ln a_t = ln c - r*(t_k - beta) - r with
# t_k = floor(ln w / r + beta); equality of (term, t_k) across two
# documents is the collision event.  Outputs are (string, int) — no
# float crosses the engine boundary, so 1-ulp libm differences in ln()
# cannot produce a hash mismatch unless they flip an argmin/floor
# boundary (measure-zero event).
#
# Scale shape: params live on the VOCAB relation (Zipf-small — the BPE
# trick), joined once to the (doc, term, tf) relation; the signature is
# ONE grouped aggregate with k parallel min(struct) columns — identical
# exchange count to minhash_wide.
# ---------------------------------------------------------------------------

_TWO60 = float(1 << 60)


def _wmh_uniform(term: Column, i: int, salt: str, start: int) -> Column:
    """U(0,1) from 60 bits of md5(term|i|salt) at hex offset ``start``
    (1 or 16) — (h + 0.5) / 2^60, identical arithmetic to the oracle's
    (CAST(h AS DOUBLE) + 0.5) / 2^60."""
    h = F.conv(
        F.substring(F.md5(F.concat(term, F.lit(f"|{i}|{salt}"))), start, 15),
        16,
        10,
    ).cast("long")
    return (h + F.lit(0.5)) / F.lit(_TWO60)


def weighted_minhash_wide(
    weights: DataFrame,
    k: int = 4,
) -> DataFrame:
    """(doc_id, s_0 … s_{k-1}) where s_i = struct(ln_a, term, tk) is
    rep i's consistent weighted sample (argmin by ln_a, term tie-break
    via lexicographic struct min).

    ``weights`` is a (doc_id, term, w) relation with w > 0 — the
    weighting scheme (TF, TF-IDF, IDF-weighted shingles, …) is the
    caller's choice, decoupled from the sampler.  NOTE: raw unigram TF
    on a templated corpus makes every document's weight profile nearly
    identical (pairwise J_w ≈ 0.5 measured on the synthetic corpus —
    single-sample buckets covered 78% of all docs); discriminative
    weights (rare-feature-favoring, e.g. shingle IDF) keep the
    downstream bucket join sub-quadratic.

    The rep parameters (r_i, c_i, b_i) are md5-derived PER TERM and
    computed INLINE on the weight rows (r8 §2.4/§3): the old shape
    derived them on a distinct-vocab relation and joined back on term,
    which cost a vocab aggregate plus a join the planner turned into a
    BroadcastHashJoin with the CORPUS-SCALED weight stream as the
    build side (the r7 sf10 broadcast-hazard class, measured as a
    40 MiB broadcast at sf0.1); per-row md5 recomputation is a few
    cpu-seconds while the join shape was the query's dominant cost.
    Values are bit-identical (same md5-derived expressions per term).
    Zero joins, zero broadcasts, one exchange (the doc aggregate)
    downstream of the weights relation."""
    j = (
        weights.select(
            "doc_id", "term", F.col("w").cast("double").alias("w")
        )
        # Enforce the w > 0 precondition identically on both engines:
        # Spark's ln(w<=0) yields NULL (min(struct) would silently pick
        # a NULL-influenced sample) while DuckDB's ln() raises — a
        # divergent failure for callers passing raw TF-IDF with zeros.
        .filter(F.col("w") > 0)
    )
    for i in range(k):
        u1 = _wmh_uniform(F.col("term"), i, "A", 1)
        u2 = _wmh_uniform(F.col("term"), i, "A", 16)
        u3 = _wmh_uniform(F.col("term"), i, "B", 1)
        u4 = _wmh_uniform(F.col("term"), i, "B", 16)
        beta = _wmh_uniform(F.col("term"), i, "C", 1)
        j = j.withColumns(
            {
                f"r_{i}": -(F.log(u1) + F.log(u2)),
                f"c_{i}": -(F.log(u3) + F.log(u4)),
                f"b_{i}": beta,
            }
        )
    aggs = []
    for i in range(k):
        t = F.floor(F.log("w") / F.col(f"r_{i}") + F.col(f"b_{i}"))
        ln_a = (
            F.log(F.col(f"c_{i}"))
            - F.col(f"r_{i}") * (t - F.col(f"b_{i}"))
            - F.col(f"r_{i}")
        )
        aggs.append(
            F.min(
                F.struct(
                    ln_a.alias("ln_a"),
                    F.col("term").alias("term"),
                    t.cast("long").alias("tk"),
                )
            ).alias(f"s_{i}")
        )
    return j.groupBy("doc_id").agg(*aggs)


def weighted_minhash_sketch(
    weights: DataFrame,
    k: int = 4,
) -> DataFrame:
    """(doc_id, i, wmh_term, wmh_t): long-format consistent weighted
    sample over a (doc_id, term, w) relation — the wide aggregate
    unpivoted by an inline explode (zero extra exchanges), mirroring
    minhash_signatures."""
    wide = weighted_minhash_wide(weights, k)
    pairs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).cast("int").alias("i"),
                    F.col(f"s_{i}.term").alias("wmh_term"),
                    F.col(f"s_{i}.tk").alias("wmh_t"),
                )
                for i in range(k)
            ]
        )
    ).alias("p")
    return wide.select("doc_id", pairs).select(
        "doc_id",
        F.col("p.i").alias("i"),
        F.col("p.wmh_term").alias("wmh_term"),
        F.col("p.wmh_t").alias("wmh_t"),
    )
