"""Pin the scale-critical physical-plan facts (SURVEY §4 / 100 TB
rules): pushdown reaches scans, columns prune, small dims broadcast,
shuffle counts match the algorithm's minimum. A regression here is a
performance bug even while every value-check still passes."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import uuid

from axolotls_spark.plans import audit
from axolotls_spark.queries import REGISTRY
from tools import measure

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build_jobs(spark, name) -> int:
    """Jobs that ``name``'s ``fn()`` starts while it builds its plan."""
    sc = spark.sparkContext
    tag = f"plan-audit-build-{uuid.uuid4().hex}"
    sc.addJobTag(tag)
    try:
        REGISTRY[name].fn(spark, SF_DIR)
    finally:
        sc.removeJobTag(tag)
    return len(measure.tagged_jobs(spark, tag))


def _facts(spark, name, **kw):
    """Plan facts of ``name`` built on an empty session cache, so a
    cached relation in the plan is one the query itself persisted,
    never one an earlier test left behind."""
    spark.catalog.clearCache()
    return audit(REGISTRY[name].fn(spark, SF_DIR), **kw)


def test_flagship_pushdown_and_pruning(spark):
    f = _facts(spark, "q1_pricing_summary")
    # Date filter must reach the parquet scan...
    assert any("l_shipdate" in p for p in f.pushed_filters)
    # ...and the scan must not read all 16 lineitem columns.
    assert len(f.read_schemas) == 1
    assert f.read_schemas[0].count(",") < 8
    # One wide agg => exactly one shuffle.
    assert f.n_exchanges == 1


def test_star_join_broadcasts_all_dimensions(spark):
    f = _facts(spark, "q5_region_revenue")
    # supplier/nation/region (+customer/orders path) broadcast; the
    # lineitem fact side must never shuffle for the dim joins.
    assert f.n_broadcast_hash_joins >= 3
    assert f.n_sort_merge_joins == 0


def test_cosine_topk_broadcasts_queries(spark):
    f = _facts(spark, "cosine_topk")
    # Query side broadcast => corpus scan is shuffle-free; the only
    # exchange is the ranking window over pre-truncated rows.
    assert f.n_broadcast_hash_joins >= 1
    assert f.n_sort_merge_joins == 0


def test_exact_dedup_is_single_shuffle(spark):
    f = _facts(spark, "dedup_exact")
    assert f.n_exchanges == 1  # partial + final agg, one exchange


def test_minhash_banding_join_no_cartesian(spark):
    f = _facts(spark, "minhash_near_dup_pairs")
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text


def test_asof_join_single_shuffle_no_range_join(spark):
    f = _facts(spark, "asof_join_last_order")
    # union + window => shuffles bounded (dedupe window + asof
    # window); crucially no nested-loop/cartesian range join.
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text
    assert f.n_exchanges <= 3


def test_q6_scan_rate_pushdown(spark):
    f = _facts(spark, "q6_revenue_delta")
    # Every predicate is pushdown-eligible and the scan reads only
    # the 4 referenced columns of lineitem's 11.
    joined = " ".join(f.pushed_filters)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in joined, f"missing pushed filter on {col}"
    assert len(f.read_schemas) == 1
    assert f.read_schemas[0].count(",") <= 3
    assert f.n_exchanges == 1  # single-row final agg


def test_q19_disjunction_stays_hash_join(spark):
    # OR-of-ANDs residual must NOT degrade the equi-join to a
    # nested loop / cartesian.
    f = _facts(spark, "q19_disjunctive_revenue")
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text
    assert f.n_broadcast_hash_joins >= 1


def test_q4_semi_join_not_cartesian(spark):
    # Correlated-EXISTS rewrite: semi join keyed on orderkey with a
    # date residual — must stay an equi join.
    f = _facts(spark, "q4_late_ship_priority")
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text


def test_ivf_probe_is_equi_join(spark):
    # The probe is an equi-join on cell; only the centroid cross
    # joins (tiny broadcast nested loops) may appear.
    f = _facts(spark, "ann_ivf_topk")
    assert "CartesianProduct" not in f.text
    assert f.n_sort_merge_joins == 0


def test_executed_plan_has_codegen(spark):
    f = _facts(spark, "q1_pricing_summary", execute=True)
    assert f.n_codegen_stages >= 1


def test_q8_snowflake_dims_all_broadcast(spark):
    # part, supplier→nation, customer→nation→region chains must all
    # collapse to broadcasts; lineitem↔orders is the only candidate
    # for a shuffle join.
    f = _facts(spark, "q8_national_market_share")
    assert f.n_broadcast_hash_joins >= 3
    assert "CartesianProduct" not in f.text
    assert f.n_sort_merge_joins <= 1


def test_q11_threshold_is_broadcast_not_window(spark):
    # Fraction-of-total: the 1-row threshold joins via broadcast
    # (nested-loop over a single row is fine); no global-window
    # single-partition funnel, no sort-merge join.
    f = _facts(spark, "q11_important_part_values")
    assert "CartesianProduct" not in f.text
    assert f.n_sort_merge_joins == 0
    assert "Window" not in f.text


def test_q13_outer_join_stays_equi(spark):
    # LEFT JOIN with the priority filter inside the join condition
    # must still extract the custkey equi key — never a nested loop.
    f = _facts(spark, "q13_cust_order_distribution")
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text
    # join (≤2 exchanges) + first agg reuses the join partitioning +
    # tiny histogram agg (1) — anything more means a lost reuse.
    assert f.n_exchanges <= 4


def test_q16_blacklist_anti_join_broadcasts(spark):
    f = _facts(spark, "q16_supplier_cnt_by_part")
    assert f.n_broadcast_hash_joins >= 2  # anti(bad_supp) + part
    assert f.n_sort_merge_joins == 0
    # part-side predicates (brand/type/size-IN) reach the part scan.
    joined = " ".join(f.pushed_filters)
    assert "p_size" in joined and "p_brand" in joined


def test_q17_correlated_avg_single_window_shuffle(spark):
    f = _facts(spark, "q17_small_qty_revenue")
    assert f.n_sort_merge_joins == 0
    # window shuffle on partkey + single-row final agg, nothing more.
    assert f.n_exchanges <= 2


def test_q20_prefix_like_pushes_down(spark):
    f = _facts(spark, "q20_excess_stock_suppliers")
    joined = " ".join(f.pushed_filters)
    assert "StartsWith(p_name" in joined
    assert f.n_broadcast_hash_joins >= 2
    assert f.n_sort_merge_joins == 0


def test_anomaly_zscore_stats_broadcast(spark):
    f = _facts(spark, "anomaly_zscore_orders")
    # Segment stats re-join MUST be broadcast (tiny O(segments)
    # side); a sort-merge there would shuffle the fact twice.
    assert f.n_broadcast_hash_joins >= 1
    # And never the skew trap: no window over 5 giant segment
    # partitions.
    assert "Window" not in f.text


def test_profile_table_stats_single_scan(spark):
    f = _facts(spark, "profile_table_stats")
    # ONE scan feeds every metric for every column. The exact
    # count-distincts force Catalyst's Expand + two-phase distinct
    # plan: exactly 2 exchanges (the second over O(distinct values)
    # rows, not the raw table) — pin it so a regression to per-column
    # scans or >2 shuffles fails loudly.
    assert f.text.count("InMemoryFileIndex") == 1
    assert f.n_exchanges == 2
    assert "Expand" in f.text


def test_quality_expectations_single_pass(spark):
    f = _facts(spark, "quality_expectations")
    # No distincts here: strictly one scan + one exchange.
    assert f.n_exchanges == 1
    assert f.text.count("InMemoryFileIndex") == 1


def test_pipeline_curation_single_wide_edge(spark):
    f = _facts(spark, "pipeline_corpus_curation")
    # Gates pushed into the scan; dedup is the only shuffle; the
    # stratified sample is a map-side filter above it.
    assert f.n_exchanges == 1
    assert any("lang" in p or "n_chars" in p for p in f.pushed_filters)


def test_chunk_documents_no_shuffle(spark):
    f = _facts(spark, "chunk_documents")
    # Chunking is map-only: explode + slice, zero exchanges.
    assert f.n_exchanges == 0


def test_quantize_embeddings_no_shuffle_no_python(spark):
    f = _facts(spark, "quantize_embeddings_int8")
    assert f.n_exchanges == 0
    # Higher-order functions, not UDFs: no Python evaluation node.
    assert "BatchEvalPython" not in f.text
    assert "ArrowEvalPython" not in f.text


def test_tfidf_corpus_shuffled_once(spark):
    f = _facts(spark, "tfidf_top_terms")
    # df + N join back via broadcast; corpus-sized relations shuffle
    # only for the (doc,term) agg and the per-doc window.
    assert f.n_broadcast_hash_joins >= 2
    assert f.n_sort_merge_joins == 0


def test_pack_sequences_sharded_window(spark):
    f = _facts(spark, "pack_sequences_contiguous")
    # The window must partition by shard — a global (unpartitioned)
    # running sum would single-thread 100 TB through one task.
    assert "shard" in f.text and "Window" in f.text
    assert f.n_exchanges <= 2


def test_ri_report_one_scan_per_child_table(spark):
    f = _facts(spark, "ri_orphan_report")
    # lineitem's three FK edges share ONE scan; orders appears twice
    # (once as child, once as parent key-set).
    assert f.text.count("lineitem.parquet") == 1
    assert f.text.count("orders.parquet") == 2


def test_weighted_sample_uses_window_group_limit(spark):
    f = _facts(spark, "sample_weighted_topk")
    # Top-k-per-group must push per-partition heaps below the
    # shuffle (WindowGroupLimit) — the exchange carries ≤ k·groups.
    assert "WindowGroupLimit" in f.text
    assert f.n_exchanges <= 2


def test_unigram_logprob_broadcasts_freq(spark):
    f = _facts(spark, "unigram_logprob_score")
    # Zipf-small frequency table + 1-row total ride broadcasts.
    assert f.n_broadcast_hash_joins >= 1
    assert "BroadcastNestedLoopJoin" in f.text or f.n_broadcast_hash_joins >= 2
    assert f.n_sort_merge_joins == 0


def test_discretize_no_global_window(spark):
    f = _facts(spark, "discretize_equal_frequency")
    # Cutpoint broadcast, map-side assignment — the ntile trap
    # (global-order window) must not appear.
    assert "Window" not in f.text
    assert f.n_sort_merge_joins == 0


def test_sql_udf_stays_in_codegen(spark):
    f = _facts(spark, "sql_udf_revenue_bands", execute=True)
    # SQL UDF bodies inline into the plan: no Python eval nodes and
    # codegen still spans the aggregate.
    assert "BatchEvalPython" not in f.text
    assert "ArrowEvalPython" not in f.text
    assert f.n_codegen_stages >= 1


def test_bitmap_distinct_partial_agg_no_expand(spark):
    f = _facts(spark, "agg_bitmap_exact_distinct")
    # Exact distinct via bitmap partials: the plan must NOT use the
    # COUNT(DISTINCT) Expand node (which replicates every row per
    # distinct column), and each branch is a two-level hash agg whose
    # shuffle carries fixed-width bitmaps, not raw keys.
    assert "Expand" not in f.text
    assert "bitmap_construct_agg" in f.text
    # Two branches x (bucket-agg shuffle + group-agg shuffle) + the
    # final small join: partial aggregation must be present map-side.
    assert f.text.count("HashAggregate") >= 4


def test_pipe_syntax_compiles_to_pushed_scan(spark):
    f = _facts(spark, "sql_pipe_revenue")
    # Pipe-syntax SQL is sugar: the parameterized WHERE must still
    # reach the parquet scan as a pushed filter, and the plan is the
    # same single-shuffle aggregate as the nested-SELECT form.
    assert any("l_quantity" in p for p in f.pushed_filters)
    assert f.n_exchanges == 1


def test_split_map_roundtrip_is_map_only(spark):
    f = _facts(spark, "string_split_map_roundtrip")
    # Generate (explode_outer) fuses into the scan projection:
    # no shuffle, no Python eval, codegen covers the projection.
    assert f.n_exchanges == 0
    assert "BatchEvalPython" not in f.text
    assert "ArrowEvalPython" not in f.text


#: The registry queries built on ``operators/clustering.kmeans``.
_KMEANS_CALLERS = ("kmeans_clusters", "kmeans_inertia",
                   "cluster_balanced_sample", "silhouette_kmeans",
                   "cluster_label_nmi", "semdedup_prune")


#: The registry queries built on ``operators/clustering.pq_train``.
_PQ_CALLERS = ("pq_encode_embeddings", "pq_adc_topk", "ann_ivf_adc_topk",
               "ann_ivfpq_residual_topk")


def _nlj_build_rows(text: str) -> list[int]:
    """Runtime row count of the build side of every
    BroadcastNestedLoopJoin in an executed plan's final AQE plan."""
    final = text.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    lines = final.splitlines()
    rows = []
    for i, line in enumerate(lines):
        j = line.find("BroadcastNestedLoopJoin")
        if j < 0:
            continue
        col = line.rfind("+- ", 0, j) + 3  # column of the join's children
        build = next(c for c in lines[i + 1:] if c[col:col + 3] == "+- ")
        rows.append(int(re.search(r"rowCount=(\d+)", build).group(1)))
    return rows


def test_kmeans_distance_broadcasts_centroids(spark):
    """Lloyd distance step: every round crosses the vectors with the
    centroids broadcast as ONE row and picks the nearest centroid with
    array math, so every BroadcastNestedLoopJoin builds one row and
    the vectors are never shuffled for distances.  There is one join
    per round (2) plus one for the last round's second reader, the
    final re-average; no per-vector argmin Window appears, and no join
    condition evaluates the argmin a second time per vector."""
    f = _facts(spark, "kmeans_clusters", execute=True)
    rows = _nlj_build_rows(f.text)
    assert rows and set(rows) == {1} and len(rows) <= 2 + 1, rows
    assert not re.search(r"windowspecdefinition\(vec_id#", f.text)
    assert not re.search(r"Join condition: .*array_min", f.text)


def test_pca_components_one_broadcast_row(spark):
    """PCA's components are ONE row (mean, comps, trace) that the
    projection crosses with the vectors: every BroadcastNestedLoopJoin
    builds one row and no vector is exploded per position.  Nothing
    is cached; the final plan reads ``embeddings`` twice, once for the
    Gram sketch (its second reader, the basis checks, reuses that
    exchange) and once for the projection; ``fn()`` starts no job."""
    f = _facts(spark, "pca_project_embeddings", execute=True)
    rows = _nlj_build_rows(f.text)
    assert rows and set(rows) == {1}, rows
    final = f.text.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 2, final
    assert "ReusedExchange" in final
    assert "posexplode" not in f.text
    assert "InMemoryRelation" not in f.text
    assert _build_jobs(spark, "pca_project_embeddings") == 0


def test_gopher_filters_map_only(spark):
    """Repetition metrics are a sorted-array fold per row — besides
    the deliberate small-file spread there is NO shuffle, and no
    Python in the plan: the filter runs at scan rate at 100 TB."""
    f = _facts(spark, "gopher_repetition_filters")
    assert f.n_exchanges <= 1  # only the spread_for_cpu repartition
    assert "BatchEvalPython" not in f.text
    assert f.n_sort_merge_joins == 0


def test_decontaminate_broadcasts_benchmark(spark):
    """The eval-set n-gram probe must broadcast: the corpus side is
    never shuffled for the join."""
    f = _facts(spark, "decontaminate_ngram_overlap")
    assert f.n_broadcast_hash_joins >= 1
    assert f.n_sort_merge_joins == 0
    assert "CartesianProduct" not in f.text


def test_funnel_single_shuffle_fold(spark):
    """Strict-ordered funnel: one groupBy(user) exchange feeding a
    map-side array fold — never the oracle's three self-joins (three
    corpus shuffles), and no Python anywhere."""
    f = _facts(spark, "funnel_conversion")
    # groupBy(user) + the final 1-row global aggregate exchange.
    assert f.n_exchanges <= 2
    assert f.n_sort_merge_joins == 0
    assert "BatchEvalPython" not in f.text


def test_retention_single_corpus_shuffle(spark):
    """Cohort retention: the events corpus is shuffled once
    (groupBy user w/ collect_set); cohort + offsets derive map-side.
    The post-explode re-aggregate touches only user-week rows."""
    f = _facts(spark, "retention_cohorts")
    assert f.n_exchanges <= 2
    assert f.n_sort_merge_joins == 0
    assert "BatchEvalPython" not in f.text


def test_bloom_prejoin_broadcasts_bitset(spark):
    """The bit_or bitset relation must broadcast (it is <=64Ki rows
    by construction); the fact scan reads only the 4 needed columns
    and the pruned fact side joins hash-side, never cartesian."""
    f = _facts(spark, "bloom_prejoin_filter")
    assert f.n_broadcast_hash_joins >= 1
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text
    assert "BatchEvalPython" not in f.text


def test_sparse_cosine_prunes_and_broadcasts_df(spark):
    """DIMSUM sparse cosine: document frequencies and the 1-row
    corpus count ride broadcast joins (the doc-term relation is the
    only corpus-sized thing shuffled), and the pair join stays an
    equi-join on term — no cartesian fan-out in the plan. (The only
    BroadcastNestedLoopJoins are the deliberate 1-row corpus-count
    crossJoins — constant fan-out, not a pair explosion.) The
    executed plan must also show exchange REUSE: the a/b sides of
    the self-join share one computation of the weight pipeline, so
    the corpus is tokenized/aggregated once, not twice."""
    f = _facts(spark, "sparse_cosine_pairs")
    assert f.n_broadcast_hash_joins >= 2
    assert "CartesianProduct" not in f.text
    fx = _facts(spark, "sparse_cosine_pairs", execute=True)
    assert "ReusedExchange" in fx.text


def test_pagerank_aggregate_then_iterate(spark):
    """The only corpus-sized work is the edge aggregation: the 4
    dimension joins broadcast and lineitem⋈orders is the only join
    that may shuffle.  Every graph query holds its graph in one row
    (``operators/graph.edge_row``) and runs its rounds inside one
    array ``aggregate``, so no loop join, cache, cartesian or Python
    appears, and none starts a job while its plan is built."""
    f = _facts(spark, "pagerank_trade_graph")
    assert f.n_broadcast_hash_joins >= 4   # the 4 dim joins
    assert f.n_sort_merge_joins <= 1       # lineitem⋈orders only
    for name in ("pagerank_trade_graph", "ppr_trade_similarity",
                 "textrank_keywords", "hits_trade_graph",
                 "kcore_trade_graph", "apsp_trade_costs",
                 "bfs_shortest_hops"):
        text = _facts(spark, name).text
        for node in ("InMemoryRelation", "CartesianProduct",
                     "BatchEvalPython"):
            assert node not in text, (name, node)
        assert _build_jobs(spark, name) == 0, name


def test_pmi_vocab_topk_not_global_window(spark):
    """The vocabulary cut must be a distributed top-k
    (TakeOrderedAndProject), never a single-partition global window,
    and the capped vocab joins broadcast-side."""
    f = _facts(spark, "cooccurrence_pmi")
    assert "TakeOrderedAndProject" in f.text
    assert f.n_broadcast_hash_joins >= 2
    assert "CartesianProduct" not in f.text


def test_temperature_mix_no_corpus_shuffle(spark):
    """Rates derive from one hash aggregate; the corpus itself is
    never shuffled — the only exchanges feed the tiny rate relation,
    and the membership filter is pure codegen (no Python)."""
    f = _facts(spark, "temperature_mix_sources")
    assert f.n_sort_merge_joins == 0
    assert f.n_broadcast_hash_joins >= 1
    assert "BatchEvalPython" not in f.text


def test_interval_join_is_equi_not_range(spark):
    """The bucketed interval join must plan as a hash equi-join on
    (user, bucket) — never a nested-loop range join — with the
    event-type filters pushed to the scans."""
    f = _facts(spark, "interval_join_attribution")
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text
    assert any("event_type" in p for p in f.pushed_filters)


def test_bm25_query_prunes_before_wide_work(spark):
    """The broadcast query relation must prune the inverted tf
    relation via BroadcastHashJoin; corpus stats/df also broadcast.
    No cartesian beyond the deliberate 1-row stats crossJoin."""
    f = _facts(spark, "bm25_search")
    assert f.n_broadcast_hash_joins >= 2
    assert "CartesianProduct" not in f.text
    assert f.text.count("BroadcastNestedLoopJoin") <= 2  # 1-row stats


def test_interpolation_windows_over_spine_not_corpus(spark):
    """Both IGNORE-NULLS neighbor windows run over the dense grid
    (spine x types — tiny), partitioned by type; the corpus is
    touched once by the hourly aggregate. Spine and grid sides ride
    broadcasts; no Python anywhere."""
    f = _facts(spark, "timeseries_interpolate_linear")
    assert "BatchEvalPython" not in f.text
    assert "CartesianProduct" not in f.text
    # hourly agg + grid join + window partitioning: bounded exchanges
    assert f.n_exchanges <= 5


def test_scaling_and_imputation_broadcast_stats(spark):
    """Both preprocessing ops must broadcast their derived stats —
    never the global-window single-partition funnel, never a
    corpus shuffle."""
    for name in ("impute_group_stats", "scale_standardize_features"):
        f = _facts(spark, name)
        assert "Window" not in f.text, name
        assert f.n_sort_merge_joins == 0, name
        assert "BatchEvalPython" not in f.text, name


def test_transition_matrix_single_window_shuffle(spark):
    """Markov transitions: one window shuffle on user is the only
    corpus-sized exchange; the remaining exchanges (pair aggregate,
    totals) move |types|^2 rows. No Python."""
    f = _facts(spark, "event_transition_matrix")
    assert f.n_exchanges <= 5
    assert "BatchEvalPython" not in f.text
    assert f.n_sort_merge_joins == 0


def test_dau_wau_constant_replication(spark):
    """Rolling distinct: the corpus collapses to (day,user) pairs
    before the 7x cover explode — no per-day self-join, no
    cartesian."""
    f = _facts(spark, "dau_wau_rolling")
    assert "CartesianProduct" not in f.text
    # Formatted explain prints each node in tree + details: count
    # detail headers. Only the 1-row max-day crossJoin may appear.
    assert f.text.count(") BroadcastNestedLoopJoin") <= 1
    assert "BatchEvalPython" not in f.text


def test_triangle_count_joins_tiny_edges(spark):
    """Triangle joins run on the aggregated edge relation: all dims
    broadcast, no cartesian, facts shuffled once for the distinct."""
    f = _facts(spark, "graph_triangle_count")
    assert f.n_broadcast_hash_joins >= 4
    assert "CartesianProduct" not in f.text


def test_basket_affinity_broadcast_part_dim(spark):
    """Basket pairs: part dimension broadcasts; the self-join keys
    on l_orderkey (equi), never a nested loop."""
    f = _facts(spark, "basket_brand_affinity")
    assert f.n_broadcast_hash_joins >= 1
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text
    assert "TakeOrderedAndProject" in f.text


def test_naive_bayes_model_broadcasts(spark):
    """NB scoring: class totals, priors, and the 1-row vocab count
    broadcast; the doc-term relation is the only corpus-sized thing
    in the joins. No cartesian beyond 1-row crossJoins."""
    f = _facts(spark, "naive_bayes_lang_confusion")
    assert f.n_broadcast_hash_joins >= 3
    assert "CartesianProduct" not in f.text
    assert "BatchEvalPython" not in f.text


def test_sparse_cosine_reuses_normalized_relation(spark):
    """Round-2 fix (VERDICT perf): the L2-normalized ``u`` relation
    feeds both sides of the inverted-index self-join; it must come
    from cache (InMemoryTableScan) so the tokenize->tf->idf->norm
    pipeline is one corpus pass, not two."""
    f = _facts(spark, "sparse_cosine_pairs")
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text


def test_pmi_reuses_vocab_filtered_tokens(spark):
    """Same fix for cooccurrence_pmi: ``tv`` (token-in-vocab) is
    cached before the pair self-join."""
    f = _facts(spark, "cooccurrence_pmi")
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text


def test_kmeans_one_lazy_plan(spark):
    """k-means is one lazy plan: it persists nothing, runs no
    cartesian product or Python, and none of its callers starts a job
    while its plan is built."""
    f = _facts(spark, "kmeans_clusters")
    for node in ("InMemoryRelation", "CartesianProduct", "Python", "Pandas"):
        assert node not in f.text, node
    for name in _KMEANS_CALLERS:
        assert _build_jobs(spark, name) == 0, name


def test_pushed_filters_one_entry_per_scan(spark):
    """``pushed_filters`` has one entry per scan, aligned with
    ``read_schemas``: kmeans_clusters' seed scans (the vectors with
    ``vec_id < k``) push their vec_id filters, and its other scans of
    the same table push none and give ""."""
    f = _facts(spark, "kmeans_clusters")
    assert len(f.pushed_filters) == len(f.read_schemas)
    for pf, rs in zip(f.pushed_filters, f.read_schemas):
        assert ("vec_id" in pf) == ("vec_id" in rs), (pf, rs)
    assert "" in f.pushed_filters
    assert any("LessThan(vec_id" in pf for pf in f.pushed_filters)


def test_semdedup_reuses_member_relation(spark):
    """SemDeDup: the (assignment + vector + norm) member relation
    feeds both sides of the within-cluster self-join — both must read
    ONE exchange of it, or the whole kmeans lineage executes twice.
    And the pairwise step must stay an equi-join on cid."""
    f = _facts(spark, "semdedup_prune", execute=True)
    assert "ReusedExchange" in f.text
    assert "CartesianProduct" not in f.text


def test_zorder_keys_map_only(spark):
    """Z-value derivation is pure map-side bit arithmetic: zero
    exchanges, single scan, 3 columns read."""
    f = _facts(spark, "zorder_layout_keys")
    assert f.n_exchanges == 0
    assert len(f.read_schemas) == 1
    assert f.read_schemas[0].count(":") <= 3


def test_cms_sketch_joins_broadcast(spark):
    """The 256-cell sketch and the 20-row probe must meet via
    broadcast — nothing corpus-sized on the build side."""
    f = _facts(spark, "cms_heavy_hitters")
    assert f.n_broadcast_hash_joins >= 1
    assert "CartesianProduct" not in f.text


def test_span_dedup_equi_join_only(spark):
    """Span-hash pair generation is an equi-join on the 60-bit span
    hash; the a<b ordering is a residual, never a nested loop."""
    f = _facts(spark, "substring_span_dedup")
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text


def test_containment_equi_join_only(spark):
    f = _facts(spark, "containment_pairs")
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text


def test_table_diff_prunes_via_broadcast_semi(spark):
    """Row-level diff runs only on bad buckets: both sides are
    semi-join-pruned against the (tiny, broadcast) bad-bucket list
    before the full-outer row compare."""
    f = _facts(spark, "table_diff_checksum")
    assert f.n_broadcast_hash_joins >= 2
    assert "CartesianProduct" not in f.text
    # Both sides' checksums come from ONE persisted pass — exactly
    # one parquet scan in the whole plan.
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text
    assert f.text.count("InMemoryFileIndex") == 1


def test_hybrid_rrf_candidates_broadcast_pruned(spark):
    """Query terms broadcast-prune the inverted relation before any
    wide work, as in bm25_search; only 1-row stats cross-join."""
    f = _facts(spark, "hybrid_search_rrf")
    assert f.n_broadcast_hash_joins >= 2
    assert "CartesianProduct" not in f.text
    # The inverted tf relation is persisted; the corpus is tokenized
    # once for all three consumers (dl, df, probe).
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text
    assert f.text.count("InMemoryFileIndex") == 1


# --------------------------------------------------------------------------
# Round-2 warehouse + LM operators


def test_scd2_single_exchange(spark):
    """Change-detect lag, run-id prefix sum, per-run agg and the
    effective_to lead all share the o_custkey partitioning — one
    exchange drives the whole SCD2 build."""
    f = _facts(spark, "scd2_priority_history")
    assert f.n_exchanges == 1


def test_cdc_apply_is_one_agg_no_sort(spark):
    """CDC latest-wins via max_by = ONE hash aggregate with map-side
    combine; the ROW_NUMBER()=1 spelling (per-key sort of the full
    changelog) must not appear in the physical plan."""
    f = _facts(spark, "cdc_apply_latest")
    assert f.n_exchanges == 1
    assert "Window" not in f.text


def test_ewma_windows_daily_aggregate_only(spark):
    """The EWMA window runs over the calendar-bounded daily relation:
    one corpus shuffle (groupBy day), one tiny window exchange.
    (Another query may have persisted the identical daily subplan —
    CacheManager substitution replacing the scan is acceptable.)"""
    f = _facts(spark, "ewma_daily_revenue")
    cached = "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text
    assert cached or f.n_exchanges <= 2
    assert cached or (
        len(f.read_schemas) == 1 and f.read_schemas[0].count(":") <= 2
    )


def test_mad_anomaly_broadcasts_stats(spark):
    """Per-type median/MAD stats come back to the fact rows via
    broadcast — the flag pass is map-only on the fact side."""
    f = _facts(spark, "anomaly_mad_robust")
    assert f.n_broadcast_hash_joins >= 2
    assert f.n_sort_merge_joins == 0


def test_fixed_sample_single_exchange(spark):
    """Deterministic k-per-group sample: one shuffle on the stratum
    key, rank within partitions, nothing else."""
    f = _facts(spark, "sample_fixed_per_group")
    assert f.n_exchanges == 1
    assert len(f.read_schemas) == 1


def test_bfs_iterates_over_persisted_edges(spark):
    """BFS expansion rounds iterate over the edge list held in ONE
    collected row (``operators/graph.edge_row``): the edges are
    collected once, every round runs inside one array ``aggregate``,
    the dimension joins broadcast, and no cache or cartesian appears."""
    f = _facts(spark, "bfs_shortest_hops")
    assert f.text.count("Functions [1]: [collect_list(struct(src") == 1
    assert "aggregate(" in f.text
    assert f.n_broadcast_hash_joins >= 3
    assert f.n_sort_merge_joins == 0
    assert "CartesianProduct" not in f.text
    assert "InMemoryRelation" not in f.text


def test_bigram_lm_tokenizes_once(spark):
    """The tokenized relation feeds unigram counts, totals, and both
    bigram sides from cache — one parquet scan in the whole plan;
    unigram probes broadcast."""
    f = _facts(spark, "bigram_interp_logprob")
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text
    assert f.text.count("InMemoryFileIndex") == 1
    assert f.n_broadcast_hash_joins >= 2
    assert "CartesianProduct" not in f.text


def test_vocab_coverage_single_scan(spark):
    f = _facts(spark, "vocab_coverage_curve")
    assert f.text.count("InMemoryFileIndex") == 1
    assert "CartesianProduct" not in f.text


def test_nucleus_vocab_single_scan(spark):
    f = _facts(spark, "nucleus_vocab_size")
    assert f.text.count("InMemoryFileIndex") == 1


def test_logreg_irls_reuses_features(spark):
    """Both IRLS moment aggregates, the accuracy pass and the count
    read the persisted feature relation — the corpus is scanned and
    featurized exactly once."""
    f = _facts(spark, "logreg_quality_classifier")
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text
    assert f.text.count("InMemoryFileIndex") == 1


# --------------------------------------------------------------------------
# Round-2 time-series + split/batching + overlap operators


def test_seasonal_decompose_windows_daily_only(spark):
    """Trend/seasonal windows run over the calendar-bounded daily
    aggregate; the corpus contributes exactly one groupBy shuffle.
    (Cache substitution of the shared daily subplan is acceptable.)"""
    f = _facts(spark, "seasonal_decompose_weekly")
    cached = "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text
    assert cached or f.n_exchanges <= 2
    assert cached or (
        len(f.read_schemas) == 1 and f.read_schemas[0].count(":") <= 2
    )


def test_cusum_prefix_sum_over_daily_aggregate(spark):
    """The daily relation is persisted (it feeds the mean AND the
    prefix-sum window) — one parquet scan in the whole plan."""
    f = _facts(spark, "cusum_changepoint")
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text
    assert f.text.count("InMemoryFileIndex") <= 1
    assert "CartesianProduct" not in f.text


def test_split_assignment_map_only_audit_small(spark):
    """Split assignment is a map-side hash expression; the audit agg
    and per-lang window act on the |langs|x3 relation."""
    f = _facts(spark, "dataset_split_stratified")
    assert f.n_exchanges <= 2
    assert len(f.read_schemas) == 1
    assert f.read_schemas[0].count(":") <= 2


def test_length_buckets_one_agg(spark):
    f = _facts(spark, "bucket_by_length")
    assert f.n_exchanges <= 2  # spread_for_cpu + the bucket agg
    assert len(f.read_schemas) == 1


def test_audience_overlap_reuses_distinct_relation(spark):
    """The distinct (user, type) relation feeds both join sides and
    the size aggregate from cache; sizes broadcast back."""
    f = _facts(spark, "audience_overlap_exact")
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text
    assert f.n_broadcast_hash_joins >= 2
    assert "CartesianProduct" not in f.text


def test_k_anonymity_two_aggregates(spark):
    f = _facts(spark, "k_anonymity_audit")
    assert f.n_exchanges <= 2
    assert len(f.read_schemas) == 1
    assert f.read_schemas[0].count(":") <= 3


def test_shard_balance_one_agg(spark):
    f = _facts(spark, "shard_balance_report")
    assert f.n_exchanges <= 3  # spread + shard agg + 64-row window
    assert len(f.read_schemas) == 1


def test_label_propagation_iterates_over_persisted_edges(spark):
    """Votes in every round join the broadcast label vector against
    the persisted edge relation — aggregate-then-iterate."""
    f = _facts(spark, "label_propagation_communities")
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text
    assert f.n_broadcast_hash_joins >= 3
    assert "CartesianProduct" not in f.text


def test_incremental_dedup_shares_signature_pipeline(spark):
    """Each dedup tier is ONE aggregate over its key domain — the
    shingle→minhash pipeline appears exactly once in the plan (the
    r8 fold rewrite; the old batch-vs-corpus self-join needed a
    persisted signature relation to avoid running it per side, and
    paid the columnar cache build + racing lazy rebuild for it), and
    the md5 digest scan exactly once.  No cache, no cartesian."""
    f = _facts(spark, "dedup_incremental_batch")
    # One minhash signature aggregate (k=8 min() columns, partial +
    # final, each printed in tree and detail = 32 "min(" mentions)
    # and one md5 digest projection (tree + detail = 2): doubled
    # counts would mean a tier re-derives its pipeline per side.
    assert f.text.count("min(") <= 32
    assert f.text.count("md5") <= 2
    # documents scanned 3x (near tier, exact tier, batch spine; ×2
    # for explain's tree+detail) — bounded, not per-join-side.
    assert f.text.count("Scan parquet") <= 6
    assert "CartesianProduct" not in f.text


def test_daily_ingestion_gate_and_split_add_no_shuffle(spark):
    """The composite's quality gate + split assignment + summary must
    add exactly ONE wide edge (the 3-row per-split aggregate) beyond
    the dedup screen it reuses: the gate metrics are sorted-array
    folds and the split is a content-hash mod, both scalar
    expressions over the surviving batch rows.  Pinned as the
    exchange-count delta vs dedup_incremental_batch so the pin can't
    rot if the shared screen's plan ever changes shape."""
    screen = _facts(spark, "dedup_incremental_batch")
    comp = _facts(spark, "daily_ingestion")
    assert "CartesianProduct" not in comp.text
    assert "BatchEvalPython" not in comp.text
    assert comp.n_exchanges == screen.n_exchanges + 1


# --------------------------------------------------------------------------
# Registry-wide plan hygiene


def test_registry_wide_plan_hygiene(spark):
    """Sweep EVERY registered batch query's physical plan: no
    CartesianProduct anywhere, and row-at-a-time Python evaluation
    (BatchEvalPython) only where Python-per-row IS the certified
    surface (the two UDTF queries). Streaming queries are excluded —
    invoking them materializes their memory sinks; their plan shapes
    are pinned by the streaming tests.

    This is the backstop for the per-query assertions above: a new
    query with an accidental cross join or a pickled-row UDF fails
    here even if nobody wrote it a dedicated audit.
    """
    pyrow_ok = {"udtf_bigrams", "udtf_polymorphic_ngrams"}
    # Queries allowed to keep a Window fed by Exchange SinglePartition
    # (the global-window funnel, plans/audit.single_partition_windows).
    # Every entry must rank/cumulate a relation BOUNDED independent of
    # corpus size; anything new fails CI until reviewed here.
    global_window_ok = {
        "cusum_changepoint",        # per-day aggregate (date spine)
        "ewma_daily_revenue",       # per-day aggregate
        "forecast_conformal_interval",  # per-day aggregate +
                                    # 14-row calibration quantile
        "forecast_linear_28d",      # per-day aggregate
        "gini_customer_spend",      # per-customer agg; documented
                                    # quantile-bucket degrade path
        "kaplan_meier_retention",   # distinct-duration life table
        "rmst_retention",           # same distinct-duration life table
        "logrank_test_retention",   # distinct-duration life table
        "fdr_bh_nation_tests",      # 25-row test family
        "holm_stepdown_nation_tests",  # same 25-row test family
        "acf_ljung_box",            # 14-row lag relation cumsum
        "max_drawdown_revenue",     # per-day aggregate running peak
        "logreg_auc_roc",           # fixed 64-bin ROC relation
        "delong_auc_ci",            # same fixed 64-bin ROC relation
        "bootstrap_ci_poisson",     # fixed 32-replicate relation
        "mixture_waterfill_rates",  # <=|languages|-row breakpoint walk
        "mom_revenue_growth",       # per-month aggregate
        "matrix_profile_motif",     # per-month aggregate (calendar-
                                    # bounded subsequence relation)
        "pareto_brand_revenue",     # <=25 brand rows
        "rfm_segment_counts",       # per-customer ntile; documented
                                    # degrade path
        "seasonal_decompose_weekly",  # 7-row day-of-week relation
        "shard_balance_report",     # fixed shard-count relation
        "bayes_ab_beta_binomial",   # ~10^3-row log-factorial spine
                                    # prefix sum (size ∝ conversions,
                                    # not events; prefix.py degrade
                                    # path documented)
        "forecast_backtest_metrics",  # per-day aggregate (calendar-
                                    # bounded, same as ewma)
        "hurst_exponent_revenue",   # per-day aggregate row_number
                                    # (block windows are partitioned)
        "permutation_entropy_revenue",  # per-day aggregate LEADs
        "periodogram_seasonal_power",   # per-day aggregate row_number
        "window_range_frame",       # deliberate RANGE-frame API demo;
                                    # docstring warns it is single-node
        "lift_gain_deciles",        # 10-row decile relation cum-sum
                                    # (corpus rank uses prefix.py)
        "sen_slope_trend",          # <=months^2 pairwise-slope
                                    # relation (calendar-bounded)
        "bca_bootstrap_ci",         # 32-replicate relation rank
                                    # (same class as bootstrap_ci)
        "qini_aa_calibration",      # 10-row decile relation cum-sum
                                    # (corpus rank uses prefix.py)
        "obrien_fleming_looks",     # ~30-row daily look relation
                                    # (spending-increment lag; same
                                    # class as ewma/cusum)
    }
    # Audits are driver-side planning only (no jobs), dominated by
    # py4j + Catalyst latency per query — a small thread pool overlaps
    # them (the serial sweep was the suite's #2 cost at ~260 s; the
    # r8 driver verify timed out on the full suite).
    from concurrent.futures import ThreadPoolExecutor

    def _one(item):
        name, spec = item
        bad = []
        f = audit(spec.fn(spark, SF_DIR))
        if "CartesianProduct" in f.text:
            bad.append((name, "CartesianProduct"))
        if "BatchEvalPython" in f.text and name not in pyrow_ok:
            bad.append((name, "BatchEvalPython"))
        if (
            f.n_single_partition_windows > 0
            and name not in global_window_ok
        ):
            bad.append((name, "single-partition Window funnel"))
        return bad

    items = [
        (n, s) for n, s in sorted(REGISTRY.items())
        if not n.startswith("streaming_")
    ]
    with ThreadPoolExecutor(max_workers=8) as pool:
        offenders = [b for bad in pool.map(_one, items) for b in bad]
    assert not offenders, offenders


def test_triangle_count_persists_edge_relation(spark):
    """All three legs of the triangle join read the persisted edge
    relation — the fact-table lineage must execute once, not once
    per leg."""
    f = _facts(spark, "graph_triangle_count")
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text


def test_multi_table_lsh_single_pass(spark):
    """L LSH tables' signatures come from ONE inline explode, not a
    union of L per-table scans: at most 4 scans total (queries and
    corpus, signature + vector sides)."""
    f = _facts(spark, "ann_lsh_topk")
    assert f.text.count("InMemoryFileIndex") <= 4


def test_naive_bayes_tokenizes_once(spark):
    f = _facts(spark, "naive_bayes_lang_confusion")
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text
    assert f.text.count("InMemoryFileIndex") <= 3


def test_chisq_contingency_single_scan(spark):
    f = _facts(spark, "chisq_lang_source")
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text
    assert f.text.count("InMemoryFileIndex") <= 1


def test_psi_totals_derive_from_histograms(spark):
    """PSI window totals come from the ≤10-row histograms' own sums,
    not extra corpus counts: at most 4 scans (cut percentiles + two
    window histograms + spine-free logic)."""
    f = _facts(spark, "distribution_drift_psi")
    assert f.text.count("InMemoryFileIndex") <= 4


def test_textrank_reuses_vocab_tokens(spark):
    """The capped vocabulary reaches the per-doc token arrays as ONE
    broadcast row (a nested-loop join over a 1-row build side, never a
    cartesian product), and the token arrays are recomputed, not
    cached: textrank persists nothing."""
    f = _facts(spark, "textrank_keywords")
    assert "BroadcastNestedLoopJoin" in f.text
    assert "CartesianProduct" not in f.text
    assert "InMemoryRelation" not in f.text


def test_textrank_single_edge_derivation(spark):
    """Edges are undirected by ONE explode over the co-occurrence
    aggregate — never co.union(co-swapped), which re-executes the
    heaviest stage (the per-doc V^2 pair join) once per orientation
    (round-2 verdict finding). One pair join, two file scans,
    exchanges bounded."""
    f = _facts(spark, "textrank_keywords")
    assert f.text.count("InMemoryFileIndex") <= 2
    assert f.n_sort_merge_joins == 0
    assert f.n_exchanges <= 5


def test_kcore_iterates_over_persisted_edges(spark):
    """k-core peeling rounds iterate over the edge list held in ONE
    collected row: one edge collection, the rounds inside one array
    ``aggregate``, broadcast dimension joins, no cache or cartesian."""
    f = _facts(spark, "kcore_trade_graph")
    assert f.text.count("Functions [1]: [collect_list(struct(src") == 1
    assert "aggregate(" in f.text
    assert f.n_broadcast_hash_joins >= 3
    assert f.n_sort_merge_joins == 0
    assert "CartesianProduct" not in f.text
    assert "InMemoryRelation" not in f.text


def test_minhash_estimate_single_signature_pipeline(spark):
    """Wide signatures and shingles persist; band keys, pair
    expansion and both probes read the caches."""
    f = _facts(spark, "minhash_jaccard_estimate")
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text
    assert "CartesianProduct" not in f.text


def test_cohort_ltv_reuses_first_orders(spark):
    f = _facts(spark, "cohort_ltv_grid")
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text
    assert f.text.count("InMemoryFileIndex") <= 2


def test_burst_detection_single_scan(spark):
    f = _facts(spark, "burst_detection_hourly")
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text
    assert f.text.count("InMemoryFileIndex") <= 1


def test_graph_undirection_is_single_pass(spark):
    """Undirected edge lists come from ONE explode of both
    orientations, not a union with the swapped projection — the edge
    aggregation lineage must appear once (5 table scans, not 9/10)."""
    for name in ("label_propagation_communities", "kcore_trade_graph"):
        f = _facts(spark, name)
        assert f.text.count("InMemoryFileIndex") <= 5, name


def test_salted_aggregate_is_two_phase(spark):
    """Salting must add exactly one extra exchange (key+salt, then
    key) over a plain one-shuffle aggregate, and nothing else."""
    f = _facts(spark, "skew_salted_aggregate")
    assert f.n_exchanges == 2
    assert "CartesianProduct" not in f.text


def test_split_leakage_audit_no_cartesian_single_lineage(spark):
    """Endpoint-split joins are equi-joins on doc_id; the LSH
    candidate pipeline must appear once (documents scanned for the
    pair stream + two slim split projections, never re-derived)."""
    f = _facts(spark, "split_leakage_audit")
    assert "CartesianProduct" not in f.text
    assert f.text.count("InMemoryFileIndex") <= 3


def test_salted_join_stays_broadcast(spark):
    """Salting the probe side must not demote the build side to a
    sort-merge join: the replicated build still broadcasts, and the
    only exchange is the final aggregate."""
    f = _facts(spark, "skew_salted_join")
    assert f.n_broadcast_hash_joins >= 1
    assert f.n_sort_merge_joins == 0
    assert f.n_exchanges <= 2


def test_loop_plan_capture_sees_through_checkpoints(spark):
    """The convergence loops end every round in localCheckpoint,
    which truncates lineage — so the RETURNED DataFrame's plan shows
    ~0 exchanges while the real per-round shuffles are invisible
    (round-2 PLANS.md blind spot). record_loop_plan exposes each
    still-lazy round plan; capture must see >=1 round per loop with
    the round's actual exchanges, and stay a no-op (empty) when not
    enabled."""
    from axolotls_spark.plans.audit import (
        capture_loop_plans,
        facts_from_text,
    )

    for name in ("dedup_groups", "dedup_groups_altstar"):
        with capture_loop_plans() as cap:
            f = audit(REGISTRY[name].fn(spark, SF_DIR))
        assert len(cap) >= 1, name
        loop_exch = sum(
            facts_from_text(t).n_exchanges for _, t in cap
        )
        # The loop rounds carry the real shuffle work the final
        # (post-checkpoint) plan no longer shows.
        assert loop_exch > f.n_exchanges, name
    # Outside the context manager the hook must capture nothing.
    REGISTRY["dedup_groups"].fn(spark, SF_DIR)
    with capture_loop_plans() as cap2:
        pass
    assert cap2 == []


def test_er_blocking_single_join_no_cartesian(spark):
    """Multi-key blocking must be ONE equi-join on the exploded
    (key_type, key_value) relation — never a cartesian, never one
    join per key family — and scoring must add no Python."""
    for name in ("er_best_match", "er_clusters", "er_best_match_capped"):
        f = _facts(spark, name)
        assert "CartesianProduct" not in f.text, name
        assert "BatchEvalPython" not in f.text, name
    f = _facts(spark, "er_best_match")
    # Slim-key blocking (round-3 verdict #4): the pair-distinct must
    # aggregate over exactly the TWO id columns — a wide-row distinct
    # (ids + all comparison fields) would re-widen the dominant ER
    # shuffle at 100 TB.
    import re

    assert re.search(r"Keys \[2\]: \[rec_id#\d+L?, key#\d+L?\]", f.text)
    # 2 slim-key scans + 2 narrow payload re-attach scans of customer.
    assert f.text.count("InMemoryFileIndex") <= 4
    assert f.n_exchanges <= 8


def test_fuzzy_join_single_equi_join_no_python(spark):
    """The edit-distance join must be one equi-join on the exploded
    pigeonhole keys + map-only levenshtein verify — no cartesian, no
    Python, bounded scans (probe + index sides of one table)."""
    f = _facts(spark, "fuzzy_join_doc_titles")
    assert "CartesianProduct" not in f.text
    assert "BatchEvalPython" not in f.text
    assert f.text.count("InMemoryFileIndex") <= 2


def test_pq_ivf_nearest_centroid_broadcasts_one_row(spark):
    """PQ training and both IVF cell assignments run the shared
    nearest-centroid step of ``operators/clustering``: every round
    crosses the subvectors with the centroids broadcast as ONE row, so
    every BroadcastNestedLoopJoin builds one row.  Nothing is cached,
    no argmin Window or Python runs, and no caller starts a job while
    its plan is built.  PQ encoding reads the corpus once for the seed
    row and once per assignment (one Lloyd round, then the codes), and
    plans no Window at all; the ADC callers' only Window is the rank
    over their top-10."""
    for name in _PQ_CALLERS:
        f = _facts(spark, name, execute=True)
        rows = _nlj_build_rows(f.text)
        assert rows and set(rows) == {1}, (name, rows)
        for node in ("InMemoryRelation", "BatchEvalPython"):
            assert node not in f.text, (name, node)
        final = f.text.split("== Final Plan ==")[1].split("== Initial Plan")[0]
        assert final.count("Window (") <= 1, name
        assert not re.search(r"windowspecdefinition\((vec_id|cand_id)#",
                             f.text), name
        assert _build_jobs(spark, name) == 0, name
    f = _facts(spark, "pq_encode_embeddings")
    assert "Window" not in f.text
    assert f.text.count("InMemoryFileIndex") == 3


def test_mv_refresh_cost_is_two_aggregates(spark):
    """Incremental MV refresh = base-state agg + delta agg + a
    group-cardinality merge join: bounded exchanges, split predicate
    pushed to both scans."""
    f = _facts(spark, "mv_incremental_refresh")
    assert f.n_exchanges <= 4
    assert any("o_orderdate" in p for p in f.pushed_filters)
    assert "CartesianProduct" not in f.text


def test_mmr_corpus_scored_once(spark):
    """The greedy MMR loop must run on the persisted 20-row
    candidate set: one corpus scan feeds relevance scoring (plus the
    pruned 1-row query-vector scan); the 5 unrolled steps only touch
    cached relations.  r8: each 1-row pick is eagerly checkpointed,
    so the RETURNED plan is a union of materialized picks — the pin
    is now stronger: ZERO parquet scans may appear in the final plan
    (a regression that re-derived a pick from the corpus would
    surface a scan here)."""
    f = _facts(spark, "mmr_diverse_topk")
    assert f.text.count("InMemoryFileIndex") == 0
    assert "Scan parquet" not in f.text
    assert "BatchEvalPython" not in f.text


def test_hll_estimate_reuses_register_relation(spark):
    """The register aggregate feeds both the group spine and the
    dense join — it must be persisted (one corpus pass, not two)."""
    f = _facts(spark, "hll_distinct_by_priority")
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text
    # orders scanned once for registers (cached) + once for the exact
    # distinct that rides along for auditability.
    assert f.text.count("InMemoryFileIndex") <= 2


def test_span_dedup_single_span_exchange(spark):
    """Candidate pairs come from per-span-hash combination expansion
    over ONE sh exchange (r8 — the old self-join needed AQE's
    ReusedExchange to avoid running the shingle+hash pipeline per
    side; the group expansion removes the join entirely).  Pins: no
    join operator at all, and exactly the two expected exchanges
    (spread + the span-hash groupBy) feeding the pair aggregate."""
    f = _facts(spark, "substring_span_dedup")
    assert f.n_sort_merge_joins == 0
    assert f.n_broadcast_hash_joins == 0
    assert "CartesianProduct" not in f.text
    # spread repartition + sh groupBy + final (doc_a, doc_b) groupBy.
    assert f.n_exchanges <= 3


def test_adc_family_topk_is_distributed(spark):
    """The ADC-family top-10 must plan TakeOrderedAndProject
    (per-partition top-k, k rows per partition to the merge task) —
    never an unpartitioned Window over the corpus-sized distance
    relation, which funnels the whole thing through ONE task at
    100 TB (round-3 verdict's last scale-killer). The only Window
    allowed is the rank over the already-10-row limit result, which
    sits on TakeOrderedAndProject, not on Exchange SinglePartition."""
    from axolotls_spark.plans.audit import single_partition_windows

    for name in ("pq_adc_topk", "ann_ivf_adc_topk", "ann_ivfpq_residual_topk"):
        f = _facts(spark, name)
        assert "TakeOrderedAndProject" in f.text, name
        assert single_partition_windows(f.text) == (), name


def test_vocab_topk_sweep_no_global_window(spark):
    """Round-3 verdict sweep targets: every top-k over a
    corpus-growing relation (distinct terms, char pairs, trigrams,
    supplier revenues) ranks via orderBy+limit, or, for the
    vocabulary coverage curve, folds the count levels in one row
    (operators/prefix.top_k_mass) with no window at all."""
    from axolotls_spark.plans.audit import single_partition_windows

    for name in (
        "cms_heavy_hitters",
        "bpe_merge_candidates",
        "textrank_keywords",
        "frequent_event_trigrams",
        "vocab_coverage_curve",
        "q15_top_supplier",
    ):
        f = _facts(spark, name)
        assert single_partition_windows(f.text) == (), name


def test_als_join_reduce_shape(spark):
    """ALS half-rounds are equi-joins + hash aggregates over the
    materialized ratings relation: no cartesian, no Python, ratings
    cached (InMemoryRelation)."""
    f = _facts(spark, "als_rank1_factors")
    assert "CartesianProduct" not in f.text
    assert "BatchEvalPython" not in f.text
    assert "InMemoryTableScan" in f.text or "InMemoryRelation" in f.text


def test_zipf_vocab_cut_is_distributed_topk(spark):
    """The top-1000 vocabulary cut must plan TakeOrderedAndProject
    (the term domain grows with the corpus); the rank window runs on
    the capped relation after it."""
    f = _facts(spark, "zipf_slope")
    assert "TakeOrderedAndProject" in f.text
    assert "CartesianProduct" not in f.text


def test_ahash_topk_broadcasts_probes(spark):
    """Probe scoring must broadcast the 5-row probe relation against
    the hash relation — never shuffle the corpus side for it."""
    f = _facts(spark, "image_ahash_topk")
    assert (
        f.n_broadcast_hash_joins >= 1
        or "BroadcastNestedLoopJoin" in f.text
    )
    assert "CartesianProduct" not in f.text


def test_winnow_no_join_in_fingerprint_stage(spark):
    """Per-doc winnowing is explode + window + distinct — the gram
    stream must never be joined; the only joins in the summary query
    attach the per-doc aggregate back to doc ids."""
    f = _facts(spark, "winnow_fingerprints")
    assert "CartesianProduct" not in f.text
    assert "BatchEvalPython" not in f.text


def test_bucketed_join_is_exchange_free_under_the_join(spark):
    """bucketed_join_colocate joins two tables WRITTEN bucketed on the
    join key: the sort-merge join must consume the bucketed layout
    directly — scans flagged Bucketed: true, NO Exchange anywhere
    below the join (the only shuffle in the plan is the final tiny
    group-by).  This pins the on-disk co-location contract: the
    shuffle is paid once at write time, not per join."""
    f = _facts(spark, "bucketed_join_colocate", execute=True)
    assert f.text.count("Bucketed: true") >= 2
    assert "SortMergeJoin" in f.text
    # Split the FINAL plan at the join: everything below it must be
    # exchange-free (the one Exchange in the plan is the group-by
    # ABOVE the join).
    final = f.text.split("== Initial Plan ==")[0]
    below_join = final.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_join
    assert final.count("Exchange") <= 1


# --------------------------------------------------------------------------
# Round-6 additions: targeted plan pins


def test_rdd_bandwidth_filter_pushed(spark):
    """The RDD bandwidth predicate must reach the customer parquet
    scan — at 100 TB this is the difference between scanning the
    sliver near the cutoff and scanning everything."""
    f = _facts(spark, "rdd_local_linear")
    assert any("c_acctbal" in p for p in f.pushed_filters), f.pushed_filters


def test_hbos_topk_is_distributed(spark):
    """HBOS top-20 must plan as TakeOrderedAndProject (per-partition
    top-k), never a global sort or a single-partition rank window;
    histograms ride as broadcasts."""
    f = _facts(spark, "hbos_outlier_scores")
    assert "TakeOrderedAndProject" in f.text
    assert f.n_broadcast_hash_joins >= 3  # three <=16-row histograms


def test_cka_comoment_join_is_shuffled_equi(spark):
    """CKA's three co-moment joins are vec_id equi-joins (N*d^2 work)
    — the plan must contain NO cartesian product and NO broadcast of
    the exploded long relation (it is corpus-sized)."""
    f = _facts(spark, "cka_embedding_alignment")
    assert "CartesianProduct" not in f.text


def test_quantile_sketch_merge_is_topk(spark):
    """The ALL-level sketch merge is a bottom-k by hash: plan must
    contain TakeOrderedAndProject (the mergeability path), and the
    per-group sketch is a partitioned window, not a global one."""
    f = _facts(spark, "quantile_sketch_rollup")
    assert "TakeOrderedAndProject" in f.text


def test_capture_recapture_year_filters_pushed(spark):
    """Both snapshot year filters must prune the orders scan."""
    f = _facts(spark, "capture_recapture_chapman")
    assert any("o_orderdate" in p for p in f.pushed_filters), (
        f.pushed_filters
    )


def test_price_index_year_filter_pushed(spark):
    f = _facts(spark, "price_index_fisher")
    assert any("o_orderdate" in p for p in f.pushed_filters), (
        f.pushed_filters
    )


def test_lsh_band_design_touches_no_table(spark):
    """The design table is data-independent: the plan must read NO
    parquet at all (a Range leaf only)."""
    f = _facts(spark, "lsh_band_design")
    assert "InMemoryFileIndex" not in f.text
    assert "Range" in f.text


_PLAN_SCRIPT = """
import sys
from axolotls_spark.plans.audit import explain_formatted
from axolotls_spark.queries import REGISTRY
from axolotls_spark.session import get_spark
spark = get_spark("plan-hash-seed", master="local[1]",
                  extra_conf={"spark.ui.enabled": "false"})
for name in sys.argv[2:]:
    print(explain_formatted(REGISTRY[name].fn(spark, sys.argv[1])))
"""


def test_plans_do_not_follow_python_hash_seed():
    """A plan built from Python set iteration follows the per-process
    string hash, so plan diffs and pins stop reproducing across
    processes.  Two fresh processes with different ``PYTHONHASHSEED``
    values must print the same formatted plans."""

    def plans(seed: str) -> str:
        return subprocess.run(
            [sys.executable, "-c", _PLAN_SCRIPT, SF_DIR,
             "ri_orphan_report", "dataset_datasheet"],
            cwd=REPO, env={**os.environ, "PYTHONHASHSEED": seed},
            capture_output=True, text=True, check=True,
        ).stdout

    assert plans("1") == plans("3")
