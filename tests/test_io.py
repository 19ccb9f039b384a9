"""Source/sink round-trips: partitioned parquet (with partition
pruning), bucketed tables (shuffle-free join), CSV/JSON, and the
declared parquet source schemas."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from axolotls_spark.io import sinks
from axolotls_spark.io.sources import (
    TABLES,
    load_table,
    read_csv,
    read_json,
    table_path,
)
from axolotls_spark.plans import audit

SF_DIR = "/root/testdata/sf0.001"


def test_partitioned_parquet_roundtrip_and_pruning(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    out = str(tmp_path / "docs_by_lang")
    sinks.write_parquet(docs, out, partition_by=["lang"])
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # Partition pruning: a lang filter must hit the partition index,
    # not a data-column filter.
    one = back.filter(F.col("lang") == "en")
    txt = audit(one).text
    assert "PartitionFilters" in txt and "lang" in txt.split("PartitionFilters")[1][:200]


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders")
    cust = load_table(spark, SF_DIR, "customer")
    loc = str(tmp_path / "warehouse")
    sinks.write_bucketed(
        orders, "t_orders_b", ["o_custkey"], 8, sort_by=["o_custkey"],
        path=os.path.join(loc, "orders"),
    )
    sinks.write_bucketed(
        cust.withColumnRenamed("c_custkey", "o_custkey"),
        "t_cust_b", ["o_custkey"], 8, sort_by=["o_custkey"],
        path=os.path.join(loc, "cust"),
    )
    a = spark.table("t_orders_b")
    b = spark.table("t_cust_b")
    joined = a.join(b.hint("merge"), "o_custkey")
    f = audit(joined)
    # Bucket co-location: the sort-merge join runs with ZERO
    # exchanges — the scale win bucketing exists for.
    assert f.n_sort_merge_joins >= 1
    assert f.n_exchanges == 0
    assert joined.count() > 0


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    from axolotls_spark.io.sources import read_orc

    part = load_table(spark, SF_DIR, "part").select(
        "p_partkey", "p_name", "p_retailprice"
    )
    out = str(tmp_path / "part_orc")
    sinks.write_orc(part, out)
    back = read_orc(spark, out)
    assert back.count() == part.count()
    # Filter pushdown reaches the ORC scan just like parquet.
    txt = audit(back.filter(F.col("p_retailprice") > 1500)).text
    assert "PushedFilters" in txt and "p_retailprice" in txt


def test_upsert_partitions_is_dynamic(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = str(tmp_path / "docs_inc")
    sinks.write_parquet(docs, out, partition_by=["lang"])
    before = spark.read.parquet(out)
    n_total = before.count()
    n_en = before.filter(F.col("lang") == "en").count()
    # Incremental batch: rewrite ONLY lang=en with a modified copy.
    patch = docs.filter(F.col("lang") == "en").withColumn(
        "n_chars", F.col("n_chars") + 1000000
    )
    sinks.upsert_partitions(patch, out, ["lang"])
    after = spark.read.parquet(out)
    # Other partitions untouched, en replaced (not doubled).
    assert after.count() == n_total
    assert after.filter(F.col("lang") == "en").count() == n_en
    assert (
        after.filter(
            (F.col("lang") == "en") & (F.col("n_chars") <= 1000000)
        ).count()
        == 0
    )
    assert (
        after.filter(
            (F.col("lang") != "en") & (F.col("n_chars") > 1000000)
        ).count()
        == 0
    )


def test_csv_json_roundtrip(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    csv_p, json_p = str(tmp_path / "c"), str(tmp_path / "j")
    sinks.write_csv(docs, csv_p)
    sinks.write_json(docs, json_p)
    c = read_csv(spark, csv_p, "doc_id long, lang string, n_chars long")
    j = read_json(spark, json_p, "doc_id long, lang string, n_chars long")
    base = {(r.doc_id, r.lang, r.n_chars) for r in docs.collect()}
    assert {(r.doc_id, r.lang, r.n_chars) for r in c.collect()} == base
    assert {(r.doc_id, r.lang, r.n_chars) for r in j.collect()} == base


def test_python_datasource_parallel_deterministic(spark):
    from axolotls_spark.io.python_datasource import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_docs")
        .option("shards", 4)
        .option("rows_per_shard", 50)
        .load()
    )
    assert df.count() == 200
    # Parallelism is declared: one task per shard.
    assert df.rdd.getNumPartitions() == 4
    # Determinism: a second read yields identical rows (retry safety).
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, spark.read.format("synthetic_docs")
                   .option("shards", 4).option("rows_per_shard", 50)
                   .load().collect()))
    assert a == b
    assert {r[1] for r in a} == {0, 1, 2, 3}


def test_compact_small_files(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    out = str(tmp_path / "fragmented")
    docs.repartition(40).write.parquet(out)
    frag = [p for p in os.listdir(out) if p.endswith(".parquet")]
    assert len(frag) == 40
    before = {tuple(r) for r in spark.read.parquet(out).collect()}
    n = sinks.compact_small_files(spark, out, target_file_bytes=10**9)
    after_files = [p for p in os.listdir(out) if p.endswith(".parquet")]
    assert n == 1 and len(after_files) == 1
    assert {tuple(r) for r in spark.read.parquet(out).collect()} == before


def test_incremental_rollup_exactness(spark, tmp_path):
    """Lambda/IVM pattern with ALGEBRAIC aggregates: persist daily
    partial aggregates (count, sum, min, max), answer the monthly
    question by re-aggregating the partials — must equal the direct
    monthly aggregate over raw events EXACTLY (longs) / to fp
    tolerance (sums). This is the non-sketch half of incremental
    analytics: avg is NOT algebraic, so the partials store
    (sum, count) and derive avg at query time."""
    from pyspark.sql import functions as F

    events = load_table(spark, SF_DIR, "events")
    daily_path = str(tmp_path / "daily_agg")
    daily = events.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("sum_v"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )
    sinks.write_parquet(daily, daily_path, partition_by=["event_type"])

    monthly_from_partials = (
        spark.read.parquet(daily_path)
        .groupBy(
            F.date_format(F.date_trunc("month", "day"), "yyyy-MM").alias("m"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_v").alias("sum_v"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
        .withColumn("avg_v", F.col("sum_v") / F.col("n"))
    )
    direct = (
        events.groupBy(
            F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("m"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("sum_v"),
            F.min("value").alias("min_v"),
            F.max("value").alias("max_v"),
        )
        .withColumn("avg_v", F.col("sum_v") / F.col("n"))
    )
    got = {(r.m, r.event_type): r for r in monthly_from_partials.collect()}
    exp = {(r.m, r.event_type): r for r in direct.collect()}
    assert set(got) == set(exp) and len(got) >= 2
    for k, g in got.items():
        e = exp[k]
        assert g.n == e.n
        assert g.min_v == e.min_v and g.max_v == e.max_v
        assert abs(g.sum_v - e.sum_v) < 1e-6 * max(abs(e.sum_v), 1)
        assert abs(g.avg_v - e.avg_v) < 1e-9 * max(abs(e.avg_v), 1)


def test_sorted_layout_clusters_row_groups(spark, tmp_path):
    """write_sorted_layout must produce near-disjoint per-file
    key ranges (that's what makes footer-stats skipping work), and a
    range predicate over the layout must reach the scan as a pushed
    filter so row-group pruning can act on it."""
    import glob

    import pyarrow.parquet as pq

    from axolotls_spark.io.sinks import write_sorted_layout
    from axolotls_spark.io.sources import load_table
    from axolotls_spark.plans.audit import audit

    orders = load_table(spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_by_date")
    write_sorted_layout(orders, path, ["o_orderdate"], n_files=4)

    files = sorted(glob.glob(path + "/*.parquet"))
    assert len(files) >= 3
    ranges = []
    for fp in files:
        md = pq.ParquetFile(fp).metadata
        cols = {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.row_group(0).num_columns)
        }
        ci = cols["o_orderdate"]
        mins = [md.row_group(g).column(ci).statistics.min for g in range(md.num_row_groups)]
        maxs = [md.row_group(g).column(ci).statistics.max for g in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # Adjacent files may touch at the boundary value but must not
    # properly overlap — that is the disjoint-clustering property.
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping file ranges: {(lo1, hi1)} vs {(lo2, hi2)}"

    scan = spark.read.parquet(path).filter("o_orderdate >= '1997-06-01'")
    f = audit(scan)
    assert any("o_orderdate" in p for p in f.pushed_filters)


def test_merge_upsert_semantics(spark):
    """MERGE: matched rows take update values (including explicit
    NULLs in non-key columns), unmatched targets survive, unmatched
    updates insert."""
    from axolotls_spark.io.sinks import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id BIGINT, name STRING, v DOUBLE",
    )
    updates = spark.createDataFrame(
        [(2, "B", 200.0), (4, "d", 40.0)],
        "id BIGINT, name STRING, v DOUBLE",
    )
    got = {
        r.id: (r.name, r.v)
        for r in merge_upsert(target, updates, ["id"]).collect()
    }
    assert got == {
        1: ("a", 10.0),
        2: ("B", 200.0),
        3: ("c", 30.0),
        4: ("d", 40.0),
    }


def test_write_audit_publish_gates_bad_data(spark, tmp_path):
    """WAP: valid data publishes atomically; failing expectations
    leave the target untouched and keep staging for inspection."""
    import os

    import pytest as _pytest

    from axolotls_spark.io.sinks import write_audit_publish

    good = spark.createDataFrame([(1, 5.0), (2, 6.0)], "id BIGINT, v DOUBLE")
    target = str(tmp_path / "t")
    rep = write_audit_publish(
        good, target, [("ids_positive", "id > 0"), ("v_nonnull", "v IS NOT NULL")]
    )
    assert rep["published"] and rep["rows"] == 2
    assert spark.read.parquet(target).count() == 2

    bad = spark.createDataFrame([(3, None)], "id BIGINT, v DOUBLE")
    with _pytest.raises(ValueError, match="v_nonnull"):
        write_audit_publish(
            bad, target, [("ids_positive", "id > 0"), ("v_nonnull", "v IS NOT NULL")]
        )
    # Target unchanged, staging kept.
    assert spark.read.parquet(target).count() == 2
    assert os.path.exists(target + ".__staging__")


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Schema evolution on read: two parquet batches with different
    column sets union under mergeSchema=true (missing columns null),
    and the widened scan still prunes to requested columns."""
    from axolotls_spark.plans.audit import audit

    p1 = load_table(spark, SF_DIR, "part").select("p_partkey", "p_name")
    p2 = load_table(spark, SF_DIR, "part").select(
        "p_partkey", "p_retailprice"
    )
    out = str(tmp_path / "evolving")
    p1.write.mode("overwrite").parquet(out + "/batch=1")
    p2.write.mode("overwrite").parquet(out + "/batch=2")
    back = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(back.columns) >= {"p_partkey", "p_name", "p_retailprice"}
    n = p1.count()
    assert back.count() == 2 * n
    # batch-1 rows have null retailprice, batch-2 rows null name.
    assert back.filter(F.col("p_retailprice").isNull()).count() == n
    assert back.filter(F.col("p_name").isNull()).count() == n
    # Column pruning still works on the merged schema.
    txt = audit(back.select("p_partkey")).text
    assert "p_name" not in txt.split("ReadSchema")[1][:120]


#: Every generated scale factor next to SF_DIR, and the benchmark's tables.
DATA_DIRS = [
    *(os.path.join(os.path.dirname(SF_DIR), sf)
      for sf in ("sf0.001", "sf0.01", "sf0.1")),
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "data"),
]


def _assert_declared_schemas_match(spark, sf_dir):
    for name in TABLES:
        inferred = spark.read.parquet(table_path(sf_dir, name)).schema
        assert load_table(spark, sf_dir, name).schema == inferred, name


@pytest.mark.parametrize("sf_dir", DATA_DIRS, ids=os.path.basename)
def test_declared_schemas_match_parquet(spark, sf_dir):
    """SCHEMAS is what parquet itself says the tables are, at every
    scale factor on disk: reading under it changes no column type."""
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    _assert_declared_schemas_match(spark, sf_dir)


def test_declared_schemas_match_synthesized_scale(spark, tmp_path):
    """tools/synth_scale.py's replicated corpus keeps the declared
    schemas, so scaling runs read it like the generated SFs."""
    repo = os.path.dirname(os.path.dirname(__file__))
    subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "synth_scale.py"),
         "2", SF_DIR, str(tmp_path)],
        check=True, capture_output=True,
    )
    _assert_declared_schemas_match(spark, str(tmp_path))


def test_load_table_starts_no_job(spark):
    """Reading under a declared schema is lazy: building a DataFrame
    over every table runs no schema-inference job.  Jobs are counted
    by a SparkContext job tag, which every job this thread submits
    carries; a session tag (``spark.addTag``) misses the inference
    job."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    tag = "test-load-table-jobs"

    def tagged_jobs() -> int:
        jsc.listenerBus().waitUntilEmpty()
        return len(jsc.statusTracker().getJobIdsForTag(tag))

    sc.addJobTag(tag)
    try:
        dfs = [load_table(spark, SF_DIR, name) for name in TABLES]
        assert tagged_jobs() == 0
        # The count is live: an action under the same tag is seen.
        dfs[0].count()
        assert tagged_jobs() >= 1
    finally:
        sc.removeJobTag(tag)


def test_nanos_events_fail_at_scan(spark, tmp_path):
    """An events file whose ts is TIMESTAMP(NANOS) does not match the
    declared microsecond TIMESTAMP_NTZ: the scan raises instead of
    returning rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pq.read_table(table_path(SF_DIR, "events"))
    i = t.schema.get_field_index("ts")
    t = t.set_column(i, "ts", t.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(t, table_path(str(tmp_path), "events"))
    assert pq.read_schema(table_path(str(tmp_path), "events")).field(
        "ts").type == pa.timestamp("ns")
    with pytest.raises(Exception, match="PARQUET_COLUMN_DATA_TYPE_MISMATCH"):
        load_table(spark, str(tmp_path), "events").collect()
