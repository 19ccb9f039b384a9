"""Workload definitions: the ops of each closed loop and their output checks.

An op is one unit the closed loop times.  A query op builds a registry
query (``REGISTRY[name].fn``) and materializes it into Spark's ``noop``
sink; an ingest op is one ``io.sinks`` / ``streaming.jobs`` call.  The
seed only permutes the query order of a pass and picks the update slice
of ``ingest_write``; the tables under ``perfbench/data`` are fixed.
"""

from __future__ import annotations

import dataclasses
import importlib.util
import os
import random
from dataclasses import dataclass
from typing import Callable

# The ``queries`` workload runs four groups of registry queries in one
# closed loop, shuffled together in every pass.  Between them they call
# every operator module the traced run reports.
#
# Relational and warehouse queries: short ops where per-op fixed costs
# (schema-inference jobs in load_table, planning, job scheduling) dominate.
STAR_SQL = (
    "q1_pricing_summary",
    "cdc_apply_latest",
)
# Dedup, similarity, text and multimodal queries: executor work (shingle
# hashing, explode, shuffle, a pandas UDF in Python workers) dominates.
LLM_TEXT = (
    "minhash_near_dup_pairs",   # operators.dedup
    "cosine_topk",              # operators.similarity
    "nucleus_vocab_size",       # operators.prefix
    "token_stats_bpe",          # operators.text_analysis
    "multimodal_decode",        # multimodal.ops
)
# Iterative fits that run one small job per step; two of them persist
# their input through cacheutil.
ITERATIVE = (
    "kmeans_clusters",          # operators.clustering
    "pagerank_trade_graph",     # operators.graph
    "pca_project_embeddings",   # operators.pca
)
# Entity resolution and fuzzy joins over blocked candidate pairs.
ENTITY = (
    "er_best_match",            # operators.entity
    "fuzzy_join_doc_titles",    # operators.fuzzy
)

QUERIES = STAR_SQL + LLM_TEXT + ITERATIVE + ENTITY
WORKLOADS = ("queries", "ingest_write")
# Seconds of one warm pass on the 4-core reference box.  A run times
# round(--seconds / this) passes, at least one, so that every run of a
# workload times the same number of ops.
NOMINAL_PASS_S = {"queries": 13.0, "ingest_write": 6.0}
# Files of the small-file write that compact_small_files then compacts.
SMALL_FILES = 16


@dataclass
class Op:
    """One timed unit of a pass.

    ``run`` does the op's work and returns the DataFrame it
    materialized (query ops) or None.  ``collect``, for query ops, does
    the same work but collects the result for the output check instead
    of writing it to the ``noop`` sink.  ``sources`` are the tables the
    op reads and ``target`` the directory it writes, for the stored-bytes
    accounting of the traced run.
    """

    name: str
    run: Callable[[], object]
    sources: tuple[str, ...] = ()
    target: str | None = None
    collect: Callable[[], object] | None = None


def query_ops(names, spark, sf_dir, span, results: dict) -> list[Op]:
    """One op per registry query; ``collect`` stores the query's Arrow
    result in ``results``."""
    from axolotls_spark.queries import REGISTRY

    def make(name):
        fn = REGISTRY[name].fn

        def build():
            with span("registry.build"):
                return fn(spark, sf_dir)

        def run():
            df = build()
            with span("spark.action"):
                df.write.format("noop").mode("overwrite").save()
            return df

        def collect():
            df = build()
            with span("spark.action"):
                results[name] = df.toArrow()
            return df

        return Op(name, run, collect=collect)

    return [make(n) for n in names]


def _load_parity():
    """tools/parity.py by path: ``tools`` is not a package."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_parity", os.path.join(root, "tools", "parity.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Collected:
    """Stands in for a query's DataFrame in ``parity.compare``."""

    def __init__(self, table):
        self.table = table

    def toArrow(self):
        return self.table


def check_queries(names, sf_dir, results: dict) -> list[tuple[str, bool, str]]:
    """Compare every query's collected result with its DuckDB oracle
    through tools/parity.py's ``compare``, which is given the collected
    result in place of a fresh run of the query."""
    import duckdb

    from axolotls_spark.io.sources import TABLES, table_path
    from axolotls_spark.queries import REGISTRY

    parity = _load_parity()
    parity.REGISTRY = {
        n: dataclasses.replace(
            REGISTRY[n], fn=lambda _spark, _sf, t=results[n]: _Collected(t)
        )
        for n in names if n in results
    }
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{table_path(sf_dir, t)}')"
            )
        out = []
        for name in names:
            if name not in results:
                continue  # the op raised, which is counted already
            try:
                ok, msg = parity.compare(name, None, con, sf_dir)
            except Exception as e:  # noqa: BLE001 - any failure is a failed op
                ok, msg = False, f"{type(e).__name__}: {e}"
            out.append((name, ok, msg))
        return out
    finally:
        con.close()


class Ingest:
    """One ``ingest_write`` pass: partitioned write, partition upsert,
    pruned read-back, merge, sorted layout, bucketed table, small-file
    compaction, write-audit-publish and a foreachBatch stream upsert.

    The seed picks the upserted return flag and the slice of orders the
    merge updates.  Every pass rewrites the same targets, so each pass
    does the same work; the stream uses a fresh checkpoint per pass.
    """

    FLAGS = ("A", "N", "R")

    def __init__(self, spark, sf_dir: str, out_dir: str, seed: int):
        self.spark, self.sf_dir, self.out = spark, sf_dir, out_dir
        rng = random.Random(seed)
        self.flag = rng.choice(self.FLAGS)
        self.slice = rng.randrange(10)
        self.streams = 0
        self.audit: dict = {}
        self.readback: list = []

    def path(self, name: str) -> str:
        return os.path.join(self.out, name)

    def ops(self, span) -> list[Op]:
        from pyspark.sql import functions as F

        from axolotls_spark.io import sinks, sources
        from axolotls_spark.streaming import jobs

        spark, sf = self.spark, self.sf_dir

        # Module attributes are looked up at call time, so the traced
        # run's wrappers see these calls.
        def load_table(name):
            return sources.load_table(spark, sf, name)

        def write_partitioned():
            sinks.write_parquet(
                load_table("lineitem"), self.path("li"),
                partition_by=["l_returnflag"],
            )

        def upsert_flag():
            li = load_table("lineitem")
            patch = li.where(F.col("l_returnflag") == self.flag).withColumn(
                "l_quantity", F.col("l_quantity") + F.lit(1)
            )
            sinks.upsert_partitions(patch, self.path("li"), ["l_returnflag"])

        def pruned_readback():
            rows = (
                spark.read.parquet(self.path("li"))
                .where(F.col("l_returnflag") == self.flag)
                .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
                .collect()
            )
            self.readback = [tuple(r) for r in rows]

        def merge_orders():
            orders = load_table("orders")
            updates = orders.where(
                F.col("o_orderkey") % 10 == self.slice
            ).withColumn("o_totalprice", F.col("o_totalprice") * 2)
            sinks.write_parquet(
                sinks.merge_upsert(orders, updates, ["o_orderkey"]),
                self.path("orders_merged"),
            )

        def sorted_layout():
            sinks.write_sorted_layout(
                load_table("lineitem"), self.path("li_sorted"),
                ["l_shipdate"],
            )

        def bucketed():
            sinks.replace_bucketed_table(
                load_table("lineitem"), "perfbench_li_bucketed",
                ["l_orderkey"], 8,
            )

        def compact():
            load_table("lineitem").repartition(SMALL_FILES).write.mode(
                "overwrite"
            ).parquet(self.path("li_small"))
            sinks.compact_small_files(spark, self.path("li_small"))

        def audit_publish():
            self.audit = sinks.write_audit_publish(
                load_table("orders"), self.path("orders_audited"),
                [("key_not_null", "o_orderkey IS NOT NULL"),
                 ("price_positive", "o_totalprice > 0")],
            )

        def stream_upsert():
            self.streams += 1
            stream = jobs.read_events_stream(spark, sf).withColumn(
                "event_date", F.to_date("ts")
            )
            jobs.run_foreach_batch_upsert(
                stream, self.path("events_daily"), "event_date",
                self.path(f"checkpoint_{self.streams}"),
            )

        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        return [
            Op("write_parquet", write_partitioned, ("lineitem",), self.path("li")),
            Op("upsert_partitions", upsert_flag, ("lineitem",), self.path("li")),
            Op("pruned_readback", pruned_readback),
            Op("merge_upsert", merge_orders, ("orders",),
               self.path("orders_merged")),
            Op("write_sorted_layout", sorted_layout, ("lineitem",),
               self.path("li_sorted")),
            Op("replace_bucketed_table", bucketed, ("lineitem",),
               os.path.join(wh, "perfbench_li_bucketed")),
            Op("compact_small_files", compact, ("lineitem",),
               self.path("li_small")),
            Op("write_audit_publish", audit_publish, ("orders",),
               self.path("orders_audited")),
            Op("run_foreach_batch_upsert", stream_upsert, ("events",),
               self.path("events_daily")),
        ]

    def check(self) -> list[tuple[str, bool, str]]:
        """Read-back invariants of the pass just run, against DuckDB
        counts of the source tables."""
        import duckdb
        from pyspark.sql import functions as F

        from axolotls_spark.io.sources import table_path

        def one(sql: str):
            return duckdb.sql(sql).fetchone()

        li = table_path(self.sf_dir, "lineitem")
        orders = table_path(self.sf_dir, "orders")
        events = table_path(self.sf_dir, "events")
        n_flag, q_flag = one(
            f"SELECT count(*), sum(l_quantity) + count(*) FROM '{li}' "
            f"WHERE l_returnflag = '{self.flag}'"
        )
        n_li = one(f"SELECT count(*) FROM '{li}'")[0]
        n_orders = one(f"SELECT count(*) FROM '{orders}'")[0]
        n_events = one(f"SELECT count(*) FROM '{events}'")[0]
        spark = self.spark
        got_flag = self.readback[0] if self.readback else None
        merged = spark.read.parquet(self.path("orders_merged"))
        n_merged, merged_sum = merged.agg(
            F.count(F.lit(1)), F.sum("o_totalprice")
        ).collect()[0]
        # The merge doubles the price of the seed's slice of orders.
        want_sum = one(
            f"SELECT sum(CASE WHEN o_orderkey % 10 = {self.slice} "
            f"THEN 2 * o_totalprice ELSE o_totalprice END) FROM '{orders}'"
        )[0]
        n_bucketed = spark.table("perfbench_li_bucketed").count()
        n_sorted = spark.read.parquet(self.path("li_sorted")).count()
        n_compact = spark.read.parquet(self.path("li_small")).count()
        n_stream = spark.read.parquet(self.path("events_daily")).count()
        return [
            ("upsert_partitions", got_flag is not None
             and got_flag[0] == n_flag and float(got_flag[1]) == float(q_flag),
             f"flag {self.flag}: got {got_flag}, want {(n_flag, q_flag)}"),
            ("merge_upsert", n_merged == n_orders
             and abs(merged_sum - want_sum) <= 1e-9 * abs(want_sum),
             f"rows {n_merged}/{n_orders}, sum {merged_sum}/{want_sum}"),
            ("replace_bucketed_table", n_bucketed == n_li,
             f"rows {n_bucketed}/{n_li}"),
            ("write_sorted_layout", n_sorted == n_li, f"rows {n_sorted}/{n_li}"),
            ("compact_small_files", n_compact == n_li,
             f"rows {n_compact}/{n_li}"),
            ("write_audit_publish", self.audit.get("rows") == n_orders
             and self.audit.get("published") is True, f"report {self.audit}"),
            ("run_foreach_batch_upsert", n_stream == n_events,
             f"rows {n_stream}/{n_events}"),
        ]
