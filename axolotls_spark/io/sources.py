"""Parquet sources for the driver's star schema + extension tables.

The reference has **no file-format I/O at all** — its only ingress is
zero-copy Arrow interop (``string_column.py:89-102``,
``numeric_column.py:138-159``). The rebuild is Parquet-first
(columnar on disk == the reference's columnar-in-memory design
point), read through Spark's vectorized reader so predicate pushdown
and column pruning reach the scan.

The ten tables have fixed schemas (TESTDATA.md), declared once in
:data:`SCHEMAS`, and every read declares its schema: inferring one
from the parquet footers costs a Spark job per read, before the
query's own action.

At 100 TB these readers are the contract: callers must ``select``
only needed columns and ``filter`` early so Catalyst pushes both into
the scan (verify with ``.explain`` → ``PushedFilters``/``ReadSchema``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Table -> DDL schema, columns in file order.  Naive parquet
#: timestamps (``isAdjustedToUTC=false``, microseconds) read as
#: ``TIMESTAMP_NTZ``; a file whose column has another physical type
#: fails at the scan instead of being reinterpreted.
SCHEMAS: dict[str, str] = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT,"
        " c_acctbal DOUBLE, c_mktsegment STRING"
    ),
    "supplier": (
        "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
    ),
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING,"
        " p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,"
        " o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ,"
        " o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT,"
        " l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE,"
        " l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING,"
        " l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT,"
        " event_type STRING, value DOUBLE, props STRING"
    ),
    "documents": (
        "doc_id BIGINT, text STRING, lang STRING, source STRING,"
        " n_chars BIGINT"
    ),
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

TABLES: tuple[str, ...] = tuple(SCHEMAS)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table under its declared schema. Lazy — no job runs
    until an action, schema inference included."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # DELIBERATE session mutation (documented contract, ADVICE r1):
    # every registered query's timestamp rendering assumes UTC to
    # match the DuckDB oracle's naive-timestamp reading, and the
    # correctness driver builds its own session that our factory
    # (session.py, which pins UTC) never sees.  Guarded so a session
    # already on UTC — ours always is — skips the conf RPC; a caller
    # who needs a different zone must render timestamps explicitly
    # rather than rely on session-zone formatting.
    if spark.conf.get("spark.sql.session.timeZone", "") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.schema(SCHEMAS[name]).parquet(table_path(sf_dir, name))


def spread_for_cpu(df: DataFrame, key: str) -> DataFrame:
    """Repartition a *small-file* input so CPU-dense per-row work
    (md5 per shingle, regex per token, 64-dim dot products) uses
    every core.

    Parquet scan parallelism is bytes-driven (maxPartitionBytes), so
    a kilobytes-per-row table lands in ONE scan partition and a
    downstream explode+hash runs single-threaded — a 10-30× local
    slowdown invisible at 100 TB (where file count provides the
    parallelism) but dominant at bench scale. The guard is a no-op
    when the scan is already parallel enough, so the extra shuffle
    never appears on big inputs.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(target // 2, 2):
        return df
    return df.repartition(target, key)


def read_csv(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """CSV scan with explicit schema (inference costs a full extra
    pass over the data — never at 100 TB)."""
    r = spark.read.option("header", "true")
    r = r.schema(schema) if schema else r.option("inferSchema", "false")
    return r.csv(path)


def read_json(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """JSON-lines scan; same explicit-schema rule as CSV."""
    r = spark.read
    if schema:
        r = r.schema(schema)
    return r.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — Spark's built-in vectorized ORC reader; gets the
    same pushdown/pruning treatment as parquet (PushedFilters +
    ReadSchema in the scan node)."""
    return spark.read.orc(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() access."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None
) -> DataFrame:
    """Ingest raw files (images/audio/video payloads) as binary rows
    via Spark's built-in binaryFile source: (path, modificationTime,
    length, content). The multimodal ingestion half — downstream
    decode/feature ops (multimodal/ops.py) consume the ``content``
    column unchanged.

    Scale notes: the source parallelizes by file; pair it with
    compact_small_files-style consolidation upstream (millions of
    tiny files throttle on listing + task overhead, the classic
    multimodal-corpus failure). ``pathGlobFilter`` prunes at listing
    time — before any read.
    """
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)
