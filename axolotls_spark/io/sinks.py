"""Sinks — partitioned / bucketed / format-converting writers.

The reference has no sinks at all (Arrow in-memory export only,
``numeric_column.py:138-159``); these are the Spark-first output
surfaces a 100 TB pipeline needs:

- ``write_parquet(partition_by=…)`` — hive-style partition layout;
  downstream readers get partition *pruning* (a date/lang filter
  skips whole directories before any I/O).
- ``write_bucketed`` — pre-shuffled, bucket-sorted table layout:
  joins/aggregations on the bucket key skip their exchange entirely
  (the classic fact-table co-location strategy; verify with
  plans.audit → n_exchanges == 0 for a bucketed equi-join).
- ``write_csv`` / ``write_json`` — interchange formats, compressed.

All writers go through the DataFrameWriter so Catalyst plans the
write (AQE coalesces output partitions — no tiny-files explosion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (and optionally sorted) managed table — the on-disk
    co-partitioning that turns repeated key-joins shuffle-free."""
    # A kilobytes-per-row input scans as ONE partition, making the
    # bucketed write single-threaded (one task hash-splits and sorts
    # every bucket — measured 4.3 cpu_s serialized).  Repartitioning
    # on the bucket key into n_buckets tasks writes each bucket in
    # parallel as exactly one sorted file (repartition and bucketBy
    # share Murmur3 hash partitioning, so task i holds bucket i) —
    # the guide §6 hash write-distribution mode.  Skipped when the
    # input already has enough partitions: collapsing a big scan to
    # n_buckets tasks would REDUCE write parallelism.
    if df.rdd.getNumPartitions() < n_buckets:
        df = df.repartition(n_buckets, *bucket_by)
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        w = w.sortBy(*sort_by)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def replace_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int,
    sort_by: list[str] | None = None,
) -> None:
    """Idempotent bucketed-table replacement that survives SESSION
    turnover: a managed table written by a previous session leaves its
    warehouse directory behind while the new session's in-memory
    catalog has no entry for it, so ``mode("overwrite")`` fails with
    LOCATION_ALREADY_EXISTS.  Drop the catalog entry if present, then
    remove any orphaned location via the Hadoop FS API (driver-side
    metadata ops only), then write.

    CONTRACT: ``table`` must be a simple unqualified identifier in the
    session's default database.  The fs.delete of a derived path is
    destructive, so anything else (``db.tbl`` qualifiers, quoting,
    path separators) is rejected up front rather than risking deleting
    a mis-derived location.  When the table still exists in the
    catalog, its location is resolved FROM the catalog (authoritative
    even if warehouse.dir changed between sessions); the
    warehouse-derived fallback only covers the orphaned-directory
    case, where no catalog entry exists to consult."""
    import re

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
        raise ValueError(
            f"replace_bucketed_table requires a simple unqualified "
            f"table identifier in the default database, got {table!r}"
        )
    spark = df.sparkSession
    jvm = spark._jvm
    loc = None
    if spark.catalog.tableExists(table):
        detail = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        for row in detail:
            if row.col_name == "Location":
                loc = jvm.org.apache.hadoop.fs.Path(row.data_type)
                break
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if loc is None:
        wh = spark.conf.get("spark.sql.warehouse.dir")
        loc = jvm.org.apache.hadoop.fs.Path(wh + "/" + table.lower())
    fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(loc):
        fs.delete(loc, True)
    write_bucketed(df, table, bucket_by, n_buckets, sort_by=sort_by)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").option(
        "compression", "gzip"
    ).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("compression", "gzip").json(path)


def write_orc(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    """ORC writer — columnar alternative when the downstream stack is
    Hive/Presto-flavored; same partition-pruning layout as parquet."""
    w = df.write.mode(mode).option("compression", compression)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def compact_small_files(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-files compaction: rewrite a parquet directory into
    ~``target_file_bytes`` files and return the new file count.

    The operational hazard this exists for: a streaming/incremental
    writer lands thousands of KB-sized files per partition; at 100 TB
    the NameNode/listing cost and per-file open overhead dominate
    scan time. Compaction sizes output by the DATA (sum of file
    sizes / target), not by a guessed partition count, and writes via
    a single repartition so every output file is ~equal.
    """
    import math

    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jvm_path.getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    total = sum(
        f.getLen()
        for f in fs.listStatus(jvm_path)
        if f.getPath().getName().endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    fs.delete(jvm_path, True)
    fs.rename(spark._jvm.org.apache.hadoop.fs.Path(tmp), jvm_path)
    return n_files


def upsert_partitions(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """Incremental partition-level upsert via DYNAMIC partition
    overwrite: only the partitions present in ``df`` are replaced;
    every other partition of the target is left untouched.

    This is the idempotent incremental-load primitive of a 100 TB
    pipeline — a daily/hourly batch rewrites exactly its own
    date-partitions, so re-running a failed batch is safe (same input
    → same partitions → same bytes), and a backfill of one day never
    rewrites the other 4 years of data. (With STATIC overwrite, the
    default, ``mode=overwrite`` would truncate the whole table.)
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_sorted_layout(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write globally clustered parquet: range-partition on the sort
    key, then sort within each partition.

    This is the data-layout half of scan pruning (the z-order/
    liquid-clustering idea in its 1-D form): with rows clustered,
    every file and row group covers a narrow, near-disjoint min/max
    range of the key, so a pushed-down predicate skips whole files
    (footer stats) and whole row groups instead of post-filtering a
    full scan. At 100 TB the same query against an unclustered copy
    reads everything; against this layout it reads the few files
    whose range intersects the predicate.
    """
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .option("compression", "zstd")
        .parquet(path)
    )


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: list[str],
) -> DataFrame:
    """MERGE INTO semantics as a pure relational transform: rows
    matched by ``keys`` take the update's values, unmatched target
    rows pass through, unmatched updates insert. Returns the merged
    relation (write it with write_parquet / upsert_partitions).

    This is the format-agnostic spelling of Delta/Iceberg MERGE for
    plain parquet: one full-outer join on the keys (the algorithm's
    single unavoidable shuffle — both sides hashed once), then a
    per-column ``coalesce(update, target)``. At 100 TB the join
    benefits from both sides sharing a bucketed layout on ``keys``
    (write_bucketed) which makes even this shuffle-free.
    """
    from pyspark.sql import functions as F

    # Literal presence marker: update-side rows are identified by a
    # constant, not by inspecting key columns — a NULL key value in
    # the updates would otherwise misclassify the row as an
    # unmatched target row and silently drop its non-key values.
    u = updates.select(
        F.lit(True).alias("__u_present"),
        *[F.col(c).alias(f"__u_{c}") for c in updates.columns],
    )
    cond = None
    for k in keys:
        c = target[k] == u[f"__u_{k}"]
        cond = c if cond is None else cond & c
    joined = target.join(u, cond, "full_outer")
    key_present = u["__u_present"].isNotNull()
    out_cols = []
    for c in target.columns:
        if c in keys:
            out_cols.append(
                F.when(key_present, u[f"__u_{c}"]).otherwise(target[c]).alias(c)
            )
        elif f"__u_{c}" in u.columns:
            # matched row -> update wins; insert -> update side;
            # unmatched target -> target side.
            out_cols.append(
                F.when(key_present, u[f"__u_{c}"])
                .otherwise(target[c])
                .alias(c)
            )
        else:
            out_cols.append(target[c])
    return joined.select(*out_cols)


def write_audit_publish(
    df: DataFrame,
    path: str,
    checks: "list[tuple[str, str]]",
) -> dict:
    """Write-Audit-Publish: stage the output next to the target, run
    expectation checks against the STAGED files, and only then move
    them into place — readers never observe a half-written or
    invalid table. Returns the audit report.

    ``checks``: (name, SQL boolean expression over the staged data
    aggregated with ``bool_and``) — e.g. ("no_null_keys",
    "l_orderkey IS NOT NULL"). Any failure leaves the target
    untouched and the staging directory in place for inspection
    (raises ValueError with the failing checks).

    At 100 TB the same protocol runs against a table format's atomic
    swap (Iceberg/Delta commit, Hive partition rename); the local
    directory rename here is the same idea at filesystem
    granularity. The audit pass reads the staged parquet once and
    evaluates every expectation in a single aggregate.
    """
    import os
    import shutil

    from pyspark.sql import functions as F

    staging = path.rstrip("/") + ".__staging__"
    if os.path.exists(staging):
        shutil.rmtree(staging)
    df.write.mode("overwrite").option("compression", "zstd").parquet(staging)

    # The staged files carry df's schema; declaring it skips the
    # footer-inference job, and the checks still scan the files.
    staged = df.sparkSession.read.schema(df.schema).parquet(staging)
    agg = staged.agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.expr(f"bool_and({expr})").alias(name)
            for name, expr in checks
        ],
    ).collect()[0]
    failed = [name for name, _ in checks if not agg[name]]
    report = {
        "rows": agg["__n"],
        "passed": {name: bool(agg[name]) for name, _ in checks},
        "published": not failed,
    }
    if failed:
        raise ValueError(
            f"write_audit_publish: checks failed {failed}; staged data kept"
            f" at {staging} for inspection"
        )
    # Publish with the shortest possible unreadable window: rename
    # the live table aside (one atomic rename), swap staging in (one
    # atomic rename), then delete the old copy at leisure.  A
    # rmtree-then-rename would leave the path missing for the whole
    # deletion; two renames bound the gap to microseconds.  (A real
    # table format makes this a metadata-only atomic commit.)
    old = path.rstrip("/") + ".__old__"
    if os.path.exists(old):
        shutil.rmtree(old)
    had_prev = os.path.exists(path)
    if had_prev:
        os.rename(path, old)
    os.rename(staging, path)
    if had_prev:
        shutil.rmtree(old)
    return report
