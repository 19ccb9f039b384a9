"""Structured Streaming over the ``events`` table.

The reference has no streaming concept at all (SURVEY §1.4); this is
the §2B extension surface: event-time windowed aggregation with a
watermark, session windows, and a custom stateful operator via
``applyInPandasWithState``.

Design: every transformation here is written against a *streaming*
DataFrame (``spark.readStream``), exercised in tests/driver runs with
``Trigger.AvailableNow`` over the finite parquet snapshot — the same
code runs unmodified against a live file/Kafka source on a cluster.
Batch/stream parity is structural: the window operators are the same
``F.window`` / ``F.session_window`` used by the batch temporal
queries, so the DuckDB oracle for the batch query doubles as the
oracle for the streaming run.

Scale notes (100 TB / continuous):

- Watermarks bound state: without ``withWatermark`` a windowed agg
  keeps every window ever seen; with it, state older than the delay
  is dropped. The finite-snapshot runs here use ``complete``/
  ``update`` output (memory sink) purely to observe final values.
- ``applyInPandasWithState`` state lives in the state store,
  partitioned by group key — per-key state must stay O(1); ours is a
  fixed-width tuple.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from axolotls_spark.io.sources import SCHEMAS


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of ``events`` with a proper event-time column.

    One file per micro-batch is the *snapshot* shape; a production
    deployment points the same code at a directory a producer appends
    to (or swaps in ``format("kafka")``) — downstream operators are
    source-agnostic.
    """
    # The file stream source lists a *directory*; pathGlobFilter
    # narrows it to the events file (other tables have other schemas),
    # read under the batch reader's declared schema (io/sources.py).
    raw = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # Watermarks require TIMESTAMP (not NTZ); the session timezone is
    # pinned UTC (session.py) so the NTZ→TIMESTAMP cast is lossless
    # and date_format renders identical strings to the batch path.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_to_memory(
    sdf: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Run a finite streaming query to completion into a memory sink
    and return the result table. AvailableNow consumes everything
    currently in the source, then stops — the streaming analogue of a
    batch action, and the standard incremental-backfill trigger."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sdf.sparkSession.table(name)


def hourly_event_counts(stream: DataFrame) -> DataFrame:
    """Tumbling 1-hour event-time window with a 2-hour watermark —
    the canonical late-data-tolerant streaming aggregation. Same
    operator as batch ``window_tumbling_hourly``."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_windows(stream: DataFrame, gap: str = "15 minutes") -> DataFrame:
    """Per-user session windows: events closer than ``gap`` merge.

    ``F.session_window`` is Spark's native dynamic-gap session
    operator — state is one open window per active user, closed and
    emitted once the watermark passes start+gap."""
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def dedup_within_watermark(
    stream: DataFrame, keys: list[str], delay: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps each key's fingerprint
    only until the watermark passes it, so state is O(keys per delay
    window) instead of O(all keys ever) — the only viable exact-dedup
    shape for an unbounded 100 TB/day stream. Emits the first
    occurrence of each key (append semantics)."""
    return stream.withWatermark("ts", delay).dropDuplicatesWithinWatermark(keys)


def attribution_join(
    clicks: DataFrame, purchases: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Watermarked stream-stream INNER join: attribute each purchase
    to every click by the same user in the preceding ``horizon``.

    The time-range condition (purchase_ts in [click_ts, click_ts +
    horizon]) plus watermarks on BOTH sides is what bounds join
    state: each side buffers only rows younger than watermark +
    horizon, so state is O(rate × horizon) — constant for a steady
    stream — instead of O(everything ever seen). Without the range
    condition Spark would keep both streams' full history forever;
    that unbounded shape is exactly what this operator exists to
    avoid at 100 TB/day.
    """
    c = (
        clicks.select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    p = (
        purchases.select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    cond = (
        (c.user_id == p.p_user_id)
        & (p.purchase_ts >= c.click_ts)
        & (p.purchase_ts <= c.click_ts + F.expr(f"INTERVAL {horizon}"))
    )
    return c.join(p, cond).select(
        "user_id", "click_id", "purchase_id", "purchase_value"
    )


def run_foreach_batch_upsert(
    sdf: DataFrame,
    target_path: str,
    partition_col: str,
    checkpoint: str,
) -> None:
    """Stream → batch-table bridge via ``foreachBatch``: each
    micro-batch is written with DYNAMIC partition overwrite, so a
    batch replaces exactly the partitions it touches.

    Exactly-once without a transactional table format: the write is
    *idempotent per partition* (replaying a failed micro-batch
    rewrites the same partitions with the same rows), and the
    checkpoint records which source offsets each batch covered — the
    standard recovery contract when the sink is plain parquet. This
    is how a continuous ingest keeps a partitioned warehouse table
    current at 100 TB: state stays in the checkpoint, the table needs
    no compaction-blocking locks, and readers see whole partitions
    flip atomically (directory swap).
    """
    from axolotls_spark.io.sinks import upsert_partitions

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_partitions(batch_df, target_path, [partition_col])

    q = (
        sdf.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


# --- custom stateful operator: per-user running aggregate ----------------

_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("max_ts_us", LongType()),
    ]
)

USER_STATE_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("last_seen", StringType()),
    ]
)


def _update_user_state(
    key, pdf_iter: Iterator, state: GroupState
) -> Iterator:
    """Arbitrary-stateful per-key update: fixed-width running
    (count, sum, max event time) tuple per user."""
    import pandas as pd

    n, total, max_us = state.get() if state.exists else (0, 0.0, 0)
    for pdf in pdf_iter:
        n += len(pdf)
        total += float(pdf["value"].sum())
        ts_us = (pdf["ts"].astype("int64") // 1000).max()
        max_us = max(max_us, int(ts_us))
    state.update((n, total, max_us))
    last_seen = pd.Timestamp(max_us, unit="us").strftime("%Y-%m-%d %H:%M:%S")
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "total_value": [total],
            "last_seen": [last_seen],
        }
    )


def user_state_counts(stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    emits the running (count, sum(value), last event time) per user
    on every micro-batch that touches the user. This is the shape of
    any bespoke incremental aggregate Spark lacks natively."""
    return (
        stream.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_state,
            outputStructType=USER_STATE_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


class _UserAggProcessor:
    """Arbitrary-state v2 processor (transformWithStateInPandas):
    running per-user count / sum / last-seen in a ValueState cell.

    State-store shape is identical to user_state_counts (fixed-width
    tuple per key), but on the v2 API: typed state handles
    (value/list/map states, timers, TTL) instead of a single opaque
    GroupState — Spark 4's replacement surface for custom stateful
    operators. Import-light so module import works on clusters
    without the v2 API; failures surface at run time, not import.
    """

    def init(self, handle) -> None:
        self._agg = handle.getValueState(
            "agg", "n_events BIGINT, total_value DOUBLE, last_seen_us BIGINT"
        )

    def handleInputRows(self, key, rows, timer_values):
        import pandas as pd

        n, tot, last = 0, 0.0, 0
        if self._agg.exists():
            n, tot, last = self._agg.get()
        for pdf in rows:
            n += len(pdf)
            tot += float(pdf["value"].sum())
            # pandas .value is ns since epoch (UTC); store micros.
            last = max(last, int(pd.Timestamp(pdf["ts"].max()).value // 1000))
        self._agg.update((n, tot, last))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [tot],
                "last_seen_us": [last],
            }
        )

    def handleExpiredTimer(self, key, timer_values, expired_timer_info):
        return iter(())

    def handleInitialState(self, key, initial_state, timer_values) -> None:
        pass

    def close(self) -> None:
        pass


def user_state_counts_v2(stream: DataFrame) -> DataFrame:
    """user_state_counts on the Spark 4 arbitrary-state v2 API."""
    from pyspark.sql.streaming import StatefulProcessor

    # Bind the duck-typed processor into the ABC at call time.
    proc = type(
        "UserAggProcessor", (_UserAggProcessor, StatefulProcessor), {}
    )()
    out = stream.select("user_id", "ts", "value").groupBy(
        "user_id"
    ).transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=(
            "user_id BIGINT, n_events BIGINT,"
            " total_value DOUBLE, last_seen_us BIGINT"
        ),
        outputMode="Update",
        timeMode="None",
    )
    return out.select(
        "user_id",
        "n_events",
        "total_value",
        F.date_format(
            F.timestamp_micros(F.col("last_seen_us")), "yyyy-MM-dd HH:mm:ss"
        ).alias("last_seen"),
    )
