"""Measure streaming STATE SIZE vs watermark horizon (VERDICT r7
item #7): the streaming family is parity-certified for values, but
the 100 TB claim for stateful streaming is about STATE — it must
grow as rate x watermark-horizon, never as corpus size.

Method: the sf events table is replayed in EVENT-TIME ORDER as a
file stream (N_CHUNKS parquet files, maxFilesPerTrigger=1, so each
micro-batch is one contiguous time slice and the watermark advances
batch by batch, exactly like a live ingest).  The job under test is
the registered streaming dedup operator
(streaming/jobs.dedup_within_watermark —
``dropDuplicatesWithinWatermark`` on event_id) at several watermark
delays; per delay we record the PEAK and FINAL state rows/bytes from
the query's own progress metrics (stateOperators), plus total input
and emitted rows.

Expected law: peak_state_rows ~= rate x (delay + one chunk span)
— the chunk span term is reporting granularity (eviction happens at
batch end, so a batch's new keys are all resident before the
watermark passes them).  A reading proportional to TOTAL input rows
instead would be the unbounded-state failure this tool exists to
catch.

Usage: python tools/streamscale.py [events_sf_dir] [out_json]
       (defaults: /root/repo/.scale/sf1, STREAMSTATE.json)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from axolotls_spark.streaming import jobs as S  # noqa: E402
from tools.measure import cores, session  # noqa: E402

N_CHUNKS = 60  # 30 days of events -> 12h per micro-batch
DELAYS = ["6 hours", "24 hours", "72 hours"]


def prepare_chunks(
    spark, sf_dir: str, work: str, n_chunks: int = N_CHUNKS
) -> int:
    """Split the events table into ``n_chunks`` event-time-ordered
    parquet files named in replay order (the file stream source
    lists paths in order, and modification times are sequential)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.count()
    per = -(-n // n_chunks)
    from pyspark.sql.window import Window

    ranked = ev.withColumn(
        "rn",
        F.row_number().over(Window.orderBy("ts", "event_id")) - 1,
    ).withColumn("chunk", (F.col("rn") / per).cast("int"))
    # One driver loop over chunk ids, not rows: each chunk is written
    # as its own single-file directory so mod-times increase in
    # event-time order.  (Measurement harness, not a production path:
    # a real deployment's ingest IS already time-ordered files.)
    for c in range(n_chunks):
        ranked.filter(F.col("chunk") == c).drop("rn", "chunk").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{work}/in/chunk={c:03d}")
    return n


def measure(
    spark, work: str, delay: str, n_chunks: int = N_CHUNKS,
    job: str = "dedup",
) -> dict:
    """Replay the prepared chunks through one stateful job
    (``dedup`` = dropDuplicatesWithinWatermark on event_id;
    ``sessions`` = watermarked 15-min-gap session-window aggregate,
    append mode — state is the OPEN sessions the watermark has not
    yet closed) and read state metrics from the query progress."""
    schema = spark.read.parquet(f"{work}/in/chunk=000").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{work}/in/chunk=*")
        # Watermarks require TIMESTAMP, parquet round-trips NTZ; the
        # session tz is pinned UTC so the cast is lossless (same as
        # streaming/jobs.read_events_stream).
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    if job == "dedup":
        out_df = S.dedup_within_watermark(stream, ["event_id"], delay=delay)
    else:
        out_df = (
            stream.withWatermark("ts", delay)
            .groupBy(
                "user_id", F.session_window("ts", "15 minutes").alias("w")
            )
            .agg(F.count(F.lit(1)).alias("n_events"))
        )
    ckpt = f"{work}/ckpt-{job}-{delay.replace(' ', '')}"
    q = (
        out_df.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    peak_rows = peak_bytes = final_rows = out_rows = in_rows = 0
    for p in q.recentProgress:
        for so in p.get("stateOperators", []):
            peak_rows = max(peak_rows, so.get("numRowsTotal", 0))
            peak_bytes = max(peak_bytes, so.get("memoryUsedBytes", 0))
            final_rows = so.get("numRowsTotal", final_rows)
        out_rows += p.get("sink", {}).get("numOutputRows", 0) or 0
        in_rows += p.get("numInputRows", 0)
    q.stop()
    return {
        "job": job,
        "delay": delay,
        "n_batches": n_chunks,
        "input_rows": in_rows,
        "output_rows": out_rows,
        "peak_state_rows": peak_rows,
        "final_state_rows": final_rows,
        "peak_state_bytes": peak_bytes,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scale/sf1"
    out = sys.argv[2] if len(sys.argv) > 2 else "STREAMSTATE.json"
    spark = session("streamscale")
    work = tempfile.mkdtemp(prefix="streamscale-")
    try:
        n = prepare_chunks(spark, sf_dir, work)
        span_days = 30.0  # events table calendar span (TESTDATA.md)
        rate_per_hour = n / (span_days * 24)
        rows = [
            measure(spark, work, d, job=j)
            for j in ("dedup", "sessions")
            for d in DELAYS
        ]
        result = {
            "cpus": cores(),
            "sf_dir": sf_dir,
            "total_events": n,
            "rate_per_hour": round(rate_per_hour, 1),
            "chunk_span_hours": round(span_days * 24 / N_CHUNKS, 2),
            "runs": rows,
        }
        with open(out, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
        print(json.dumps(result))
        print("| job | delay | peak state rows | rate x (delay + chunk) "
              "| peak/expected | final rows | state MB |")
        print("|---|---|---|---|---|---|---|")
        chunk_h = span_days * 24 / N_CHUNKS
        for r in rows:
            h = float(r["delay"].split()[0])
            exp = rate_per_hour * (h + chunk_h)
            print(f"| {r['job']} | {r['delay']} | {r['peak_state_rows']} "
                  f"| {exp:.0f} | {r['peak_state_rows'] / exp:.2f} "
                  f"| {r['final_state_rows']} "
                  f"| {r['peak_state_bytes'] / 1e6:.1f} |")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
