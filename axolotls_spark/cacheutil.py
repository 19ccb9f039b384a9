"""The one cache release point.

Code may persist() a relation that its lazy result re-reads: the
returned DataFrame is only materialized by the caller, so unpersisting
inside the function would recompute the expensive upstream once per
consumer.  The session owner (bench harness, parity runner, tests)
calls :func:`release_caches` after materializing results, so no
persisted relation outlives the query that made it.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def release_caches() -> None:
    """Clear the session cache: every persisted relation of the running
    application."""
    SparkSession.active().catalog.clearCache()
