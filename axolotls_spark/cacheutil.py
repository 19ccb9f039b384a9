"""The one materialization rule and the one cache release point.

Code may persist() a relation that its lazy result re-reads: the
returned DataFrame is only materialized by the caller, so unpersisting
inside the function would recompute the expensive upstream once per
consumer.  A relation that several consumers fan out from, or that a
driver loop re-reads, goes through :func:`materialize`.  The session
owner (bench harness, parity runner, tests) calls
:func:`release_caches` after materializing results, so no persisted
relation outlives the query that made it.  An eager
``localCheckpoint`` is only for a convergence round that must cut its
lineage; ``release_caches`` does not free those blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def materialize(df: DataFrame) -> DataFrame:
    """``df`` persisted and counted once, so its consumers read one
    cache.

    The count builds every partition of the cache and reads back only
    row counts.

    The rule:

    - a relation with several consumers is materialized once, before
      they fan out: a lazy persist is built by whichever consumer's job
      reaches it first, and consumers in concurrent jobs or in one
      self-join may each build it (r8 §16);
    - :func:`release_caches` frees it, like every other persist;
    - an eager ``localCheckpoint`` is only for a convergence round that
      must cut lineage.  Its blocks are freed when its RDD is
      garbage-collected, not by :func:`release_caches`.
    """
    df = df.persist()
    df.count()
    return df


def release_caches() -> None:
    """Clear the session cache: every persisted relation of the running
    application."""
    SparkSession.active().catalog.clearCache()
