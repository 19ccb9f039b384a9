"""Distributed global rank / running sum (prefix aggregation).

An unpartitioned ``Window.orderBy`` funnels the whole relation through
one task — the classic Spark scale-killer for global cumulative sums.
This module implements the canonical two-level alternative:

1. ``repartitionByRange`` on the ordering columns gives range-ordered
   partitions (RangePartitioner assigns ascending key ranges to
   ascending partition ids).
2. A per-partition ``(count, sum)`` aggregate — one tiny row per
   partition — is turned into *exclusive* prefix offsets by a window
   over that ≤n_parts-row relation (the only unpartitioned window, and
   it is bounded by the partition count, never the data).
3. The offsets are broadcast back and added to within-partition
   ``row_number``/running-sum windows, which run fully partitioned.

Correctness requires the ordering columns to form a TOTAL order
(include a unique tie-break column): then every row's global rank and
prefix sum are independent of where the sampled range boundaries fall,
so the sampling nondeterminism inside RangePartitioner cannot change
the result.

A rank / running sum over a frequency table ordered by count
descending needs no range shuffle and no tie-break: terms of equal
count are interchangeable for it, so the table folds into its count
LEVELS, ``(cnt, f)`` with f terms at count cnt.  Counts that total T
have at most √(2T) distinct values (levels 1..L already hold
L(L+1)/2 tokens), so the levels collect into ONE row and the prefix
sum is one array ``aggregate`` over it (``top_p_rank``,
``top_k_mass``).

Reference parity: the reference engine has no distributed runtime —
its cumulative ops are single-process torch folds; this is the
Spark-native re-expression of the same semantics at cluster scale.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


__all__ = [
    "ranked_cumsum",
    "exclusive_prefix_max",
    "order_statistic_values",
    "top_p_rank",
    "top_k_mass",
]

_PART = "__rcs_part"
_LRN = "__rcs_local_rn"
_LCUM = "__rcs_local_cum"
_OFF_N = "__rcs_off_n"
_OFF_S = "__rcs_off_s"


def ranked_cumsum(
    df: DataFrame,
    order_cols: Sequence[Column],
    value_col: str,
    rank_name: str = "rn",
    cum_name: str = "cum",
    n_parts: int = 32,
    extra_cums: dict[str, str] | None = None,
) -> DataFrame:
    """Attach a global ``row_number`` (``rank_name``) and running sum of
    ``value_col`` (``cum_name``) ordered by ``order_cols``, without any
    unpartitioned window over the data.

    ``order_cols`` are Column sort expressions (e.g. ``[F.desc("cnt"),
    F.asc("term")]``) and MUST define a total order over the rows.

    ``extra_cums`` maps additional value columns to their cumulative-sum
    output names, accumulated over the SAME order in the SAME pass —
    callers needing k running sums pay ONE range shuffle + one cached
    relation instead of chaining k ranked_cumsum calls (r8: ks_two_sample
    chained two full prefix scaffolds for two integer cumulants).
    """
    # The range shuffle is consumed TWICE (per-partition offsets +
    # the final join).  Without pinning, each consumer may plan its
    # own Exchange whose RangePartitioner re-SAMPLES different
    # boundaries — ReusedExchange normally dedupes them, but a
    # persisted relation anywhere upstream breaks that reuse and the
    # offsets stop matching the local row_numbers (observed: ranks
    # off by whole partitions, nondeterministically).  Persisting the
    # ranged relation freezes one partitioning for both consumers.
    extra = extra_cums or {}
    ranged = (
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn(_PART, F.spark_partition_id())
        .persist()
    )
    # One row per partition; the exclusive-prefix window below is over
    # this ≤n_parts-row relation only.
    per_part = ranged.groupBy(_PART).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(value_col).alias("_s"),
        *[F.sum(c).alias(f"_s_{c}") for c in extra],
    )
    woff = (
        Window.orderBy(_PART)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = per_part.select(
        _PART,
        F.coalesce(F.sum("_n").over(woff), F.lit(0)).alias(_OFF_N),
        F.coalesce(F.sum("_s").over(woff), F.lit(0)).alias(_OFF_S),
        *[
            F.coalesce(F.sum(f"_s_{c}").over(woff), F.lit(0)).alias(
                f"{_OFF_S}_{c}"
            )
            for c in extra
        ],
    )
    wloc = Window.partitionBy(_PART).orderBy(*order_cols)
    wcum = wloc.rowsBetween(Window.unboundedPreceding, 0)
    out = (
        ranged.join(F.broadcast(offsets), _PART)
        .withColumn(_LRN, F.row_number().over(wloc))
        .withColumn(_LCUM, F.sum(value_col).over(wcum))
        .withColumn(rank_name, F.col(_OFF_N) + F.col(_LRN))
        .withColumn(cum_name, F.col(_OFF_S) + F.col(_LCUM))
    )
    for c, out_name in extra.items():
        out = out.withColumn(
            out_name, F.col(f"{_OFF_S}_{c}") + F.sum(c).over(wcum)
        )
    return out.drop(
        _PART, _LRN, _LCUM, _OFF_N, _OFF_S,
        *[f"{_OFF_S}_{c}" for c in extra],
    )


def order_statistic_values(
    df: DataFrame,
    value_col: str,
    targets: DataFrame,
    n_parts: int = 32,
) -> DataFrame:
    """Exact global order statistics of ONE numeric column without
    ranking the whole relation: range-partition the values, turn the
    ≤``n_parts``-row per-partition counts into exclusive offsets,
    locate each target rank's partition + local rank, and row_number
    ONLY the partitions that hold a target (r8 §2.3: selecting k order
    statistics does not need the full ranked_cumsum sort of every
    partition, nor the tie-break columns a total order would shuffle).

    ``targets`` is a small relation with one BIGINT column
    ``target_rn`` (1-indexed global ranks).  Returns (target_rn,
    value).  Exact under ties: the rank-k VALUE of a multiset is
    independent of tie order, and the RangePartitioner sends equal
    keys to one partition, so per-partition counts locate ranks
    consistently.
    """
    ranged = (
        df.select(F.col(value_col).alias("_v"))
        .repartitionByRange(n_parts, F.asc("_v"))
        .withColumn(_PART, F.spark_partition_id())
        .persist()
    )
    per_part = ranged.groupBy(_PART).agg(F.count(F.lit(1)).alias("_n"))
    woff = Window.orderBy(_PART).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_part.select(
        _PART,
        F.coalesce(F.sum("_n").over(woff), F.lit(0)).alias(_OFF_N),
        F.col("_n"),
    )
    tloc = (
        targets.join(
            F.broadcast(offsets),
            (F.col("target_rn") > F.col(_OFF_N))
            & (F.col("target_rn") <= F.col(_OFF_N) + F.col("_n")),
        )
        .select(
            F.col(_PART).alias("_tpart"),
            "target_rn",
            (F.col("target_rn") - F.col(_OFF_N)).alias(_LRN),
        )
    )
    wloc = Window.partitionBy(_PART).orderBy(F.asc("_v"))
    hit = (
        ranged.join(
            F.broadcast(tloc.select("_tpart").distinct()),
            F.col(_PART) == F.col("_tpart"),
        )
        .drop("_tpart")
        .withColumn("_rn", F.row_number().over(wloc))
    )
    return hit.join(
        F.broadcast(tloc),
        (F.col(_PART) == F.col("_tpart")) & (F.col("_rn") == F.col(_LRN)),
    ).select("target_rn", F.col("_v").alias("value"))


def exclusive_prefix_max(
    df: DataFrame,
    order_cols: Sequence[Column],
    value_col: str,
    out_name: str = "prev_max",
    n_parts: int = 32,
) -> DataFrame:
    """Attach the running MAX of ``value_col`` over all rows strictly
    BEFORE each row in ``order_cols`` order (NULL for the first row),
    with the same two-level scaffold as ranked_cumsum: range
    partitions, per-partition maxes turned into exclusive offsets by
    a window over the ≤n_parts-row aggregate, then partitioned local
    exclusive-max windows.  The 2D-skyline primitive: a point is
    Pareto-optimal iff its y beats the exclusive prefix max taken in
    x order.  ``order_cols`` must form a total order.
    """
    ranged = (
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn(_PART, F.spark_partition_id())
        .persist()
    )
    per_part = ranged.groupBy(_PART).agg(F.max(value_col).alias("_m"))
    woff = Window.orderBy(_PART).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = per_part.select(
        _PART, F.max("_m").over(woff).alias(_OFF_S)
    )
    wloc = (
        Window.partitionBy(_PART)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        ranged.join(F.broadcast(offsets), _PART)
        .withColumn(_LCUM, F.max(value_col).over(wloc))
        # greatest() skips NULLs, so the first row of the first
        # partition correctly gets NULL (no predecessor).
        .withColumn(out_name, F.greatest(F.col(_OFF_S), F.col(_LCUM)))
        .drop(_PART, _LCUM, _OFF_S)
    )


def _count_levels(freq: DataFrame) -> DataFrame:
    """One row: ``lv``, the count levels of the (term, cnt) relation
    ``freq`` as array<struct<cnt, f>> sorted by cnt descending;
    ``n_terms``, the number of terms (0 when ``freq`` is empty); and
    ``t``, the total count as a double (null when empty)."""
    return (
        freq.groupBy("cnt")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(
            F.sort_array(F.collect_list(F.struct("cnt", "f")), asc=False)
            .alias("lv"),
            F.coalesce(F.sum("f"), F.lit(0)).alias("n_terms"),
            F.sum(F.col("cnt") * F.col("f")).cast("double").alias("t"),
        )
    )


def _long(v) -> Column:
    return F.lit(v).cast("long")


def top_p_rank(freq: DataFrame, p: float) -> DataFrame:
    """One row (rank, n_terms): ``rank`` is the smallest rn with
    ``double(cum) >= p * double(T)``, where terms are ranked by cnt
    descending (any tie order), cum is the running sum of cnt and T
    the total; null when ``freq`` is empty.

    One fold over the count levels carries (terms before, count
    before, answer).  In the level that crosses the threshold the
    answer is ``rn_before + j`` for the smallest j with
    ``double(cum_before + j·cnt) >= p·T``; j comes from ``ceil`` of
    the double quotient and is corrected by one either way against
    the exact long sum, because the threshold is a double.  Past
    2**53 tokens a running sum no longer converts to a double
    exactly, and one step of correction can fall short."""
    thr = F.lit(p) * F.col("t")

    def reached(cum: Column) -> Column:
        return cum.cast("double") >= thr

    def step(acc: Column, x: Column) -> Column:
        rn, cum, cnt, f = acc["rn"], acc["cum"], x["cnt"], x["f"]
        j = F.least(
            F.greatest(F.ceil((thr - cum.cast("double")) / cnt), _long(1)), f
        )
        j = (
            F.when(reached(cum + (j - 1) * cnt), j - 1)
            .when(~reached(cum + j * cnt), j + 1)
            .otherwise(j)
        )
        return F.struct(
            (rn + f).alias("rn"),
            (cum + f * cnt).alias("cum"),
            F.when(
                acc["ans"].isNull() & reached(cum + f * cnt), rn + j
            ).otherwise(acc["ans"]).alias("ans"),
        )

    init = F.struct(
        _long(0).alias("rn"), _long(0).alias("cum"), _long(None).alias("ans")
    )
    return _count_levels(freq).select(
        F.aggregate("lv", init, step)["ans"].alias("rank"), "n_terms"
    )


def top_k_mass(freq: DataFrame, ks: Sequence[int]) -> DataFrame:
    """(k, covered, t) for each k in ``ks``: ``covered`` is the total
    cnt of the top-k terms by cnt descending (any tie order), ``t``
    the total as a double.  No rows when ``freq`` is empty.

    One fold over the count levels per k: a level whose f terms
    start after rank rn_before adds cnt · clamp(k - rn_before, 0, f).
    """
    k = F.col("k")

    def step(acc: Column, x: Column) -> Column:
        rn, cnt, f = acc["rn"], x["cnt"], x["f"]
        return F.struct(
            (rn + f).alias("rn"),
            (acc["cov"] + cnt * F.least(F.greatest(k - rn, _long(0)), f))
            .alias("cov"),
        )

    init = F.struct(_long(0).alias("rn"), _long(0).alias("cov"))
    return (
        _count_levels(freq)
        .where(F.size("lv") > 0)
        .select(F.explode(F.array(*[_long(v) for v in ks])).alias("k"), "lv", "t")
        .select("k", F.aggregate("lv", init, step)["cov"].alias("covered"), "t")
    )
