"""Sort / top-k operators (SURVEY §2.7 O1-O9).

pandas sorts are stable; Spark's distributed sort is not, so every sort
takes an explicit unique tiebreaker to make top-k deterministic (SURVEY §5
determinism rules). `orderBy().limit(k)` compiles to TakeOrderedAndProject —
a per-partition heap + driver merge, no global sort shuffle — which is the
right physical shape for top-k at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def top_k(df: DataFrame, keys: list[Column], k: int, tiebreaker: Column | None = None) -> DataFrame:
    """Deterministic top-k: ORDER BY keys..., tiebreaker LIMIT k."""
    order = list(keys) + ([tiebreaker] if tiebreaker is not None else [])
    return df.orderBy(*order).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list,
    k: int,
    salt_on: Column | str | None = None,
) -> DataFrame:
    """Deterministic top-k WITHIN each group — "3 biggest orders per
    priority", the per-entity leaderboard `top_k` (global ORDER BY
    LIMIT) cannot express. ``order_cols`` must end in a unique
    tiebreak (the repo's top-k rule) so ``rank`` — emitted as a
    column — is reproducible.

    Scale shape — two-phase pruned (the naive single window keyed by
    the group serializes N/|groups| rows through one task per group:
    measured 9.5x at 10x data with 5 priority groups): phase 1 splits
    each group into 32 salt shards and takes a LOCAL top-k per
    (group, shard) — 32·|groups| parallel windows, each bounded; the
    global top-k of a union of per-shard top-ks is exactly the global
    top-k, so phase 2 re-ranks the ≤ 32·k survivors per group in a
    tiny window. Exact, two shuffles, no task ever sees more than its
    shard. ``salt_on`` (a column, e.g. the tiebreak key) makes the
    shard assignment deterministic (xxhash64 mod 32); without it the
    shard is the input partition id — the OUTPUT is exact either way
    (any shard assignment prunes to a superset of the answer), only
    the intermediate prune set varies.
    """
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError(f"top_k_per_group: k must be >= 1, got {k}")
    n_shards = 32
    shard = (
        F.pmod(F.xxhash64(salt_on), F.lit(n_shards))
        if salt_on is not None
        else F.spark_partition_id() % n_shards
    )
    salted = df.withColumn("__shard", shard)
    wl = Window.partitionBy(*group_cols, "__shard").orderBy(*order_cols)
    local = (
        salted.withColumn("__lrk", F.row_number().over(wl))
        .filter(F.col("__lrk") <= k)
        .drop("__lrk", "__shard")
    )
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
