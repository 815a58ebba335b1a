"""Join operators (SURVEY §2.5 J1-J4).

The reference's only join forms are dict-map lookups and `isin` — all
small-dimension patterns that become broadcast hash joins here. At 100 TB
the fact side streams through unmoved; only the dim is broadcast, so no
shuffle is introduced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------- J1
def broadcast_lookup(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    value_col: str,
    out_col: str,
    default: str | None = None,
) -> DataFrame:
    """Parent-name-style broadcast self/dim join
    (generate_reports.py:320, 469, 482, 493-495: NID→Name dict map with a
    fill default such as 'General / No Project').

    Explicit `broadcast()` hint: the dim is known-small by construction
    (a projected key/value pair), so we never want a shuffle here even if
    stats are missing.
    """
    lut = F.broadcast(
        dim.select(F.col(dim_key).alias("__k"), F.col(value_col).alias("__v")).dropDuplicates(["__k"])
    )
    joined = fact.join(lut, fact[fact_key] == lut["__k"], "left").drop("__k")
    val = F.coalesce(F.col("__v"), F.lit(default)) if default is not None else F.col("__v")
    return joined.withColumn(out_col, val).drop("__v")


# ---------------------------------------------------------------- J4
def semi_members(df: DataFrame, other: DataFrame, key: str | list[str]) -> DataFrame:
    """`key.isin(other.key)` as a left-semi join (analyze_pages.py:314;
    generate_reports.py:437)."""
    keys = [key] if isinstance(key, str) else list(key)
    return df.join(other.select(*keys).distinct(), on=keys, how="left_semi")
