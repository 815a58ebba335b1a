"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for correctness-critical determinism (UTC session
timezone — the reference normalizes every timestamp to UTC, see
reference backend/analyze_pages.py:145-151) and for large-cluster
efficiency (AQE on, skew-join handling on, Arrow enabled for the few
pandas-UDF paths).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# Tuned for the local[32] test harness; on a real cluster these come from
# spark-submit / cluster conf and our settings only fill gaps (we use
# .config(), which does not override values already set on the command line
# for a new session, but is fine as the canonical default set).
_DEFAULT_CONF = {
    # Determinism / parity: the reference parses all timestamps as UTC then
    # drops the tz (analyze_pages.py:145-151); a UTC session tz reproduces
    # those instants exactly and matches the DuckDB oracle (naive UTC).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing of shuffle partitions, skew-join splitting and
    # dynamic broadcast-join conversion. Essential at 100 TB, harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas_udf / mapInPandas / toPandas exchange.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: allow vectorized reader + pushdown (defaults, stated
    # explicitly because the whole design depends on them).
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # ANSI off: the reference's semantics are permissive (NaN→0 coercions,
    # malformed values become nulls, P4 in SURVEY §2.3).
    "spark.sql.ansi.enabled": "false",
    # Timestamps written by our sinks stay comparable with other engines.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}

# Local-mode JVM heap for the BENCH/PARITY entrypoints (the single local
# JVM is driver + all 32 executor threads; Spark's 1g default OOMs on
# repeated sf1-scale shuffles — observed after ~40 queries of a full-set
# bench). Deliberately NOT in _DEFAULT_CONF: a library consumer on a
# small host must not inherit a 16g heap request from an import. Bench
# and parity scripts pass this via ``extra_conf``; under spark-submit
# the cluster conf wins anyway (memory is fixed at JVM launch).
BENCH_DRIVER_MEMORY_CONF = {"spark.driver.memory": "16g"}


def get_spark(
    app_name: str = "notion-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's default conf.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a real
    cluster leave it None and let spark-submit decide.
    ``shuffle_partitions`` defaults to the local core count (for the test
    harness); a 1000-executor deployment should set it ~2-3x total cores or
    rely on AQE coalescing from a high initial value.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULT_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class _Scopes(threading.local):
    """Per-thread stack of open cache scopes, each a list of the frames
    fanned out inside it."""

    def __init__(self) -> None:
        self.stack: list[list[DataFrame]] = []


_scopes = _Scopes()


def fanout(df: DataFrame) -> DataFrame:
    """Persist ``df`` — a frame its plan reads more than once — and
    register it with the innermost open `cache_scope` on this thread.
    Outside any scope this is exactly ``df.persist()``."""
    df = df.persist()
    if _scopes.stack:
        _scopes.stack[-1].append(df)
    return df


@contextmanager
def cache_scope(spark: SparkSession) -> Iterator[None]:
    """The one owner of the cached storage that operators leave behind.

    Operators persist the frames they fan out through `fanout`, and the
    iterative ones cut lineage with ``localCheckpoint``; both outlive the
    call that made them. On exit, including on an exception, the scope
    unpersists the frames registered with it, then every RDD persisted
    since entry, which also releases the checkpoints. A loop over batches
    therefore does not accrete executor storage, and no cache entry is
    substituted into a later, unrelated plan.

    Contract: consume a result inside the scope that built it. A result
    built on a local checkpoint fails loudly after exit, because its
    blocks are gone; one built on a persisted frame silently recomputes
    its lineage. Scopes nest: an inner scope releases only its own frames
    and the RDDs persisted after it opened. The RDD snapshot is
    context-wide, so another thread's persists made meanwhile are
    released too."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    frames: list[DataFrame] = []
    _scopes.stack.append(frames)
    try:
        yield
    finally:
        _scopes.stack.pop()
        for df in frames:
            df.unpersist()
        for rdd_id, rdd in jsc.getPersistentRDDs().items():
            if rdd_id not in before:
                rdd.unpersist(False)
