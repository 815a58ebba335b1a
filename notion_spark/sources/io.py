"""Storage IO (SURVEY §2.1 S6-S7 + the Parquet canonical cache).

The reference's store is a CSV cache re-read seven times per run plus a
JSON mirror (fetch_pages.py:596-620; analyze_pages.py:37;
generate_reports.py:137). Here the canonical store is Parquet — real array
columns, column pruning, predicate pushdown — and CSV/JSON are export
sinks kept for format parity.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from notion_spark.schema import CANONICAL_TO_DISPLAY, COLUMN_ALIASES


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic test table (TESTDATA.md layout).

    The events table carries TIMESTAMP(NANOS), which vanilla Spark rejects
    (PARQUET_TYPE_ILLEGAL): read nanos as long and truncate to microsecond
    timestamps — integer division, matching DuckDB's ns→us truncation.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin the session timezone even when the caller built its own session
    # (the driver harness does): timestamp→string formatting must be UTC
    # to match the DuckDB oracle's naive-UTC reading.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def overwrite_store(df: DataFrame, path: str) -> None:
    """Safely replace a parquet store that ``df``'s lineage may READ:
    write to a sibling .tmp dir first, then swap. A plain
    mode('overwrite') deletes the input files before the job finishes —
    any recomputation (cache eviction, task retry, executor loss) would
    then read a destroyed store. Local-FS stand-in for a transactional
    table format's MERGE/replace."""
    import os
    import shutil

    tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.rename(tmp, path)


def write_partitioned_by_day(df: DataFrame, ts_col: str, path: str) -> None:
    """Date-partitioned layout (hive-style `event_date=.../`): time-range
    queries then PRUNE partitions at plan time instead of scanning —
    the storage layout half of predicate pushdown. Daily granularity keeps
    file counts sane at 100 TB (one directory per day, sized by
    maxRecordsPerFile if needed)."""
    out = df.withColumn("event_date", F.to_date(F.col(ts_col)))
    out.write.mode("overwrite").partitionBy("event_date").parquet(path)


def assert_unpartitioned(path: str) -> None:
    """Refuse hive-partitioned stores (key=value path segments) for
    whole-directory rewrites: a flat rewrite silently destroys partition
    pruning and breaks readers addressing path/key=X/. Shared by both
    compaction entry points (this module and pipeline/layout)."""
    import glob as _glob

    rel = [
        os.path.relpath(p, path)
        for p in _glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if os.path.isfile(p)
    ]
    hive = sorted({seg for r in rel for seg in r.split(os.sep)[:-1] if "=" in seg})
    if hive:
        raise ValueError(
            f"{path} is hive-partitioned ({hive[0]}, ...): rewrite each "
            "partition directory instead"
        )


def compact_store(spark: SparkSession, path: str, target_records_per_file: int = 500_000) -> int:
    """Small-files compaction sized by ROW COUNT: rewrite a parquet store
    into evenly sized files (incremental upserts and streaming
    micro-batches accumulate small files; at 100 TB unbounded file
    counts kill scan planning). Returns the row count. Uses the safe
    tmp+swap overwrite. For BYTE-targeted sizing (compression-aware)
    and sorted rewrites, use pipeline/layout.compact_files."""
    assert_unpartitioned(path)
    df = spark.read.parquet(path)
    n = df.count()
    n_files = max(1, -(-n // target_records_per_file))  # ceil
    overwrite_store(df.repartition(n_files), path)
    return n


def write_bucketed(
    df: DataFrame, table_name: str, key: str, buckets: int = 64, path: str | None = None
) -> None:
    """Bucketed save for shuffle-free upsert/join on ``key`` (the M2 merge
    and J-series joins co-locate when both sides are bucketed).

    Thin alias over pipeline/layout.write_bucketed — ONE implementation
    (which also pre-repartitions so each bucket is exactly one sorted
    file); see that docstring and `layout.bucketed_join` for the
    zero-Exchange join story and plan pins."""
    from notion_spark.pipeline.layout import write_bucketed as _impl

    _impl(df, table_name, key, n_buckets=buckets, path=path)


# --------------------------------------------------------------- S6 (CSV)
def export_tasks_csv(df: DataFrame, path: str) -> None:
    """CSV export in the reference's on-disk dialect: display headers and
    Python-repr'd list columns (fetch_pages.py:601-603)."""
    out = df
    for c in ("files_media", "children_uids", "children_nids", "active_tags"):
        if c in out.columns:
            # JSON list serialization: double-quoted with proper escaping.
            # A JSON array is ALSO a valid Python literal, so the
            # reference's ast.literal_eval reader (analyze_pages.py:81-89)
            # parses it — unlike hand-rolled single-quoting, which breaks
            # on elements containing quotes.
            out = out.withColumn(c, F.to_json(F.col(c)))
    out = out.select([F.col(c).alias(CANONICAL_TO_DISPLAY.get(c, c)) for c in out.columns])
    (
        out.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        # the CSV writer trims unquoted whitespace by default; pandas
        # to_csv (the reference dialect) does not
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path)
    )


def read_tasks_csv(spark: SparkSession, path: str) -> DataFrame:
    """Ingest the reference CSV dialect back to canonical form (P8
    rehydration happens in normalize.rehydrate_list_column)."""
    from notion_spark.normalize import rehydrate_list_column

    df = spark.read.option("header", True).option("multiLine", True).option("escape", '"').csv(path)
    df = df.toDF(*[COLUMN_ALIASES.get(c.strip(), c.strip()) for c in df.columns])
    for c, t in (
        ("files_media", "string"),
        ("children_uids", "string"),
        ("children_nids", "long"),
        ("active_tags", "string"),
    ):
        if c in df.columns:
            df = rehydrate_list_column(df, c, t)
    return df


# --------------------------------------------------------------- S7 (JSON)
def export_tasks_json(df: DataFrame, path: str) -> None:
    """JSON-lines export (`to_json(orient='records')`,
    fetch_pages.py:620)."""
    df.write.mode("overwrite").json(path)
