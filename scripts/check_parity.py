#!/usr/bin/env python
"""Local mirror of the driver's correctness gate — driver-faithful since r4.

Runs every __spark_entry__.queries() entry and its DuckDB oracle on the
same parquet tables and compares row count, column names, pandas DTYPES,
and a value hash over the driver's canonical form.

Why this exact shape: the driver loads the Spark side via `toPandas()`
and the oracle via duckdb `.df()`, name-sorts columns, row-sorts with
`DataFrame.sort_values` (its r3 traceback), and hashes the frames
dtype-sensitively. Empirically (r4 probe):

- r3's hash-failing `text_repetition_stats` had an int64-vs-float64
  column (DuckDB `SUM(BIGINT)` is HUGEINT -> float64 in pandas) with
  bit-identical numeric values, while `text_quality` (r1 green) and
  `curation_pii_redact` (r3 green) carry int32-vs-int64 columns. So the
  driver hashes by value KIND — integer width is invisible, int vs
  float is fatal (5 != 5.0). Kind mismatches FAIL here; width-only
  mismatches print a note (align the oracle CAST anyway).
- a list/map/struct output column fails the driver's sort_values with
  `unhashable type: 'list'` — rejected up front from the Spark schema.
- floats are hashed at full precision (repr round-trips doubles
  bit-exactly); the r3 mirror's 9-digit rounding is gone.

Each query is built and collected inside `session.cache_scope`; a query
that still holds a persistent RDD or a cache entry after its scope
closes counts as a failure (``err="leaked storage"``).

Usage: python scripts/check_parity.py [--json OUT.json] [sf_dir] [query ...]

With --json, every row is also written to OUT.json in the driver's
exact CORRECTNESS row format ({rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err}; rows-only queries get hash_match=null),
plus timing: `spark_secs` (plan build + toPandas of OUR engine),
`oracle_secs` (the DuckDB oracle alone — some oracles, e.g. the
recursive union-find SQL behind dedup_cluster_collapse, cost far more
than the Spark side and must not be read as engine time), and `secs`
(total including canonicalize+hash),
so the full-registry mirror run becomes a committed per-round artifact
(PARITY_LOCAL_r{N}.json) — the regression net for every query outside
the driver's 50-row window.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import sys
import time
import traceback

sys.path.insert(0, "/root/repo")

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def cell(v) -> str:
    """Exact canonical string for one value. Floats keep full precision;
    Decimals are numerically canonical; everything temporal is ISO."""
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT:
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, np.integer):
        return str(int(v))
    if isinstance(v, float):  # covers np.float64 (a float subclass)
        return "nan" if math.isnan(v) else repr(float(v))
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        if v.is_nan():
            return "nan"
        s = format(v, "f")
        if "." in s:
            s = s.rstrip("0").rstrip(".")
        return s if s not in ("-0", "") else "0"
    if isinstance(v, (datetime.datetime, pd.Timestamp)):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def canon(pdf):
    """Driver-shaped canonicalization: columns name-sorted, rows
    sort_values'd over every column (raises TypeError on unhashable
    cells exactly like the driver)."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf


def frame_hash(pdf) -> str:
    h = hashlib.sha256()
    for row in pdf.itertuples(index=False, name=None):
        h.update("|".join(cell(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    import json

    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    rows: dict[str, dict] = {}

    import duckdb

    from pyspark.sql.types import ArrayType, MapType, StructType

    import __spark_entry__ as entrymod
    from notion_spark.session import BENCH_DRIVER_MEMORY_CONF, cache_scope, get_spark

    spark = get_spark(
        app_name="parity-check",
        extra_conf={"spark.ui.enabled": "false", **BENCH_DRIVER_MEMORY_CONF},
    )
    persistent_rdds = spark.sparkContext._jsc.getPersistentRDDs
    cache = spark._jsparkSession.sharedState().cacheManager()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    n_pass = n_fail = n_rows_only = 0
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        spark_secs = None
        try:
            with cache_scope(spark):
                sdf = fn(spark, sf_dir)
                if name in oracles:
                    bad = [
                        f.name
                        for f in sdf.schema.fields
                        if isinstance(f.dataType, (ArrayType, MapType, StructType))
                    ]
                    if bad:
                        print(
                            f"FAIL  {name}: non-atomic output columns {bad} — the driver's"
                            " canonicalizer cannot sort/hash them (serialize to string)"
                        )
                        rows[name] = {
                            "rows_match": None, "schema_match": False, "hash_match": None,
                            "spark_rows": None, "oracle_rows": None,
                            "err": f"non-atomic output columns {bad}",
                        }
                        n_fail += 1
                        failures.append(name)
                        continue
                spdf = sdf.toPandas()
            spark_secs = round(time.time() - t0, 3)
        except Exception as e:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc(limit=3)
            rows[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": None, "oracle_rows": None,
                "err": f"spark: {type(e).__name__}: {e}"[:500],
            }
            n_fail += 1
            failures.append(name)
            continue
        if persistent_rdds().size() or not cache.isEmpty():
            print(f"FAIL  {name}: leaked storage")
            spark.catalog.clearCache()
            rows[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(spdf), "oracle_rows": None,
                "err": "leaked storage",
            }
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(spdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            rows[name] = {
                "rows_match": True, "schema_match": None, "hash_match": None,
                "spark_rows": len(spdf), "oracle_rows": None, "err": None,
                "secs": round(time.time() - t0, 3),
                "spark_secs": spark_secs,
            }
            n_rows_only += 1
            continue
        t1 = time.time()
        try:
            opdf = con.execute(oracles[name]).df()
            oracle_secs = round(time.time() - t1, 3)
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            rows[name] = {
                "rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": len(spdf), "oracle_rows": None,
                "err": f"duckdb: {e}"[:500],
            }
            n_fail += 1
            failures.append(name)
            continue
        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rows {len(spdf)} vs {len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(f"cols {sorted(spdf.columns)} vs {sorted(opdf.columns)}")
        if not problems:
            kinds = {c: (spdf[c].dtype.kind, opdf[c].dtype.kind) for c in spdf.columns}
            fatal = {
                c: (str(spdf[c].dtype), str(opdf[c].dtype))
                for c, (a, b) in kinds.items()
                if a != b and not ({a, b} <= {"i", "u"})
            }
            width = {
                c: (str(spdf[c].dtype), str(opdf[c].dtype))
                for c, (a, b) in kinds.items()
                if {a, b} <= {"i", "u"} and spdf[c].dtype != opdf[c].dtype
            }
            if fatal:
                problems.append(
                    f"dtype KIND mismatch (spark vs oracle) {fatal} — the driver"
                    " hashes by value kind (5 != 5.0); CAST the oracle to match"
                )
            elif width:
                print(f"note  {name}: integer-width dtype skew {width} (driver-tolerated)")
        if not problems:
            try:
                hs = frame_hash(canon(spdf))
                ho = frame_hash(canon(opdf))
            except TypeError as e:
                problems.append(f"driver-unhashable values: {e}")
            else:
                if hs != ho:
                    problems.append(f"hash {hs} vs {ho}")
        ok = not problems
        rows[name] = {
            "rows_match": len(spdf) == len(opdf),
            "schema_match": sorted(spdf.columns) == sorted(opdf.columns)
            and not any("dtype" in p for p in problems),
            "hash_match": ok,
            "spark_rows": len(spdf),
            "oracle_rows": len(opdf),
            "err": None if ok else "; ".join(problems)[:500],
            "secs": round(time.time() - t0, 3),
            "spark_secs": spark_secs,
            "oracle_secs": oracle_secs,
        }
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            n_fail += 1
            failures.append(name)
        else:
            print(f"ok    {name}: {len(spdf)} rows match [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} fail")
    if failures:
        print("failures:", " ".join(failures))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(rows, f, indent=1)
        print(f"wrote {json_out} ({len(rows)} rows)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
