#!/usr/bin/env python3
"""Establish the expected results the benchmark checks against.

    python3 perfbench/expected.py

Run it from the repository root after changing the generator, the
table sizes or the query lists in ``workloads.py``. It writes
``perfbench/expected.json``:

- ``queries``: for every query of ``query_stream``, the row count and
  canonical hash of its DuckDB oracle (the registry's ``ORACLES`` SQL)
  over the generated query tables, in the parity harness's canonical
  form (``scripts/check_parity.py``). The Spark
  result is computed too and must agree, so a query that fails parity
  on these tables is refused here rather than counted as a benchmark
  failure later.
- ``pipeline``: the digest of the analysis text of a cold
  ``run_pipeline`` over the pipeline tables, taken from the library at
  the time of writing (the text's summary lines are also checked against
  counts computed from the generated orders on every run).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    sys.path.insert(0, ROOT)
    import duckdb

    from notion_spark.parity import ORACLES, QUERIES
    from perfbench import gen, run, workloads as W
    from scripts.check_parity import canon, frame_hash

    work = os.path.join(run.WORK_ROOT, "expected")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    gen.generate(data, W.DATA_SEED, **W.QUERY_SIZES)
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    spark = run.start_spark(work, trace=False)
    results, bad = {}, []
    try:
        for name in W.LIGHT_QUERIES + W.HEAVY_QUERIES:
            oracle = con.execute(ORACLES[name]).df()
            want = {"rows": len(oracle), "hash": frame_hash(canon(oracle))}
            pdf = QUERIES[name](spark, data).toPandas()
            got = {"rows": len(pdf), "hash": frame_hash(canon(pdf))}
            print(f"{'ok  ' if got == want else 'FAIL'} {name} {want}", file=sys.stderr)
            if got != want:
                bad.append(name)
            results[name] = want
            W.cleanup(spark)

        pipe = W.TasksPipeline()
        pipe.prepare(os.path.join(work, "pipeline"), seed=0)
        from notion_spark.pipeline_app import run_pipeline

        r = run_pipeline(spark, pipe.fetched(spark), pipe.cache_dir, W.PIPELINE_NOW, periods=W.PERIODS)
        digest = hashlib.sha256(r.analysis_text.encode()).hexdigest()[:16]
    finally:
        run.stop_spark(spark)
    if bad:
        print(f"Spark disagrees with the oracle on {bad}", file=sys.stderr)
        return 1
    out = {
        "queries": {"tables": W.table_digest(data), "sizes": W.QUERY_SIZES, "results": results},
        "pipeline": {"orders": W.PIPELINE_ORDERS, "cold_analysis_sha256": digest},
    }
    with open(W.EXPECTED_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)
    print(f"wrote {W.EXPECTED_PATH}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
