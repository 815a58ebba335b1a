"""The benchmark's workloads.

Each workload owns its inputs and its checks:

- ``prepare`` writes the inputs before the JVM starts (numpy and pyarrow
  only, so input generation costs the same whatever the library does);
- ``warm`` runs inside the set-up time, so the JIT is warm before
  anything is timed;
- ``run_pass`` runs one fixed pass of timed operations and returns one
  checked ``Op`` per operation.

Tables are generated from a fixed data seed, so expected query results
can be established once (``expected.py``); the run's ``--seed`` picks
the refreshed 1% of tasks and the stream's batch split.
"""

from __future__ import annotations

import gc
import glob
import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

DATA_SEED = 20261017
HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")

# Registry subsets sized so every run fits the benchmark's time budget,
# run in this fixed order.
LIGHT_QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "agg_crosstab_status_priority", "join_multi_hop_revenue", "merge_keep_last",
    "tasks_adapter_summary", "sketch_hll_users",
]
HEAVY_QUERIES = ["graph_kcore", "behavior_covisitation_lift"]
QUERY_SIZES = {"n_orders": 3000, "n_events": 3000, "n_docs": 300}

# Timed stream operators: applyInPandasWithState, and a foreachBatch
# store (checkpoint + WAL writes, parquet swap).
STREAM_OPERATORS = ["sessionize_stream", "stream_upsert"]
STREAM_EVENTS, STREAM_BATCHES = 10000, 4

PIPELINE_ORDERS = 3000
PIPELINE_NOW = datetime(2001, 8, 2)
# One of the five report periods: every sink runs, at a cost that fits
# the benchmark's time budget.
PERIODS = ("weekly",)
REFRESH_SHARE = 0.01


@dataclass
class Op:
    """One timed operation and its check."""

    name: str
    wall_s: float
    ok: bool
    err: str | None = None
    leaked_rdds: int = 0
    info: dict = field(default_factory=dict)


def load_expected() -> dict:
    with open(EXPECTED_PATH) as f:
        return json.load(f)


def table_digest(data_dir: str) -> str:
    """Digest of the generated tables' contents (not their file bytes)."""
    h = hashlib.sha256()
    for name in gen.TABLES:
        h.update(name.encode())
        t = pq.read_table(os.path.join(data_dir, f"{name}.parquet"))
        for col in t.columns:
            h.update(str(col.to_pylist()).encode())
    return h.hexdigest()[:16]


def cleanup(spark) -> int:
    """Count persisted RDDs an operation left behind, then drop them and
    collect garbage on both sides. Runs outside every timed region."""
    sc = spark.sparkContext
    leaked = sc._jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    for rdd in list(sc._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    gc.collect()
    spark._jvm.System.gc()
    return leaked


def fingerprint(df) -> tuple:
    """Row count and order-independent sum of row hashes: two frames with
    the same fingerprint hold the same multiset of rows (up to 64-bit
    hash collisions), at the cost of one scan each."""
    from pyspark.sql import functions as F

    row = df.select(F.count(F.lit(1)), F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))).first()
    return tuple(row)


def _fail(name: str, wall: float, err: Exception) -> Op:
    return Op(name, wall, False, err=f"{type(err).__name__}: {err}"[:300])


# ------------------------------------------------------------------ queries
class Queries:
    """Registry queries that build a frame and execute it to pandas.

    ``toPandas`` forces every output column (a bare ``count()`` would let
    Catalyst prune columns the caller pays for). The result is hashed in
    the parity harness's canonical form and compared with the hash the
    DuckDB oracle gave on the same tables (``expected.json``).
    """

    def __init__(self, names: list[str]) -> None:
        self.names = names

    def prepare(self, work: str, seed: int) -> None:
        self.data = os.path.join(work, "tables")
        gen.generate(self.data, DATA_SEED, **QUERY_SIZES)
        expected = load_expected()["queries"]
        if table_digest(self.data) != expected["tables"]:
            raise RuntimeError("generated tables differ from the ones expected.json was made from")
        self.expected = expected["results"]
        missing = [q for q in self.names if q not in self.expected]
        if missing:
            raise RuntimeError(f"no expected result for {missing}")

    def run(self, spark, tracer, name: str) -> Op:
        from notion_spark.parity import QUERIES
        from scripts.check_parity import canon, frame_hash

        tracer.begin_op(name)
        t0 = time.perf_counter()
        try:
            with tracer.span("query", root=True, query=name):
                with tracer.span("query.build"):
                    df = QUERIES[name](spark, self.data)
                with tracer.span("query.exec") as rec:
                    pdf = df.toPandas()
            wall = time.perf_counter() - t0
        except Exception as e:  # one failed query must not stop the run
            op = _fail(name, time.perf_counter() - t0, e)
        else:
            if rec is not None:
                rec["plan_s"] = plan_seconds(df)
            got = {"rows": len(pdf), "hash": frame_hash(canon(pdf))}
            want = self.expected[name]
            op = Op(name, wall, got == want, None if got == want else f"got {got}, expected {want}")
        op.leaked_rdds = cleanup(spark)
        return op


def plan_seconds(df) -> float:
    """Optimizer + planner time from the frame's QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for phase in ("optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            total += opt.get().durationMs() / 1e3
    return total


# ------------------------------------------------------------------ stream
SESSION_GAP_S = 30 * 60.0  # sessionize_stream's default gap


class Stream:
    """``streaming/`` operators, each draining the same backlog of seeded
    micro-batch files with ``availableNow`` and ``maxFilesPerTrigger=1``.
    An operator's sample is the wall time to drain the backlog; its
    ``StreamingQueryProgress`` records ride along for the per-layer
    metrics.

    The batches are contiguous event-time ranges, so the outputs do not
    depend on the split and are checked against pandas computations made
    in ``prepare``: the per-event session ids of the gap rule, and the
    keep-latest row per user of the upsert store."""

    def prepare(self, work: str, seed: int) -> None:
        self.work = os.path.join(work, "stream")
        data = os.path.join(self.work, "tables")
        rows = gen.generate(data, DATA_SEED, n_orders=10, n_events=STREAM_EVENTS, n_docs=20)
        rng = np.random.default_rng(seed)
        events = pq.read_table(os.path.join(data, "events.parquet"))
        self.events_dir = _split(events, os.path.join(self.work, "events"), rng, "ts")
        self.rows = rows["events"]
        pdf = events.select(["user_id", "event_type", "ts"]).to_pandas()
        pdf["ts"] = _micros(pdf["ts"])
        self.want_sessions = _sessions(pdf)
        self.want_latest = _latest(pdf)
        self.runs = 0

    def _reader(self, spark, path: str):
        from pyspark.sql import functions as F

        schema = spark.read.parquet(path).schema
        df = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)
        # naive parquet timestamps arrive as TIMESTAMP_NTZ, which
        # watermarks and state reject; the session time zone is UTC
        return df.withColumn("ts", F.col("ts").cast("timestamp"))

    def _start(self, spark, name: str, d: str, ckpt: str):
        from notion_spark.streaming.sessions import sessionize_stream
        from notion_spark.streaming.upsert import stream_upsert

        if name == "stream_upsert":
            return stream_upsert(self._reader(spark, self.events_dir).select("user_id", "event_type", "ts"),
                                 os.path.join(d, "up_store"), ckpt, key="user_id", order_by_cols=["ts"])
        df = sessionize_stream(self._reader(spark, self.events_dir), "user_id", "ts", SESSION_GAP_S / 60)
        return (df.writeStream.format("memory").queryName(f"sessions{self.runs}").outputMode("append")
                .option("checkpointLocation", ckpt).trigger(availableNow=True).start())

    def run(self, spark, tracer, name: str) -> Op:
        self.runs += 1
        d = os.path.join(self.work, f"run{self.runs}")
        n_rows = self.rows
        tracer.begin_op(name)
        t0 = time.perf_counter()
        try:
            with tracer.span("stream", root=True, operator=name):
                with tracer.span("streaming.start"):
                    q = self._start(spark, name, d, os.path.join(d, "ckpt"))
                with tracer.span("streaming.drain"):
                    q.awaitTermination()
            wall = time.perf_counter() - t0
        except Exception as e:
            op = _fail(name, time.perf_counter() - t0, e)
        else:
            progress = [json.loads(p.json) for p in q.recentProgress]
            seen = sum(p["numInputRows"] for p in progress)
            problems = [] if seen == n_rows else [f"consumed {seen} of {n_rows} rows"]
            if name == "stream_upsert":
                got = spark.read.parquet(os.path.join(d, "up_store")).toPandas()
                want, what = self.want_latest, "the upsert store"
            else:
                got = spark.table(f"sessions{self.runs}").toPandas()
                want, what = self.want_sessions, "the session ids"
            got["ts"] = _micros(got["ts"])
            if not _same_rows(got, want):
                problems.append(f"{what} do not match the pandas recomputation")
            op = Op(name, wall, not problems, "; ".join(problems) or None, info={"progress": progress})
        if name == "sessionize_stream":
            spark.sql(f"DROP VIEW IF EXISTS sessions{self.runs}")
        op.leaked_rdds = cleanup(spark)
        shutil.rmtree(d, ignore_errors=True)
        return op


def _micros(ts) -> np.ndarray:
    """Naive timestamps (UTC) as int64 microseconds, whatever their unit."""
    return np.asarray(ts, dtype="datetime64[us]").astype(np.int64)


def _sessions(pdf):
    """Per-event session ids by the gap rule: a gap strictly longer than
    ``SESSION_GAP_S`` opens a new session; ids are ``<user>-<seq>``."""
    s = pdf.sort_values(["user_id", "ts"])
    gap = s.groupby("user_id")["ts"].diff()
    seq = (gap.isna() | (gap > SESSION_GAP_S * 1e6)).astype(np.int64).groupby(s["user_id"]).cumsum()
    return s.assign(session_id=s["user_id"].astype(str) + "-" + seq.astype(str))[["user_id", "ts", "session_id"]]


def _latest(pdf):
    """The latest event per user. The fixed tables have no tie on a
    user's latest time, so the expected row is unique."""
    s = pdf.sort_values(["user_id", "ts"])
    if s.duplicated(["user_id", "ts"]).any():
        raise RuntimeError("tied event times make the expected upsert store ambiguous")
    return s.drop_duplicates("user_id", keep="last")[["user_id", "event_type", "ts"]]


def _same_rows(got, want) -> bool:
    """Same columns and the same multiset of rows."""
    if sorted(got.columns) != sorted(want.columns):
        return False
    cols = list(want.columns)
    return sorted(got[cols].itertuples(index=False)) == sorted(want.itertuples(index=False))


def _split(table: pa.Table, out_dir: str, rng: np.random.Generator, ts_col: str) -> str:
    """Write ``STREAM_BATCHES`` batch files of contiguous event-time
    ranges; the seed moves each boundary from its even position by up to
    a tenth of a batch. File mtimes fix the replay order."""
    os.makedirs(out_dir, exist_ok=True)
    table = table.sort_by(ts_col)
    ts = _micros(table.column(ts_col).to_numpy())
    n, k = table.num_rows, STREAM_BATCHES
    jitter = rng.uniform(-0.1, 0.1, k - 1) * n / k
    cuts = [int(round(n * (i + 1) / k + j)) for i, j in enumerate(jitter)]
    # a boundary between two equal times would split one instant across
    # batches; move it to the next change of time
    cuts = [c + int(np.argmax(ts[c:] != ts[c - 1])) for c in cuts]
    base = time.time() - 3600
    for i, (lo, hi) in enumerate(zip([0, *cuts], [*cuts, n])):
        path = os.path.join(out_dir, f"b{i}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path)
        os.utime(path, (base + i, base + i))
    return out_dir


class QueryStream:
    """Registry queries and stream operators in one JVM. Set-up runs the
    light list once, so JIT and codegen caches are warm; a timed pass
    runs the light list again (the per-query floor), then the heavy
    queries and the stream drains (fixpoint loops, leaked storage, state
    stores, checkpoint and WAL writes), which bypass the per-read
    floor."""

    name = "query_stream"

    def __init__(self) -> None:
        self.q = Queries(LIGHT_QUERIES + HEAVY_QUERIES)
        self.s = Stream()

    def prepare(self, work: str, seed: int) -> None:
        self.q.prepare(work, seed)
        self.s.prepare(work, seed)

    def warm(self, spark, tracer) -> list[Op]:
        return [self.q.run(spark, tracer, n) for n in LIGHT_QUERIES]

    def run_pass(self, spark, tracer) -> list[Op]:
        return ([self.q.run(spark, tracer, n) for n in LIGHT_QUERIES + HEAVY_QUERIES]
                + [self.s.run(spark, tracer, n) for n in STREAM_OPERATORS])


# ----------------------------------------------------------------- pipeline
class TasksPipeline:
    """``run_pipeline`` (one report period, exports on) over
    ``adapters.tasks_from_orders``: one cold run into an empty cache dir
    in set-up, then passes of two refreshes, in each of which a seeded 1%
    of tasks change (``updated_time`` + k days, status Done)."""

    name = "tasks_pipeline"
    STATUS = {"F": "Done", "O": "Doing", "P": "To Do"}

    def prepare(self, work: str, seed: int) -> None:
        self.data = os.path.join(work, "tables")
        gen.generate(self.data, DATA_SEED, n_orders=PIPELINE_ORDERS, n_events=10, n_docs=20)
        self.cache_dir = os.path.join(work, "cache")
        self.rng = np.random.default_rng(seed)
        status = pq.read_table(os.path.join(self.data, "orders.parquet"), columns=["o_orderstatus"])
        self.status = np.array([self.STATUS[s] for s in status.column(0).to_pylist()], dtype=object)
        self.n = len(self.status)
        self.bump = np.zeros(self.n, dtype=np.int64)  # days added to updated_time
        self.round = 0

    def changes(self, spark):
        """The changed tasks so far, ``(nid, days added)``, or None before
        the first refresh: the benchmark's own frame, made before the
        timed region."""
        if self.round == 0:
            return None
        keys = np.flatnonzero(self.bump)
        return spark.createDataFrame([(int(k), int(self.bump[k])) for k in keys], "nid long, bump int")

    def fetched(self, spark, mods):
        """The source state: ``adapters.tasks_from_orders`` with the
        changes applied."""
        from pyspark.sql import functions as F

        from notion_spark.adapters import tasks_from_orders

        base = tasks_from_orders(spark, self.data)
        if mods is None:
            return base
        hit = F.col("bump").isNotNull()
        cols = {
            "updated_time": F.when(hit, F.timestamp_add("DAY", F.col("bump"), F.col("updated_time")))
            .otherwise(F.col("updated_time")),
            "status": F.when(hit, F.lit("Done")).otherwise(F.col("status")),
        }
        joined = base.join(F.broadcast(mods), "nid", "left")
        return joined.select(*[cols.get(c, F.col(c)).alias(c) for c in base.columns])

    def _run(self, spark, tracer, name: str, n_changed: int) -> Op:
        from notion_spark.pipeline_app import run_pipeline

        tracer.begin_op(name)
        mods = self.changes(spark)
        t0 = time.perf_counter()
        try:
            with tracer.span("pipeline", root=True):
                with tracer.span("adapters.tasks_from_orders"):
                    fetched = self.fetched(spark, mods)
                # run_pipeline caches the fetched frame and counts it:
                # that count runs the whole ingest lineage
                fetched.count = tracer.wrap(fetched.count, "adapters.ingest")
                r = run_pipeline(spark, fetched, self.cache_dir, PIPELINE_NOW, periods=PERIODS)
            wall = time.perf_counter() - t0
        except Exception as e:
            op = _fail(name, time.perf_counter() - t0, e)
        else:
            problems = self._check(spark, r, fetched, n_changed)
            info = {"n_changed": r.n_changed, "n_cached": r.n_cached,
                    "bytes_written": _dir_bytes(self.cache_dir)}
            op = Op(name, wall, not problems, "; ".join(problems) or None, info=info)
        op.leaked_rdds = cleanup(spark)
        return op

    def _check(self, spark, r, fetched, n_changed: int) -> list[str]:
        problems = []
        if (r.n_fetched, r.n_changed, r.n_cached) != (self.n, n_changed, self.n):
            problems.append(f"counts {(r.n_fetched, r.n_changed, r.n_cached)} != {(self.n, n_changed, self.n)}")
        done = int(np.sum((self.status == "Done") | (self.bump > 0)))
        doing = int(np.sum((self.status == "Doing") & (self.bump == 0)))
        todo = int(np.sum((self.status == "To Do") & (self.bump == 0)))
        head = r.analysis_text.splitlines()[:4]
        want = [f"Total number of tasks: {self.n}", f"Completed tasks: {done} (",
                f"Tasks in progress: {doing}", f"Tasks to do: {todo}"]
        if len(head) < 4 or not all(h.startswith(w) for h, w in zip(head, want)):
            problems.append(f"analysis summary {head} != {want}")
        if self.round == 0:
            digest = hashlib.sha256(r.analysis_text.encode()).hexdigest()[:16]
            if digest != load_expected()["pipeline"]["cold_analysis_sha256"]:
                problems.append(f"cold analysis digest {digest}")
        if set(r.pdf_paths) != set(PERIODS):
            problems.append(f"pdfs {sorted(r.pdf_paths)}")
        for p in r.pdf_paths.values():
            with open(p, "rb") as f:
                data = f.read()
            if not (data.startswith(b"%PDF-1.4") and b"/Subtype /Image" in data
                    and data.rstrip().endswith(b"%%EOF")):
                problems.append(f"invalid pdf {os.path.basename(p)}")
        csv_rows = sum(_lines(p) for p in glob.glob(os.path.join(self.cache_dir, "tasks_csv", "*.csv"))) - 1
        json_rows = sum(_lines(p) for p in glob.glob(os.path.join(self.cache_dir, "tasks_json", "*.json")))
        if (csv_rows, json_rows) != (self.n, self.n):
            problems.append(f"export rows csv={csv_rows} json={json_rows}")
        store = spark.read.parquet(os.path.join(self.cache_dir, "tasks.parquet"))
        if fingerprint(store) != fingerprint(fetched):
            problems.append("store differs from the fetched source state")
        return problems

    def warm(self, spark, tracer) -> list[Op]:
        shutil.rmtree(self.cache_dir, ignore_errors=True)
        return [self._run(spark, tracer, "cold", self.n)]

    def run_pass(self, spark, tracer) -> list[Op]:
        """Two refreshes: one over the store the cold run wrote, one over
        a store that has been refreshed once."""
        ops = []
        for name in ("refresh1", "refresh2"):
            self.round += 1
            picks = self.rng.choice(self.n, max(1, round(self.n * REFRESH_SHARE)), replace=False)
            self.bump[picks] = self.round
            ops.append(self._run(spark, tracer, name, len(picks)))
        return ops


def _lines(path: str) -> int:
    with open(path, "rb") as f:
        return sum(1 for _ in f)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


WORKLOADS = {w.name: w for w in (TasksPipeline, QueryStream)}
