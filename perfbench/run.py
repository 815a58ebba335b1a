#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload query_stream --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates its inputs from the
workload's sizes and ``--seed`` under ``.perfbench_work/``, starts a
fresh Spark JVM (``local[<cores>]``), warms up, then runs whole passes of
the workload's operations until ``--seconds`` of operation time have
been measured. Every operation's output is checked; a wrong output or an
exception counts as failed and the run continues.

``--trace 0`` prints the end-to-end metrics (UI off, no wrappers).
``--trace 1`` is the separate traced run: it wraps the library calls the
benchmark makes (see ``trace.py``), enables the UI, attributes Spark
jobs and stages to spans, prints the per-layer metrics and writes the
spans and its own end-to-end figures to ``.perfbench_work/traces/``.

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "4g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_spark(work: str, trace: bool):
    from notion_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files under /tmp: the run writes only in its work dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({"spark.ui.port": "0", "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return out


def _tree(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _cpu_ticks() -> tuple[int, int]:
    """Steal and total ticks of all CPUs from ``/proc/stat``. On a shared
    virtual machine, steal is time the host ran other tenants while this
    one had work: it slows every timed figure without any code change."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def jvm_pid() -> int:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    for p in _tree(pid):
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if b"java" in f.read().split(b"\0")[0]:
                    return p
        except OSError:
            pass
    return pid


def stop_spark(spark) -> None:
    """Stop the context and the JVM, and wait for every process under it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    pids = _tree(gw.proc.pid)
    spark.stop()
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    deadline = time.time() + 30
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except OSError:
                pass


def end_to_end(setup_s: float, timed) -> dict:
    """``pass_s`` sums, and ``op_geomean_s`` takes the geometric mean
    of, each distinct operation's median time over the run's passes: a
    pass time that the spread of one operation barely moves, and a
    per-operation figure in which a sub-second query weighs as much as a
    stream drain."""
    by_name: dict[str, list[float]] = {}
    for op in timed:
        by_name.setdefault(op.name, []).append(op.wall_s)
    medians = [statistics.median(v) for v in by_name.values()]
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (sum(medians), "s"),
        "op_geomean_s": (statistics.geometric_mean(medians), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import notion_spark  # noqa: F401
        import scripts.check_parity  # noqa: F401
    except ImportError as e:
        log(f"cannot import the library from {ROOT}: {e}")
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # Spark scratch, Python temp files and the workers' import path all
    # stay inside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    try:
        result = _run(args, WORKLOADS[args.workload](), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(args, wl, work: str) -> dict:
    """Set up, warm up, run the timed passes; return the result line."""
    from perfbench import layers, trace as tr
    from perfbench.workloads import cleanup

    spark = None
    try:
        wl.prepare(work, args.seed)
        t_spark = time.perf_counter()
        spark = start_spark(work, bool(args.trace))
        t_spark_end = time.perf_counter()
        tracer = tr.Tracer(spark) if args.trace else tr.NullTracer()
        if args.trace:
            tracer.add_span("session.get_spark", t_spark, t_spark_end)
            tracer.install()
        cleanup(spark)
        with tracer.span("session.warmup"):
            warm = wl.warm(spark, tracer)
        setup_s = time.perf_counter() - T0
        log(f"set-up {setup_s:.2f}s: inputs {t_spark - T0:.2f}s, session {t_spark_end - t_spark:.2f}s, "
            f"warm-up {time.perf_counter() - t_spark_end:.2f}s")
        first_timed = tracer.ops

        timed, busy = [], 0.0
        steal0, total0 = _cpu_ticks()
        while busy < args.seconds:
            ops = wl.run_pass(spark, tracer)
            timed += ops
            busy += sum(op.wall_s for op in ops)
        steal1, total1 = _cpu_ticks()
        steal = (steal1 - steal0) / max(1, total1 - total0)
        log(f"CPU time stolen by the hypervisor during the timed passes: {steal:.1%}")
        host = {"memory.jvm_peak_rss_mb": _hwm_mb(jvm_pid()),
                "memory.python_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
                "host.steal_share": steal}
        e2e = end_to_end(setup_s, timed)
        if args.trace:
            tracer.uninstall()
            tracer.attribute()
    finally:
        if spark is not None:
            stop_spark(spark)

    ops = warm + timed
    failed = [op for op in ops if not op.ok]
    for label, group in (("warm-up", warm), ("timed", timed)):
        log(f"{label}: " + ", ".join(f"{op.name} {op.wall_s:.2f}s" for op in group))
    for op in failed:
        log(f"FAILED {op.name}: {op.err}")
    log(f"{args.workload} seed={args.seed}: {len(timed)} timed ops, {len(ops)} attempted, "
        f"{len(failed)} failed; slowest timed op {max(op.wall_s for op in timed):.2f}s")
    if args.trace:
        metrics = layers.per_layer(tracer.spans, timed, first_timed, host)
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        out = os.path.join(WORK_ROOT, "traces", f"{args.workload}-s{args.seed}.json")
        with open(out, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "end_to_end": e2e,
                       "per_layer": metrics,
                       "self_s_per_op": layers.self_times(tracer.spans, len(timed), first_timed),
                       "ops": [{"name": o.name, "wall_s": o.wall_s, "ok": o.ok, "leaked_rdds": o.leaked_rdds}
                                for o in timed],
                       "spans": tracer.spans}, f)
        log(f"spans written to {out}")
        if metrics["trace.coverage_min"]["value"] < 0.9:
            log("named layers cover less than 90% of some operation's wall time")
    else:
        metrics = e2e
    return {"correct": not failed, "attempted": len(ops), "failed": len(failed), "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
