#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 11 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the repository root. One client process drives one
``local[<cpus>]`` session: two untimed warm-up passes, then a closed loop of
whole passes for at least ``--seconds``, then a check of every op's output
outside the timed window. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. A
traced run alternates untraced and traced passes, reports layer numbers from
the traced ones and the tracing overhead from the difference. Every run
writes its ops (and spans, when traced) to ``perfbench/.work/runs/``.

Inputs are generated once per checkout under ``perfbench/.work/data``; the
seed orders each pass's ops and seeds the recsys split and ALS fits.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import warnings  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench import workloads as W  # noqa: E402
from perfbench.trace import (Py4jCounter, SparkCounters, self_times,  # noqa: E402
                             span_totals)

WORKLOADS = ("olap_mix", "corpus_text", "recsys_pipeline")
#: Table scale (TPC-H scale factor: lineitem = 6M × SCALE rows) and the
#: fixed seed of the tables themselves; --seed varies the ops, not the data.
SCALE = 0.01
DATA_SEED = 42
#: Untimed passes before the window: the JVM keeps compiling through the
#: first pass, so the second one is what leaves the window at steady state.
WARMUP_PASSES = 2

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "ops_per_min": "1/min",
              "peak_rss_mb": "MB"}
#: Printed beside the end-to-end metrics where a workload has them.
REPORTED = {"failed_frac": "fraction", "ingest_s": "s", "op_p90_s": "s",
            "op_p99_s": "s", "op_p99.9_s": "s"}

QUERY_SPANS = ("queries.build", "queries.exec")
LAYER_SPANS = ("sources.load", "ml.indexing.fit", "sources.write",
               "sources.read", "ml.protocol.split", "ml.als.fit",
               "ml.als.recommend", "ml.metrics.ranking", "ml.metrics.rmse")
#: Per-op means of the counters read after each traced op.
PER_OP_COUNTERS = {
    "driver.py4j_calls": "count", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.input_records": "count", "spark.input_bytes": "bytes",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    **{f"{k}_s": "s" for k in QUERY_SPANS},
    **PER_OP_COUNTERS,
    "spark.failed_tasks": "count", "spark.core_busy_frac": "fraction",
    **{f"{m}.op_s": "s" for m in W.MODULES},
    **{f"{k}_s": "s" for k in LAYER_SPANS},
    "sources.bytes_written": "bytes", "ml.als.fit_jobs": "count",
    **{f"self.{k}_s": "s" for k in ("op",) + QUERY_SPANS + LAYER_SPANS},
    "trace.overhead_frac": "fraction",
}


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _heap_mb() -> int:
    """Driver heap: a quarter of the machine's memory, at most 1 GB (the
    engine's library default of 32g exceeds small machines)."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(512, min(1024, total_kb // 4 // 1024))


def _session_conf(heap_mb: int) -> dict[str, str]:
    """Point Spark's, Python's and the JVM's temp files into the checkout,
    and commit the full heap from the start: a heap that grows on the
    collector's schedule makes peak RSS a timing artefact."""
    for name, env in (("spark-local", "SPARK_LOCAL_DIRS"), ("tmp", "TMPDIR")):
        path = os.path.join(WORK, name)
        os.makedirs(path, exist_ok=True)
        os.environ[env] = path
    import tempfile
    tempfile.tempdir = None
    return {"spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{heap_mb}m"}


def run_op(wl, engine, key: str, pass_idx: int, traced: bool) -> W.Op:
    op = W.Op(key, pass_idx, traced)
    engine.tracer.enabled = traced
    t_cycle = time.perf_counter()
    if traced:
        engine.tracer.op_id += 1
        mark = engine.counters.mark()
        calls0 = engine.py4j.calls
        engine.py4j.active = True
    t = time.perf_counter()
    try:
        with engine.span("op"):
            op.result = wl.run(key, pass_idx)
    except Exception as ex:  # an op that raises is a failed op
        op.error = f"{type(ex).__name__}: {str(ex)[:300]}"
    op.latency = time.perf_counter() - t
    if traced:
        engine.py4j.active = False
        op.counters = {"driver.py4j_calls": engine.py4j.calls - calls0,
                       **engine.counters.since(mark)}
        if key == "ingest" and op.ok:
            op.counters["sources.bytes_written"] = _dir_bytes(
                wl.passes[pass_idx].path)
        op.collect_s = time.perf_counter() - t_cycle - op.latency
    engine.tracer.enabled = False
    return op


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def run_window(wl, engine, seconds: float, trace: bool):
    """Closed loop of whole passes after the warm-up passes: a new pass
    starts until ``seconds`` have passed, so every run measures each op of
    the workload equally often. A traced run alternates untraced and traced
    passes and runs at least three, so a traced pass sits between two
    untraced ones."""
    ops = []
    start = time.perf_counter()
    k = 0
    while time.perf_counter() - start < seconds or (trace and k < 3):
        pass_idx = WARMUP_PASSES + k
        for key in wl.pass_ops(pass_idx):
            ops.append(run_op(wl, engine, key, pass_idx,
                              traced=trace and k % 2 == 1))
        k += 1
    return ops, time.perf_counter() - start


def end_to_end(ops, window_s: float, setup_s: float, rss_mb: float,
               workload: str) -> tuple[dict, dict]:
    # A failed op counts as lasting the whole window, so it can only make a
    # latency worse; only correct ops count towards throughput.
    lat = [o.latency if o.ok else window_s for o in ops
           if workload != "recsys_pipeline" or o.key != "ingest"]
    summary = stats.latency_summary(lat)
    n_ok = sum(o.ok for o in ops)
    metrics = {"setup_s": setup_s, "op_p50_s": summary["p50"],
               "ops_per_min": 60.0 * n_ok / window_s, "peak_rss_mb": rss_mb}
    reported = {"failed_frac": (len(ops) - n_ok) / len(ops)}
    if summary.get("tail_pct", 50.0) > 50.0:
        reported[f"op_p{summary['tail_pct']:g}_s"] = summary["tail"]
    ingest = [o.latency if o.ok else window_s for o in ops if o.key == "ingest"]
    if ingest:
        reported["ingest_s"] = stats.median(ingest)
    return metrics, {"op_latency_samples": summary["n"], **reported}


def per_layer(ops, engine, session_start_s: float) -> dict:
    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = session_start_s
    traced = [o for o in ops if o.traced]
    for key in PER_OP_COUNTERS:
        out[key] = sum(o.counters.get(key, 0.0) for o in traced) / len(traced)
    out["spark.failed_tasks"] = sum(o.counters.get("spark.failed_tasks", 0.0)
                                    for o in traced)
    out["spark.core_busy_frac"] = (
        sum(o.counters.get("spark.executor_run_s", 0.0) for o in traced)
        / (sum(o.latency for o in traced) * engine.cores))
    ingests = [o for o in traced if o.key == "ingest"]
    if ingests:
        out["sources.bytes_written"] = sum(
            o.counters.get("sources.bytes_written", 0) for o in ingests
        ) / len(ingests)
    fit_jobs = [o.result["fit_jobs"] for o in traced if o.key in W.GRID and o.ok]
    if fit_jobs:
        out["ml.als.fit_jobs"] = sum(fit_jobs) / len(fit_jobs)
    for module in {W.MODULE_OF.get(o.key) for o in traced} - {None}:
        lat = [o.latency for o in traced if W.MODULE_OF.get(o.key) == module]
        out[f"{module}.op_s"] = sum(lat) / len(lat)
    totals = span_totals(engine.tracer.spans)
    for name, (total, count) in totals.items():
        if name != "op":
            out[f"{name}_s"] = total / count
    for name, total in self_times(engine.tracer.spans).items():
        out[f"self.{name}_s"] = total / totals[name][1]
    # Overhead: a traced op, counter reads included, against the same op's
    # median in the untraced passes around it.
    base: dict[str, list[float]] = {}
    for o in ops:
        if not o.traced and o.ok:
            base.setdefault(o.key, []).append(o.latency)
    pairs = [(o.latency + o.collect_s, stats.median(base[o.key]))
             for o in traced if o.ok and o.key in base]
    if pairs:
        out["trace.overhead_frac"] = (sum(a for a, _ in pairs)
                                      / sum(b for _, b in pairs)) - 1.0
    return out


def _write_ops(engine, ops, workload: str, seed: int, trace: bool) -> str:
    """Every op of the window, and the spans of a traced run, as JSON."""
    from dataclasses import asdict

    out_dir = os.path.join(WORK, "runs")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{workload}-seed{seed}-trace{int(trace)}.json")
    with open(path, "w") as fh:
        json.dump({"spans": [asdict(s) for s in engine.tracer.spans],
                   "ops": [{"key": o.key, "pass": o.pass_idx,
                            "traced": o.traced, "latency_s": o.latency,
                            "error": o.error, "counters": o.counters}
                           for o in ops]}, fh)
    return path


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def bench(workload: str, seed: int, seconds: float, trace: bool) -> int:
    try:
        import ds_ga1004_bigdata_project_spark  # noqa: F401
    except ImportError as ex:
        print(f"engine package not importable from {ROOT}: {ex}",
              file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    t = time.perf_counter()
    # In a child process, so table generation never shows in peak RSS.
    data_dir = subprocess.run(
        [sys.executable, "-m", "perfbench.datagen",
         os.path.join(WORK, "data"), str(SCALE), str(DATA_SEED)],
        cwd=ROOT, check=True, capture_output=True, text=True).stdout.strip()
    datagen_s = time.perf_counter() - t
    heap_mb = _heap_mb()
    conf = _session_conf(heap_mb)
    warnings.simplefilter("ignore")

    import pyspark

    from ds_ga1004_bigdata_project_spark.session import get_local_session

    cores = len(os.sched_getaffinity(0))
    spark = get_local_session(cores, driver_mem=f"{heap_mb}m", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - T0 - datagen_s
    engine = W.Engine(spark, data_dir, WORK, cores)
    if workload == "recsys_pipeline":
        wl = W.RecsysWorkload(engine, seed)
    else:
        names = W.OLAP_MIX if workload == "olap_mix" else W.CORPUS_TEXT
        wl = W.QueryWorkload(engine, names, seed)
    try:
        warm = [run_op(wl, engine, key, p, False)
                for p in range(WARMUP_PASSES) for key in wl.pass_ops(p)]
        setup_s = time.perf_counter() - T0 - datagen_s
        if trace:
            engine.py4j = Py4jCounter(spark)
            engine.counters = SparkCounters(spark)
        ops, window_s = run_window(wl, engine, seconds, trace)
        rss_py_mb = _vm_hwm_kb("self") / 1024.0
        rss_jvm_mb = _vm_hwm_kb(
            spark._jvm.java.lang.ProcessHandle.current().pid()) / 1024.0
        if engine.py4j:
            engine.py4j.close()
        wl.check(warm + ops, SCALE)
        if trace:
            metrics, units, extras = (
                per_layer(ops, engine, session_start_s), PER_LAYER, {})
        else:
            metrics, extras = end_to_end(ops, window_s, setup_s,
                                         rss_py_mb + rss_jvm_mb, workload)
            units = END_TO_END
        env = {"workload": workload, "seed": seed, "trace": int(trace),
               "cpus": cores, "master": f"local[{cores}]",
               "jvm_heap_mb": heap_mb, "scale": SCALE,
               "data_dir": os.path.relpath(data_dir, ROOT),
               "data_seed": DATA_SEED, "datagen_s": round(datagen_s, 3),
               "window_s": round(window_s, 3),
               "peak_rss_python_mb": rss_py_mb, "peak_rss_jvm_mb": rss_jvm_mb,
               "pyspark": pyspark.__version__,
               "java": spark._jvm.System.getProperty("java.version"),
               "python": platform.python_version(),
               "ops_file": os.path.relpath(
                   _write_ops(engine, ops, workload, seed, trace), ROOT)}
    finally:
        wl.close()
        _stop(spark)
        for name in ("spark-local", "tmp"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)

    bad = [o for o in warm + ops if not o.ok]
    for o in bad[:10]:
        print(f"FAILED op {o.key} (pass {o.pass_idx}): {o.error}")
    print(json.dumps({"env": env, **extras}))
    for name, value in metrics.items():
        print(f"{workload} {name} = {value:.6g} {units[name]}")
    for name, value in extras.items():
        if name in REPORTED:
            print(f"{workload} {name} = {value:.6g} {REPORTED[name]}")
    print(json.dumps({
        "correct": not bad, "attempted": len(ops),
        "failed": sum(not o.ok for o in ops),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


def bench_all(seed: int, seconds: float, trace: bool) -> int:
    """Every workload, each in its own process; the last line combines them."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for workload in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds),
             "--trace", str(int(trace))],
            cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode or 1
        print("\n".join(lines[:-1]))
        result = json.loads(lines[-1])
        combined["correct"] &= result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        for k, v in result["metrics"].items():
            combined["metrics"][f"{workload}.{k}"] = v
    print(json.dumps(combined))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=11)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return bench_all(args.seed, args.seconds, bool(args.trace))
    return bench(args.workload, args.seed, args.seconds, bool(args.trace))


if __name__ == "__main__":
    sys.exit(main())
