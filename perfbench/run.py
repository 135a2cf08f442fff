"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload serve_fresh --seed 7 --seconds 20 --trace 0

Prints a full record (every metric the workload measures, with load and
check details) and then, as the last line, the result object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones
from a traced run; spans are written under ``.bench_build/perfbench/``.
Exits 1 if any check failed and 2 if the engine is not in the checkout.
See NOTES.md for the workloads and what each metric means.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# End-to-end metrics, reported by every workload (see NOTES.md).
E2E = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "rows_per_s": "1/s",
    "recall_hnsw": "ratio",
    "recall_ivfpq": "ratio",
    "index_bytes_per_byte": "ratio",
}

# Per-layer metrics from the traced run: medians of the samples the
# workloads record, then Spark fields per call site, then the tracer's own.
LAYER_SAMPLES = {
    "session.start_s": "s",
    "ndjson.scan_s": "s",
    "ndjson.rows_per_s": "1/s",
    "ndjson.dropped_lines": "count",
    "hnsw.build_s": "s",
    "hnsw.edges": "count",
    "ivf.train_s": "s",
    "pq.train_s": "s",
    "ivfpq.encode_s": "s",
    "knn.exact.construct_ms": "ms",
    "knn.exact.exec_ms": "ms",
    "knn.pairs_per_s": "1/s",
    "hnsw.search.construct_ms": "ms",
    "hnsw.search.exec_ms": "ms",
    "ivfpq.search.construct_ms": "ms",
    "ivfpq.search.exec_ms": "ms",
    "evaluation.recall_s": "s",
    "caches.entries": "count",
    "caches.entries_added_per_batch": "count",
}
# Spark fields per call site (medians per call), read after the run.
SITE_FIELDS = {
    "ndjson.scan": ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms"),
    "hnsw.build": ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms",
                   "shuffle_write_bytes"),
    "ivfpq.encode": ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms",
                     "shuffle_write_bytes"),
    "knn.exact.exec": ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms",
                       "python_init_ms", "python_total_ms", "arrow_bytes"),
    "hnsw.search.exec": ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms",
                         "shuffle_write_bytes", "python_init_ms",
                         "python_total_ms", "arrow_bytes"),
    "ivfpq.search.construct": ("jobs", "tasks", "executor_run_ms"),
    "ivfpq.search.exec": ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms",
                          "shuffle_write_bytes", "python_init_ms",
                          "python_total_ms", "arrow_bytes"),
}
FIELD_UNITS = {"jobs": "count", "tasks": "count", "executor_run_ms": "ms",
               "executor_cpu_ms": "ms", "shuffle_write_bytes": "bytes",
               "python_init_ms": "ms", "python_total_ms": "ms",
               "arrow_bytes": "bytes"}
TRACE_METRICS = {"trace.overhead_frac": "ratio", "trace.coverage": "ratio"}


def layer_units() -> dict[str, str]:
    out = dict(LAYER_SAMPLES)
    for site, fields in SITE_FIELDS.items():
        out.update({f"{site}.{f}": FIELD_UNITS[f] for f in fields})
    out.update(TRACE_METRICS)
    return out


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def prepare_env(workdir: str) -> None:
    """Keep every file Spark and its workers write inside ``workdir`` and put
    the engine package on the Python workers' path."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_EXTRA_JAVA_OPTS"] = jvm_opts  # the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs):
    return statistics.median(xs) if xs else None


def mean(xs):
    return statistics.fmean(xs) if xs else None


def tail(xs):
    """(value, percentile, n): the highest percentile with at least 10
    samples above it, or (None, None, n) when there are too few samples."""
    n = len(xs)
    if n < 11:
        return None, None, n
    return sorted(xs)[n - 11], round(100.0 * (n - 10) / n, 1), n


def summarize(run, wl: str, setup_s: float, wall: float, rows: int) -> tuple[dict, dict]:
    """(end-to-end metrics, full record) for one run."""
    g = run.get
    idx = g("index_bytes") and median(g("index_bytes")) / median(g("index_raw_bytes"))
    e2e = {
        "setup_s": setup_s,
        "op_p50_ms": median(g("op_ms")),
        "rows_per_s": rows / wall,
        "recall_hnsw": mean(g("recall.hnsw")),
        "recall_ivfpq": mean(g("recall.ivfpq")),
        "index_bytes_per_byte": idx,
    }
    rec = {"timed_wall_s": wall, "op_ms": g("op_ms"),
           "failed_frac": run.failed / max(run.attempted, 1)}
    for kind in ("exact", "hnsw", "ivfpq"):
        xs = run.samples["timed"].get(f"serve.{kind}_ms", [])
        v, p, n = tail(xs)
        rec[f"serve_{kind}_p50_ms"] = median(xs)
        rec[f"serve_{kind}_tail_ms"] = {"value": v, "percentile": p, "samples": n}
    if wl == "pipeline_cold":
        rec["pipeline_s"] = median(g("pipeline_s"))
        rec["curate_docs_per_s"] = median(g("curate_docs_per_s"))
        for k in ("textstats.quality_s", "dedup.clusters_s", "decontam.ngram_s",
                  "curation.bm25_s", "dedup.clustered_docs", "dedup.pair_recovery"):
            rec[k] = median(g(k))
    elif wl == "serve_fresh":
        rec["serve_qps"] = rows / wall
    else:
        rec["ingest_step_p50_ms"] = median(g("op_ms"))
        rec["ingest_rows_per_s"] = rows / wall
        rec["hnsw.delete_search_ms"] = median(g("serve.hnsw_ms"))
        for k in ("hnsw.upsert_construct_ms", "hnsw.upsert_growth", "ivfpq.upsert_ms"):
            rec[k] = median(g(k))
    return e2e, rec


def layer_metrics(run, tr, session_s: float, t0: float, t1: float) -> dict:
    from perfbench.trace import site_fields

    out = {"session.start_s": session_s}
    for name in LAYER_SAMPLES:
        if name != "session.start_s":
            out[name] = median(run.get(name))
    for site, fields in SITE_FIELDS.items():
        spans = tr.by_name(site, t0) or tr.by_name(site)
        vals = site_fields(spans)
        for f in fields:
            out[f"{site}.{f}"] = vals.get(f)
    out["trace.overhead_frac"] = tr.bookkeeping_s / (t1 - t0)
    out["trace.coverage"] = tr.coverage(t0, t1)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; tiny is for the smoke test")
    ap.add_argument("--corrupt", default=None,
                    help="smoke test only: falsify one result of this index family")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "toy_vector_db_spark", "__init__.py")):
        print(f"perfbench: no engine package next to {os.path.dirname(__file__)}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".bench_build", "perfbench")
    workdir = os.path.join(out_dir, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    prepare_env(workdir)
    load0 = loadavg()

    from perfbench.trace import Tracer
    from toy_vector_db_spark.session import get_spark

    spark = get_spark("perfbench", cpus=nproc())
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - T_START
    try:
        tr = Tracer(spark, enabled=bool(args.trace))
        run = workloads.Run(spark, tr, workdir, args.seed, args.seconds, args.size)
        if args.corrupt:
            run.corrupt = workloads.corrupter(args.corrupt)
        timed = workloads.WORKLOADS[args.workload](run)
        reps = run.samples["setup"].get("setup_rep_s", [0.0])
        run.phase = "timed"
        t0 = time.perf_counter()
        # set-up counted once, at the median of its repetitions
        setup_s = t0 - T_START - sum(reps) + median(reps)
        rows = timed()
        t1 = time.perf_counter()
        e2e, rec = summarize(run, args.workload, setup_s, t1 - t0, rows)
        if tr.enabled:
            h0 = time.perf_counter()
            tr.harvest()
            rec["trace_harvest_s"] = time.perf_counter() - h0
            layers = layer_metrics(run, tr, session_s, t0, t1)
            rec["self_time_s"] = tr.self_times()
            tr.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.jsonl"))
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    correct = run.failed == 0
    rec.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
               trace=args.trace, size=args.size, nproc=nproc(),
               loadavg_start=load0, loadavg_end=loadavg(),
               attempted=run.attempted, failed=run.failed, errors=run.errors[:20],
               end_to_end=e2e)
    if tr.enabled:
        rec["per_layer"] = layers
    print(json.dumps(rec, default=float))
    chosen, units = (layers, layer_units()) if tr.enabled else (e2e, E2E)
    metrics = {k: {"value": chosen[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
