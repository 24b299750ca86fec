"""Seeded dedup / serve benchmark for the MinHash-LSH engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload {dedup,serve} --seed N \\
        --seconds S --trace {0,1}

One process, one Spark session on ``local[<cpus>]``, one closed-loop client.
The corpus and queries come from ``--seed`` (``corpus.py``); the engine
only sees the generated texts. Every operation's output is checked, and a
raised or wrong operation counts as failed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` interleaves
untraced and traced operations over the measuring time (the difference of
their medians is the tracing overhead), then sweeps the layers the
workload's own loop does not touch (including the in-session batch and
single-string search calls), and prints the per-layer metrics. Stdout
carries a ``report`` JSON line with the workload's metrics under
descriptive names, counts, raw samples, generator parameters and
environment, followed by the result JSON line (always last); the traced
run also writes its spans to ``.perfbench_out/``.

End-to-end metrics (the same four names on every workload):

================  ==============================  ===============================
metric            dedup                           serve
================  ==============================  ===============================
setup_s           session + warm-up dedup         session + fit/save/load + warm-up
latency_p50_ms    one minhash_dedup pass          one topk query, rows collected
throughput_per_s  corpus docs / median pass       appended docs / median append
recall            planted pairs with true         edited-copy queries whose
                  Jaccard >= 0.8 in one cluster   source doc is in the top 10
================  ==============================  ===============================
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from metrics import Tally, latency_summary, ratio  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "throughput_per_s": "1/s",
    "recall": "ratio",
}

LAYERS = ("session", "hashing", "minhash_lsh", "dedup", "lsh_serving", "bench")

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.peak_rss_mb": "MB",
    "hashing.transform_s": "s",
    "hashing.shingles_per_s": "1/s",
    "hashing.query_transform_s": "s",
    "minhash_lsh.fit_s": "s",
    "minhash_lsh.join_s": "s",
    "minhash_lsh.candidate_pairs": "count",
    "minhash_lsh.pairs_out": "count",
    "minhash_lsh.verify_yield": "ratio",
    "minhash_lsh.pair_precision": "ratio",
    "minhash_lsh.batch_ann_s": "s",
    "minhash_lsh.batch_candidates_per_query": "count",
    "minhash_lsh.ann_plan_s": "s",
    "minhash_lsh.ann_exec_s": "s",
    "dedup.cc_s": "s",
    "dedup.edges": "count",
    "dedup.components": "count",
    "dedup.rest_s": "s",
    "lsh_serving.save_s": "s",
    "lsh_serving.load_s": "s",
    "lsh_serving.topk_plan_s": "s",
    "lsh_serving.topk_exec_s": "s",
    "lsh_serving.jobs_per_query": "count",
    "lsh_serving.band_partitions_touched": "count",
    "lsh_serving.candidates_per_query": "count",
    "lsh_serving.first_query_after_append_ms": "ms",
    "lsh_serving.append_s": "s",
    "lsh_serving.artifact_files": "count",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    "trace.spark_jobs": "count",
    "trace.failed_tasks": "count",
    "trace.op_p50_ms": "ms",
    "trace.overhead_pct": "%",
}

#: the operation whose latency is ``latency_p50_ms``, per workload
PRIMARY_OP = {"dedup": "dedup_op", "serve": "topk"}

BASE_DOCS = 20_000


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(PRIMARY_OP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def machine() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # a quarter of the box, capped: the driver JVM hosts every task thread
    heap_gb = max(1, min(4, mem_kb // (4 * 1024 * 1024)))
    return {"cpus": cpus, "mem_gb": round(mem_kb / 2**20, 1), "driver_mem": f"{heap_gb}g"}


def session_env(work: Path, box: dict) -> None:
    """Size the session for this machine and keep Spark's files in ``work``.
    Must run before the JVM starts."""
    local = work / "spark-local"
    tmp = work / "tmp"
    local.mkdir(parents=True)
    tmp.mkdir()
    os.environ["SPARK_GRAFT_CPUS"] = str(box["cpus"])
    os.environ["SPARK_DRIVER_MEM"] = box["driver_mem"]
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.local.dir={local}",
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
        f"--driver-java-options -Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])


def jvm_peak_rss_mb(proc) -> float:
    with open(f"/proc/{proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the JVM")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (the Python workers it forked
    exit when their JVM pipe closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def med(xs):
    return statistics.median(xs) if xs else None


def end_to_end(w, ctx, workload: str, setup_s: float) -> dict:
    t = ctx.times
    lat = med(t[PRIMARY_OP[workload]])
    if workload == "dedup":
        thr = ctx.n_docs / med(t["dedup_op"])
        rec = ctx.hits["dedup_recall"]
    else:
        thr = w.APPEND_DOCS / med(t["append"])
        rec = ctx.hits["recall_at_10"]
    return {
        "setup_s": setup_s,
        "latency_p50_ms": lat * 1e3,
        "throughput_per_s": thr,
        "recall": rec[0] / rec[1],
    }


def report_metrics(w, ctx, workload: str, setup_s: float) -> dict:
    """The workload's metrics under their descriptive names, with units,
    sample counts and ratio bases."""
    t = ctx.times
    out = {"setup_s": {"value": setup_s, "unit": "s"},
           "ops_failed_frac": {"value": ctx.tally.failed_frac, "unit": "ratio",
                               "failed": ctx.tally.failed,
                               "attempted": ctx.tally.attempted}}
    if workload == "dedup":
        out["dedup_docs_per_s"] = {"value": ctx.n_docs / med(t["dedup_op"]),
                                   "unit": "docs/s", "ops": len(t["dedup_op"])}
        out["dedup_op_ms"] = latency_summary(t["dedup_op"])
        for k in ("dedup_recall", "dedup_mixed_cluster_frac"):
            out[k] = {**ratio(*ctx.hits[k]), "unit": "ratio"}
    elif workload == "serve":
        q = latency_summary(t["topk"])
        out["serve_query_p50_ms"] = {"value": q["p50_ms"], "unit": "ms", "n": q["n"]}
        out["serve_query_p90_ms"] = {
            "value": q.get("tail_ms") if q.get("tail_pct") == 90.0 else None,
            "unit": "ms", "n": q["n"],
            "note": "needs >= 100 queries per run" if q["n"] < 100 else ""}
        out["serve_query_tail"] = q
        out["serve_append_p50_ms"] = {"value": med(t["append"]) * 1e3, "unit": "ms",
                                      "n": len(t["append"])}
        out["serve_first_query_after_append_ms"] = latency_summary(t["first_after_append"])
        out["recall_at_10"] = {**ratio(*ctx.hits["recall_at_10"]), "unit": "ratio"}
    if t["batch"]:  # the traced sweep's search calls
        out["search_batch_qps"] = {"value": w.BATCH_QUERIES / med(t["batch"]),
                                   "unit": "queries/s", "n": len(t["batch"])}
        q = latency_summary(t["ann"])
        out["search_query_p50_ms"] = {"value": q["p50_ms"], "unit": "ms", "n": q["n"]}
        out["search_recall_at_10"] = {**ratio(*ctx.hits["search_recall_at_10"]), "unit": "ratio"}
    return out


def per_layer(w, ctx, tracer, untraced: list, traced: list, rss: float) -> dict:
    def span_med(name):
        return med([s.duration for s in tracer.by_name(name)])

    c = ctx.counts
    cand, out_pairs = med(c["minhash_lsh.candidate_pairs"]), med(c["minhash_lsh.pairs_out"])
    m = {
        "session.get_spark_s": span_med("session.get_spark_s"),
        "session.peak_rss_mb": rss,
        "minhash_lsh.candidate_pairs": cand,
        "minhash_lsh.pairs_out": out_pairs,
        "minhash_lsh.verify_yield": out_pairs / cand if cand else None,
        "lsh_serving.jobs_per_query": med([s.jobs for s in tracer.by_name("bench.topk_op")]),
        "lsh_serving.first_query_after_append_ms":
            med(ctx.times["first_after_append"]) * 1e3 if ctx.times["first_after_append"] else None,
        "lsh_serving.artifact_files": max(c["lsh_serving.artifact_files"], default=None),
        "trace.spark_jobs": sum(s.jobs for s in tracer.spans if s.parent is None),
        "trace.failed_tasks": sum(s.failed_tasks for s in tracer.spans if s.parent is None),
        "trace.op_p50_ms": med(traced) * 1e3,
        "trace.overhead_pct": (med(traced) / med(untraced) - 1.0) * 100.0,
    }
    for name in PER_LAYER:
        if name in m:
            continue
        if name in c:
            m[name] = med(c[name])
        elif name.endswith("_s") and not name.endswith(".self_s"):
            m[name] = span_med(name)
    self_time = tracer.self_time_by_layer()
    for layer in LAYERS:
        m[f"{layer}.self_s"] = self_time.get(layer, 0.0)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "pyspark_minhash_lsh_spark").is_dir():
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    try:
        import pyspark  # noqa: F401
        import pyspark_minhash_lsh_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    import corpus as corpus_mod
    import workloads as w
    from spans import Tracer

    box = machine()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    session_env(work, box)
    load_before = os.getloadavg()[0]
    phases = {"start": time.perf_counter()}
    spark = None
    try:
        params = corpus_mod.CorpusParams(
            docs=BASE_DOCS + (w.MAX_APPENDS * w.APPEND_DOCS if args.workload == "serve" or args.trace else 0))
        corpus = corpus_mod.generate(params, args.seed)

        from pyspark_minhash_lsh_spark.session import get_spark
        from pyspark import SparkContext

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        tracer.record("session.get_spark_s", t0, t1)

        ctx = w.Ctx(spark, tracer, corpus, BASE_DOCS, w.QueryStream(corpus, args.seed), str(work))
        # input generation (not set-up): the corpus as a parquet table
        ctx.frame(0, BASE_DOCS).write.parquet(str(work / "corpus"))
        ctx.df = spark.read.parquet(str(work / "corpus"))
        prepare, setup, _, finish = w.WORKLOADS[args.workload]
        state = prepare(ctx)
        # start timing with no writeback pending from input generation
        # or an earlier run
        os.sync()

        t2 = phases["prepared"] = time.perf_counter()
        setup(ctx, state)
        setup_s = (t1 - t0) + (time.perf_counter() - t2)
        ctx.tally = Tally()
        for d in (ctx.times, ctx.counts, ctx.hits):
            d.clear()
        # the corpus and its truth are long-lived: keep them out of the
        # collector's scans so its pauses do not land in timed calls
        gc.collect()
        gc.freeze()

        op = PRIMARY_OP[args.workload]
        phases["set_up"] = time.perf_counter()
        if args.trace and args.workload == "dedup":
            w.warm_split(ctx)
        samples = w.run_loop(ctx, args.workload, state, args.seconds, op, bool(args.trace))
        phases["measured"] = time.perf_counter()
        if finish is not None:
            finish(ctx, state)
        phases["checked"] = time.perf_counter()
        if args.trace:
            w.sweep(ctx, args.workload, state)
            phases["swept"] = time.perf_counter()
        report = report_metrics(w, ctx, args.workload, setup_s)
        if args.trace:
            tracer.resolve_jobs()
            rss = jvm_peak_rss_mb(SparkContext._gateway.proc)
            metrics = per_layer(w, ctx, tracer, samples[False], samples[True], rss)
            units = PER_LAYER
            out_dir.mkdir(exist_ok=True)
            trace_file = out_dir / f"trace-{args.workload}-seed{args.seed}.json"
            tracer.dump(str(trace_file))
            report["trace_file"] = str(trace_file.relative_to(ROOT))
            report["self_s_by_layer"] = tracer.self_time_by_layer()
        else:
            metrics, units = end_to_end(w, ctx, args.workload, setup_s), END_TO_END
        missing = [k for k in units if metrics.get(k) is None]
        for k in missing:
            ctx.tally.record("metrics", f"{k} not measured")
        report.update({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "generator": params.as_dict() | {"docs": BASE_DOCS},
            "env": {**box, "load1_before": load_before, "load1_after": os.getloadavg()[0],
                    "spark": spark.version, "python": platform.python_version()},
            "failures": ctx.tally.failures[:10],
            "samples_ms": {k: [round(x * 1e3, 1) for x in v] for k, v in ctx.times.items()},
            # wall seconds from process start to the end of each phase
            "phases_s": {k: round(t - phases["start"], 1) for k, t in phases.items()},
        })
        print(json.dumps({"report": report}))
        print(json.dumps({
            "correct": ctx.tally.failed == 0,
            "attempted": ctx.tally.attempted,
            "failed": ctx.tally.failed,
            "metrics": {k: {"value": metrics.get(k) or 0.0, "unit": u} for k, u in units.items()},
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
