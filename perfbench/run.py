"""Pipeline benchmark: incremental extraction runs, and top-k search over a
vector table whose set-up also runs near-duplicate curation.

    python3 perfbench/run.py --workload <incremental_runs|search> --seed <n>
        --seconds <s> --trace <0|1> [--scale <f>]

Run from the root of a checkout.  Inputs are generated from ``--seed``; the
workload is timed closed-loop with one client for ``--seconds``; every
operation's output is checked; the last stdout line is one JSON object
(``correct``, ``attempted``, ``failed``, ``metrics``).  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones and
writes every span to ``.bench_work/traces/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

# Operations are run for --seconds, and at least one (an incremental run
# takes longer than the whole window); a traced run needs one untraced and
# one traced operation for trace.overhead_s.
MIN_OPS = {0: 1, 1: 2}

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per_layer metric -> (span name, count key or None for duration, unit)
LAYER_METRICS = {
    "session.start_s": (None, None, "s"),
    "session.peak_rss_mb": (None, None, "MB"),
    "op.p50_ms": (None, None, "ms"),
    "model.msgs_scanned": ("model.scan", "msgs", "count"),
    "model.scan_s": ("model.scan", None, "s"),
    "extraction.build_s": ("extraction.build", None, "s"),
    "extraction.chunks_out": ("extraction.build", "chunks_out", "count"),
    "extraction.jobs": ("extraction.build", "jobs", "count"),
    "extraction.tasks": ("extraction.build", "tasks", "count"),
    "edits.parents_pulled": ("edits.join_parents", "parents", "count"),
    "incremental.run_s": ("incremental.run", None, "s"),
    "incremental.jobs": ("incremental.run", "jobs", "count"),
    "incremental.tasks": ("incremental.run", "tasks", "count"),
    "incremental.failed_tasks": ("incremental.run", "failed_tasks", "count"),
    "checkpoint.commit_s": ("checkpoint.commit", None, "s"),
    "keyed_parquet.upsert_s": ("keyed_parquet.upsert", None, "s"),
    "keyed_parquet.jobs": ("keyed_parquet.upsert", "jobs", "count"),
    "keyed_parquet.partitions_rewritten": ("keyed_parquet.upsert", "partitions_rewritten", "count"),
    "keyed_parquet.bytes_written": ("keyed_parquet.upsert", "bytes_written", "B"),
    "keyed_parquet.keys_tombstoned": ("keyed_parquet.upsert", "keys_tombstoned", "count"),
    "chunker.windows_s": ("chunker.windows", None, "s"),
    "chunker.windows_out": ("chunker.windows", "windows_out", "count"),
    "embedding.embed_s": ("embedding.embed", None, "s"),
    "embedding.vectors_out": ("embedding.embed", "vectors_out", "count"),
    "embedding.tasks": ("embedding.embed", "tasks", "count"),
    "d5.write_s": ("d5.write", None, "s"),
    "d5.bytes_written": ("d5.write", "bytes_written", "B"),
    "similarity.topk_s": ("similarity.topk", None, "s"),
    "similarity.vectors_scored": ("similarity.topk", "vectors_scored", "count"),
    "similarity.jobs_per_query": ("similarity.topk", "jobs", "count"),
    "similarity.tasks_per_query": ("similarity.topk", "tasks", "count"),
    "dedup.minhash_s": ("dedup.minhash", None, "s"),
    "dedup.candidates": ("dedup.candidates", "candidates", "count"),
    "dedup.verified": ("dedup.verify", "verified", "count"),
    "dedup.components_s": ("dedup.components", None, "s"),
    "dedup.components_jobs": ("dedup.components", "jobs", "count"),
    "dedup.champion_s": ("dedup.champion", None, "s"),
}
# ratios of two counts of one layer
RATIO_METRICS = {
    "extraction.msgs_per_chunk": ("extraction.build", "msgs_scanned", "chunks_out"),
    "keyed_parquet.write_amp": ("keyed_parquet.upsert", "bytes_written", "new_row_bytes"),
    "dedup.verify_yield": ("dedup.verify", "verified", "pairs"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (smoke tests use a small one)")
    return p.parse_args(argv)


def pin_environment(work: str) -> None:
    """Everything the program and its Python workers need, inside ``work``:
    workers import the package from the checkout root, and Spark's scratch,
    temp files and warehouse stay out of /tmp and the repo tree."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(min(4, os.cpu_count() or 1))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # the launcher JVM spark-submit starts first: no perf-data file in /tmp
    env["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={env['TMPDIR']}"
    # the engine's own defaults for everything else
    for knob in ("SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_MIN_PARTITIONS",
                 "SPARK_GRAFT_AQE", "SPARK_DRIVER_MEMORY", "KB_SKIP_TS_CANARY"):
        env.pop(knob, None)


def start_session(work: str):
    from knowledgebot_spark.session import get_session

    tmp = os.path.join(work, "tmp")
    spark = get_session(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id % 7)").collect()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "knowledgebot_spark", "__init__.py")):
        print(f"perfbench: no knowledgebot_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    spark = None
    try:
        w = workloads.WORKLOADS[args.workload](work, args.seed, args.scale)
        w.prepare()  # input generation: not part of set-up time

        t0 = time.perf_counter()
        spark = w.spark = start_session(work)
        session_s = time.perf_counter() - t0
        from spans import NullTracer, Tracer, job_counts

        tr = Tracer(spark.sparkContext) if args.trace else NullTracer()
        w.setup(tr)
        setup_s = time.perf_counter() - t0
        w.after_setup()
        w.items = 0

        untraced = NullTracer()
        sc = spark.sparkContext
        lat: list[float] = []
        lat_traced: list[float] = []
        work_counts: list[dict] = []  # Spark jobs and tasks of each untraced op
        t_start = time.perf_counter()
        i = 0
        while i < MIN_OPS[args.trace] or time.perf_counter() - t_start < args.seconds:
            traced = bool(args.trace) and i % 2 == 1
            w.current = i
            t = time.perf_counter()
            try:
                if traced:
                    with tr.span(f"{w.name}.op", op=f"op{i}"):
                        w.op(tr)
                else:
                    sc.setJobGroup(f"bench-op-{i}", w.name)
                    try:
                        w.op(untraced)
                    finally:
                        sc.setLocalProperty("spark.jobGroup.id", None)
                        sc.setLocalProperty("spark.job.description", None)
                (lat_traced if traced else lat).append(time.perf_counter() - t)
                if not traced:
                    work_counts.append(job_counts(sc, f"bench-op-{i}"))
                w.after_op()
            except Exception as e:  # an operation that raises counts as failed
                traceback.print_exc()
                w.fail([f"op {i}: {type(e).__name__}: {e}"])
            i += 1
        busy = sum(lat) + sum(lat_traced)
        items = w.items
        peak = vm_hwm_mb("self") + vm_hwm_mb(
            sc._jvm.java.lang.ProcessHandle.current().pid()
        )
        op_p50_ms = statistics.median(lat) * 1000.0 if lat else 0.0

        w.finish()
        attempted = i + 1  # the timed operations and the set-up, all checked
        failed = len(w.failed)
        for e in w.errors:
            print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
        if not lat:
            return 1  # every untraced operation raised: nothing to report

        if args.trace:
            metrics = layer_metrics(tr, lat, lat_traced, {
                "session.start_s": session_s,
                "session.peak_rss_mb": peak,
                "op.p50_ms": op_p50_ms,
            })
            path = os.path.join(
                bench_dir, "traces", f"{args.workload}-seed{args.seed}.json"
            )
            tr.dump(path, {"workload": args.workload, "seed": args.seed,
                           "metrics": metrics})
            print(f"perfbench: spans written to {path}", file=sys.stderr)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "jobs_per_op": (statistics.median(c["jobs"] for c in work_counts), "count"),
                "tasks_per_op": (statistics.median(c["tasks"] for c in work_counts), "count"),
            }
        summary = " ".join(f"{k}={v:.6g}{u}" for k, (v, u) in metrics.items())
        print(
            f"perfbench {args.workload} seed={args.seed} ops={len(lat) + len(lat_traced)} "
            f"({w.item}={items}) failed_op_ratio={failed}/{attempted} {summary} "
            f"op_p50_ms={op_p50_ms:.6g} {w.item.split()[-1]}_per_s={items / busy:.6g} "
            f"peak_rss_mb={peak:.6g} op_s={[round(x, 2) for x in lat]}"
        )
        correct = not w.errors
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if correct else 1
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)


def layer_metrics(tr, lat, lat_traced, direct: dict) -> dict:
    """Per-layer metrics from the spans; ``direct`` holds the ones measured
    outside any span."""
    out = {}
    for name, (span, key, unit) in LAYER_METRICS.items():
        value = direct[name] if span is None else tr.layer_stats(span, key)
        out[name] = (float(value), unit)
    for name, (span, num, den) in RATIO_METRICS.items():
        d = tr.layer_stats(span, den)
        out[name] = (tr.layer_stats(span, num) / d if d else 0.0, "ratio")
    out["trace.overhead_s"] = (
        statistics.median(lat_traced) - statistics.median(lat), "s"
    )
    return out


if __name__ == "__main__":
    sys.exit(main())
