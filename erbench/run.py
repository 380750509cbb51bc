"""Seeded, referee-checked entity-resolution benchmark.

    python3 erbench/run.py --workload batch_er --seed 1 --seconds 10 --trace 0

Runs one workload (see README.md) in one ``local[4]`` Spark session, checks
every output, prints a table of metrics and, as its last line, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
run records spans and the Spark event log and reports the per-layer ones.
Exits non-zero when an output fails its check.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
CORES = 4
WORKLOADS = ("batch_er", "ingest_stream", "purge_churn", "near_dup_ladder")
#: reported with --trace 0; the names BENCHMARK.json lists as end_to_end
END_TO_END = ("setup_s", "run_s", "records_per_s", "batch_p50_s")
UNITS = {
    "records_per_s": "1/s",
    "ingest.gap_s_per_batch": "s",
    "state.write_mb_per_input_mb": "ratio",
    "clustering.driver_path": "ratio",
}


def unit(name: str) -> str:
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_f1", "_precision", "_recall")):
        return "ratio"
    return "count"


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(work: str) -> None:
    """Make the run independent of the caller's directory and environment:
    the program's package on the workers' PYTHONPATH, and Spark's local,
    JVM and Python temp files under the run's own work directory."""
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    tempfile.tempdir = f"{work}/tmp"
    sys.path[:0] = [REPO, BENCH]
    os.chdir(work)


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the JVM it launched."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        jvm_kb = next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
    return (py_kb + jvm_kb) / 1024


def descendants(pid: int) -> list[int]:
    """The processes below ``pid``: for the JVM, Spark's Python worker
    daemon and the workers it forked."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tasks = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for t in tasks:
            try:
                with open(f"/proc/{p}/task/{t}/children") as f:
                    kids = [int(k) for k in f.read().split()]
            except FileNotFoundError:
                kids = []
            out += kids
            todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched and every process below
    it, and wait for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    below = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    for pid in below:
        while _alive(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)


def run(args, work: str, cache: str):
    """Set up, run the passes and check them; returns the end-to-end report,
    the failed checks, the per-layer table, the operation count and the
    tracer."""
    import calibrate
    import gen
    import quality
    import spans
    import workloads as W
    from repostcheckerbot_spark.config import PipelineConfig
    from repostcheckerbot_spark.session import get_spark

    wl = W.WORKLOADS[args.workload]()
    traced = bool(args.trace)
    tracer = spans.Tracer(enabled=traced)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.driver.memory": "3g",
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/eventlog",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    t_setup = time.perf_counter()
    with tracer.span("session"):
        spark = get_spark(
            app_name=f"erbench_{args.workload}", master=f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=conf
        )
    spark.sparkContext.setLogLevel("ERROR")
    tracer.sc = spark.sparkContext
    try:
        with tracer.span("input"):
            data_dir = gen.write_documents(f"{work}/data", args.seed)
            docs = gen.permuted(gen.text_pool(), args.seed)
        ctx = W.Ctx(spark, PipelineConfig(), args.seed, docs, data_dir, work, cache, tracer, full_check=traced)
        wl.setup(ctx)
        setup_s = time.perf_counter() - t_setup

        # untraced passes until the time is up. A traced run alternates
        # traced and untraced passes, for the tracing overhead, after the
        # first pass of a cold workload.
        passes, traced_passes = [], []
        tracer.enabled = False
        t_run = time.perf_counter()
        cold = 1 if getattr(wl, "cold", False) else 0
        while len(passes) < (cold if traced else 1) or (not traced and time.perf_counter() - t_run < args.seconds):
            passes.append(wl.run_pass(ctx))
        if traced:
            unwrap = W.wrap_cc(ctx)
            while not traced_passes or time.perf_counter() - t_run < args.seconds:
                ctx.traced = tracer.enabled = True
                tracer.run_id = f"pass{len(traced_passes)}"
                with tracer.span("pass"):
                    traced_passes.append(wl.run_pass(ctx))
                ctx.traced = tracer.enabled = False
                passes.append(wl.run_pass(ctx))
            unwrap()
        ctx.traced = tracer.enabled = False
        probe = None if traced else calibrate.probe_s(spark, work)
        t_check = time.perf_counter()
        fails, extra = wl.check(ctx, passes + traced_passes)
        rss = peak_rss_mb(spark)
        check_s = time.perf_counter() - t_check
    finally:
        stop_spark(spark)

    ops = sum(p.ops for p in passes + traced_passes)
    run_s = quality.p50([p.wall for p in passes])
    batch_s = quality.p50([b for p in passes for b in p.batches])
    # end-to-end times in reference seconds (see calibrate.py); a traced
    # run reports wall seconds
    scale = calibrate.REFERENCE_S / probe if probe else 1.0
    report = {
        "setup_s": setup_s * scale,
        "run_s": run_s * scale,
        "records_per_s": wl.records / (run_s * scale),
        "batch_p50_s": batch_s * scale,
        "wall_setup_s": setup_s,
        "wall_run_s": run_s,
        "wall_batch_p50_s": batch_s,
        "probe_s": probe or 0.0,
        "peak_rss_mb": rss,
        "passes": len(passes),
        "check_s": check_s,
        "failed_frac": (ops if fails else 0) / ops,
    }
    report.update(extra)
    layers = {}
    if traced:
        layers = layer_metrics(ctx, wl, tracer, traced_passes, work, quality.p50([p.wall for p in passes[cold:]]))
    return report, fails, layers, ops, tracer


def layer_metrics(ctx, wl, tracer, traced_passes, work: str, untraced_s: float) -> dict:
    """The per-layer table of the traced passes, per pass; the overhead is
    their median wall time minus ``untraced_s``."""
    import quality
    import spans

    jobs = spans.read_event_log_dir(f"{work}/eventlog")
    n = len(traced_passes)
    in_pass = [s for s in tracer.spans if s.run_id.startswith("pass")]
    out = spans.layer_table(in_pass, jobs, passes=n)
    # the session layer runs only during set-up
    session = spans.layer_table([s for s in tracer.spans if s.name == "session"], jobs)
    out.update({k: v for k, v in session.items() if k.startswith("session.")})

    c = ctx.counters
    batches = [s for s in in_pass if s.name == "ingest.process_batch"]
    by_span = spans.attribute(in_pass, jobs)
    job_iv = [(j.start, j.end) for j in jobs]

    def ratio(a, b):
        return a / b if b else 0.0

    out.update(
        {
            "blocking.candidates": c["blocking.candidates"] / n,
            "scoring.pairs_scored": c["scoring.pairs_scored"] / n,
            "scoring.accept_frac": ratio(c["scoring.fuzzy_edges"], c["scoring.pairs_scored"]),
            "clustering.cc_rounds": c["clustering.cc_rounds"] / n,
            "clustering.driver_path": ratio(c["clustering.driver_path"], c["clustering.cc_calls"]),
            "dedup_docs.pairs": c["dedup_docs.pairs"] / n,
            "ingest.jobs_per_batch": ratio(sum(len(spans.subtree_jobs(s, in_pass, by_span)) for s in batches), len(batches)),
            "ingest.gap_s_per_batch": ratio(
                sum(e - b for s in batches for b, e in spans.subtract((s.start, s.end), job_iv)), len(batches)
            ),
            "state.buckets_touched_frac": ratio(c["state.buckets_used"], c["state.buckets_total"]),
            "state.write_mb_per_input_mb": ratio(c["state.write_bytes"], getattr(wl, "pass_bytes", 0) * n),
        }
    )
    for m in spans.STATE_METHODS:
        out[f"state.{m}.wall_s"] = c[f"state.{m}.wall_s"] / n
        out[f"state.{m}.calls"] = c[f"state.{m}.calls"] / n
    traced_run_s = quality.p50([p.wall for p in traced_passes])
    out["trace.cover_frac"] = spans.cover_frac(in_pass, [s for s in in_pass if s.name == "pass"])
    out["trace.run_s"] = traced_run_s
    out["trace.overhead_s"] = traced_run_s - untraced_s
    return out


def print_table(title: str, rows: dict) -> None:
    print(title)
    for k, v in rows.items():
        if isinstance(v, (int, float)):
            print(f"  {k:<36} {v:>14.4f} {unit(k)}")


def main(argv=None) -> int:
    args = parse(argv)
    # a terminated run still stops its Spark JVM and referee workers
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(REPO, "repostcheckerbot_spark")):
        print("erbench: the repostcheckerbot_spark package is not beside the benchmark", file=sys.stderr)
        return 2
    os.makedirs(f"{BENCH}/.work", exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=f"{BENCH}/.work")
    prepare_env(work)
    try:
        report, fails, layers, ops, tracer = run(args, work, f"{BENCH}/.work/cache")
    finally:
        os.chdir(BENCH)
        shutil.rmtree(work, ignore_errors=True)

    head = f"erbench {args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}"
    print_table(f"{head}: end to end", report)
    for i, p in enumerate(report.get("paths", [])):
        print(f"  batch {i}: clusters {p['clusters']}, {p['order']} persist order, buckets read {p['buckets_read']}/{p['buckets_total']}")
    if layers:
        print_table(f"{head}: per layer (per traced pass)", layers)
    for f in fails:
        print(f"  CHECK FAILED: {f}")
    os.makedirs(f"{BENCH}/results", exist_ok=True)
    with open(f"{BENCH}/results/{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as f:
        json.dump({"report": report, "layers": layers, "fails": fails, "spans": [vars(s) for s in tracer.spans]}, f)

    shown = layers if args.trace else {k: report[k] for k in END_TO_END}
    result = {
        "correct": not fails,
        "attempted": ops,
        "failed": ops if fails else 0,
        "metrics": {k: {"value": float(v), "unit": unit(k)} for k, v in shown.items()},
    }
    print(json.dumps(result), flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
