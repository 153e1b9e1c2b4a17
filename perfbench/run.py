"""Benchmark entry point. See perfbench/README.md.

  python3 perfbench/run.py --workload {ingest,lookup,media} --seed N --seconds S --trace {0,1}
  python3 perfbench/run.py --workload all --seed N --seconds S --trace {0,1}

Run from the repository root. A single-workload run prints, as its last
stdout line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. `all` runs each
workload in its own process, one after the other, appends each workload's
record to .perfbench-work/results.jsonl as soon as that workload ends, and
prints every metric with its unit and sample count.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench-work")
sys.path.insert(0, ROOT)

from harness import (  # noqa: E402
    OpLog,
    PeakRss,
    Tracer,
    become_subreaper,
    median,
    percentile,
    stop_children,
    tail_percentile,
)

WORKLOAD_NAMES = ("ingest", "media")
SETUP_REPS = 3  # set-ups per run; setup_s is their median
CORES = 3  # local[N]: never more than the host's CPUs (see cores())
LAYERS = ("session", "sources", "decode", "indexing", "spatial_join", "knn", "multimodal", "lineage")
# A fixed-size, pre-touched driver heap: the JVM heap is resident in full
# from the start instead of growing when the collector decides, so
# peak_rss_mb moves with Python-worker and off-heap memory, not with GC timing.
DRIVER_MEM = "2g"


def cores() -> int:
    return max(1, min(CORES, len(os.sched_getaffinity(0))))


def spark_conf(run_dir: str, event_log: bool) -> dict[str, str]:
    """Keep every file Spark writes inside the run directory."""
    conf = {
        "spark.driver.memory": DRIVER_MEM,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(run_dir, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(os.path.join(run_dir, "events"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(run_dir, "events"),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def stop_jvm() -> None:
    """Stop the active SparkContext and the driver JVM that PySpark's
    gateway launched, and wait for the JVM to exit: it exits when its stdin
    closes. spark.stop() alone leaves the JVM running until this process has
    exited."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception as e:  # the JVM is stopped below either way
            log(f"SparkContext stop: {e}")
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as e:  # the JVM is stopped below either way
        log(f"gateway shutdown: {e}")
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _report_error(e: BaseException) -> None:
    log("op failed: " + "".join(traceback.format_exception_only(type(e), e)).strip())
    traceback.print_exc(file=sys.stderr)


# ------------------------------------------------------------ one workload


def measure(name: str, seed: int, seconds: float, trace: bool, inputs_dir: str, run_dir: str) -> dict:
    """SETUP_REPS session set-ups (session start, scan + cache fill, polygon
    layer), each in a fresh SparkContext; the last one is kept. Then the
    workload's fixed-count warm-up, then the timed region: a closed loop of
    ops for `seconds` (untraced), or with `trace` a fixed number of ops that
    alternate between untraced and traced."""
    from temp_c__bpf_osm_reader_spark.session import get_spark
    from workloads import WORKLOADS

    cls = WORKLOADS[name]
    n_cores = cores()
    rep_s = []
    tracer = Tracer(False)
    for rep in range(SETUP_REPS):
        last = rep == SETUP_REPS - 1
        if trace and last:
            tracer = Tracer(True)
        t0 = time.perf_counter()
        with tracer.span("session"):
            spark = get_spark(app=f"perfbench-{name}", cores=n_cores,
                              extra=spark_conf(run_dir, trace and last))
        if tracer.enabled:
            tracer.tag = spark.sparkContext.setJobDescription
        wl = cls(spark, inputs_dir, tracer, run_dir)
        wl.setup()
        rep_s.append(time.perf_counter() - t0)
        log(f"{name}: set-up {rep + 1}/{SETUP_REPS} took {rep_s[-1]:.2f} s")
        if not last:
            spark.stop()
    warm = OpLog()
    for i in range(wl.warmup_ops):
        warm.run(lambda: wl.warm_op(i), _report_error)
    log(f"{name}: warm-up of {wl.warmup_ops} ops took {warm.region_s:.2f} s")

    ops, untraced = OpLog(), OpLog()
    first = wl.warmup_ops
    if trace:
        # untraced and traced ops alternate, so both halves see the same
        # warm-up state; untraced ops record no spans and tag no jobs
        for k in range(2 * wl.trace_ops):
            i = first + k // 2
            # ABBA order: a pair's first op is the colder one, so the
            # untraced op leads in even pairs and the traced op in odd ones
            if (k % 2 == 0) == ((k // 2) % 2 == 0):
                tracer.enabled = False
                untraced.run(lambda: wl.op(i), _report_error)
            else:
                tracer.enabled = True
                with tracer.span("op"):
                    ops.run(lambda: wl.op(i), _report_error)
        counts = wl.layer_counts(wl.trace_ops)
    else:
        i = first
        while True:
            ops.run(lambda: wl.op(i), _report_error)
            i += 1
            if time.perf_counter() - ops.start >= seconds:
                break
    app_id = spark.sparkContext.applicationId
    spark.stop()

    rec = {
        "workload": name,
        "seed": seed,
        "trace": int(trace),
        "cores": n_cores,
        "attempted": ops.attempted,
        "failed": ops.failed + warm.failed + untraced.failed,
        "warmup_failed": warm.failed,
        "setup_rep_s": rep_s,
        "warmup_s": warm.region_s,
        "warmup_latency_s": warm.latencies_s,
        "setup_s": median(rep_s) + warm.region_s,
    }
    if trace:
        rec["per_layer"] = per_layer(tracer, ops, untraced, counts,
                                     os.path.join(run_dir, "events"), app_id, n_cores)
    else:
        rec["ops"] = ops
    return rec


def per_layer(tracer, ops, untraced, counts, evt_dir, app_id, n_cores) -> dict:
    import evtlog

    tasks = evtlog.tasks_by_layer(evtlog.read_events(evtlog.find_log(evt_dir, app_id)))
    op_spans = [(s.t0, s.t1) for s in tracer.spans if s.layer == "op"]
    self_iv = tracer.layer_self_intervals(op_spans)
    rows = {k.split(".", 1)[1]: v for k, v in tracer.counts.items() if k.startswith("rows.")}
    table = evtlog.layer_table(self_iv, tasks, n_cores, rows, LAYERS)
    out: dict[str, float] = {}
    for layer, row in table.items():
        for f, v in row.items():
            out[f"{layer}.{f}"] = v

    def named(n):
        return sum(s.t1 - s.t0 for s in tracer.spans if s.name == n)

    c = tracer.counts
    out.update(
        {
            "session.start_s": named("session"),
            "sources.scan_s": named("scan"),
            "spatial_join.cover_build_s": named("cover_build"),
            "indexing.partition_skew": counts.get("indexing.partition_skew", 0.0),
            "spatial_join.candidates": counts.get("spatial_join.candidates", 0.0),
            "spatial_join.hit_ratio": counts.get("spatial_join.hit_ratio", 0.0),
            "spatial_join.boundary_share": counts.get("spatial_join.boundary_share", 0.0),
            "knn.candidates_per_query": counts.get("knn.candidates_per_query", 0.0),
            "knn.complete_ratio": c["knn.complete"] / c["knn.queries"] if c.get("knn.queries") else 0.0,
            "lineage.bytes_written": c.get("lineage.bytes_written", 0.0),
            "lineage.verify_s": named("verify"),
            "trace.ops": float(ops.attempted),
            "trace.region_s": sum(b - a for a, b in op_spans),
            "trace.overhead_ratio": sum(ops.latencies_s) / sum(untraced.latencies_s),
        }
    )
    out["trace.coverage"] = sum(out[f"{lay}.wall_s"] for lay in LAYERS) / out["trace.region_s"]
    return out


# ------------------------------------------------------------------ output


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(rec: dict, peak_rss_b: int, rss_samples: int) -> dict[str, tuple[float, str, int]]:
    """name -> (value, unit, sample count)."""
    ops: OpLog = rec["ops"]
    lat_ms = [x * 1000.0 for x in ops.latencies_s]
    return {
        "setup_s": (rec["setup_s"], "s", len(rec["setup_rep_s"])),
        "items_per_s": (ops.items / ops.region_s, "1/s", ops.attempted),
        "op_p50_ms": (percentile(lat_ms, 50), "ms", ops.attempted),
        "peak_rss_mb": (peak_rss_b / 2**20, "MiB", rss_samples),
        "fail_ratio": (ops.fail_ratio, "ratio", ops.attempted),
    }


def run_one(args) -> int:
    try:
        import inputs
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2
    spec = load_spec()
    os.makedirs(WORK, exist_ok=True)
    t = time.perf_counter()
    inputs_dir = inputs.ensure_inputs(args.workload, args.seed, os.path.join(WORK, "inputs"))
    log(f"{args.workload}: inputs for seed {args.seed} ready in {time.perf_counter() - t:.2f} s")
    # the engine's fixture lookup reads SPARK_GRAFT_DATA_DIR when it is first
    # imported; nothing has imported it yet (checked in Media.setup)
    os.environ["SPARK_GRAFT_DATA_DIR"] = inputs_dir
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    # Spark's scratch space; set here so an inherited value cannot point
    # it outside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    # every process the run starts, and every process those start, ends
    # before this one does
    become_subreaper()
    try:
        with PeakRss() as rss:
            rec = measure(args.workload, args.seed, args.seconds, bool(args.trace), inputs_dir, run_dir)
    finally:
        stop_jvm()
        left = stop_children()
        if left:
            log(f"processes still running after shutdown: {left}")
        shutil.rmtree(run_dir, ignore_errors=True)
    if left:
        return 1

    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = {k: (v, None) for k, v in rec.pop("per_layer").items()}
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        e2e = end_to_end(rec, rss.peak, rss.samples)
        ops = rec.pop("ops")
        rec["op_latency_s"] = ops.latencies_s
        rec["items"] = ops.items
        rec["region_s"] = ops.region_s
        # the highest percentile with at least ten samples beyond it (None:
        # too few ops for any tail percentile; the median is reported)
        rec["tail_percentile"] = tail_percentile(ops.latencies_s)
        rec["summary"] = {k: {"value": v, "unit": u, "samples": n} for k, (v, u, n) in e2e.items()}
        values = {k: (v, n) for k, (v, u, n) in e2e.items()}
    metrics = {n: {"value": float(values[n][0]), "unit": u} for n, u in names}
    rec["metrics"] = metrics
    for k, (v, n) in values.items():
        log(f"{args.workload}: {k} = {v:.6g}" + (f"  (samples {n})" if n is not None else ""))
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(rec, f)
    correct = rec["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": rec["attempted"], "failed": rec["failed"],
                      "metrics": metrics}), flush=True)
    return 0


def run_all(args) -> int:
    """Each workload in its own process; each record is appended and flushed
    to results.jsonl the moment its workload ends."""
    os.makedirs(WORK, exist_ok=True)
    out_path = os.path.join(WORK, "results.jsonl")
    rc = 0
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            log(f"{w}: exited with {p.returncode}")
            rc = 1
            continue
        with open(os.path.join(WORK, "records", f"{w}-seed{args.seed}-trace{args.trace}.json")) as f:
            rec = json.load(f)
        with open(out_path, "a") as f:
            f.write(json.dumps({"workload": w, "seed": args.seed, "trace": args.trace,
                                "result": json.loads(lines[-1]),
                                "summary": rec.get("summary")}) + "\n")
            f.flush()
            os.fsync(f.fileno())
        rows = rec.get("summary") or {k: dict(v, samples="") for k, v in rec["metrics"].items()}
        print(f"== {w} (seed {args.seed}, {rec['attempted']} ops, {rec['failed']} failed)")
        for k, m in rows.items():
            print(f"  {w}/{k:<34} {m['value']:>16.6g} {m['unit']:<6} samples={m['samples']}")
        sys.stdout.flush()
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
