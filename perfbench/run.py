"""tetrex_spark benchmark: two seeded workloads, closed loop, one client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout (the directory holding `tetrex_spark/`).
The seed generates the corpus; tetrex_spark sees only the generated parquet
tables. Every op's output is checked against ground truth computed here.

--trace 0 measures the end-to-end metrics with tracing off.
--trace 1 runs the same loop traced (jobs tagged with a Spark local
property, uncompressed non-rolling event log), joins the log's stage
metrics to the spans offline, prints the per-layer table and reports the
per-layer metrics. perfbench/overhead.py compares the two modes.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The line before it is the full report (named metrics, traffic
properties, failures, foreign CPU). Temporary files go under
`.perfbench_work/` in the checkout and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# set-ups per run; setup_s is their median. Each opens a SparkSession on the
# run's SparkContext and loads the workload's tables into an emptied cache.
# The one-time launch (JVM, SparkContext, warm Python workers) overlaps
# corpus generation and is reported as launch_s.
SETUPS = 3

# per-layer metrics reported for every layer the harness tags
LAYERS = ("sketch_build", "sources", "plans", "verify", "heavy_hitters", "dedup",
          "clusters", "incremental", "streaming")
LAYER_FIELDS = ("wall_s", "self_s", "jobs", "stages", "executor_cpu_s",
                "shuffle_write_bytes", "spill_bytes", "driver_gap_s")
# layer-specific metrics; a workload that does not reach a layer reports 0
SPECIFIC = (
    "sketch_build.shuffle_records",
    "sources.index_write_s", "sources.index_load_s", "sources.index_bytes_per_text_byte",
    "plans.index_build_s", "plans.track_s", "plans.candidate_bins_ms", "plans.candidate_bin_fraction",
    "plans.bin_precision", "plans.full_scan_fraction",
    "verify.docs_scanned", "verify.match_yield", "verify.corpus_scans_per_call",
    "dedup.pair_yield", "dedup.bucket_cap_drops", "dedup.planted_recall",
    "clusters.components",
    "incremental.index_build_s", "incremental.gate_s", "incremental.index_bytes",
    "incremental.gate_reject_fraction",
    "streaming.startup_s", "streaming.batch_p50_s", "streaming.state_rows",
    "streaming.state_bytes",
)


def _workloads() -> dict:
    from perfbench.wl_dedup import DedupCuration
    from perfbench.wl_index import SketchMotif

    return {w.name: w for w in (SketchMotif, DedupCuration)}


def _measure(wl, ops, seconds: float) -> tuple[list[float], list[float]]:
    """Op cycles until `seconds` have passed (at least one); the wall and
    the process-tree CPU seconds of each cycle."""
    from perfbench.sysmon import tree_cpu_s

    walls, cpus = [], []
    t_end = time.time() + seconds
    i = 0
    while True:
        cpu0 = tree_cpu_s()
        with ops.tracer.span("op", "cycle") as rec:
            wl.cycle(ops, i)
        cpus.append(tree_cpu_s() - cpu0)
        walls.append(rec["wall_s"])
        ops.check_pending()
        wl.cleanup(i)
        i += 1
        if time.time() >= t_end:
            return walls, cpus


def _launch(work: str, **kw):
    """Start the JVM, a SparkContext and warm Python workers in a thread,
    so the launch overlaps corpus generation; returns a join() callable
    that yields (spark, launch seconds)."""
    import threading

    from perfbench import session

    box: dict = {}

    def target():
        t0 = time.time()
        try:
            box["spark"] = session.start(work, **kw)
        except BaseException as e:  # re-raised in the caller's thread
            box["error"] = e
        box["s"] = time.time() - t0

    th = threading.Thread(target=target, daemon=True)
    th.start()

    def join():
        th.join()
        if "error" in box:
            raise box["error"]
        return box["spark"], box["s"]

    return join


def _stop_jvm(spark) -> None:
    """Stop the SparkContext and the py4j JVM, and wait for it to exit.
    Safe to call again once stopped."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args, work: str) -> tuple[dict, dict]:
    from perfbench import session, sysmon
    from perfbench.common import Ops, median
    from perfbench.trace import Tracer

    wl = _workloads()[args.workload]()
    with sysmon.MemorySampler() as mem:
        join = _launch(work, event_log_dir=f"{work}/eventlog" if args.trace else None)
        spark = None
        try:
            t0 = time.time()
            traffic = wl.prepare(args.seed, work)
            report = {"workload": wl.name, "seed": args.seed, "cpus": session.cpus(),
                      "seconds": args.seconds, "trace": args.trace, "traffic": traffic,
                      "generate_and_truth_s": time.time() - t0}
            spark, report["launch_s"] = join()
            meter = sysmon.ForeignMeter()
            if args.trace:
                out = _traced(args, wl, work, report, meter, spark)
            else:
                setups = []
                for k in range(SETUPS):
                    t0 = time.time()
                    if k:
                        spark = spark.newSession()
                        spark.catalog.clearCache()
                    wl.setup(spark)
                    setups.append(time.time() - t0)
                if hasattr(wl, "after_setup"):
                    wl.after_setup()
                tracer = Tracer()
                ops = Ops(tracer)
                wl.begin()
                meter.start()
                cycles, cycle_cpu = _measure(wl, ops, args.seconds)
                report["foreign_cores"] = meter.stop()
                report["setups_s"] = setups
                report["cycles_s"] = cycles
                report["cycle_cpu_s"] = median(cycle_cpu)
                report["named"] = {"setup_s": (median(setups), "s"),
                                   **wl.named_metrics(tracer)}
                out = {"ops": ops,
                       "metrics": {"setup_s": median(setups), "cycle_s": median(cycles)}}
        finally:
            if spark is None:
                spark, _ = join()
            _stop_jvm(spark)
    ops = out["ops"]
    report["peak_rss_mb"] = mem.peak / 2**20
    report["failed_op_ratio"] = len(ops.failures) / max(ops.attempted, 1)
    report["failures"] = ops.failures
    if not args.trace:
        report["named"]["peak_rss_mb"] = (report["peak_rss_mb"], "MB")
        report["named"]["failed_op_ratio"] = (report["failed_op_ratio"], "share")
    return report, out


def _traced(args, wl, work: str, report: dict, meter, spark) -> dict:
    """Traced cycles (Spark local property per span, uncompressed
    non-rolling event log), then the offline join of stage metrics to the
    spans. The tracing overhead is the ratio of this run's cycle_s to an
    untraced run's on the same seed (perfbench/overhead.py)."""
    from perfbench import kernel_bench
    from perfbench.common import Ops, median
    from perfbench.trace import Tracer, attribute, format_table, layer_table, parse_event_log

    log_dir = spark.sparkContext.getConf().get("spark.eventLog.dir")
    tracer = Tracer(spark.sparkContext)
    with tracer.span("setup", "setup"):
        wl.setup(spark)
    if hasattr(wl, "after_setup"):
        wl.after_setup()
    ops = Ops(tracer)
    wl.begin()
    meter.start()
    cycles, _ = _measure(wl, ops, args.seconds)
    report["foreign_cores"] = meter.stop()
    named = wl.named_metrics(tracer)
    with tracer.span("probe", "probe"):
        probed = wl.probe(tracer) if hasattr(wl, "probe") else {}
    _stop_jvm(spark)

    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    attribute(tracer.spans, parse_event_log(max(logs, key=os.path.getmtime)))
    table = layer_table([s for s in tracer.spans if s["layer"] != "probe"])
    print(f"per-layer table, {wl.name}, seed {args.seed} (sums over the traced cycles;"
          " the op row's self_s is driver time no layer span covers)")
    print(format_table(table))
    ops_spans = [s for s in tracer.spans if s["layer"] == "op"]
    report["op_remainder_s"] = {
        "op_wall_s": sum(s["wall_s"] for s in ops_spans),
        "uncovered_driver_s": sum(s["self_s"] for s in ops_spans),
    }
    metrics: dict[str, float] = {}
    for layer in LAYERS:
        row = table.get(layer)
        for f in LAYER_FIELDS:
            metrics[f"{layer}.{f}"] = row[f] / row["calls"] if row else 0.0
    metrics.update(kernel_bench.run(wl.kernel_texts()[:3000]))
    specific = dict.fromkeys(SPECIFIC, 0.0)
    if "sketch_build" in table:
        row = table["sketch_build"]
        specific["sketch_build.shuffle_records"] = row["shuffle_records"] / row["calls"]
    for k, v in (probed | wl.layer_metrics(tracer)).items():
        if k not in specific:
            raise KeyError(f"layer metric {k} is not declared in SPECIFIC")
        specific[k] = float(v)
    metrics.update(specific)
    report["layers"] = table
    report["named"] = named
    report["cycles_s"] = cycles
    report["cycle_s"] = median(cycles)
    report["spans"] = tracer.spans
    return {"ops": ops, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["sketch_motif", "dedup_curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "tetrex_spark")):
        print(f"perfbench: no tetrex_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # Spark's Python workers import tetrex_spark and perfbench from the checkout;
    # every temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # every JVM (the launcher too): no /tmp/hsperfdata, temp files in the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    try:
        report, out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    ops = out["ops"]
    result = {
        "correct": not ops.failures,
        "attempted": ops.attempted,
        "failed": len(ops.failures),
        # a metric an op failed to produce reads 0 (the run is then not correct)
        "metrics": {k: {"value": v if math.isfinite(v) else 0.0, "unit": _unit(k)}
                    for k, v in out["metrics"].items()},
    }
    print(json.dumps(report, default=str))
    print(json.dumps(result, allow_nan=False))
    return 0


def _unit(name: str) -> str:
    units = {
        "setup_s": "s", "cycle_s": "s",
    }
    if name in units:
        return units[name]
    suffixes = (("_bytes", "bytes"), ("_mb_per_s", "MB/s"), ("_mkeys_per_s", "Mkeys/s"),
                ("_mvals_per_s", "Mvals/s"), ("_us", "us"), ("_ms", "ms"), ("_s", "s"),
                ("jobs", "count"), ("stages", "count"), ("_scanned", "docs"),
                ("components", "count"), ("_drops", "count"), ("state_rows", "rows"))
    for suffix, unit in suffixes:
        if name.endswith(suffix):
            return unit
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())
