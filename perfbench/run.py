"""Benchmark entry point.

    python3 perfbench/run.py --workload genie|catalog --seed N --seconds S --trace 0|1

Run from the repository root.  Makes the workload's inputs from the
seed, sets up a Spark session (``local[4]``), measures whole units of
the workload (one night, or one pass over the query catalog) until at
least ``--seconds`` have passed, checks the outputs, and prints one
JSON line last on stdout: ``{"correct", "attempted", "failed",
"metrics"}``.  With ``--trace 0`` the metrics are the end-to-end ones;
with ``--trace 1`` they are the per-layer ones, and the span tree goes
to ``.perfbench_out/traces/<workload>-seed<N>-<pid>.json``.  Exits
non-zero when a check fails or when the working directory holds no
``genie_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SLOTS = 4
OUT = ".perfbench_out"

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}
EXTRA_LAYER_UNITS = {
    "io.status.skip_ratio": "ratio",
    "io.bronze.write_amp": "ratio",
    "io.bronze.useful_row_ratio": "ratio",
    "io.stored_bytes_per_input_byte": "ratio",
    "workload.construct_s": "s",
    "workload.exec_s": "s",
    "workload_analytics.construct_s": "s",
    "workload_analytics.exec_s": "s",
    "workload_analytics.construct_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_p50_ms": "ms",
    "spark.task_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.idle_s": "s",
    "spark.slot_util": "ratio",
    "trace_overhead_s": "s",
    "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name → unit."""
    from layertrace import LAYER_METRICS, LAYERS

    units = {"calls": "count", "jobs": "count"}
    out = {f"{layer}.{m}": units.get(m, "s") for layer in LAYERS for m in LAYER_METRICS}
    out.update(EXTRA_LAYER_UNITS)
    return out


def process_age() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def start_spark(traced: bool):
    """A ready session that has run one trivial job, and the time that
    took from process start."""
    started = time.time() - process_age()
    from genie_spark.session import get_spark

    conf = None
    if traced:
        # keep every job and stage of the run in the status store
        conf = {"spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000"}
    spark = get_spark("perfbench", extra_conf=conf)
    spark.range(1).count()
    return spark, time.time() - started


def genie_unit(spark, seed: int, work: str, tracer) -> dict:
    import genie
    import genie_gen

    manifest = genie_gen.generate(os.path.join(work, "uploads"), seed)
    out_dir = os.path.join(work, "night")
    t0 = time.time()
    ops, qc_errors = genie.run(spark, manifest, out_dir)
    t1 = time.time()
    batches = [b for sweep in manifest["batches"] for b in sweep]
    return {
        "t0": t0, "t1": t1, "ops": ops,
        "failures": genie.check(manifest, out_dir, ops, qc_errors),
        "upload_bytes": manifest["upload_bytes"],
        "stored_bytes": genie.stored_bytes(out_dir),
        "rows_to_merges": sum(b["rows"] for b in batches),
        "rows_changed": sum(b["changed"] for b in batches),
    }


def catalog_unit(spark, seed: int, work: str, tracer) -> dict:
    import catalog
    import catalog_gen

    data = os.path.join(work, "tables")
    catalog_gen.generate(data, seed)
    catalog.warm_up(spark, data)
    t0 = time.time()
    ops, results = catalog.run(spark, data, tracer)
    t1 = time.time()
    failures = {o["name"]: o["error"] for o in ops if o["error"]}
    failures.update(catalog.check(data, results))
    return {"t0": t0, "t1": t1, "ops": ops, "failures": failures}


WORKLOADS = {"genie": genie_unit, "catalog": catalog_unit}


def layer_extras(tracer, units: list[dict], jobs_by_span: dict) -> dict:
    """The per-layer metrics beyond the six every layer reports."""
    spans = tracer.spans

    def span_sum(layer, prefix):
        return sum(b - a for n, lay, a, b, _ in spans
                   if lay == layer and n.startswith(prefix))

    def total(key):
        return sum(u.get(key, 0) for u in units)

    ingest_calls = sum(1 for n, lay, *_ in spans if lay == "cli" and n == "cmd_ingest")
    upload = total("upload_bytes")
    merged = total("rows_to_merges")
    return {
        "io.status.skip_ratio":
            tracer.counters.get("io.status.skipped", 0) / ingest_calls if ingest_calls else 0.0,
        "io.bronze.write_amp":
            tracer.counters.get("io.bronze.bytes_written", 0) / upload if upload else 0.0,
        "io.bronze.useful_row_ratio": total("rows_changed") / merged if merged else 0.0,
        "io.stored_bytes_per_input_byte": total("stored_bytes") / upload if upload else 0.0,
        "workload.construct_s": span_sum("workload", "construct:"),
        "workload.exec_s": span_sum("workload", "exec:"),
        "workload_analytics.construct_s": span_sum("workload_analytics", "construct:"),
        "workload_analytics.exec_s": span_sum("workload_analytics", "exec:"),
        "workload_analytics.construct_jobs": sum(
            n for (layer, name), n in jobs_by_span.items()
            if layer == "workload_analytics" and name.startswith("construct:")),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "genie_spark", "__init__.py")):
        print("perfbench: run from the repository root (no genie_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    work = os.path.abspath(os.path.join(OUT, f"work-{args.workload}-{os.getpid()}"))
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import genie_spark from the root; scratch files stay
    # inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(SLOTS)
    # a 2 GB driver heap holds these inputs and halves the resident set
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}", "-XX:-UsePerfData",
    ]))
    from procstat import adopt_orphans, stop_tree

    adopt_orphans()
    # a SIGTERM still ends the JVM and its workers on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = measure(args, work)
    finally:
        stop_tree()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def measure(args, work: str) -> dict:
    import layertrace as lt
    from procstat import TreeSampler

    traced = bool(args.trace)
    spark, setup_s = start_spark(traced)
    tracer = None
    try:
        if traced:
            tracer = lt.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
            tracer.install(lt.local_fs_bytes_written(spark))
        sampler = TreeSampler()
        sampler.start()
        units = []
        while not units or units[-1]["t1"] - units[0]["t0"] < args.seconds:
            unit_dir = os.path.join(work, f"unit{len(units)}")
            units.append(WORKLOADS[args.workload](spark, args.seed, unit_dir, tracer))
        cpu_s, peak_mb = sampler.stop()
        t0, t1 = units[0]["t0"], units[-1]["t1"]
        wall = statistics.median(u["t1"] - u["t0"] for u in units)
        metrics = {"setup_s": setup_s, "wall_s": wall, "cpu_s": cpu_s / len(units),
                   "peak_rss_mb": peak_mb}
        if traced:
            jobs, stages = lt.status_store(spark)
            layer = lt.analyze(tracer, jobs, stages, t0, t1, SLOTS)
            layer.update(layer_extras(tracer, units, lt.jobs_by_span(tracer, jobs, t0, t1)))
            layer["trace_overhead_s"] = wall - untraced_wall(args.workload, None)
            layer["peak_rss_mb"] = peak_mb
            write_trace(args, tracer, layer, metrics, units)
            out = {k: (layer[k], u) for k, u in per_layer_units().items()}
        else:
            untraced_wall(args.workload, wall)
            out = {k: (metrics[k], u) for k, u in END_TO_END.items()}
    finally:
        spark.stop()
    failures = {k: v for u in units for k, v in u["failures"].items()}
    for name, why in sorted(failures.items()):
        print(f"perfbench check failed: {name}: {why}", file=sys.stderr)
    attempted = sum(len(u["ops"]) for u in units)
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": min(attempted, len(failures)),
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in out.items()},
    }


def untraced_wall(workload: str, wall: float | None) -> float:
    """Record an untraced run's wall time (``wall`` given), or return
    the median of those recorded so far for ``workload`` (0 if none)."""
    path = os.path.join(OUT, "untraced_wall_s.json")
    seen = {}
    if os.path.isfile(path):
        with open(path) as f:
            seen = json.load(f)
    if wall is None:
        walls = seen.get(workload)
        return statistics.median(walls) if walls else 0.0
    seen.setdefault(workload, []).append(wall)
    with open(path, "w") as f:
        json.dump(seen, f)
    return wall


def write_trace(args, tracer, layer: dict, metrics: dict, units: list[dict]) -> None:
    import layertrace as lt

    d = os.path.join(OUT, "traces")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "run_id": tracer.run_id,
            "end_to_end_traced": metrics, "per_layer": layer,
            "trace_overhead_s": layer["trace_overhead_s"],
            "units": units, "spans": lt.span_tree(tracer),
        }, f, indent=1, default=str)
    print(f"perfbench trace → {path}", file=sys.stderr)


if __name__ == "__main__":
    sys.exit(main())
