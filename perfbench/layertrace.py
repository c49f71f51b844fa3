"""Traced runs: spans around each layer's public functions, and Spark's
own job and stage records read from its status store over py4j (this
works with ``spark.ui.enabled=false``).

The wrappers are installed from outside the program: every module of
``genie_spark`` that binds one of the listed functions gets the wrapper
in its place, so calls through ``from x import f`` bindings are seen too.
Spans stay in memory and are written once, when the run ends.

Per-layer metrics are computed on one timeline.  At each instant the
innermost open span owns the time; a layer's ``self_s`` is the time it
owns, its ``busy_s`` the time any of its spans is open.  A Spark job
belongs to the layer that owns its submission instant.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import sys
import time

# layer → (module, public function) pairs wrapped in a traced run;
# ``formats`` and ``rules`` are wrapped in install() (dataclass fields
# and a method)
WRAPPED = {
    "cli": [("genie_spark.cli", f) for f in
            ("cmd_ingest", "cmd_release", "cmd_public", "cmd_dashboard")],
    "formats": [("genie_spark.formats", "determine_filetype")],
    "io.status": [("genie_spark.io.status", f) for f in
                  ("prior_status", "record_status", "file_md5")],
    "io.bronze": [("genie_spark.io.bronze", f) for f in
                  ("merge_into_bronze", "rewrite_bronze")],
    "release.pipeline": [("genie_spark.release.pipeline", f) for f in
                         ("run_release", "consortium_to_public", "apply_retractions")],
    "io.writers": [("genie_spark.io.writers", f) for f in
                   ("write_tsv", "write_cbio_clinical", "write_cbio_clinical_split",
                    "write_cna_wide", "gene_panel_text", "case_list_texts",
                    "case_list_alteration_texts", "cbio_meta_texts")],
    "release.qc": [("genie_spark.release.qc", "validate_release")],
}
GENIE_LAYERS = ["cli", "formats", "rules", "io.status", "io.bronze",
                "release.pipeline", "io.writers", "release.qc"]
QUERY_LAYERS = ["workload", "workload_analytics"]
LAYERS = GENIE_LAYERS + QUERY_LAYERS
LAYER_METRICS = ("calls", "busy_s", "self_s", "jobs", "task_s", "driver_s")


class Tracer:
    """Spans of one run: (name, layer, start, end, parent index)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.counters: dict[str, float] = {}

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, layer, time.time(), None, parent])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][3] = time.time()

    def count(self, key: str, n: float = 1) -> None:
        self.counters[key] = self.counters.get(key, 0) + n

    def wrap(self, layer: str, name: str, fn, after=None):
        def wrapper(*args, **kwargs):
            with self.span(layer, name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self, fs_bytes_written) -> None:
        """Wrap every listed function of the program."""
        import genie_spark.cli  # noqa: F401 — loads the modules the CLI binds
        import genie_spark.io.writers  # noqa: F401
        import genie_spark.release.pipeline  # noqa: F401
        import genie_spark.release.qc  # noqa: F401
        from genie_spark.formats import FORMATS
        from genie_spark.rules.engine import RuleSet

        def skipped(status):
            if status == "VALIDATED":
                self.count("io.status.skipped")

        after = {"prior_status": skipped}
        for layer, pairs in WRAPPED.items():
            for mod_name, attr in pairs:
                orig = getattr(importlib.import_module(mod_name), attr)
                if attr == "merge_into_bronze":
                    new = self._wrap_merge(orig, fs_bytes_written)
                else:
                    new = self.wrap(layer, attr, orig, after.get(attr))
                _rebind(orig, new)
        for fmt in FORMATS:
            for field in ("read", "transform"):
                fn = getattr(fmt, field)
                if fn is not None:
                    object.__setattr__(
                        fmt, field, self.wrap("formats", f"{fmt.name}.{field}", fn)
                    )
        RuleSet.validate = self.wrap("rules", "RuleSet.validate", RuleSet.validate)

    def _wrap_merge(self, orig, fs_bytes_written):
        def merge(*args, **kwargs):
            before = fs_bytes_written()
            with self.span("io.bronze", "merge_into_bronze"):
                out = orig(*args, **kwargs)
            self.count("io.bronze.bytes_written", fs_bytes_written() - before)
            return out

        return merge


def _rebind(orig, new) -> None:
    """Point every ``genie_spark`` module binding of ``orig`` at ``new``."""
    for name, mod in list(sys.modules.items()):
        if name.startswith("genie_spark") and mod is not None:
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, new)


# ---------------------------------------------------------------------------
# Spark's status store


def local_fs_bytes_written(spark):
    """Returns a function reading the bytes written so far through
    Hadoop's local file system in this JVM (Spark's parquet writers,
    staging files included)."""
    fs_cls = spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem

    def read() -> int:
        return sum(
            s.getBytesWritten() for s in fs_cls.getAllStatistics()
            if s.getScheme() == "file"
        )

    return read


def status_store(spark) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and stages the status store holds, as JSON records."""
    sc = spark.sparkContext
    jvm = sc._jvm
    jsc = sc._jsc.sc()
    with contextlib.suppress(Exception):
        jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(getattr(scala_mod, "MODULE$"))
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    return jobs, {s["stageId"]: s for s in stages if s.get("attemptId", 0) == 0}


# ---------------------------------------------------------------------------
# timeline analysis


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _minus(intervals, holes):
    """Parts of ``intervals`` (disjoint) not covered by ``holes``."""
    holes = _union(holes)
    out = []
    for a, b in intervals:
        cur = a
        for h0, h1 in holes:
            if h1 <= cur or h0 >= b:
                continue
            if h0 > cur:
                out.append((cur, h0))
            cur = max(cur, h1)
        if cur < b:
            out.append((cur, b))
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def analyze(tracer: Tracer, jobs: list[dict], stages: dict[int, dict],
            t0: float, t1: float, slots: int) -> dict[str, float]:
    """Per-layer and whole-run Spark metrics for the window [t0, t1]."""
    spans = tracer.spans
    children: dict[int | None, list[int]] = {}
    for i, sp in enumerate(spans):
        children.setdefault(sp[4], []).append(i)
    self_iv: dict[str, list] = {layer: [] for layer in LAYERS}
    busy: dict[str, float] = {layer: 0.0 for layer in LAYERS}
    calls: dict[str, int] = {layer: 0 for layer in LAYERS}
    for i, (name, layer, a, b, parent) in enumerate(spans):
        calls[layer] += 1
        kids = [(spans[k][2], spans[k][3]) for k in children.get(i, ())]
        self_iv[layer].extend(_minus([(a, b)], kids))
        # busy time counts a layer's outermost spans only
        p = parent
        while p is not None and spans[p][1] != layer:
            p = spans[p][4]
        if p is None:
            busy[layer] += b - a

    window = [
        j for j in jobs
        if j.get("submissionTime") and t0 * 1000 <= j["submissionTime"] <= t1 * 1000
    ]
    job_iv = [
        (j["submissionTime"] / 1000, (j.get("completionTime") or t1 * 1000) / 1000)
        for j in window
    ]

    def job_stages(job):
        return [stages[s] for s in job["stageIds"] if s in stages]

    owner: dict[int, str | None] = {}
    for j in window:
        ts = j["submissionTime"] / 1000
        owner[j["jobId"]] = next(
            (layer for layer, ivs in self_iv.items()
             for a, b in ivs if a <= ts <= b),
            None,
        )
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [j for j in window if owner[j["jobId"]] == layer]
        self_union = _union(self_iv[layer])
        out[f"{layer}.calls"] = calls[layer]
        out[f"{layer}.busy_s"] = busy[layer]
        out[f"{layer}.self_s"] = _length(self_union)
        out[f"{layer}.jobs"] = len(mine)
        out[f"{layer}.task_s"] = sum(
            s["executorRunTime"] for j in mine for s in job_stages(j)
        ) / 1000
        out[f"{layer}.driver_s"] = _length(_minus(self_union, job_iv))

    ran = {s["stageId"]: s for j in window for s in job_stages(j)
           if s["status"] != "SKIPPED"}.values()
    durations = sorted(b - a for a, b in job_iv)
    wall = t1 - t0
    task_s = sum(s["executorRunTime"] for s in ran) / 1000
    out.update({
        "spark.jobs": len(window),
        "spark.stages": len(ran),
        "spark.tasks": sum(s["numCompleteTasks"] for s in ran),
        "spark.job_p50_ms": 1000 * durations[len(durations) // 2] if durations else 0.0,
        "spark.task_s": task_s,
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
        "spark.gc_s": sum(s["jvmGcTime"] for s in ran) / 1000,
        "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in ran) / 2**20,
        "spark.spill_mb": sum(s["diskBytesSpilled"] for s in ran) / 2**20,
        "spark.idle_s": wall - _length(_union(job_iv)),
        "spark.slot_util": task_s / (wall * slots),
    })
    return out


def jobs_by_span(tracer: Tracer, jobs: list[dict], t0: float, t1: float) -> dict:
    """(layer, span name) → jobs submitted while that span was the
    innermost open one, for jobs submitted in [t0, t1]."""
    out: dict[tuple[str, str], int] = {}
    for j in jobs:
        ts = (j.get("submissionTime") or 0) / 1000
        if not t0 <= ts <= t1:
            continue
        inner = None
        for i, (_, _, a, b, _) in enumerate(tracer.spans):
            if a <= ts <= b:
                inner = i  # later spans that contain ts are nested deeper
        if inner is not None:
            name, layer = tracer.spans[inner][:2]
            out[(layer, name)] = out.get((layer, name), 0) + 1
    return out


def span_tree(tracer: Tracer) -> list[dict]:
    return [
        {"name": n, "layer": layer, "start": a, "end": b, "parent": p,
         "run": tracer.run_id}
        for n, layer, a, b, p in tracer.spans
    ]
