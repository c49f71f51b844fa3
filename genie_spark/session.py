"""SparkSession factory tuned for the genie_spark workload.

Local mode is the test harness; the config choices are the ones that
matter on a real cluster too: AQE (skew joins, partition coalescing),
a shuffle-partition count matched to parallelism, Arrow for the few
Pandas-UDF paths, and a broadcast threshold large enough that every
dimension table (nation/region-sized, oncotree-sized) broadcasts.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _external_master_present(builder: SparkSession.Builder) -> bool:
    """True when a launcher already owns the master setting, in which
    case the factory must NOT pin local mode over it:

    * ``PYSPARK_GATEWAY_PORT`` — the process was started by
      spark-submit / the pyspark shell, whose JVM gateway already
      carries the resolved ``spark.master`` (possibly yarn/k8s);
      calling ``.master()`` here would override it;
    * ``--master`` in ``PYSPARK_SUBMIT_ARGS`` (the pyspark-shell
      launch path);
    * a ``spark.master`` set on THIS builder's options (shared-builder
      configuration; note ``SparkSession.builder`` returns a fresh
      Builder per access, so this only covers a builder passed
      around explicitly)."""
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        return True
    if "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", ""):
        return True
    opts = getattr(builder, "_options", {}) or {}
    return "spark.master" in opts


def _default_driver_mem() -> str:
    """Local-mode driver heap default: 24g when the host can afford it
    (local[32] wants ~750 MB/core), capped at HALF of detected physical
    RAM so a smaller host gets GC pressure instead of the OS OOM
    killer.  ``SPARK_GRAFT_DRIVER_MEM`` always wins; unreadable
    /proc/meminfo falls back to the conservative 8g."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = int(
                next(l for l in f if l.startswith("MemTotal")).split()[1]
            )
        half_gib = (kb // (1024 * 1024)) // 2
        return f"{max(2, min(24, half_gib))}g"
    except (OSError, StopIteration, ValueError, IndexError):
        return "8g"


def get_spark(
    app_name: str = "genie_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    On a real cluster the master comes from spark-submit (or
    ``SPARK_GRAFT_MASTER``) and this factory DOES NOT override it —
    ``.master()`` is applied only when neither is present, so the same
    entry points run unchanged under ``spark-submit --master yarn/k8s``.
    Shuffle-partition sizing on a cluster: pass ``shuffle_partitions``
    ≈ 2–3× total executor cores (or set
    ``spark.sql.shuffle.partitions`` via submit conf, which wins over
    an existing session); the local default here is one per core,
    floor 8 — small enough that sf0.1-scale tests don't drown in
    empty-partition overhead, while AQE coalescing handles the rest.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = 32

    builder = SparkSession.builder
    launched = _external_master_present(builder)
    # precedence: explicit SPARK_GRAFT_MASTER, then a master already
    # provided by spark-submit / a shared builder conf, then local[cpus]
    env_master = os.environ.get("SPARK_GRAFT_MASTER")
    if env_master:
        builder = builder.master(env_master)
    elif not launched:
        builder = builder.master(f"local[{cpus}]")

    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
        # per-center skew (a few centers dominate) makes this mandatory.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Dim tables (region/nation/oncotree/code-maps/assay info) are tiny;
        # raise the auto-broadcast threshold so they always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # collect_set/collect_list aggregate via ObjectHashAggregate,
        # which abandons hash aggregation for a FULL SORT of the input
        # after only 128 distinct keys per task (the conservative
        # upstream default).  The signature-store build
        # (minhash_docinfo: one ~300-hash set per doc) has tens of
        # thousands of keys per task; keeping it hash-based measured
        # 235 s → 89 s at 1 M docs (same-session A/B).  64 Ki keys ×
        # a few-hundred-element sets ≈ low hundreds of MB per task —
        # sized to the executor memory this factory assumes; lower it
        # if tasks aggregate much fatter objects.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            "65536",
        )
        # events.parquet carries TIMESTAMP(NANOS) which Spark has no native
        # type for; read as epoch-nanos LongType (workload converts to µs).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # local-mode driver IS the executor: 8g was 250 MB/core at
        # local[32] and showed GC-pressure variance on the bench; 24g
        # (750 MB/core) matches what a real cluster would give each
        # executor core — capped at half of physical RAM on smaller
        # hosts (see _default_driver_mem).  Ignored (with a WARN) if a
        # JVM already runs.
        .config("spark.driver.memory", _default_driver_mem())
    )
    conf = dict(extra_conf or {})
    if not launched:
        # Python workers import genie_spark from the package's parent
        # directory, whatever their working directory; a PYTHONPATH in
        # extra_conf is kept after it.  A launcher's conf is left alone.
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(p for p in (_PACKAGE_PARENT, conf.get(key)) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_rows_df(spark: SparkSession, rows, schema):
    """Driver-local rows → DataFrame as a JVM ``LocalRelation`` via one
    Arrow table, instead of the default pickle ``parallelize`` path.
    This is the package's ONE way to build a driver-local table.

    ``spark.createDataFrame(list, schema)`` plans a LogicalRDD whose
    partitions are PYTHON tasks — and those tasks re-execute inside
    EVERY consumer job of the table (each join build, broadcast,
    write), even when the list is empty.  Measured on PySpark 4.1.2:
    writing a 16-row centroid table sourced from a list cost
    4.8-7.5 s PER downstream job (32 pickle-path Python worker tasks
    each time) against 0.18 s via Arrow; a one-row status table cost
    ~1.3 s per upsert of the validation-status bookkeeping.  The Arrow
    table plans a ``LocalRelation`` — a JVM literal, zero Python
    anywhere downstream — for empty input too.

    ``schema`` is a DDL string or ``StructType``; types and
    nullability are exact, as on the pickle path.  A row whose width
    or values do not fit the schema raises; there is no fallback
    path.  Arrow reads a naive ``datetime`` as UTC where the pickle
    path reads local time; no caller passes timestamps."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not isinstance(schema, StructType):
        raise TypeError(f"local_rows_df needs a struct schema, got {schema!r}")
    fields = to_arrow_schema(schema)
    rows = list(rows)
    for r in rows:
        if len(r) != len(fields):
            raise ValueError(
                f"local_rows_df: row {r!r} has {len(r)} values, "
                f"schema has {len(fields)} ({fields.names})"
            )
    cols = list(zip(*rows)) if rows else [() for _ in fields]
    arrays = [pa.array(c, type=f.type) for c, f in zip(cols, fields)]
    for a, f in zip(arrays, fields):
        if not f.nullable and a.null_count:
            raise ValueError(f"local_rows_df: null in non-nullable {f.name!r}")
    return spark.createDataFrame(pa.table(arrays, schema=fields), schema=schema)


TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load every driver-provided parquet table from ``sf_dir``."""
    return {
        name: spark.read.parquet(f"{sf_dir}/{name}.parquet")
        for name in TESTDATA_TABLES
    }


def gc_nudge(spark: SparkSession) -> None:
    """Nudge the driver JVM's garbage collector after a heavy
    materialization whose lineage has just been truncated
    (``localCheckpoint`` / store write) and BEFORE follow-up jobs in
    the same operator.

    Spark's ContextCleaner only releases the shuffle state of
    no-longer-reachable stages when the driver JVM garbage-collects —
    piled-up shuffle blocks from a just-checkpointed corpus-scale
    pipeline degrade the next jobs badly (measured in
    ``connected_components`` at sf0.1: the first propagation round ran
    28.6 s against the leftover state of the edge-pipeline job vs
    3.8 s after a 3 s explicit GC; Spark ships
    ``spark.cleaner.periodicGC.interval=30min`` for the same reason,
    far too coarse for within-query effect).  No-op where the private
    ``_jvm`` handle is absent (Spark Connect).

    Shared-driver caveat (r15 advisory): ``System.gc()`` is a
    driver-WIDE stop-the-world pause — in a driver running concurrent
    queries it stalls unrelated jobs, and on small inputs the GC can
    cost more wall than the leftover shuffle state would.  Such
    deployments should disable the nudge via
    ``spark.genie.gcNudge=false`` (session conf, checked here on
    every call so it can be toggled at runtime); the operators keep
    their correctness either way — the nudge only affects when
    ContextCleaner reclaims dead shuffle state."""
    try:
        if str(spark.conf.get("spark.genie.gcNudge", "true")).lower() == "false":
            return
    except Exception:  # conf API unavailable — keep the default
        pass
    try:
        jvm = spark.sparkContext._jvm
    except Exception:  # Connect: sparkContext property itself raises
        return
    if jvm is not None:
        jvm.System.gc()
