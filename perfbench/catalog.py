"""The catalog workload: three of the headline queries, each
constructed and then executed, in one warm session, checked against
DuckDB.

The query list is fixed here so that edits elsewhere in the repository
cannot change what the workload measures.  ``q1_pricing_summary`` is
the relational scan/aggregate of ``genie_spark.workload``; the other
two are corpus analytics of ``genie_spark.workload_analytics`` with a
large construction cost at sf0.1.
"""

from __future__ import annotations

import contextlib
import gc
import time

RELATIONAL = ["q1_pricing_summary"]
ANALYTICS = ["dedup_minhash_lsh", "corpus_dsir_sample"]
QUERIES = [(q, "workload") for q in RELATIONAL] + [(q, "workload_analytics") for q in ANALYTICS]
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def warm_up(spark, data_dir: str) -> None:
    """Untimed session warm-up on data no query reads this way: a scan
    of the smallest table and a synthetic aggregation."""
    from pyspark.sql import functions as F

    spark.read.parquet(f"{data_dir}/region.parquet").count()
    (spark.range(1_000_000).groupBy(F.pmod("id", F.lit(7))).count()
     .write.format("noop").mode("overwrite").save())


def run(spark, data_dir: str, tracer=None) -> tuple[list[dict], dict]:
    """Construct and execute each query once.  Returns one record per
    query (name, layer, construct and execute seconds, error) and the
    collected rows by query name, for the checks."""
    from genie_spark.workload import QUERIES as REGISTRY

    ops, results = [], {}
    for name, layer in QUERIES:
        rec = {"name": name, "layer": layer, "construct_s": None, "exec_s": None,
               "error": None}
        try:
            t0 = time.perf_counter()
            with _span(tracer, layer, f"construct:{name}"):
                df = REGISTRY[name](spark, data_dir)
                _ = df.schema
            t1 = time.perf_counter()
            with _span(tracer, layer, f"exec:{name}"):
                rows = df.collect()
            t2 = time.perf_counter()
            rec["construct_s"], rec["exec_s"] = t1 - t0, t2 - t1
            results[name] = (df.columns, [tuple(r) for r in rows])
        except Exception as exc:  # one broken query must not end the run
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        ops.append(rec)
        # release this query's cached state before the next is built;
        # Spark frees old shuffle files only when the driver JVM collects
        df = None  # noqa: F841
        gc.collect()
        spark.sparkContext._jvm.System.gc()
    return ops, results


def _span(tracer, layer, name):
    return tracer.span(layer, name) if tracer is not None else contextlib.nullcontext()


def normalize(rows, columns) -> list[str]:
    """Order-insensitive row digest: columns sorted by name, values
    stringified (floats by repr), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = f"{v!r}"
            vals.append(str(v) if v is not None else "\x00")
        out.append("\x01".join(vals))
    out.sort()
    return out


def check(data_dir: str, results: dict) -> dict[str, str]:
    """Compare every collected result with its DuckDB oracle.  Returns
    query name → failure reason for each query that does not match."""
    import duckdb

    from genie_spark.workload import ORACLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    failures = {}
    for name, _ in QUERIES:
        if name not in results:
            failures[name] = "no result"
            continue
        scols, srows = results[name]
        try:
            rel = con.sql(ORACLES[name])
            dcols, drows = rel.columns, rel.fetchall()
        except Exception as exc:
            failures[name] = f"oracle error {type(exc).__name__}: {exc}"[:300]
            continue
        failures[name] = diff(scols, srows, dcols, drows)
    return {k: v for k, v in failures.items() if v}


def diff(scols, srows, dcols, drows) -> str:
    """Empty when the two results hold the same rows, else the reason."""
    if len(srows) != len(drows):
        return f"row count {len(srows)} != oracle {len(drows)}"
    if sorted(scols) != sorted(dcols):
        return f"columns {sorted(scols)} != oracle {sorted(dcols)}"
    if normalize(srows, scols) != normalize(drows, dcols):
        return "values differ from oracle"
    return ""
