"""Session-factory behavior: cluster-master passthrough and the Python
workers' import path.

The factory must not pin ``local[n]`` over a master provided by
spark-submit (``--master`` in PYSPARK_SUBMIT_ARGS), a builder conf, or
``SPARK_GRAFT_MASTER`` — otherwise the "cluster-safe" entry points
would fight the cluster manager.  These tests exercise the decision
logic without starting a second SparkSession in this process
(getOrCreate would just reuse the test session anyway); the import-path
test starts its session in a subprocess.
"""

import os
import subprocess
import sys

import pytest
from pyspark.sql import SparkSession

from genie_spark import session as S


def test_external_master_detected_from_builder_conf():
    b = SparkSession.builder.config("spark.master", "yarn")
    assert S._external_master_present(b)


def test_external_master_detected_from_submit_args(monkeypatch):
    b = SparkSession.builder
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert not S._external_master_present(b)
    monkeypatch.setenv(
        "PYSPARK_SUBMIT_ARGS", "--master k8s://https://host:6443 pyspark-shell"
    )
    assert S._external_master_present(b)


def test_external_master_detected_from_gateway(monkeypatch):
    """spark-submit launches python under an existing JVM gateway (it
    sets PYSPARK_GATEWAY_PORT, not PYSPARK_SUBMIT_ARGS) whose conf
    already carries the resolved master — the factory must not pin
    local mode over it."""
    b = SparkSession.builder
    monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "42001")
    assert S._external_master_present(b)


def test_get_spark_local_default_unchanged(spark):
    """Locally (no submit args, no SPARK_GRAFT_MASTER) the session
    still runs a local master — the test fixture itself proves the
    factory's default path keeps working."""
    assert spark.sparkContext.master.startswith("local[")


def test_workers_import_package_from_any_working_directory(tmp_path):
    """A package query that runs Python workers (k-means' Arrow scan)
    works from a working directory outside the repo with the repo only
    on the driver's ``sys.path``: get_spark puts the package's parent
    directory on the workers' PYTHONPATH."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from genie_spark.analytics.clustering import kmeans_assign
from genie_spark.session import get_spark, local_rows_df

spark = get_spark("cwd_probe", shuffle_partitions=2)
rows = [(i, [float(i % 4), float(i % 3)]) for i in range(12)]
df = local_rows_df(spark, rows, "vec_id long, embedding array<float>")
print(kmeans_assign(df, k=2, iters=1).count())
"""
    env = {
        k: v for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "PYSPARK_GATEWAY_PORT")
    }
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    run = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.split()[-1] == "12"


def test_session_scale_confs(spark):
    """The factory's scale-critical confs survive into the session:
    AQE on, and the ObjectHashAggregate sort-fallback raised so
    collect_set-building aggs (signature store) stay hash-based
    (235 s → 89 s at 1 M docs, BASELINE.md round 9)."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert (
        spark.conf.get(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
        )
        == "65536"
    )


def test_local_rows_df_plans_local_relation_and_matches_pickle_path(spark):
    """Driver-built tables must enter as ONE Arrow table — a JVM
    LocalRelation with zero Python tasks downstream — and be
    row-and-schema-identical to the plain createDataFrame path for
    every shape the package uses (the pickle parallelize path re-runs
    Python worker tasks inside EVERY consumer job; measured 4.8-7.5 s
    per downstream job for a 16-row table vs 0.18 s via Arrow)."""
    from pyspark.sql import types as T

    from genie_spark.release.oncotree import ONCOTREE_COLUMNS
    from genie_spark.session import local_rows_df

    assay_cols = ["SEQ_ASSAY_ID", "SEQ_PIPELINE_ID", "alteration_types",
                  "is_paired_end", "library_strategy", "preservation_technique"]
    cases = [
        ([(1,), (2,)], "value long"),
        ([(1, [1, 2, 3]), (2, [4, 5, 6])], "cid long, v array<long>"),
        ([(1, "ab"), (2, None)], "k long, s string"),
        ([(0.5,), (0.25,)], "q double"),
        ([(1, 2, 3, 4, 5)], "query_id long, cell long, s int, cid long, d2 long"),
        # all-string rows: a 5-column one, one with '|' line separators
        ([("SAGE", "a.txt;b.txt", "0f" * 16, "VALIDATED", "/in/a.txt")],
         "center string, name string, md5 string, status string, path string"),
        ([("SAGE", "m.txt", "ERROR [maf.cols]: missing|two lines")],
         "center string, name string, errors string"),
        # release/oncotree: a row with None strings
        ([("BRCA", None, "", "BREAST", ""), ("X", "Other", None, None, None)],
         ", ".join(f"{c} string" for c in ONCOTREE_COLUMNS)),
        # io/readers.assay_df_from_dict: a wide all-string row
        ([("SAGE-1", "SAGE-1", "snv;small_indels", "True", None, "FFPE;fresh")],
         ", ".join(f"`{c}` string" for c in assay_cols)),
        # rules/engine.ValidationReport.to_df: array<string> examples
        ([("maf", "maf.cols", "error", 3, ["a", "b"], "bad"),
          ("maf", "maf.ok", "warning", 0, [], "fine")],
         "file_type string, rule_id string, severity string, "
         "n_violations long, examples array<string>, message string"),
    ]
    for rows, schema in cases:
        plain = spark.createDataFrame(rows, schema)
        arrow = local_rows_df(spark, rows, schema)
        assert arrow.schema == plain.schema
        assert sorted(map(tuple, arrow.collect()), key=repr) == sorted(
            map(tuple, plain.collect()), key=repr
        )
        assert (
            arrow._jdf.queryExecution().optimizedPlan().nodeName()
            == "LocalRelation"
        )
    # empty input is a LocalRelation too (the pickle path plans a
    # Scan ExistingRDD with Python tasks even for no rows), and the
    # schema is exact, nullability included
    schema = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.StringType(), True),
        ]
    )
    for s in (schema, "a long NOT NULL, b string"):
        empty = local_rows_df(spark, [], s)
        assert empty.schema == schema
        assert empty.count() == 0
        assert (
            empty._jdf.queryExecution().optimizedPlan().nodeName()
            == "LocalRelation"
        )
    # a row that does not fit the schema raises; no slower fallback
    with pytest.raises(ValueError):
        local_rows_df(spark, [(1,)], "a long, b long")
    with pytest.raises(ValueError):
        local_rows_df(spark, [(None, "x")], schema)
    with pytest.raises(ValueError):  # pyarrow.ArrowInvalid
        local_rows_df(spark, [("x", "y")], schema)
