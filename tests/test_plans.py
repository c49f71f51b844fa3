"""Physical-plan assertions: lock in the scale-critical plan shapes so
a regression (lost pushdown, un-broadcast dim, disappearing partial
aggregation) fails CI rather than surfacing as a 100 TB incident."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def no_operator_shuffle(plan: str) -> bool:
    """True when every Exchange in the plan is the test-harness
    repartition of the single-row-group testdata parquet (hash-keyed
    since r15, tagged REPARTITION_BY_NUM) — i.e. the OPERATOR itself
    introduces no shuffle."""
    import re

    return all(
        "REPARTITION_BY_NUM" in e
        for e in re.findall(r"Exchange [^\n]*", plan)
    )


def test_q1_scan_prunes_and_pushes_down(spark):
    from genie_spark.workload import q1_pricing_summary

    df = q1_pricing_summary(spark, SF)
    plan = plan_of(df)
    # filter on l_shipdate reaches the parquet scan
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan, plan
    # column pruning: l_comment is never read
    assert "l_comment" not in plan
    # partial aggregation before the exchange (map-side combine)
    assert "partial_sum" in plan or "partial_count" in plan


def test_j1_dims_broadcast(spark):
    from genie_spark.workload import j1_revenue_per_nation

    plan = plan_of(j1_revenue_per_nation(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_semi_filter_stays_semi(spark):
    from genie_spark.workload import p3_semi_filter

    plan = plan_of(p3_semi_filter(spark, SF))
    # LeftSemi never materializes the join payload
    assert "LeftSemi" in plan, plan


def test_minhash_no_cartesian(spark):
    from genie_spark.workload_analytics import dedup_minhash_lsh

    plan = plan_of(dedup_minhash_lsh(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the docinfo side carries per-doc hash arrays — data-sized; a
    # static-misestimate broadcast of it is a corpus-sized driver
    # collect (observed: ~3 GB at 1M docs, killed the driver).  The
    # merge hints must pin every dedup join to a shuffle join.
    assert "BroadcastHashJoin" not in plan, plan


def test_interval_join_no_cartesian(spark):
    from genie_spark.workload import j3_interval_join

    plan = plan_of(j3_interval_join(spark, SF))
    # the binned range join must be an equi-join on (key, bin), never
    # a nested-loop over the range predicate
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lookup_annotator_broadcasts_dim(spark):
    """The annotation table is a reference dim — the maf side must
    never shuffle for the join (100 TB: maf is data-sized)."""
    from genie_spark.release.mutation import lookup_annotator

    maf = spark.createDataFrame(
        [("17", "7578406", "C", "T")],
        "Chromosome string, Start_Position string, Reference_Allele string, "
        "Tumor_Seq_Allele2 string",
    )
    lookup = spark.createDataFrame(
        [("17", "7578406", "C", "T", "p.R175H")],
        "Chromosome string, Start_Position string, Reference_Allele string, "
        "Tumor_Seq_Allele2 string, HGVSp_Short string",
    )
    plan = plan_of(lookup_annotator(lookup)(maf))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_latest_per_key_reduces_before_exchange(spark):
    """w2 latest-per-key must reduce map-side before the shuffle: Spark
    4 plans the row_number-top-1 as a Partial WindowGroupLimit under
    the exchange, so each map task ships at most one row per key
    instead of the whole 100 TB events table."""
    from genie_spark.workload import w2_latest_per_key

    plan = plan_of(w2_latest_per_key(spark, SF))
    partial = plan.split("Exchange", 1)[-1]
    assert "WindowGroupLimit" in partial and "Partial" in partial, plan


def _release_inputs(spark):
    clinical = spark.createDataFrame(
        [("GENIE-SAGE-1-1", "GENIE-SAGE-1", "SAGE", "PANEL-1", "UNKNOWN", 10000.0)],
        "SAMPLE_ID string, PATIENT_ID string, CENTER string, "
        "SEQ_ASSAY_ID string, ONCOTREE_CODE string, AGE_AT_SEQ_REPORT double",
    )
    maf = spark.createDataFrame(
        [("GENIE-SAGE-1-1", "1", 150, 150, "A", "T", 10.0, 90.0, 100.0)],
        "Tumor_Sample_Barcode string, Chromosome string, "
        "Start_Position long, End_Position long, Reference_Allele string, "
        "Tumor_Seq_Allele2 string, t_alt_count double, t_ref_count double, "
        "t_depth double",
    )
    bed = spark.createDataFrame(
        [("1", 100, 200, "TP53", "PANEL-1", True)],
        "Chromosome string, Start_Position long, End_Position long, "
        "Hugo_Symbol string, SEQ_ASSAY_ID string, includeInPanel boolean",
    )
    oncotree = spark.createDataFrame(
        [("UNKNOWN", "x", "y", "P", "")],
        "ONCOTREE_CODE string, CANCER_TYPE string, CANCER_TYPE_DETAILED "
        "string, ONCOTREE_PRIMARY_NODE string, ONCOTREE_SECONDARY_NODE string",
    )
    return clinical, maf, bed, oncotree


def test_release_pipeline_plan_shape(spark):
    """The release filter DAG (the plan ``run_release``'s checkpoint
    jobs execute) must stay scale-safe: oncotree joins via
    BroadcastHashJoin, keep-filters as LeftSemi/LeftAnti, and no
    CartesianProduct anywhere in the MAF path."""
    from genie_spark.release.pipeline import _filter_dag, _released_maf

    clinical, maf, bed, oncotree = _release_inputs(spark)
    dag = _filter_dag(clinical, maf, bed, oncotree=oncotree)
    dag_maf = _released_maf(dag.maf, dag.clinical)
    for df in (dag.clinical, dag_maf):
        plan = plan_of(df)
        assert "CartesianProduct" not in plan, plan
    clin_plan = plan_of(dag.clinical)
    assert "BroadcastHashJoin" in clin_plan, clin_plan
    maf_plan = plan_of(dag_maf)
    assert "LeftSemi" in maf_plan or "LeftAnti" in maf_plan, maf_plan


def test_release_materializes_clinical_and_maf(spark, tmp_path):
    """``run_release`` computes the filter DAG once: the released
    clinical and MAF its ~15 sinks read are checkpoints (no file scan,
    no join left to replay), with the lazy DAG's exact schemas, nullability
    included — also when every sample is retracted and the checkpoint
    is empty."""
    from genie_spark.release.pipeline import _filter_dag, _released_maf, run_release

    inputs = []
    for name, df in zip(("clinical", "maf", "bed", "oncotree"), _release_inputs(spark)):
        path = str(tmp_path / name)
        df.write.parquet(path)
        inputs.append(spark.read.parquet(path))
    clinical, maf, bed, oncotree = inputs
    everyone = spark.createDataFrame([("GENIE-SAGE-1",)], "geniePatientId string")
    for retraction, n_released in ((None, 1), (everyone, 0)):
        kwargs = dict(oncotree=oncotree, patient_retraction=retraction)
        arts = run_release(clinical, maf, bed, **kwargs)
        dag = _filter_dag(clinical, maf, bed, **kwargs)
        lazy = {"clinical": dag.clinical, "maf": _released_maf(dag.maf, dag.clinical)}
        for name, df in (("clinical", arts.clinical), ("maf", arts.maf)):
            plan = plan_of(df)
            assert "FileScan" not in plan and "Join" not in plan, plan
            assert df.schema == lazy[name].schema, (name, df.schema, lazy[name].schema)
            assert df.count() == n_released, name


def test_dedup_components_no_cartesian(spark):
    """Pointer-jumping joins stay equi-joins on node/label keys."""
    from genie_spark.workload_analytics import ANALYTICS_QUERIES

    df = ANALYTICS_QUERIES["dedup_components"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _skewed_center_inputs(spark, n_big=200_000):
    """90%-one-center distribution: the release clinical⋈maf hot-key
    shape (one giant center, a long tail of small ones) joined to a
    one-row-per-center table, so the join fans out 1:1 and only the
    SHUFFLE is skewed."""
    from pyspark.sql import functions as F

    big = spark.range(n_big).select(
        F.when(F.col("id") % 10 < 9, "HOT")
        .otherwise(F.concat(F.lit("C"), (F.col("id") % 200).cast("string")))
        .alias("CENTER"),
        F.col("id").alias("sample_seq"),
        F.md5(F.col("id").cast("string")).alias("payload"),
    )
    # the center table is its own source (not derived from the fact
    # side): AQE's OptimizeSkewedJoin only matches Sort-over-shuffle
    # join children, so an aggregate (e.g. distinct) on the dim side
    # would silently disable the split
    centers = spark.range(201).select(
        F.when(F.col("id") == 200, "HOT")
        .otherwise(F.concat(F.lit("C"), F.col("id").cast("string")))
        .alias("CENTER"),
        F.md5(F.col("id").cast("string")).alias("center_meta"),
    )
    return big, centers


def test_aqe_splits_skewed_center_join(spark):
    """Under a 90%-one-center distribution the clinical⋈maf-shaped
    sort-merge join must not land the hot center on one task: with the
    session's AQE on (session.py) and test-sized skew thresholds, the
    final adaptive plan shows the skew-join split.  This is the
    runtime half of the skew story; ``salted_join`` below is the
    explicit lever for sizes AQE cannot observe."""
    big, centers = _skewed_center_inputs(spark)
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        # force SMJ (no broadcast escape hatch) and scale the skew
        # detector down to test-sized partitions
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        joined = big.join(centers, "CENTER")
        # collect() runs this df's own QueryExecution, so plan_of sees
        # the FINAL adaptive plan (isFinalPlan=true) with skew markers
        joined.collect()
        plan = plan_of(joined)
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_salted_join_spreads_hot_center(spark):
    """``salted_join`` must shuffle on (CENTER, salt) — the hot center
    spreads over n_salts tasks by construction (no runtime detection
    needed) — and agree exactly with the plain join."""
    from genie_spark.operators.skew import salted_join

    big, centers = _skewed_center_inputs(spark, n_big=20_000)
    conf = spark.conf
    saved = conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    try:
        # the salted lever targets the non-broadcastable middle-sized
        # dim; keep the test honest by forcing the shuffle path
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = salted_join(big, centers, on=["CENTER"], n_salts=8)
        plan = plan_of(out)
        # the exchange hashes the salt alongside the key
        assert "__gs_salt" in plan and "hashpartitioning" in plan, plan
        assert "CartesianProduct" not in plan
        assert out.count() == big.join(centers, "CENTER").count()
    finally:
        if saved is None:
            conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


def test_embedding_candidates_no_cartesian(spark):
    """IVF co-membership candidate generation + exact verify must be
    equi-joins end-to-end (cell id, then pair ids) — the crossJoin
    lives only in the documented exact baseline ``cosine_pairs``."""
    from genie_spark.analytics.similarity import cosine_verify_pairs, ivf_cell_pairs

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cand = ivf_cell_pairs(emb, n_centroids=32, n_probe=8)
    verified = cosine_verify_pairs(emb, cand, threshold=0.35)
    plan = plan_of(verified)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # vector-table sides are data-sized: shuffle joins only
    assert "BroadcastHashJoin" not in plan, plan


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark n-gram set is eval-suite-sized (MBs) against a
    TB corpus: it must broadcast so the corpus side never shuffles for
    the join; the only corpus shuffle is the per-doc hit count."""
    from genie_spark.workload_analytics import corpus_decontaminate

    plan = plan_of(corpus_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_stratified_sample_is_narrow(spark):
    """Deterministic sampling is a pure per-row filter — ZERO
    exchanges: the plan must stay scan -> filter with no shuffle."""
    from genie_spark.workload_analytics import corpus_stratified_sample

    plan = plan_of(corpus_stratified_sample(spark, SF))
    # the query helper repartitions the tiny test parquet for fan-out;
    # everything past that must be exchange-free
    assert plan.count("Exchange") <= 1, plan
    assert "SortMergeJoin" not in plan and "HashAggregate" not in plan


def test_pack_sequences_single_window_shuffle(spark):
    """Packing is one window over (source): exactly one hash-partition
    exchange past the fan-out repartition, no join, no extra sort
    beyond the window's."""
    from genie_spark.workload_analytics import corpus_pack_sequences

    plan = plan_of(corpus_pack_sequences(spark, SF))
    assert plan.count("Exchange") <= 2, plan  # repartition + window hash
    assert "Join" not in plan


def test_passage_dedup_no_broadcast_of_passage_table(spark):
    """The distinct-passage winner table is corpus-sized: the winner
    join must be a sort-merge join (never a static-misestimate
    broadcast — the BASELINE.md 1M-doc lesson), and the whole op is
    equi-join + partial-aggregable groupBys (skew-immune on hot
    passages)."""
    from genie_spark.analytics.corpus import passage_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(passage_dedup(docs, n_tokens=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" in plan
    # map-side partial aggregation on both the winner and reassembly
    assert "partial_min" in plan and "partial_count" in plan


def test_kmeans_iteration_is_map_plus_kdim_agg(spark):
    """A Lloyd iteration must never join or shuffle the vectors:
    assignment is a broadcast-centroid Arrow map that combines
    map-side; the only exchange keys on (cid, pos) — k*dim groups —
    with map-side partial sums."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.clustering import (
        _broadcast_centroids,
        _update_partials_arrow,
    )
    from genie_spark.analytics.similarity import quantized

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.select(F.col("vec_id").alias("__id"), quantized("embedding").alias("__v"))
    cent = [(i, list(r["__v"])) for i, r in enumerate(q.orderBy("__id").limit(4).collect())]
    bc = _broadcast_centroids(spark.sparkContext, cent)
    sums = (
        _update_partials_arrow(q, bc, len(cent[0][1]))
        .groupBy("cid", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )
    plan = plan_of(sums)
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_sum" in plan
    bc.unpersist()


def test_semantic_dedup_shuffle_joins_only(spark):
    """SemDeDup's pair join and verify join carry data-sized sides
    (cluster assignments, vectors): never a cartesian and never a
    static-misestimate broadcast — the BASELINE.md 1M-doc lesson
    applies to every candidates→verify geometry."""
    from genie_spark.analytics.clustering import semantic_dedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(semantic_dedup(emb, k=4, iters=1, threshold=0.35))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "SortMergeJoin" in plan
    # single-exchange candidate generation (VERDICT r6 item 7): the
    # melted long form self-joins ONCE on (cluster_id, table, bucket)
    # — exactly 3 joins total (1 candidate + 2 verify), not
    # n_tables + 2; a regression back to per-table branches would
    # multiply the candidate shuffles by n_tables
    assert plan.count("SortMergeJoin") == 3, plan
    import re

    cand_joins = re.findall(r"SortMergeJoin \[cluster_id#\d+L?, table#", plan)
    assert len(cand_joins) == 1, plan


def test_kmv_sketch_dedupes_before_window(spark):
    """The KMV build must partial-aggregate the (group, hash) distinct
    map-side (only 16-byte pairs shuffle, repeats collapse before the
    exchange) and contain no join at all."""
    from genie_spark.analytics.sketches import kmv_sketch

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(kmv_sketch(docs, "source", "text", k=16))
    assert "Join" not in plan, plan
    # distinct's map-side partial aggregation before its exchange
    assert "HashAggregate" in plan and "Exchange hashpartitioning" in plan
    # the raw text column is pruned out before the shuffle: hashes only
    # distinct + salted local top-k window + k·salts-row final window
    assert plan.count("Exchange") <= 3, plan


def test_asof_join_is_one_exchange_no_join(spark):
    """The union-window as-of join must contain NO join operator and
    exactly one hash exchange (the window key) — the property that
    makes it linear where a range join blows up."""
    from genie_spark.workload import w4_asof_join

    plan = plan_of(w4_asof_join(spark, SF))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" in plan


def test_arrow_engines_carry_no_centroid_literal(spark):
    """The k-means/IVF plans must be k-independent: centroids ride a
    Spark broadcast variable, never a k·dim plan literal — at the √n
    sizing rule (k≈31k, dim 768) the literal alone breaks the plan
    (VERDICT r6 item 2).  Assert no centroid struct literal, and the
    SAME plan text at two values of k once expression ids are
    stripped."""
    import re

    from genie_spark.analytics.clustering import kmeans_assign
    from genie_spark.analytics.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")

    def stripped(df):
        # expression ids, lambda-variable suffixes (x_36#) and exchange
        # plan ids count up with every plan built in the session
        return re.sub(r"(_\d+)?#\d+L?|plan_id=\d+", "#", plan_of(df))

    # untruncated scan metadata: the default 100-char cut lands at a
    # different place when the ids it cuts through have more digits
    key = "spark.sql.maxMetadataStringLength"
    old = spark.conf.get(key)
    spark.conf.set(key, "100000")
    try:
        for build in (
            lambda k: kmeans_assign(emb, k=k, iters=0),
            lambda k: ivf_topk(emb, n_centroids=k, n_probe=4, k=5),
        ):
            small, big = stripped(build(4)), stripped(build(16))
            assert "named_struct" not in big, big[:2000]
            assert small == big
    finally:
        spark.conf.set(key, old)


def test_no_nondeterministic_uid_in_package():
    """Repo policy (functions/ids.py): no monotonically_increasing_id
    anywhere in the package — execution-time uids silently mismatch
    across task retries when referenced on both sides of a join-back;
    every uid must be content-derived (with_stable_uid).

    ONE audited exemption: functions/ranking.py's rank_bounded, where
    the id is a RANK over a coalesce(1)-sorted bounded frame — the
    partition index is fixed at 0 and the row ordinal follows a total
    sort order, so the value is a pure function of content (retries
    reproduce it) and never a join-back key."""
    import glob as _glob
    import os as _os

    pkg = _os.path.join(_os.path.dirname(__file__), "..", "genie_spark")
    exempt = _os.path.join("functions", "ranking.py")
    offenders = []
    for path in _glob.glob(_os.path.join(pkg, "**", "*.py"), recursive=True):
        if path.endswith(exempt):
            continue
        with open(path) as f:
            for i, line in enumerate(f, 1):
                # flag CALLS (name followed by "(") anywhere outside a
                # comment — prose/docstring mentions have no parens; a
                # blanket quote-exemption would let the common
                # .withColumn("uid", F.monotonically_increasing_id())
                # pattern slip through
                if "monotonically_increasing_id(" in line and not (
                    line.lstrip().startswith("#")
                ):
                    offenders.append(f"{path}:{i}: {line.strip()}")
    assert not offenders, offenders


def test_no_create_dataframe_outside_session():
    """Repo policy (session.local_rows_df): every driver-local table
    enters Spark as one Arrow LocalRelation.  A bare
    ``createDataFrame(list, ...)`` plans a pickle-path LogicalRDD whose
    Python worker tasks re-run inside every job that consumes it, even
    when the list is empty — so session.py is the one file allowed to
    call it."""
    import glob as _glob
    import os as _os

    pkg = _os.path.join(_os.path.dirname(__file__), "..", "genie_spark")
    offenders = []
    for path in _glob.glob(_os.path.join(pkg, "**", "*.py"), recursive=True):
        if _os.path.relpath(path, pkg) == "session.py":
            continue
        with open(path) as f:
            for i, line in enumerate(f, 1):
                if "createDataFrame(" in line:
                    offenders.append(f"{path}:{i}: {line.strip()}")
    assert not offenders, offenders


def test_delimited_reads_only_in_readers():
    """Repo policy (io/readers.read_delimited): every delimited file is
    read through the readers module, which builds its schema from the
    header line and runs no Spark job.  No ``spark.read`` CSV or text
    chain may appear in cli.py, formats.py or release/ — except the
    workflow document (``.md``), which is stored as text."""
    import ast
    import glob as _glob
    import os as _os

    pkg = _os.path.join(_os.path.dirname(__file__), "..", "genie_spark")
    files = [_os.path.join(pkg, "cli.py"), _os.path.join(pkg, "formats.py")]
    files += _glob.glob(_os.path.join(pkg, "release", "*.py"))
    exempt = "read=lambda spark, paths: spark.read.text(paths[0]),"
    offenders = []
    for path in files:
        with open(path) as f:
            src = f.read()
        lines = src.splitlines()
        for node in ast.walk(ast.parse(src)):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("csv", "text")
            ):
                continue
            # walk the builder chain to its root; a stream source or a
            # writer is not a batch read (a builder held in a variable,
            # ``reader.csv(path)``, is)
            attrs, cur = set(), node.func.value
            while isinstance(cur, (ast.Call, ast.Attribute)):
                if isinstance(cur, ast.Attribute):
                    attrs.add(cur.attr)
                cur = cur.func if isinstance(cur, ast.Call) else cur.value
            line = lines[node.lineno - 1].strip()
            if not attrs & {"readStream", "write", "writeStream"} and line != exempt:
                offenders.append(f"{_os.path.relpath(path, pkg)}:{node.lineno}: {line}")
    assert not offenders, offenders


def test_no_merge_schema_reads():
    """Repo policy (io/bronze.read_table): a table the package wrote is
    read with its schema from the parquet footers on the driver, never
    by Spark's schema-merging inference job — no ``mergeSchema`` option
    anywhere in the package, and cli.py reaches the reader through its
    public name only."""
    import ast
    import glob as _glob
    import os as _os

    pkg = _os.path.join(_os.path.dirname(__file__), "..", "genie_spark")
    offenders = []
    for path in _glob.glob(_os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path) as f:
            tree = ast.parse(f.read())
        offenders += [
            f"{_os.path.relpath(path, pkg)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.lower() == "mergeschema"
        ]
        if _os.path.relpath(path, pkg) == "cli.py":
            offenders += [
                f"cli.py:{node.lineno}: {alias.name}"
                for node in ast.walk(tree)
                if isinstance(node, ast.ImportFrom)
                and node.module == "genie_spark.io.bronze"
                for alias in node.names
                if alias.name.startswith("_")
            ]
    assert not offenders, offenders


def test_status_imports_no_pyspark():
    """Repo policy (io/status): the validation-status table is read and
    written on the driver with pyarrow, so a status check or update
    runs no Spark job — the module imports nothing from ``pyspark``."""
    import ast
    import os as _os

    path = _os.path.join(
        _os.path.dirname(__file__), "..", "genie_spark", "io", "status.py"
    )
    with open(path) as f:
        tree = ast.parse(f.read())
    imported = [
        alias.name for node in ast.walk(tree) if isinstance(node, ast.Import)
        for alias in node.names
    ] + [
        node.module or "" for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
    ]
    assert not [m for m in imported if m.split(".")[0] == "pyspark"], imported


def test_bronze_runs_no_driver_action():
    """Repo policy (io/bronze.merge_into_bronze): a MERGE's only Spark
    action is its write.  The caller names the partitions it replaces
    and the scope check lists the staging directory, so bronze.py
    calls no driver action at all."""
    import ast
    import os as _os

    path = _os.path.join(
        _os.path.dirname(__file__), "..", "genie_spark", "io", "bronze.py"
    )
    with open(path) as f:
        tree = ast.parse(f.read())
    actions = {"collect", "first", "take", "head", "count", "toPandas", "toLocalIterator"}
    offenders = [
        f"bronze.py:{node.lineno}: {node.func.attr}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in actions
    ]
    assert not offenders, offenders


def test_slow_tests_names_are_live():
    """tests/conftest.py::SLOW_TESTS marks tests by bare name, so a
    renamed or deleted test leaves a stale entry that silently marks
    nothing.  Every name in the set must be a ``def test_*`` somewhere
    under tests/."""
    import ast
    import glob as _glob
    import os as _os
    import re

    here = _os.path.dirname(__file__)
    with open(_os.path.join(here, "conftest.py")) as f:
        tree = ast.parse(f.read())
    slow = next(
        ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "SLOW_TESTS" for t in node.targets)
    )
    defined = set()
    for path in _glob.glob(_os.path.join(here, "**", "*.py"), recursive=True):
        with open(path) as f:
            defined |= set(re.findall(r"^\s*def (test_\w+)", f.read(), re.M))
    stale = sorted(slow - defined)
    assert not stale, stale


def test_hll_sketch_single_bounded_exchange(spark):
    """The register build is ONE partial-aggregable groupBy: repeated
    (group, reg) pairs collapse map-side to ≤2^p rows per partition
    before the exchange — no join, no window, and the estimate adds
    only the per-group rollup exchange."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.sketches import hll_estimate, hll_sketch
    from genie_spark.analytics.text import tokens

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    occ = docs.select("source", F.explode(tokens("text")).alias("value"))
    est = hll_estimate(hll_sketch(occ, "source", "value"), "source")
    plan = plan_of(est)
    assert "Join" not in plan, plan
    # sketch groupBy + estimate groupBy: two hash exchanges, both with
    # partial_ aggregation before them (map-side collapse)
    assert plan.count("Exchange") <= 2, plan
    assert "partial_max" in plan, plan


def test_image_phash_banded_join_no_cartesian(spark):
    """The Hamming search must be an equi-join on (band, val) — never
    a cartesian/nested-loop pair scan — and the fingerprint-table
    self-join stays a shuffle join (both sides data-sized)."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.dedup import hamming_near_dup_pairs
    from genie_spark.analytics.multimodal import image_ahash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(
            F.lit(b"P5\n8 8\n255\n"),
            F.unhex(
                F.concat(*[
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(str(k))))
                    for k in range(4)
                ])
            ),
        ).alias("content"),
    )
    pairs = hamming_near_dup_pairs(
        image_ahash(media), "media_id", "ahash", max_distance=3, n_bits=64
    )
    plan = plan_of(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan, plan


def test_substring_span_mask_no_cartesian_no_global_sort(spark):
    """X47 duplicate-span mask must stay linear: no pair blow-up, no
    full-corpus sort (the suffix-array formulation does NOT distribute
    — the anchor formulation replaces it), no broadcast of the
    corpus-derived anchor/hot-set sides, and the anchor count must
    partially aggregate map-side."""
    from genie_spark.workload_analytics import dedup_substring_spans

    plan = plan_of(dedup_substring_spans(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" not in plan, plan
    # global sorts (Exchange SinglePartition followed by Sort / a
    # rangepartitioning exchange) would be the suffix-sort smell; the
    # only sorts allowed are the per-partition window/merge-join sorts
    assert "rangepartitioning" not in plan, plan
    assert "partial_count" in plan, plan


def test_substring_span_pairs_no_cartesian(spark):
    """X47 pair form: the anchor self-join must be an equi-join on the
    hashed anchor (merge-hinted shuffle join), never a cartesian or a
    corpus-side broadcast."""
    from genie_spark.workload_analytics import dedup_substring_pairs

    plan = plan_of(dedup_substring_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" not in plan, plan


def test_bm25_topk_take_ordered_and_broadcast_dfreq(spark):
    """BM25's global top-k must plan as TakeOrdered (never a full
    sort+exchange of the score table) and the ≤|query|-row df table
    must broadcast."""
    from genie_spark.workload_analytics import text_bm25_topk

    plan = plan_of(text_bm25_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan


def test_winnow_fingerprints_map_side_only(spark):
    """X49 selection must be entirely map-side: no Exchange anywhere in
    the fingerprint plan (one scan → transform → explode → distinct is
    per-row array_distinct, not a shuffle)."""
    from genie_spark.analytics.dedup import winnow_fingerprints

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(winnow_fingerprints(docs, k=8, w=4))
    assert "Exchange" not in plan, plan


def test_minhash_docinfo_map_side_zero_exchange(spark):
    """r15: the signature-store build (minhash docinfo — the dedup CPU
    floor) must be entirely map-side under the one-row-per-id promise:
    no Exchange, no aggregate of any kind in the plan (the per-doc
    hash set and every permutation minimum are per-row array
    reductions)."""
    from genie_spark.analytics.dedup import minhash_docinfo

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_docinfo(docs, unique_ids=True))
    assert "Exchange" not in plan, plan
    assert "Aggregate" not in plan, plan


def test_winnow_pairs_no_cartesian(spark):
    from genie_spark.workload_analytics import dedup_winnow_pairs

    plan = plan_of(dedup_winnow_pairs(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" not in plan, plan


def test_quality_classifier_broadcast_model_one_exchange(spark):
    """X50: the explicit model must broadcast (dim-sized) and the only
    data exchange is the doc-keyed aggregation — no vocabulary-sized
    shuffle."""
    from genie_spark.analytics.text import hashed_linear_classify

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = hashed_linear_classify(
        docs, n_buckets=256, weights={1: 5, 2: -5}
    )
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    # exchanges: the hash-agg exchange (plus AQE bookkeeping); never a
    # join-key exchange of the exploded token stream
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_dsir_broadcast_model_and_topk(spark):
    """X51: the lambda model joins as a BROADCAST (<= n_buckets rows;
    aggregate-derived estimates are pinned explicitly), the model
    aggregates shuffle only bucket-keyed partial counts, the scoring
    exchange is doc-keyed, and the top-k plans as TakeOrdered — never
    a corpus sort."""
    from genie_spark.analytics.corpus import _uniform_bp, dsir_sample

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    target = docs.where(_uniform_bp("doc_id") < 2_500)
    df = dsir_sample(docs, target, k=10, n_buckets=256)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the LIVE pipeline (before the cached model subplans, whose
    # bucket-keyed agg exchanges re-print inside InMemoryRelation)
    # carries exactly one exchange: the doc-keyed scoring aggregation
    # — never a join-key shuffle of the exploded feature stream
    live = plan.split("InMemoryRelation")[0]
    assert live.count("Exchange hashpartitioning") <= 1, plan


def test_bpe_pair_counts_partial_agg_takeordered(spark):
    """X52: each BPE iteration's pair count is a narrow explode with a
    MAP-SIDE partial sum (the X47 count idiom) and the winner plans as
    TakeOrdered — no corpus re-scan, no sort, no join."""
    from genie_spark.analytics.text import _bpe_pair_counts, tokens
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    state = docs.select(
        F.regexp_replace(
            F.element_at(tokens("text"), 1), "(.)", " $1"
        ).alias("__s"),
        F.lit(1).alias("__f"),
    ).localCheckpoint(eager=True)
    pairs = _bpe_pair_counts(state)
    plan = plan_of(pairs.orderBy(
        F.desc("__c"), F.asc("__l"), F.asc("__r")
    ).limit(1))
    assert "partial_sum" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "FileScan" not in plan, plan  # state is checkpointed, no re-scan
    assert "Join" not in plan, plan


def test_bpe_encode_map_side_only(spark):
    """X53: applying the merge table is a pure projection — no join,
    no aggregate-exchange beyond the loader repartition; the literal
    replace chain folds into one codegen'd project."""
    from genie_spark.analytics.text import bpe_encode

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = bpe_encode(docs, [("a", "b"), ("ab", "c")])
    plan = plan_of(df)
    assert "Join" not in plan, plan
    assert no_operator_shuffle(plan), plan
    assert "HashAggregate" not in plan, plan


def test_domain_cap_map_side_group_limit(spark):
    """X56: the per-domain cap must reduce MAP-SIDE — Spark 4 plans
    the row_number-<=-k filter as a Partial WindowGroupLimit under the
    group-keyed exchange (the w2 pin), so a hot domain ships at most
    k rows per map task, never its whole page set."""
    from genie_spark.analytics.corpus import domain_cap

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(domain_cap(docs, max_per_group=5, order_col="n_chars"))
    partial = plan.split("Exchange", 1)[-1]
    assert "WindowGroupLimit" in partial and "Partial" in partial, plan


def test_semantic_decontaminate_zero_exchange(spark):
    """X57: the eval set rides a Spark broadcast VARIABLE into one
    mapInPandas scan — the corpus-side plan has ZERO exchanges, no
    join, no corpus-side state; the pass scales exactly as the scan."""
    from genie_spark.workload_analytics import corpus_decontaminate_semantic

    plan = plan_of(corpus_decontaminate_semantic(spark, SF))
    # the only exchange is the test-harness repartition of the
    # single-row-group testdata parquet (_emb; hash-keyed since r15 —
    # tagged REPARTITION_BY_NUM), never a shuffle the OPERATOR itself
    # introduces
    import re

    exchanges = re.findall(r"Exchange [^\n]*", plan)
    assert all("REPARTITION_BY_NUM" in e for e in exchanges), plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_soft_dedup_partial_counts_takeordered(spark):
    """X58: the 3-gram count model aggregates with MAP-SIDE partial
    combine, the gram-keyed scoring join is merge (the Zipf-long
    vocabulary is never broadcast), and the top-k resample plans as
    TakeOrdered — never a corpus sort, never a cartesian."""
    from genie_spark.analytics.corpus import soft_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = soft_dedup(docs, n=3, k=10)
    plan = plan_of(df)
    assert "partial_count" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bpe_fertility_mapside_encode_one_agg(spark):
    """X59: the encode is a bounded literal replace chain — the plan
    has NO join and at most the group-agg hashpartitioning exchange
    plus the |groups|-row ordering exchange; map-side partial sums
    carry the reduce side."""
    from genie_spark.analytics.text import bpe_fertility

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = bpe_fertility(docs, [("t", "h"), ("th", "e")], group_col="lang")
    plan = plan_of(df)
    assert "Join" not in plan, plan
    assert "partial_sum" in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_gopher_filter_narrow_zero_shuffle(spark):
    """X60: the whole rule battery is ONE narrow projection — no
    exchange, no join, no UDF; scan-bound at any corpus size."""
    from genie_spark.workload_analytics import text_gopher_filter

    plan = plan_of(text_gopher_filter(spark, SF))
    assert no_operator_shuffle(plan), plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert "MapInPandas" not in plan, plan


def test_pq_encode_fused_scan_zero_shuffle(spark):
    """X61 encode: all m codebooks ride one broadcast into ONE fused
    Arrow scan — no key-based exchange, no join; the compressed index
    build scales exactly as the corpus scan."""
    from genie_spark.workload_analytics import ann_pq_codes

    plan = plan_of(ann_pq_codes(spark, SF))
    assert no_operator_shuffle(plan), plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_pq_topk_broadcast_lut_partial_sum(spark):
    """X61 ADC: the (query, subspace, codeword) LUT joins as a
    BROADCAST (it is queries×m×k rows by contract), the score is a
    partial-aggregated sum, and nothing cross-joins the corpus."""
    from genie_spark.workload_analytics import ann_pq_topk

    plan = plan_of(ann_pq_topk(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ivfpq_equijoin_candidates_broadcast_lut(spark):
    """X62: candidate generation is an EQUI-JOIN on the cell id (never
    a cross join over the corpus), the ADC LUT joins as a BROADCAST,
    and the score aggregate partial-sums map-side."""
    from genie_spark.workload_analytics import ann_ivfpq_topk

    plan = plan_of(ann_ivfpq_topk(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_lm_bigram_shuffled_hash_scoring_partial_counts(spark):
    """X63: both model tables aggregate with map-side partial combine
    and the vocabulary-keyed scoring joins are SHUFFLED HASH joins
    building on the vocab side (r15 optimization: a merge join sorted
    the corpus-scale occurrence stream twice; a static broadcast of
    the Zipf-long vocabulary stays forbidden)."""
    from genie_spark.workload_analytics import text_lm_bigram

    plan = plan_of(text_lm_bigram(spark, SF))
    assert "partial_count" in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    # the corpus-sized occurrence stream must never be the build side
    # of a static broadcast
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_line_repetition_narrow_zero_shuffle(spark):
    """X64: per-row sorted-run folds — no exchange, no join; the
    relational explode+groupBy formulation would shuffle the corpus
    twice for a per-row statistic."""
    from genie_spark.workload_analytics import text_line_repetition

    plan = plan_of(text_line_repetition(spark, SF))
    assert no_operator_shuffle(plan), plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Join" not in plan, plan


def test_char_entropy_and_blocklist_narrow(spark):
    """X66/X67: both are single narrow projections — no exchange, no
    join, no UDF (the oracle's explode+groupBy is oracle-only)."""
    from genie_spark.workload_analytics import text_blocklist, text_char_entropy

    for q in (text_char_entropy, text_blocklist):
        plan = plan_of(q(spark, SF))
        assert no_operator_shuffle(plan), plan
        assert "Exchange rangepartitioning" not in plan, plan
        assert "Join" not in plan, plan


def test_temperature_mix_one_dim_agg_broadcast_narrow(spark):
    """X69: ONE domain-keyed aggregate (dim-sized), the Σ rides a
    1-row IdentityBroadcast cross (bounded), the weight table
    broadcasts back onto the corpus, and admission is pushed INTO the
    BroadcastHashJoin condition — no window, no corpus sort, no
    corpus-keyed exchange."""
    from genie_spark.analytics.corpus import temperature_mix

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(temperature_mix(docs, n_target=300, group_col="lang"))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # the corpus side (everything OUTSIDE the cached dim-sized domain
    # aggregate) has ZERO key exchanges — scan → filter → broadcast
    # join with the admission predicate pushed into the join condition
    outer = plan.split("InMemoryRelation", 1)[0]
    assert "Exchange hashpartitioning" not in outer, plan
    assert "Exchange rangepartitioning" not in outer, plan
    assert "InMemoryRelation" in plan, plan  # the dim agg is cached once


def test_kll_sketch_no_corpus_sort(spark):
    """X70: the sketch BUILD is two narrow scans + a <= 61-row tz
    histogram — no corpus sort, no join; estimate windows run over
    sketch-sized survivors only."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.sketches import (
        quantile_level_sketch,
        quantile_sketch_estimates,
    )

    items = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select(
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("v"),
            F.concat_ws(
                "_", F.col("l_orderkey"), F.col("l_linenumber")
            ).alias("k"),
        )
    )
    sk = quantile_level_sketch(items, "v", "k", k_max=256)
    build_plan = plan_of(sk)
    assert "Exchange rangepartitioning" not in build_plan, build_plan
    assert "Join" not in build_plan, build_plan
    est_plan = plan_of(quantile_sketch_estimates(sk))
    assert "SortMergeJoin" not in est_plan, est_plan
    assert "CartesianProduct" not in est_plan, est_plan


def test_ccnet_buckets_sample_only_window(spark):
    """X72: the tercile-threshold window runs over the md5 SAMPLE only
    (the sample predicate sits in the plan), thresholds broadcast back
    onto the scored stream, and the corpus is never range-sorted."""
    from genie_spark.workload_analytics import corpus_ccnet_buckets

    plan = plan_of(corpus_ccnet_buckets(spark, SF))
    assert "Exchange rangepartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the md5-bp sample filter feeds the one threshold window
    assert plan.count("Window [") <= 2, plan
    assert "% 10000) < 5000" in plan.replace("  ", " "), plan


def test_ivfpq_residual_all_broadcast_no_cartesian(spark):
    """X71: candidates, the per-cell LUT, and the cell-mean dim table
    all ride broadcasts; scoring is ONE (query, neighbor)-keyed
    aggregate; top-k reduces map-side (Partial WindowGroupLimit); no
    sort-merge join, no cartesian anywhere."""
    from pyspark.sql import functions as F

    from genie_spark.analytics.clustering import ivfpq_residual_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(
        ivfpq_residual_topk(
            emb, F.col("vec_id") < 5, n_centroids=8, n_probe=2,
            m=4, k=4, iters=1,
        )
    )
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "MapInPandas" in plan, plan
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan


def test_unigram_encode_zero_exchange(spark):
    """X79: the Viterbi encoder is scan → project → MapInPandas — no
    operator exchange, no join (the X73 zero-exchange contract; the
    one repartition is the documented single-row-group scan fan-out
    from _docs — hash-keyed since r15 — not operator work)."""
    from genie_spark.workload_analytics import text_unigram_encode

    plan = plan_of(text_unigram_encode(spark, SF))
    assert no_operator_shuffle(plan), plan
    assert "Join" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_rollup_cube_single_expand_single_exchange(spark):
    """Native ROLLUP/CUBE must plan ONE Expand + one aggregate
    exchange (every grouping level in a single shuffle) — not a union
    branch per level."""
    from genie_spark.workload_extra import a19_rollup_totals, a20_cube_totals

    for q in (a19_rollup_totals, a20_cube_totals):
        plan = plan_of(q(spark, SF))
        assert plan.count("Expand") >= 1, plan
        assert "Union" not in plan, plan
        assert plan.count("Exchange hashpartitioning") == 1, plan


def test_rank_battery_one_window_exchange(spark):
    """The four ranking functions share one window spec → one
    exchange, one Window node."""
    from genie_spark.workload_extra import w8_rank_battery

    plan = plan_of(w8_rank_battery(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") >= 1, plan


def test_q3_broadcasts_dims_and_takeordered(spark):
    """Q3: the filtered customer/orders dims must broadcast (lineitem
    streams once, no shuffle join on the big side) and the top-10 is
    TakeOrdered, never a global sort."""
    from genie_spark.workload import q3_shipping_priority

    plan = plan_of(q3_shipping_priority(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q18_having_reduces_before_broadcast_joins(spark):
    """Q18: the quantity-having aggregate reduces lineitem BEFORE the
    join-backs; orders/customer broadcast."""
    from genie_spark.workload import q18_large_orders

    plan = plan_of(q18_large_orders(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # partial agg below the exchange (map-side combine on the big side)
    assert "partial_sum" in plan or "HashAggregate" in plan, plan


def test_j5_classifies_without_point_shuffle(spark):
    """j5 r15 rewrite: each point classifies itself against a
    BROADCAST per-(grp, bin) gene-interval array with short-circuit
    exists — the point stream must never be shuffled, aggregated, or
    joined back (the old shape paid an interval_join fan-out, a
    point-scale groupBy, and a SortMergeJoin join-back)."""
    from genie_spark.workload_extra import j5_feature_type

    plan = plan_of(j5_feature_type(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    # the only hash-partitioned exchange is the dimension-sized
    # gene-bin rollup, keyed (grp, __bin) — never the point stream
    import re

    hash_ex = [
        e
        for e in re.findall(r"Exchange hashpartitioning\([^)]*\)", plan)
        if "REPARTITION" not in e
    ]
    assert all("__bin" in e for e in hash_ex), plan
    assert "BroadcastHashJoin" in plan, plan


def test_j5_empty_bin_is_intergenic(spark):
    """A point whose (grp, bin) holds no gene gets a NULL interval
    array; both exists() probes yield NULL and the row must land on
    'intergenic' (the old left-join-miss path), never NULL or a
    misclassification."""
    from genie_spark.workload_extra import j5_feature_type

    rows = j5_feature_type(spark, SF).collect()
    assert rows, "j5 returned no rows"
    kinds = {r["feature_type"] for r in rows}
    assert kinds <= {"exon", "intron", "intergenic"}, kinds
    assert all(r["feature_type"] is not None for r in rows)
    assert "intergenic" in kinds, kinds


def test_layertrace_wrapped_names_resolve():
    """Every ``(module, function)`` the traced benchmark wraps
    (perfbench/layertrace.py ``WRAPPED``) exists: a rename or deletion
    fails here instead of crashing the traced run on its ``getattr``."""
    import importlib
    import importlib.util
    import os as _os

    path = _os.path.join(_os.path.dirname(__file__), "..", "perfbench", "layertrace.py")
    spec = importlib.util.spec_from_file_location("_layertrace", path)
    layertrace = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(layertrace)
    missing = [
        f"{mod}.{attr}"
        for pairs in layertrace.WRAPPED.values()
        for mod, attr in pairs
        if not callable(getattr(importlib.import_module(mod), attr, None))
    ]
    assert missing == []
