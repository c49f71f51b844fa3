"""Command-line workflows mirroring the reference's entry points.

Reference surface → subcommand map:
  ``genie validate <files> <center>``      → ``validate``
    (genie/__main__.py:38-156, genie/validate.py:221-260)
  ``bin/input_to_database.py main``        → ``ingest``
    (genie/input_to_database.py:824-1009: validate then upsert bronze)
  ``bin/database_to_staging.py``           → ``release``
    (genie/database_to_staging.py:1713-1956)
  ``bin/consortium_to_public.py``          → ``public``
    (genie/consortium_to_public.py:41-359)
  dashboard update                         → ``dashboard``
    (genie/dashboard_table_updater.py:809-836)

Storage is a local/HDFS/S3 "warehouse" directory of parquet bronze
tables (one per format name) — the stand-in for the reference's Synapse
tables.  All commands are driver-thin: every data decision is a
DataFrame op.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor
from html import escape
from typing import NamedTuple

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from genie_spark.formats import BY_NAME, determine_filetype
from genie_spark.io.bronze import merge_into_bronze, part_files, read_table, rewrite_bronze
from genie_spark.rules.engine import qcol


def _bronze(warehouse: str, name: str) -> str:
    return os.path.join(warehouse, name)


def hashlib_md5_of(paths: list[str]) -> str:
    """Combined md5 over an upload batch in basename order (the
    reference reads the per-entity Synapse md5; a pair upload hashes
    both files)."""
    from genie_spark.io.status import file_md5

    import hashlib

    h = hashlib.md5()
    for p in sorted(paths, key=os.path.basename):
        h.update(file_md5(p).encode())
    return h.hexdigest()


def _read_bronze(spark: SparkSession, warehouse: str, name: str) -> DataFrame | None:
    """A warehouse table, or None iff not ingested yet; a present
    table that fails to read raises (``io.bronze.read_table``)."""
    return read_table(spark, _bronze(warehouse, name))


def _norm_assay_id(c: F.Column) -> F.Column:
    # the reference compares SEQ_ASSAY_IDs case- and underscore-
    # insensitively (genie/validate.py:283-305 standardize_string)
    return F.upper(F.regexp_replace(c.cast("string"), "_", ""))


def cross_file_rules(
    spark: SparkSession, warehouse: str, fmt_name: str,
    center: str | None = None,
) -> list:
    """Cross-file containment rules against the warehouse bronze tables
    (reference ``_cross_validate``: maf↔clinical
    genie_registry/maf.py:429-467, clinical↔assay + clinical↔bed
    genie_registry/clinical.py:1335-1434)."""
    from genie_spark.rules.engine import ids_subset_of

    rules = []
    if fmt_name in ("maf", "vcf"):
        clin = _read_bronze(spark, warehouse, "clinical")
        if clin is not None and "SAMPLE_ID" in clin.columns:
            for col in ("Tumor_Sample_Barcode", "TUMOR_SAMPLE_BARCODE"):
                rules.append(
                    ids_subset_of(
                        fmt_name, col, clin, "SAMPLE_ID",
                        what="Tumor_Sample_Barcode (sample not in clinical)",
                    )
                )
    elif fmt_name == "clinical":
        assay = _read_bronze(spark, warehouse, "assayinfo")
        if assay is not None and "SEQ_ASSAY_ID" in assay.columns:
            rules.append(
                ids_subset_of(
                    "clinical", "SEQ_ASSAY_ID", assay, "SEQ_ASSAY_ID",
                    what="SEQ_ASSAY_ID (missing from assay information)",
                    normalize=_norm_assay_id,
                )
            )
        bed = _read_bronze(spark, warehouse, "bed")
        if bed is not None and "SEQ_ASSAY_ID" in bed.columns:
            rules.append(
                ids_subset_of(
                    "clinical", "SEQ_ASSAY_ID", bed, "SEQ_ASSAY_ID",
                    what="SEQ_ASSAY_ID (no BED file uploaded)",
                    normalize=_norm_assay_id,
                )
            )
        oncotree = _read_bronze(spark, warehouse, "oncotree")
        if oncotree is not None:
            from genie_spark.rules.clinical import sex_oncotree_consistency

            rules.append(sex_oncotree_consistency(oncotree))
        st_map = _read_bronze(spark, warehouse, "sampletype_mapping")
        if st_map is not None and "CODE" in st_map.columns:
            from genie_spark.rules.clinical import sample_type_domain_rule

            codes = [r["CODE"] for r in st_map.select("CODE").distinct().collect()]
            rules.append(sample_type_domain_rule(codes))
    elif fmt_name == "mutationsInCis":
        # uploaded rows must come from the original detection table
        # (genie_registry/mutationsInCis.py:93-108 primaryAll check)
        from genie_spark.rules.engine import concat_key_subset_of
        from genie_spark.rules.genomic import MUTATIONS_IN_CIS_KEY

        existing = _read_bronze(spark, warehouse, "mutationsInCis")
        if existing is not None:
            # the reference queries only the uploading center's rows
            # (mutationsInCis.py:50-56 `where Center = '{center}'`) —
            # an upload must not pass by matching another center's
            # variant
            if center is not None and "Center" in existing.columns:
                existing = existing.where(F.col("Center") == center)
            rules.append(
                concat_key_subset_of(
                    "mutationsInCis",
                    MUTATIONS_IN_CIS_KEY,
                    existing,
                    message="Mutations In Cis Filter File: all variants must "
                    "come from the original mutationsInCis_filtered_samples.csv "
                    "file.",
                )
            )
    return rules


def cmd_validate(spark: SparkSession, args: argparse.Namespace) -> int:
    fmt = BY_NAME.get(args.filetype) if args.filetype else determine_filetype(
        args.paths, args.center
    )
    if fmt is None:
        print(
            f"Your filename is incorrect! Please change your filename before you run "
            f"the validator or specify --filetype if you are running the validator "
            f"locally",
            file=sys.stderr,
        )
        return 2
    df = fmt.read(spark, args.paths)
    ruleset = fmt.rules(args.center)
    extra = (
        cross_file_rules(spark, args.warehouse, fmt.name, args.center)
        if getattr(args, "warehouse", None)
        else []
    )
    if ruleset is None and not extra:
        print(f"{fmt.name}: no frame rules; file read OK ({len(df.columns)} columns)")
        return 0
    from genie_spark.rules.engine import RuleSet

    if ruleset is None:
        ruleset = RuleSet(fmt.name, extra)
    elif extra:
        ruleset = RuleSet(ruleset.file_type, list(ruleset.rules) + extra)
    report = ruleset.validate(df)
    print(report.render())
    return 0 if report.is_valid else 1


def cmd_ingest(spark: SparkSession, args: argparse.Namespace) -> int:
    """Validate then MERGE into the bronze table (reference
    ``processfiles``, genie/input_to_database.py:383-442), with the
    reference's per-file status bookkeeping: duplicate filenames are
    rejected, an unchanged (name, md5) skips revalidation, and the
    validation-status table records every outcome with its error text
    (input_to_database.py:54-113,479-644)."""
    from genie_spark.io.status import (
        duplicate_basenames,
        file_md5,
        prior_status,
        record_status,
    )

    fmt = BY_NAME.get(args.filetype) if args.filetype else determine_filetype(
        args.paths, args.center
    )
    if fmt is None:
        print("cannot determine filetype; pass --filetype", file=sys.stderr)
        return 2
    dups = duplicate_basenames(args.paths)
    if dups:
        print(
            "duplicate filename(s) in upload batch: " + ", ".join(dups),
            file=sys.stderr,
        )
        return 2
    upload_name = ";".join(sorted(os.path.basename(p) for p in args.paths))
    upload_md5 = hashlib_md5_of(args.paths)
    df = fmt.read(spark, args.paths).withColumn("CENTER", F.lit(args.center))
    ruleset = fmt.rules(args.center)
    known = prior_status(args.warehouse, args.center, upload_name, upload_md5)
    if known == "VALIDATED":
        print(f"{upload_name}: unchanged (md5 match), skipping revalidation")
    elif ruleset is not None:
        report = ruleset.validate(df)
        record_status(
            args.warehouse, args.center, upload_name, upload_md5,
            "VALIDATED" if report.is_valid else "INVALID",
            path=args.paths[0],
            errors="" if report.is_valid else report.render(),
        )
        if not report.is_valid:
            print(report.render(), file=sys.stderr)
            if not args.force:
                return 1
    else:
        record_status(
            args.warehouse, args.center, upload_name, upload_md5,
            "VALIDATED", path=args.paths[0],
        )
    if fmt.transform is not None:
        df = fmt.transform(df)
    target = _bronze(args.warehouse, fmt.name)
    # CENTER-partitioned MERGE that names its center: one center's
    # upload only reads and rewrites that center's partition (io/bronze.py)
    keys = list(fmt.keys) if fmt.keys else None
    merge_into_bronze(df, target, keys, partition_values=[args.center])
    print(f"ingested {fmt.name} → {target}")
    if fmt.name in ("sampleRetraction", "patientRetraction"):
        _retract_from_clinical_bronze(spark, args.warehouse)
    return 0


def _retract_from_clinical_bronze(spark: SparkSession, warehouse: str) -> None:
    """Apply the retraction cascade to the clinical bronze table every
    processing run (reference genie/toRetract.py:9-84 deletes retracted
    patients — cascading to their samples — and retracted samples from
    the database; the genomic tables are filtered by clinical
    downstream)."""
    from genie_spark.release.pipeline import apply_retractions

    clinical = _read_bronze(spark, warehouse, "clinical")
    if clinical is None:
        return
    out = apply_retractions(
        clinical,
        sample_retraction=_read_bronze(spark, warehouse, "sampleRetraction"),
        patient_retraction=_read_bronze(spark, warehouse, "patientRetraction"),
    )
    rewrite_bronze(out, _bronze(warehouse, "clinical"))
    print("applied retractions to clinical bronze")


def cmd_release(spark: SparkSession, args: argparse.Namespace) -> int:
    from genie_spark.io.readers import read_known_somatic_sites
    from genie_spark.io.writers import (
        assay_rows,
        gene_panel_text,
        panel_genes,
        study_samples,
        write_study,
        write_texts,
        write_tsv,
    )
    from genie_spark.release.pipeline import WES_LIBRARY_STRATEGY, run_release

    clinical = _read_bronze(spark, args.warehouse, "clinical")
    maf = _read_bronze(spark, args.warehouse, "maf")
    bed = _read_bronze(spark, args.warehouse, "bed")
    if clinical is None or maf is None or bed is None:
        print("release needs clinical, maf, and bed bronze tables", file=sys.stderr)
        return 2
    oncotree = _read_bronze(spark, args.warehouse, "oncotree")
    if oncotree is None and getattr(args, "oncotree_json", None):
        from genie_spark.release.oncotree import read_oncotree_json

        oncotree = read_oncotree_json(spark, args.oncotree_json)
    assay_info = _read_bronze(spark, args.warehouse, "assayinfo")
    arts = run_release(
        clinical=clinical,
        maf=maf,
        bed=bed,
        sv=_read_bronze(spark, args.warehouse, "sv"),
        seg=_read_bronze(spark, args.warehouse, "seg"),
        cna_long=_read_bronze(spark, args.warehouse, "cna_long"),
        oncotree=oncotree,
        assay_info=assay_info,
        mergecheck_flags=_read_bronze(spark, args.warehouse, "mutationsInCis"),
        whitelist=(
            read_known_somatic_sites(spark, args.whitelist)
            if args.whitelist
            else None
        ),
        sample_retraction=_read_bronze(spark, args.warehouse, "sampleRetraction"),
        patient_retraction=_read_bronze(spark, args.warehouse, "patientRetraction"),
        processing_date=getattr(args, "processing_date", None),
        consortium_cutoff_days=getattr(args, "seq_date_cutoff", 184),
        pad=args.pad,
    )
    study_id = getattr(args, "study_id", "genie_private")
    # the driver-side lists: one collect of the released clinical's
    # sample rows, one of the (dim-sized) assay information
    samples = study_samples(arts.clinical)
    assays = assay_rows(assay_info)
    write_study(args.output, arts, study_id, args.version, samples, assays)

    # released assay ids drive the bed file, gene panels and assay
    # information
    assay_ids = sorted({r["SEQ_ASSAY_ID"] for r in samples} - {None})

    # combined bed release file, filtered to released assays (reference
    # store_bed_files genie/database_to_staging.py:1657-1709)
    write_tsv(
        arts.bed.where(F.col("SEQ_ASSAY_ID").isin(assay_ids)),
        os.path.join(args.output, "genomic_information.txt"),
    )

    # per-panel gene panel files, WES panels excluded (reference
    # store_gene_panel_files genie/database_to_staging.py:809-859)
    wes_ids = {
        a["SEQ_ASSAY_ID"] for a in assays
        if a["library_strategy"] == WES_LIBRARY_STRATEGY
    }
    panel_ids = [a for a in assay_ids if a not in wes_ids]
    genes = panel_genes(arts.bed, panel_ids)
    write_texts(args.output, {
        f"data_gene_panel_{a}.txt": gene_panel_text(genes.get(a, []), a)
        for a in panel_ids
    })

    # assay information for the released assays (reference
    # store_assay_info_files, genie/database_to_staging.py:1158-1196)
    if assay_info is not None and "SEQ_ASSAY_ID" in assay_info.columns:
        write_tsv(
            assay_info.where(F.col("SEQ_ASSAY_ID").isin(assay_ids)),
            os.path.join(args.output, "assay_information.txt"),
        )

    # per-center count snapshot for the dashboard's release-over-release
    # diff (reference cumulativeSampleCount feeding
    # update_sample_difference_table, dashboard_table_updater.py:398-483)
    _append_release_snapshot(spark, args.warehouse, args.version, arts)

    counts = {"clinical": len(samples), "maf": arts.maf.count()}
    # post-write QC over the assembled directory (the reference runs the
    # cBioPortal validator here, bin/database_to_staging.py:310-332;
    # like the reference's `; exit 0` it reports but does not abort)
    qc_errors = 0
    if not getattr(args, "skip_qc", False):
        from genie_spark.release.qc import validate_release

        report = validate_release(spark, args.output)
        qc_errors = len(report.errors)
        for m in report.errors:
            print(f"QC {m.rule_id}: {m.message}", file=sys.stderr)
    guide_path = getattr(args, "data_guide", None)
    if guide_path:
        provenance = {
            "released clinical samples": counts["clinical"],
            "released mutation rows": counts["maf"],
        }
        for label, df in (
            ("samples removed by release filters", arts.removed_samples),
            ("samples flagged (mutations-in-cis)", arts.flagged_samples),
            ("variants removed (off-bed)", arts.removed_variants),
        ):
            if df is not None:
                provenance[label] = df.count()
        text = data_guide_html(
            spark, args.output, study_id, args.version, provenance
        )
        with open(guide_path, "w") as f:
            f.write(text)
        print(f"data guide → {guide_path}")
    print(
        json.dumps(
            {"release": args.version, "rows": counts, "qc_errors": qc_errors}
        )
    )
    return 0


def cmd_nightly(spark: SparkSession, args: argparse.Namespace) -> int:
    """One-shot pipeline sweep: per-center upload ingest → consortium
    release → dashboard — the reference's cron/Nextflow chaining of
    bin/input_to_database.py → bin/database_to_staging.py →
    dashboard_table_updater (README 'Production').

    ``--input-dir`` holds one subdirectory per center
    (``<input>/<CENTER>/<upload files>``); clinical sample/patient
    files ingest as a pair, every other recognized file ingests on its
    own.  Unrecognized files are reported and skipped, like the
    reference's validation-status tracking of invalid uploads.

    Each batch's work is mostly fixed per-query driver cost on small
    uploads, so the sweep overlaps them on the one session.  The
    batches are grouped into one lane per bronze table, in sweep order;
    the lanes run concurrently in a thread pool at most as wide as the
    driver's CPU count, and each lane runs its batches one after
    another.  So one table has one writer at a time and sees the same
    writes in the same order as a one-at-a-time sweep: its first
    writer's header order, which the union schema and the released
    clinical columns follow, does not depend on thread timing.  Each
    lane inherits the caller's Spark local properties (job group,
    description, scheduler pool).  The status table is shared and
    locked (``io.status``).  The sampleRetraction / patientRetraction
    batches run after every lane, one at a time in sweep order,
    because their cascade rewrites the whole clinical table.  If a
    batch raises, no lane starts another batch, running ones finish,
    and the exception propagates before any retraction, release or
    dashboard runs."""
    input_dir = args.input_dir
    centers = (
        [c for c in args.centers.split(",") if c]
        if args.centers
        else sorted(
            d
            for d in os.listdir(input_dir)
            if os.path.isdir(os.path.join(input_dir, d))
        )
    )
    lanes: dict[str, list[tuple[str, list[str]]]] = {}
    retractions: list[tuple[str, list[str]]] = []
    skipped: list[str] = []
    for center in centers:
        cdir = os.path.join(input_dir, center)
        files = sorted(
            os.path.join(cdir, f)
            for f in os.listdir(cdir)
            if os.path.isfile(os.path.join(cdir, f))
        )
        kinds = {p: determine_filetype([p], center) for p in files}
        clinical_bundle = [
            p for p in files if kinds[p] is not None and kinds[p].name == "clinical"
        ]
        if clinical_bundle:
            lanes.setdefault("clinical", []).append((center, clinical_bundle))
        for p in files:
            if kinds[p] is None:
                skipped.append(p)
            elif kinds[p].name in ("sampleRetraction", "patientRetraction"):
                retractions.append((center, [p]))
            elif kinds[p].name != "clinical":
                lanes.setdefault(kinds[p].name, []).append((center, [p]))

    def ingest(center: str, paths: list[str]) -> int:
        return cmd_ingest(
            spark,
            argparse.Namespace(
                paths=paths, center=center, warehouse=args.warehouse,
                filetype=None, force=args.force,
            ),
        )

    failed = threading.Event()

    def run_lane(lane: list[tuple[str, list[str]]]) -> int:
        rc = 0
        for center, paths in lane:
            if failed.is_set():
                break
            try:
                rc = max(rc, ingest(center, paths))
            except BaseException:
                failed.set()
                raise
        return rc

    rc_total = 0
    if lanes:
        with ThreadPoolExecutor(min(len(lanes), os.cpu_count() or 1)) as pool:
            # wrapped one lane at a time: each gets its own copy of the
            # caller's local properties (a shared copy would carry one
            # lane's SQL execution id into another's jobs)
            futures = [
                pool.submit(inheritable_thread_target(spark)(run_lane), lane)
                for lane in lanes.values()
            ]
        # re-raises the first failed lane's exception, in sweep order
        rc_total = max(f.result() for f in futures)
    for center, paths in retractions:
        rc_total = max(rc_total, ingest(center, paths))
    for p in skipped:
        print(f"nightly: unrecognized upload skipped: {p}", file=sys.stderr)
    if args.output:
        rc = cmd_release(
            spark,
            argparse.Namespace(
                warehouse=args.warehouse, output=args.output,
                version=args.version, study_id=args.study_id, pad=args.pad,
                whitelist=None, processing_date=None, seq_date_cutoff=184,
                oncotree_json=None, skip_qc=False,
            ),
        )
        rc_total = max(rc_total, rc)
    if args.dashboard:
        rc = cmd_dashboard(
            spark,
            argparse.Namespace(
                warehouse=args.warehouse, output=args.dashboard,
                # chain the just-written release into the per-column
                # clinical value-decrease check when a previous release
                # dir is supplied
                release_dir=args.output if args.prev_release else None,
                prev_release_dir=args.prev_release,
            ),
        )
        rc_total = max(rc_total, rc)
    return rc_total


def cmd_compact(spark: SparkSession, args: argparse.Namespace) -> int:
    """Compact small-file litter in bronze partitions (OPTIMIZE
    equivalent; see io.bronze.compact_bronze)."""
    from genie_spark.io.bronze import compact_bronze

    report = compact_bronze(
        spark,
        _bronze(args.warehouse, args.table),
        centers=args.centers.split(",") if args.centers else None,
        target_file_bytes=args.target_file_mb * 1024 * 1024,
    )
    print(json.dumps({"table": args.table, "partitions": report}))
    return 0


def cmd_qc_release(spark: SparkSession, args: argparse.Namespace) -> int:
    """Standalone release-directory QC (reference cbioValidator stage)."""
    from genie_spark.release.qc import validate_release

    report = validate_release(spark, args.release_dir)
    for m in report.messages:
        print(f"{m.severity} {m.rule_id}: {m.message} "
              f"(n={m.n_violations})")
    print(json.dumps({"qc_errors": len(report.errors)}))
    return 1 if (report.errors and args.strict) else 0


def _append_release_snapshot(
    spark: SparkSession, warehouse: str, version: str, arts
) -> None:
    def center_counts(df: DataFrame, alias: str) -> DataFrame:
        center = (
            F.col("CENTER") if "CENTER" in df.columns else F.lit("ALL")
        )
        return df.groupBy(center.alias("Center")).agg(
            F.count(F.lit(1)).alias(alias)
        )

    snap = center_counts(arts.clinical, "Clinical")
    for alias, df in (
        ("Mutation", arts.maf),
        ("CNV", arts.cna_long),
        ("SEG", arts.seg),
        ("SV", arts.sv),
    ):
        if df is not None:
            snap = snap.join(center_counts(df, alias), "Center", "outer")
        else:
            snap = snap.withColumn(alias, F.lit(0).cast("long"))
    # monotonic sequence number: release version strings are NOT safely
    # orderable ('v10' < 'v9' lexicographically), so the dashboard's
    # release-over-release lag orders by this stamp instead
    path = _bronze(warehouse, "release_counts")
    seq = 0
    # a genuine read failure (corrupt footer, permissions) propagates
    # instead of resetting the sequence to 0, which would stamp a
    # duplicate ReleaseSeq and corrupt the dashboard's lag ordering;
    # legacy snapshots predate ReleaseSeq, so it may read as null
    existing = read_table(spark, path)
    if existing is not None:
        if "ReleaseSeq" in existing.columns:
            mx = existing.agg(F.max("ReleaseSeq")).first()[0]
            # all-legacy log (column merged in but every row null):
            # fall back to the distinct-release count
            seq = mx if mx is not None else (
                existing.select("Release").distinct().count()
            )
        else:
            seq = existing.select("Release").distinct().count()
    snap = (
        snap.na.fill(0)
        .withColumn("Release", F.lit(version))
        .withColumn("ReleaseSeq", F.lit(seq + 1).cast("long"))
    )
    # append-only snapshot log; one release's rows are center-count sized
    snap.write.mode("append").parquet(path)

    # per-release sample membership log feeding the samples-in-release
    # matrix (reference update_samples_in_release_table,
    # dashboard_table_updater.py:53-110); sample-count sized per release
    arts.clinical.select("SAMPLE_ID").distinct().withColumn(
        "Release", F.lit(version)
    ).withColumn("ReleaseSeq", F.lit(seq + 1).cast("long")).write.mode(
        "append"
    ).parquet(_bronze(warehouse, "release_samples"))


def cmd_public(spark: SparkSession, args: argparse.Namespace) -> int:
    """Consortium → public release over the WHOLE artifact set
    (reference genie/consortium_to_public.py:41-359): every genomic
    artifact is re-filtered to the public sample set, the CNA matrix
    keeps only public sample columns, the gene matrix drops non-public
    rows, case lists are regenerated from the public clinical, and the
    panel/bed reference files are carried through unchanged.  The
    study files the release also writes come from the same
    ``write_study``."""
    import shutil

    from genie_spark.io.readers import read_delimited
    from genie_spark.io.writers import assay_rows, study_samples, write_study
    from genie_spark.release.pipeline import ReleaseArtifacts, consortium_to_public

    def release_file(name: str) -> str:
        return os.path.join(args.release_dir, name)

    # released data files carry no '#' rows, except data_clinical.txt
    released = {
        n: read_delimited(spark, release_file(n), comment=None)
        for n in (
            "data_mutations_extended.txt", "data_sv.txt",
            "genie_data_cna_hg19.seg", "data_CNA.txt", "data_gene_matrix.txt",
            "assay_information.txt",
        )
        if os.path.isfile(release_file(n))
    }
    clin = read_delimited(spark, release_file("data_clinical.txt"))
    arts = ReleaseArtifacts(clinical=clin, maf=released.get("data_mutations_extended.txt"))
    arts.sv = released.get("data_sv.txt")
    arts.seg = released.get("genie_data_cna_hg19.seg")
    keep = clin.select("SAMPLE_ID")
    if args.keep_samples:
        keep = read_delimited(
            spark, args.keep_samples, sep=",", header=False, comment=None
        ).toDF("SAMPLE_ID")
    pub = consortium_to_public(
        arts, keep, private_columns=args.private_columns.split(",") if args.private_columns else []
    )
    # public sample set, driver-side (bounded: released samples)
    samples = study_samples(pub.clinical)
    public_ids = {r["SAMPLE_ID"] for r in samples}

    # CNA: keep only public sample columns (the reference parses the
    # header and subsets columns, consortium_to_public.py:290-309)
    cna = released.get("data_CNA.txt")
    if cna is not None:
        cna = cna.select(
            "Hugo_Symbol", *[c for c in cna.columns if c in public_ids]
        ).orderBy("Hugo_Symbol")
    # gene matrix: drop non-public rows (consortium_to_public.py:115-171)
    gm = released.get("data_gene_matrix.txt")
    if gm is not None and "SAMPLE_ID" in gm.columns:
        pub.gene_matrix = gm.join(keep.select("SAMPLE_ID"), "SAMPLE_ID", "left_semi")

    # case lists regenerated from the public clinical, the alteration
    # lists from the released assay information
    # (consortium_to_public.py:181-198 create_case_lists.main)
    write_study(
        args.output, pub,
        getattr(args, "study_id", "genie_public"),
        getattr(args, "version", "TESTING"),
        samples, assay_rows(released.get("assay_information.txt")),
        cna_wide=cna,
    )

    # panel/bed reference files pass through unchanged
    for name in sorted(os.listdir(args.release_dir)):
        if name.startswith("data_gene_panel_") or name == "genomic_information.txt":
            shutil.copyfile(release_file(name), os.path.join(args.output, name))

    print(f"public release → {args.output}")
    return 0


def cmd_dashboard(spark: SparkSession, args: argparse.Namespace) -> int:
    """Dashboard aggregation tables (A1–A4; reference
    genie/dashboard_table_updater.py)."""
    from genie_spark.operators.aggregations import (
        completeness_ratio,
        counts_with_total,
        distinct_counts,
        pivot_counts,
        with_row_total,
    )

    clinical = _read_bronze(spark, args.warehouse, "clinical")
    if clinical is None:
        print("dashboard needs the clinical bronze table", file=sys.stderr)
        return 2
    os.makedirs(args.output, exist_ok=True)
    outputs = {
        "sample_counts": counts_with_total(clinical, "CENTER"),
        "distinct_samples": distinct_counts(clinical, "CENTER", "SAMPLE_ID"),
    }
    if "ONCOTREE_CODE" in clinical.columns:
        outputs["oncotree_matrix"] = with_row_total(
            pivot_counts(clinical, "ONCOTREE_CODE", "CENTER"),
            "ONCOTREE_CODE",
        )
        outputs["completeness"] = completeness_ratio(
            clinical,
            "CENTER",
            [c for c in clinical.columns if c not in ("CENTER",)],
            missing_sentinels=["Not Collected", "Unknown"],
        )
        # primary-oncotree-node distribution (reference
        # update_oncotree_code_tables, dashboard_table_updater.py:368-396):
        # each code maps to its level-1 ancestor via the oncotree dim;
        # unknown codes count under DEPRECATED_CODE like the reference
        oncotree = _read_bronze(spark, args.warehouse, "oncotree")
        if oncotree is not None and "ONCOTREE_PRIMARY_NODE" in oncotree.columns:
            mapped = clinical.join(
                F.broadcast(
                    oncotree.select(
                        F.upper(F.col("ONCOTREE_CODE")).alias("__code"),
                        "ONCOTREE_PRIMARY_NODE",
                    ).distinct()
                ),
                F.upper(clinical["ONCOTREE_CODE"]) == F.col("__code"),
                "left",
            ).select(
                "CENTER",
                F.coalesce(
                    F.col("ONCOTREE_PRIMARY_NODE"), F.lit("DEPRECATED_CODE")
                ).alias("PRIMARY_CODE"),
            )
            outputs["primary_code_matrix"] = with_row_total(
                pivot_counts(mapped, "PRIMARY_CODE", "CENTER"),
                "PRIMARY_CODE",
            )
    # A5/A6: release-over-release per-center diffs + decrease flags from
    # the stored release snapshots (reference
    # dashboard_table_updater.py:398-483 update_sample_difference_table;
    # the first release's row carries its raw counts, like the
    # reference seeding diff_between_releasesdf with release 0)
    # failed-annotation counts by center (R/dashboard_template_functions.R:
    # 30-41 get_failed_annotation_table_counts over the narrow maf)
    maf = _read_bronze(spark, args.warehouse, "maf")
    if maf is not None and "Annotation_Status" in maf.columns:
        group = [c for c in ("Center", "CENTER") if c in maf.columns][:1]
        if group:
            outputs["failed_annotations"] = (
                maf.where(F.col("Annotation_Status") == "FAILED")
                .groupBy(*group)
                .agg(F.count(F.lit(1)).alias("Failed_Annotations"))
                .orderBy(*group)
            )
    # per-column clinical value-distribution decrease flags between two
    # written releases (reference print_clinical_values_difference_table,
    # dashboard_table_updater.py:675-807)
    cur_dir = getattr(args, "release_dir", None)
    prev_dir = getattr(args, "prev_release_dir", None)
    if cur_dir and prev_dir:
        from genie_spark.io.readers import read_delimited
        from genie_spark.operators.aggregations import value_count_decreases

        def read_clin(d):
            df = read_delimited(spark, os.path.join(d, "data_clinical.txt"))
            if "CENTER" not in df.columns:
                # the reference derives CENTER from the GENIE-{center}-…
                # identifier (dashboard_table_updater.py:736-744)
                id_col = "PATIENT_ID" if "PATIENT_ID" in df.columns else "SAMPLE_ID"
                df = df.withColumn("CENTER", F.split(F.col(id_col), "-")[1])
            return df

        outputs["clinical_value_decreases"] = value_count_decreases(
            read_clin(cur_dir), read_clin(prev_dir)
        )

    # samples-in-release membership matrix (reference
    # update_samples_in_release_table, dashboard_table_updater.py:53-110):
    # 1 = sample in that release, 0 = not; release columns ordered by
    # their monotonic ingest sequence
    rs = read_table(spark, _bronze(args.warehouse, "release_samples"))
    if rs is not None:
        releases = list(
            dict.fromkeys(
                r["Release"]
                for r in rs.select("Release", "ReleaseSeq")
                .distinct()
                .orderBy(F.col("ReleaseSeq").asc_nulls_first(), "Release")
                .collect()
            )
        )
        outputs["samples_in_release"] = (
            rs.groupBy("SAMPLE_ID")
            .pivot("Release", releases)
            .agg(F.min(F.lit(1)))
            .na.fill(0)
        )

    release_counts = read_table(spark, _bronze(args.warehouse, "release_counts"))
    if release_counts is not None:
        from pyspark.sql import Window

        metric_cols = [
            c
            for c in release_counts.columns
            if c not in ("Center", "Release", "ReleaseSeq")
        ]
        # order snapshots by their monotonic ingest sequence, never by the
        # version string ('v10' < 'v9' lexicographically); legacy rows
        # with a null stamp sort first, tie-broken deterministically by
        # the version string
        if "ReleaseSeq" in release_counts.columns:
            order_cols = [F.col("ReleaseSeq").asc_nulls_first(), F.col("Release")]
        else:
            order_cols = [F.col("Release")]
        w = Window.partitionBy("Center").orderBy(*order_cols)
        diff = release_counts.select(
            "Center",
            "Release",
            *[
                (
                    F.col(c) - F.coalesce(F.lag(c).over(w), F.lit(0))
                ).alias(c)
                for c in metric_cols
            ],
        )
        outputs["sample_diff"] = diff
        outputs["decrease_check"] = diff.where(
            F.least(*[F.col(c) for c in metric_cols]) < 0
        )
    for name, df in outputs.items():
        df.write.mode("overwrite").parquet(os.path.join(args.output, name))
    render_path = getattr(args, "render", None)
    html_path = getattr(args, "html", None)
    # both renderings document what was STORED (same re-read philosophy
    # as release/qc.py), from one driver-side read of each table
    if render_path or html_path:
        shown = {n: _shown_table(spark, os.path.join(args.output, n)) for n in sorted(outputs)}
    if render_path:
        tables = dict(shown)
        if "samples_in_release" in outputs:
            # the Rmd's samplesPerReleaseDf: one agg over the stored
            # matrix, releases in its (ReleaseSeq) column order
            m = read_table(spark, os.path.join(args.output, "samples_in_release"))
            rel_cols = [c for c in m.columns if c != "SAMPLE_ID"]
            sums = m.agg(*[F.sum(qcol(c)).cast("long").alias(c) for c in rel_cols]).first()
            tables["samples_per_release"] = ShownTable(
                ["Release", "Number of samples"],
                [[c, str(sums[c])] for c in rel_cols],
                len(rel_cols),
            )
        text = dashboard_markdown(
            tables, release=getattr(args, "release_label", None) or "release"
        )
        with open(render_path, "w") as f:
            f.write(text)
        print(f"dashboard markdown → {render_path}")
    if html_path:
        with open(html_path, "w") as f:
            f.write(dashboard_html(shown))
        print(f"dashboard html → {html_path}")
    print(f"dashboard tables → {args.output}: {sorted(outputs)}")
    return 0


# sample-level tables are release-sized; the human-facing artifact
# shows the first rows and says so (the aggregate tables are dim-sized
# and render whole)
_DASHBOARD_CAP = 200


class ShownTable(NamedTuple):
    """A stored table as the dashboard renderers show it."""

    columns: list[str]
    rows: list[list[str]]  # the first rows, stringified, sorted by value
    total: int  # the stored table's row count


def _shown_table(spark: SparkSession, path: str) -> ShownTable:
    """One driver-side read of a stored dashboard table: sort + limit
    stay in Spark, so only the first ``_DASHBOARD_CAP`` rows cross to
    the driver (the one Spark job); the row count is summed from the
    parquet footers, which runs no job."""
    import pyarrow.parquet as pq

    df = read_table(spark, path)
    cols = df.columns
    rows = (
        df.select(*[F.coalesce(qcol(c).cast("string"), F.lit("")).alias(c) for c in cols])
        .orderBy(*[qcol(c) for c in cols])
        .limit(_DASHBOARD_CAP)
        .collect()
    )
    total = sum(pq.read_metadata(p).num_rows for p, _rel in part_files(path))
    return ShownTable(cols, [list(r) for r in rows], total)


def _md_table(t: ShownTable, headers=None) -> list[str]:
    """One GitHub-markdown table, pipes escaped; a table shown in part
    says so."""
    names = headers if headers is not None else t.columns
    out = [
        "| " + " | ".join(n.replace("|", "\\|") for n in names) + " |",
        "|" + "|".join(" --- " for _ in names) + "|",
        *("| " + " | ".join(v.replace("|", "\\|") for v in r) + " |" for r in t.rows),
    ]
    if t.total > len(t.rows):
        out += ["", f"_first {len(t.rows)} of {t.total} rows_"]
    return out + [""]


def dashboard_markdown(tables: dict[str, ShownTable], release: str = "release") -> str:
    """Markdown dashboard document — the counterpart of the
    reference's Rmd-rendered release dashboard
    (R/dashboard_markdown_generator.R renders
    templates/dashboardTemplate.Rmd per release): the same section
    ladder — title = release, sample/variant counts per center,
    samples per release, release-over-release differences with
    decrease flags, the Genome Nexus failed-annotation summary (the
    Rmd's exact kable column names), and the clinical-attribute
    distribution tables — rendered from the STORED dashboard tables
    as ``_shown_table`` reads them, plus ``samples_per_release`` (one
    row per release with its sample count), stdlib templating only.
    Sections whose inputs are absent from the warehouse are omitted,
    like the Rmd's conditional chunks."""
    lines = [f"# GENIE dashboard — {release}", ""]

    def section(title: str, level: int = 2) -> None:
        lines.append("#" * level + " " + title)
        lines.append("")

    def emit(name: str, caption: str | None = None, headers=None) -> None:
        t = tables.get(name)
        if t is None:
            return
        if caption:
            lines.append(f"**{caption}**")
            lines.append("")
        lines.extend(_md_table(t, headers=headers))

    if "sample_counts" in tables or "distinct_samples" in tables:
        # templates/dashboardTemplate.Rmd "Sample and Variant Count
        # per center" (kable of per-center counts)
        section("Sample and Variant Count per center")
        emit("sample_counts", "Rows per center (with Total)")
        emit("distinct_samples", "Distinct samples per center")
    if "samples_per_release" in tables:
        # the Rmd's samplesPerReleaseDf kable
        section("Samples per release")
        emit("samples_per_release")
    if "sample_diff" in tables or "decrease_check" in tables:
        # dashboard_table_updater.py:398-483 update_sample_difference_
        # table — the Rmd renders the release-over-release deltas and
        # flags decreases (the retraction-policy watch signal)
        section("Release-over-release differences")
        emit("sample_diff", "Per-center deltas vs previous release")
        emit("decrease_check", "Centers with a count DECREASE")
    if "failed_annotations" in tables:
        # the Rmd's exact kable: col.names = c("Center", "Number of
        # failed annotations")
        section("Genome nexus failed annotations summary", level=3)
        emit(
            "failed_annotations",
            headers=["Center", "Number of failed annotations"],
        )
    clin = [
        n
        for n in (
            "completeness",
            "oncotree_matrix",
            "primary_code_matrix",
            "clinical_value_decreases",
        )
        if n in tables
    ]
    if clin:
        section("Distribution of Clinical Attributes")
        emit("completeness", "Completeness per center and column")
        emit("oncotree_matrix", "Oncotree code × center counts")
        emit("primary_code_matrix", "Primary oncotree node × center counts")
        emit(
            "clinical_value_decreases",
            "Clinical value-count decreases vs previous release",
        )
    return "\n".join(lines)


def dashboard_html(tables: dict[str, ShownTable]) -> str:
    """One static HTML page of the stored dashboard tables, as
    ``_shown_table`` reads them — the counterpart of the reference's
    Rmd-rendered dashboard (bin/consortium_to_public.py:23-40,
    templates/dashboardTemplate.Rmd), built with the stdlib only: the
    engine computes the numbers, this renders what landed in parquet.
    A table shown in part says so in its caption (dim-sized aggregates
    render whole; sample-level matrices get the head + count)."""
    body = ["<h1>genie_spark dashboard</h1>"]
    for name, t in tables.items():
        note = f" (first {len(t.rows)} of {t.total} rows)" if t.total > len(t.rows) else ""
        body += _html_table(name + note, t.columns, t.rows)
    return _html_page("genie_spark dashboard", body)


def _html_page(title: str, body: list[str]) -> str:
    """The one static HTML page head and style the dashboard and the
    data guide share."""
    return "\n".join(
        [
            "<!DOCTYPE html><html><head><meta charset='utf-8'>",
            f"<title>{escape(title)}</title>",
            "<style>body{font-family:sans-serif;margin:2em;}"
            "table{border-collapse:collapse;margin:1em 0 2em;}"
            "th,td{border:1px solid #999;padding:4px 8px;text-align:left;}"
            "th{background:#eee;}caption{font-weight:bold;text-align:left;"
            "padding:4px 0;}</style></head><body>",
            *body,
            "</body></html>",
        ]
    )


def _html_table(caption: str, columns: list[str], rows) -> list[str]:
    """One captioned ``<table>``; a None cell renders empty."""

    def tr(tag: str, values) -> str:
        return "<tr>" + "".join(
            f"<{tag}>{escape('' if v is None else str(v))}</{tag}>" for v in values
        ) + "</tr>"

    return [
        "<table>",
        f"<caption>{escape(caption)}</caption>",
        tr("th", columns),
        *(tr("td", r) for r in rows),
        "</table>",
    ]


def data_guide_html(
    spark: SparkSession,
    release_dir: str,
    study_id: str,
    version: str,
    provenance: dict[str, int],
) -> str:
    """Static HTML data guide for a written release — the counterpart
    of the reference's LaTeX data guide
    (templates/data_guide_template.Rnw, rendered by
    bin/consortium_to_public.py:23-40): release identity, per-center
    sample/patient counts, per-center sequencing panels, and the
    filter-provenance counts (how many samples/variants each release
    filter removed).  Rendered from the files ON DISK (data_clinical
    re-read — the same re-read philosophy as release/qc.py) with the
    page head and ``<table>`` builder of ``dashboard_html``; the
    per-center aggregations run in Spark and only dim-sized results
    cross the driver boundary."""
    from genie_spark.io.readers import read_delimited
    from genie_spark.release.qc import _resolve

    clin = read_delimited(spark, os.path.join(release_dir, "data_clinical.txt"))
    sid = _resolve(clin, "SAMPLE_ID")
    pid = _resolve(clin, "PATIENT_ID")
    assay = _resolve(clin, "SEQ_ASSAY_ID")
    center = (
        F.col("CENTER")
        if "CENTER" in clin.columns
        # GENIE-<CENTER>-<patient>-<sample> barcode convention
        else F.split(F.col(sid), "-")[1]
    ).alias("center")
    body = [
        f"<h1>Data guide — {escape(study_id)}</h1>",
        f"<p>Release <b>{escape(version)}</b></p>",
    ]
    aggs = [F.count(F.lit(1)).alias("n_samples")]
    if pid:
        aggs.append(F.count_distinct(F.col(pid)).alias("n_patients"))
    per_center = clin.groupBy(center).agg(*aggs).orderBy("center")
    body += _html_table("Samples per center", per_center.columns, per_center.collect())
    if assay:
        panels = (
            clin.groupBy(center, F.col(assay).alias("seq_assay_id"))
            .agg(F.count(F.lit(1)).alias("n_samples"))
            .orderBy("center", "seq_assay_id")
        )
        body += _html_table("Sequencing panels per center", panels.columns, panels.collect())
    body += _html_table("Filter provenance", ["filter", "rows"], provenance.items())
    return _html_page(f"{study_id} data guide", body)


def cmd_process_mutation(spark: SparkSession, args: argparse.Namespace) -> int:
    """Center maf/vcf processing workflow (reference
    genie/process_mutation.py:180-256; annotation step is the
    documented stub boundary)."""
    from genie_spark.release.mutation import process_mutation_workflow

    mafs = [p for p in args.paths if not p.endswith(".vcf")]
    vcfs = [p for p in args.paths if p.endswith(".vcf")]
    df = process_mutation_workflow(
        spark, args.center, maf_paths=mafs, vcf_paths=vcfs, out_dir=args.output
    )
    print(f"processed {df.count()} mutation rows → {args.output}")
    return 0


def cmd_invalid_reasons(spark: SparkSession, args: argparse.Namespace) -> int:
    """Per-center validation-error reports from the validation-status
    table's error text (reference genie/write_invalid_reasons.py)."""
    from genie_spark.io.status import write_invalid_reasons

    centers = args.centers.split(",") if args.centers else None
    written = write_invalid_reasons(args.warehouse, args.output, centers)
    print(f"wrote {len(written)} report(s) → {args.output}")
    return 0


def cmd_corpus_dedup(spark: SparkSession, args: argparse.Namespace) -> int:
    """End-to-end corpus dedup over a documents parquet dir: exact
    dedup → MinHash+LSH near-dup pairs → connected components →
    survivor drop list (quality-aware when --keep-best), writing each
    stage as a parquet artifact plus the cleaned corpus.

    The batch shape of the streaming `near_dup_stream` pipeline; stage
    artifacts let a 100 TB run resume from pairs without re-shingling.
    """
    import os as _os

    from genie_spark.analytics.dedup import (
        exact_duplicates,
        minhash_dedup_pairs,
        near_dup_drop_list,
        quality_survivor_drop_list,
    )

    docs = spark.read.parquet(args.input)
    if args.id_col not in docs.columns or args.text_col not in docs.columns:
        print(
            f"corpus-dedup: input must have columns "
            f"({args.id_col}, {args.text_col}); found {docs.columns}"
        )
        return 2
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    # one-row-per-id contract screen, run ONCE here on the bare scan
    # (count vs approx_count_distinct — the same bulk-duplication
    # sketch shingles() would run): downstream stages then promise
    # unique_ids=True instead of re-running the guard against the
    # fatter survivors plan (scan + md5 groupBy + anti-join), which
    # re-executed the whole stage-1 pipeline once per call (ADVICE r10)
    chk = docs.agg(
        F.count(args.id_col).alias("n"),
        F.approx_count_distinct(args.id_col, rsd=0.01).alias("nd"),
    ).first()
    if chk is not None and chk["n"] > (chk["nd"] or 0) * 1.05:
        print(
            f"corpus-dedup: ~{chk['n'] - chk['nd']} of {chk['n']} rows "
            f"share a duplicated {args.id_col!r} — collapse to one row "
            "per id first (drop lists and joins key on the id)"
        )
        return 2
    out = args.output
    _os.makedirs(out, exist_ok=True)

    # --normalize: Unicode-NFC the HASH BASIS (X54) so composed and
    # decomposed renderings of the same text dedup together (the
    # CCNet normalize-before-hash order); the ORIGINAL text column is
    # what every artifact keeps — normalization only feeds the hashes
    hash_col = args.text_col
    if getattr(args, "normalize", False):
        from genie_spark.analytics.text import normalize_text

        norm = normalize_text(
            docs, form="NFC", id_col=args.id_col, text_col=args.text_col
        ).select(args.id_col, F.col("text_norm").alias("__hb"))
        docs = docs.join(norm.hint("merge"), args.id_col)
        hash_col = "__hb"

    # stage 1 — exact dedup first (CCNet order): it catches EVERY
    # byte-identical copy, including documents shorter than the
    # shingle length that minhash physically cannot see, and shrinks
    # the near-dup stage's input
    exact = exact_duplicates(docs, args.id_col, hash_col)
    exact.write.mode("overwrite").parquet(_os.path.join(out, "exact_groups"))
    hashed = docs.select(
        F.col(args.id_col), F.md5(hash_col).alias("__h")
    )
    exact_drops = (
        hashed.join(
            hashed.groupBy("__h").agg(F.min(args.id_col).alias("__survivor")),
            "__h",
        )
        .where(F.col(args.id_col) != F.col("__survivor"))
        .select(F.col(args.id_col).alias("drop_id"))
    )
    exact_drops.write.mode("overwrite").parquet(
        _os.path.join(out, "exact_drop_list")
    )
    exact_drops = spark.read.parquet(_os.path.join(out, "exact_drop_list"))
    survivors = docs.join(
        exact_drops.select(F.col("drop_id").alias(args.id_col)),
        args.id_col,
        "left_anti",
    )

    # stage 2 — near-dup over the exact survivors.  With
    # --signature-store the docinfo rows come from (and are synced
    # into) a persistent txnlog-backed store: only new/changed docs
    # are re-shingled, so a daily re-run over a slowly-churning corpus
    # pays delta cost, not corpus cost.
    sig_store = getattr(args, "signature_store", None)
    if sig_store:
        from genie_spark.analytics.signature_store import (
            minhash_pairs_from_store,
            sync_docinfo_store,
        )

        stats = sync_docinfo_store(
            spark, survivors, sig_store,
            id_col=args.id_col, text_col=hash_col,
            k=args.shingle, n_perm=16,
        )
        print(
            f"corpus-dedup: signature store {stats['mode']} sync — "
            f"{stats['delta_rows']} re-shingled, "
            f"{stats['removed_rows']} removed, "
            f"{stats['buckets_rewritten']} buckets rewritten"
        )
        pairs = minhash_pairs_from_store(
            spark, sig_store, id_col=args.id_col,
            n_perm=16, bands=4, threshold=args.threshold,
        )
    else:
        pairs = minhash_dedup_pairs(
            survivors, args.id_col, hash_col,
            k=args.shingle, n_perm=16, bands=4, threshold=args.threshold,
            # stage 1 just collapsed byte-identical ids, so the
            # one-row-per-id contract is already screened — skipping
            # the guard avoids re-running the survivors anti-join plan
            # an extra time (ADVICE r10)
            unique_ids=True,
        )
    pairs.write.mode("overwrite").parquet(_os.path.join(out, "near_dup_pairs"))
    pairs = spark.read.parquet(_os.path.join(out, "near_dup_pairs"))

    if args.keep_best:
        from genie_spark.analytics.text import tokens

        scores = docs.select(
            args.id_col, F.size(tokens(args.text_col)).cast("long").alias("score")
        )
        drops = quality_survivor_drop_list(
            pairs, scores, id_col=args.id_col
        ).select(F.col("drop_id"), "cluster_id", "survivor_id")
    else:
        drops = near_dup_drop_list(pairs)
    drops.write.mode("overwrite").parquet(_os.path.join(out, "drop_list"))
    drops = spark.read.parquet(_os.path.join(out, "drop_list"))

    cleaned = survivors.join(
        drops.select(F.col("drop_id").alias(args.id_col)),
        args.id_col,
        "left_anti",
    )
    if hash_col != args.text_col:
        cleaned = cleaned.drop(hash_col)
    cleaned.write.mode("overwrite").parquet(_os.path.join(out, "deduped"))
    # ONE summary job: union zero-width tagged scans of the three
    # frames and count per tag (three separate .count() actions cost
    # three jobs over already-computed frames)
    counts = {
        r["t"]: r["n"]
        for r in (
            docs.select(F.lit("in").alias("t"))
            .unionByName(exact_drops.select(F.lit("exact").alias("t")))
            .unionByName(drops.select(F.lit("near").alias("t")))
            .groupBy("t")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
    }
    n_in = counts.get("in", 0)
    n_exact = counts.get("exact", 0)
    n_near = counts.get("near", 0)
    print(
        f"corpus-dedup: {n_in} docs, {n_exact} exact + {n_near} near-dup "
        f"drops ({100.0 * (n_exact + n_near) / max(n_in, 1):.2f}%) → {out}"
    )
    return 0


def cmd_corpus_sketch(spark: SparkSession, args: argparse.Namespace) -> int:
    """Build a per-group KMV distinct sketch of a documents parquet dir
    and add it to a sketch STORE — the artifact that answers
    cross-release distinct-count questions without rescans.

    The store accumulates one ``shard=<label>`` directory per build
    (release, ingest batch, day); re-running a label REWRITES its own
    directory (idempotent, the ``near_dup_stream`` batch convention).
    After writing, the command merges ALL shards (``kmv_merge`` — k
    longs per group per shard, never raw data) and prints the combined
    per-group estimates; ``--merged-out`` persists them."""
    import os as _os

    from genie_spark.analytics.sketches import kmv_merge, kmv_sketch

    docs = spark.read.parquet(args.input)
    if args.group_col not in docs.columns or args.value_col not in docs.columns:
        print(
            f"corpus-sketch: input must have columns "
            f"({args.group_col}, {args.value_col}); found {docs.columns}"
        )
        return 2
    label = args.label or _os.path.basename(_os.path.normpath(args.input))
    shard_dir = _os.path.join(args.store, f"shard={label}")
    # record the k the shard was built with: merging at a LARGER k than
    # any stored shard would silently under-count (hashes past a
    # shard's k-th smallest were discarded at build time)
    sk = kmv_sketch(docs, args.group_col, args.value_col, k=args.k).withColumn(
        "k", F.lit(args.k)
    )
    sk.write.mode("overwrite").parquet(shard_dir)

    # merge every shard in the store (k-long arrays, not raw data);
    # ONE store read feeds the merge, the report, and --pairwise
    all_shards = spark.read.parquet(args.store).persist()
    stored_k = [r["k"] for r in all_shards.select(F.min("k").alias("k")).collect()]
    k_eff = min(int(stored_k[0]), args.k)
    if k_eff < args.k:
        print(
            f"corpus-sketch: store has shards built with k={stored_k[0]} "
            f"< requested k={args.k}; merging at k={k_eff} (truncating to "
            "the smallest build k keeps the merge exact)"
        )
    merged = kmv_merge(
        all_shards.drop("shard", "k"), group_col=args.group_col, k=k_eff
    ).persist()
    if args.merged_out:
        merged.write.mode("overwrite").parquet(args.merged_out)
    rows = merged.select(
        args.group_col, "n_seen", "est_distinct"
    ).orderBy(args.group_col).collect()
    for r in rows:
        print(
            f"corpus-sketch: {r[args.group_col]}\t"
            f"est_distinct={r['est_distinct']:.1f} (n_seen={r['n_seen']})"
        )
    if getattr(args, "pairwise", False):
        # cross-SHARD overlap (which releases share content): collapse
        # each shard's groups into one sketch per shard, then pairwise
        # Jaccard over the shards²-row sketch table
        from genie_spark.analytics.sketches import kmv_jaccard_pairs

        by_shard = kmv_merge(
            all_shards.select(F.col("shard").cast("string").alias("shard"), "kmin"),
            group_col="shard",
            k=k_eff,
        )
        for r in kmv_jaccard_pairs(by_shard, "shard", k=k_eff).orderBy(
            "a", "b"
        ).collect():
            print(
                f"corpus-sketch: overlap {r['a']} ~ {r['b']}\t"
                f"jaccard={r['jaccard_est']:.3f} "
                f"est_common={r['est_intersection']:.1f}"
            )
    all_shards.unpersist()
    merged.unpersist()
    print(f"corpus-sketch: shard '{label}' written; {len(rows)} groups merged")
    return 0


def cmd_corpus_mix(spark: SparkSession, args: argparse.Namespace) -> int:
    """Token-budgeted data-mixing selection: per-domain token targets →
    a concrete kept-document set (``analytics.corpus.
    token_budget_select`` — binned two-pass, only the straddling bin
    sorts).  ``--budgets lang=tokens,...`` sets per-group targets
    (unlisted groups are dropped unless ``--default-budget``);
    ``--budget N`` applies one target to every group.
    ``--temperature-target N`` switches to X69 temperature mixture
    reweighting instead (p^α per-group doc targets with α = 1/2^a via
    ``--temperature-halvings``, md5-ppm admission — the XLM-R mixing
    rung)."""
    from genie_spark.analytics.corpus import temperature_mix, token_budget_select

    docs = spark.read.parquet(args.input)
    temp_target = getattr(args, "temperature_target", None)
    need = (args.group_col, args.id_col) if temp_target is not None \
        else (args.group_col, args.id_col, args.text_col)
    for c in need:
        if c not in docs.columns:
            print(f"corpus-mix: input is missing column {c!r}; found {docs.columns}")
            return 2
    if temp_target is not None:
        if args.budgets or args.budget is not None:
            print("corpus-mix: --temperature-target is exclusive with --budget/--budgets")
            return 2
        kept = temperature_mix(
            docs,
            n_target=temp_target,
            group_col=args.group_col,
            id_col=args.id_col,
            alpha_halvings=getattr(args, "temperature_halvings", 1),
        )
        if args.out:
            kept.write.mode("overwrite").parquet(args.out)
            kept = spark.read.parquet(args.out)
        rows = (
            kept.groupBy(
                args.group_col, "n_docs", "weight_ppm", "admit_ppm"
            )
            .agg(F.count(F.lit(1)).alias("n_kept"))
            .orderBy(args.group_col)
            .collect()
        )
        for r in rows:
            print(
                f"corpus-mix: {r[args.group_col]}\tkept {r['n_kept']}/"
                f"{r['n_docs']} docs (weight {r['weight_ppm']} ppm, "
                f"admit {r['admit_ppm']} ppm)"
            )
        print(f"corpus-mix: {len(rows)} groups temperature-mixed")
        return 0
    if args.budgets:
        budget: int | dict = {}
        for part in args.budgets.split(","):
            g, _, v = part.partition("=")
            if not _ or not v.isdigit():
                print(f"corpus-mix: bad --budgets entry {part!r} (want group=tokens)")
                return 2
            budget[g] = int(v)
    elif args.budget is not None:
        if args.budget < 0:
            print(f"corpus-mix: --budget {args.budget} must be ≥ 0")
            return 2
        budget = args.budget
    else:
        print("corpus-mix: pass --budget N or --budgets g=N,...")
        return 2
    kept = token_budget_select(
        docs,
        budget,
        group_col=args.group_col,
        id_col=args.id_col,
        text_col=args.text_col,
        default_budget=args.default_budget,
    )
    if args.out:
        kept.write.mode("overwrite").parquet(args.out)
        kept = spark.read.parquet(args.out)
    rows = (
        kept.groupBy(args.group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy(args.group_col)
        .collect()
    )
    for r in rows:
        print(
            f"corpus-mix: {r[args.group_col]}\tkept {r['n_docs']} docs, "
            f"{r['n_tokens']} tokens"
        )
    print(f"corpus-mix: {len(rows)} groups selected")
    return 0


def cmd_corpus_quality(spark: SparkSession, args: argparse.Namespace) -> int:
    """Gopher quality-rule battery over a documents parquet dir (X60;
    Rae et al. 2021 Table A1): per-document rule booleans + metrics as
    a report artifact, the kept corpus as a second artifact, and the
    per-rule fail counts printed (the X32 no-silent-drop discipline —
    a cleaning run must say WHICH rule dropped how many).

    ``--with-repetition`` also applies the X11 repetition section of
    the same table (dup-5-gram fraction / top-2-gram mass thresholds):
    keep = gopher.keep AND NOT repetition.flagged.  One narrow pass
    (plus the equally narrow repetition pass merge-joined on the id) —
    scan-bound at any corpus size.
    """
    import os as _os

    from genie_spark.analytics.text import gopher_quality_filter

    docs = spark.read.parquet(args.input)
    if args.id_col not in docs.columns or args.text_col not in docs.columns:
        print(
            f"corpus-quality: input must have columns "
            f"({args.id_col}, {args.text_col}); found {docs.columns}"
        )
        return 2
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    report = gopher_quality_filter(
        docs, id_col=args.id_col, text_col=args.text_col,
        min_words=args.min_words,
    )
    rule_cols = [c for c in report.columns if c.startswith("r_")]
    if args.with_repetition:
        # the REPETITION sections of the same Gopher table: X11's
        # n-gram rows and X64's line/paragraph rows — with the X60
        # battery above, --with-repetition applies the complete table
        from genie_spark.analytics.text import (
            line_repetition_stats,
            repetition_stats,
        )

        rep = repetition_stats(
            docs, id_col=args.id_col, text_col=args.text_col
        ).select(
            args.id_col, (~F.col("flagged")).alias("r_repetition")
        )
        lrep = line_repetition_stats(
            docs, id_col=args.id_col, text_col=args.text_col
        ).select(
            args.id_col, (~F.col("flagged")).alias("r_line_repetition")
        )
        report = (
            report.join(rep.hint("merge"), args.id_col)
            .join(lrep.hint("merge"), args.id_col)
            .withColumn(
                "keep",
                F.col("keep") & F.col("r_repetition")
                & F.col("r_line_repetition"),
            )
        )
        rule_cols += ["r_repetition", "r_line_repetition"]
    out = args.output
    _os.makedirs(out, exist_ok=True)
    report.write.mode("overwrite").parquet(_os.path.join(out, "quality_report"))
    report = spark.read.parquet(_os.path.join(out, "quality_report"))
    kept = docs.join(
        report.where(F.col("keep")).select(args.id_col).hint("merge"),
        args.id_col,
        "left_semi",
    )
    kept.write.mode("overwrite").parquet(_os.path.join(out, "kept"))
    # ONE summary aggregate: total, kept, and per-rule fail counts
    agg = report.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        *[
            F.sum((~F.col(c)).cast("long")).alias(c)
            for c in rule_cols
        ],
    ).first()
    print(f"corpus-quality: {agg['n_kept']}/{agg['n']} documents kept")
    for c in rule_cols:
        print(f"corpus-quality: {c} failed by {agg[c]} docs")
    return 0


def cmd_ann_index(spark: SparkSession, args: argparse.Namespace) -> int:
    """Persistent IVF ANN index workflow (X88, `analytics.ann_store`):
    ``build`` trains centroids + writes the cell-partitioned inverted
    lists, ``append`` adds vectors against the STORED geometry (never
    re-trains), ``query`` probes with partition-pruned cell reads and
    prints/writes the top-k.  The CLI face of the FAISS
    train-once/add/probe practice."""
    from genie_spark.analytics.ann_store import (
        ivf_store_append,
        ivf_store_build,
        ivf_store_topk,
    )

    vecs = spark.read.parquet(args.input)
    for c in (args.id_col, args.vec_col):
        if c not in vecs.columns:
            print(f"ann-index: input lacks column {c!r}; found {vecs.columns}")
            return 2
    if args.action == "build":
        meta = ivf_store_build(
            vecs, args.store, id_col=args.id_col, vec_col=args.vec_col,
            n_centroids=args.n_centroids,
        )
        print(
            f"ann-index: built store at {args.store} "
            f"(n_centroids={meta['n_centroids']}, dim={meta['dim']})"
        )
        return 0
    if args.action == "append":
        meta = ivf_store_append(
            vecs, args.store, id_col=args.id_col, vec_col=args.vec_col
        )
        print(
            f"ann-index: appended into {args.store} "
            f"(n_centroids={meta['n_centroids']})"
        )
        return 0
    out = ivf_store_topk(
        spark, args.store, vecs, id_col=args.id_col, vec_col=args.vec_col,
        k=args.k, n_probe=args.n_probe,
    )
    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(f"ann-index: top-{args.k} written to {args.out}")
    else:
        for r in out.orderBy("query_id", "rank").collect():
            print(
                f"ann-index: {r['query_id']}	#{r['rank']}	"
                f"{r['neighbor_id']}	cos={r['cosine']:.4f}"
            )
    return 0


def cmd_events_report(spark: SparkSession, args: argparse.Namespace) -> int:
    """Event-analytics report (W5-W7, `operators.sessions`): gap-based
    session stats, strict-sequence funnel conversion, and a cohort
    retention matrix over an events parquet dir — three artifact
    parquets under ``--output`` plus printed summary lines.  Accepts a
    timestamp or epoch-µs long time column (branches on the observed
    dtype, the ``workload._events`` discipline)."""
    import os as _os

    from genie_spark.operators.sessions import (
        funnel_times,
        retention_matrix,
        session_stats,
    )

    ev = spark.read.parquet(args.input)
    for c in (args.user_col, args.ts_col, args.type_col):
        if c not in ev.columns:
            print(f"events-report: input lacks column {c!r}; found {ev.columns}")
            return 2
    dt = dict(ev.dtypes)[args.ts_col]
    if dt == "bigint":
        # an integer time column is ambiguous — honor --ts-unit
        # explicitly instead of silently guessing (r15 code-review
        # finding: the old nanos-only branch corrupted honest epoch-µs
        # inputs 1000×).  Default ns matches the session's nanosAsLong
        # read of TIMESTAMP(NANOS) parquet.
        if args.ts_unit == "us":
            ev = ev.withColumn("__ts_us", F.col(args.ts_col).cast("long"))
        else:
            ev = ev.withColumn(
                "__ts_us", F.expr(f"{args.ts_col} div 1000")
            )
    elif dt == "timestamp_ntz":
        ev = ev.withColumn(
            "__ts_us",
            F.expr(
                f"timestampdiff(MICROSECOND, "
                f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {args.ts_col})"
            ),
        )
    else:
        ev = ev.withColumn("__ts_us", F.unix_micros(F.col(args.ts_col)))
    order = ["__ts_us"]
    if args.order_col and args.order_col in ev.columns:
        order.append(args.order_col)
    gap_us = int(args.gap_minutes) * 60 * 1_000_000

    sess = session_stats(
        ev, user_col=args.user_col, ts_col="__ts_us",
        order_cols=order, gap_us=gap_us, type_col=args.type_col,
    )
    sess.write.mode("overwrite").parquet(_os.path.join(args.output, "sessions"))
    n_sess = sess.count()

    steps = [t.strip() for t in args.steps.split(",") if t.strip()]
    fun = funnel_times(
        ev, steps=steps, user_col=args.user_col, ts_col="__ts_us",
        type_col=args.type_col,
    )
    fun.write.mode("overwrite").parquet(_os.path.join(args.output, "funnel"))
    conv = {
        r["steps_reached"]: r["n"]
        for r in fun.groupBy("steps_reached")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    ret = retention_matrix(ev, user_col=args.user_col, ts_col="__ts_us")
    ret.write.mode("overwrite").parquet(
        _os.path.join(args.output, "retention")
    )

    print(f"events-report: {n_sess} sessions (gap {args.gap_minutes} min)")
    entered = sum(conv.values())
    for i in range(1, len(steps) + 1):
        reached = sum(n for k, n in conv.items() if k >= i)
        pct = (reached * 100 // entered) if entered else 0
        print(
            f"events-report: funnel step {i} ({steps[i - 1]}): "
            f"{reached} users ({pct}%)"
        )
    print(
        "events-report: retention matrix "
        f"{ret.count()} (cohort, offset) cells -> {args.output}/retention"
    )
    return 0


def cmd_ingest_correlate(spark: SparkSession, args: argparse.Namespace) -> int:
    """Correlate a center-upload event stream with a validation-result
    stream per (center, name) — the streaming analog of the batch
    ``validation_status`` table (io/status.py: one driver-side row per
    (center, name) with its md5, status and error text; reference
    genie/input_to_database.py:519-603 tracks the same pairing as
    Synapse-table upserts).  Each upload pairs with the verdict that
    lands within ``--max-delay-seconds`` of it
    (``streaming.windows.stream_stream_join`` — watermark + time-range
    bound keep join state at O(rate·delay)); with the default
    ``--how left_outer`` an upload whose verdict never arrives in
    bound is emitted with a NULL status once the watermark closes —
    the "validation overdue" signal a batch status table cannot
    produce.  Inputs are header CSV directories (new files appear as
    new micro-batches; re-runs resume from ``--checkpoint``); output
    appends to a parquet table.

    Upload rows: ``center,name,uts`` (event time); result rows:
    ``center,name,rts,status``.
    """
    from pyspark.sql import types as T

    from genie_spark.streaming.windows import stream_stream_join

    up_schema = T.StructType(
        [
            T.StructField("center", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("uts", T.TimestampType()),
        ]
    )
    res_schema = T.StructType(
        [
            T.StructField("center", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("rts", T.TimestampType()),
            T.StructField("status", T.StringType()),
        ]
    )
    ups = (
        spark.readStream.schema(up_schema)
        .option("header", "true")
        .csv(args.uploads)
    )
    res = (
        spark.readStream.schema(res_schema)
        .option("header", "true")
        .csv(args.results)
    )
    joined = stream_stream_join(
        ups,
        res,
        on=["center", "name"],
        left_ts="uts",
        right_ts="rts",
        max_delay_seconds=args.max_delay_seconds,
        watermark=args.watermark,
        how=args.how,
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", args.out)
        .outputMode("append")
        .option("checkpointLocation", args.checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    from pyspark.errors import AnalysisException

    try:
        done = spark.read.parquet(args.out)
    except AnalysisException:
        # path missing / schema not inferable = genuinely nothing
        # emitted yet; any OTHER read failure (corrupt footer,
        # permissions) must propagate, not masquerade as empty
        # (code-review r8)
        print("ingest-correlate: no correlated rows emitted yet")
        return 0
    rows = (
        done.groupBy("center")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("r_status").isNull(), 1).otherwise(0)
            ).alias("n_overdue"),
        )
        .orderBy("center")
        .collect()
    )
    for r in rows:
        print(
            f"ingest-correlate: {r['center']}\t{r['n']} uploads correlated, "
            f"{r['n_overdue']} overdue (no in-bound verdict)"
        )
    print(f"ingest-correlate: {len(rows)} centers")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="genie-spark", description="PySpark-native GENIE pipeline"
    )
    sub = p.add_subparsers(dest="command", required=True)

    v = sub.add_parser("validate", help="validate center upload files")
    v.add_argument("paths", nargs="+")
    v.add_argument("--center", required=True)
    v.add_argument("--filetype", choices=sorted(BY_NAME))
    v.add_argument(
        "--warehouse",
        default=None,
        help="bronze warehouse for cross-file checks (maf↔clinical, "
        "clinical↔assay, clinical↔bed)",
    )
    v.set_defaults(fn=cmd_validate)

    i = sub.add_parser("ingest", help="validate + upsert into bronze tables")
    i.add_argument("paths", nargs="+")
    i.add_argument("--center", required=True)
    i.add_argument("--warehouse", required=True)
    i.add_argument("--filetype", choices=sorted(BY_NAME))
    i.add_argument("--force", action="store_true", help="ingest despite errors")
    i.set_defaults(fn=cmd_ingest)

    r = sub.add_parser("release", help="consortium release from bronze tables")
    r.add_argument("--warehouse", required=True)
    r.add_argument("--output", required=True)
    r.add_argument("--version", default="TESTING")
    r.add_argument("--study-id", dest="study_id", default="genie_private")
    r.add_argument("--pad", type=int, default=10)
    r.add_argument(
        "--whitelist",
        default=None,
        help="known-somatic-sites BED overriding the germline filter",
    )
    r.add_argument(
        "--processing-date",
        dest="processing_date",
        default=None,
        metavar="Jan-2026",
        help="apply the consortium SEQ_DATE cutoff relative to this %%b-%%Y date",
    )
    r.add_argument(
        "--seq-date-cutoff",
        dest="seq_date_cutoff",
        type=int,
        default=184,
        help="consortium release cutoff in days (reference default 184)",
    )
    r.add_argument(
        "--oncotree-json",
        dest="oncotree_json",
        default=None,
        help="oncotree API JSON file to build the code dimension from "
        "(used when no oncotree bronze table exists)",
    )
    r.add_argument(
        "--skip-qc",
        dest="skip_qc",
        action="store_true",
        help="skip the post-write release-directory QC stage",
    )
    r.add_argument(
        "--data-guide",
        dest="data_guide",
        default=None,
        help="also render a static HTML data guide (release id, "
        "per-center sample/panel tables, filter provenance counts — "
        "the reference's LaTeX data_guide_template.Rnw counterpart)",
    )
    r.set_defaults(fn=cmd_release)

    n = sub.add_parser(
        "nightly",
        help="per-center ingest sweep + release + dashboard in one shot",
    )
    n.add_argument("--input-dir", dest="input_dir", required=True)
    n.add_argument("--warehouse", required=True)
    n.add_argument("--centers", default=None,
                   help="comma-separated; default: every subdirectory")
    n.add_argument("--output", default=None,
                   help="release dir (skip the release stage if omitted)")
    n.add_argument("--dashboard", default=None,
                   help="dashboard dir (skip the dashboard stage if omitted)")
    n.add_argument("--version", default="TESTING")
    n.add_argument("--study-id", dest="study_id", default="genie_private")
    n.add_argument("--pad", type=int, default=10)
    n.add_argument("--force", action="store_true",
                   help="ingest despite validation errors")
    n.add_argument(
        "--prev-release", dest="prev_release", default=None,
        help="previous release dir: enables the dashboard's per-column "
        "clinical value-decrease check against it",
    )
    n.set_defaults(fn=cmd_nightly)

    cp = sub.add_parser(
        "compact",
        help="compact small files inside bronze CENTER partitions",
    )
    cp.add_argument("--warehouse", required=True)
    cp.add_argument("--table", required=True)
    cp.add_argument("--centers", default=None)
    cp.add_argument("--target-file-mb", dest="target_file_mb", type=int,
                    default=128)
    cp.set_defaults(fn=cmd_compact)

    q = sub.add_parser(
        "qc-release",
        help="cross-file QC over a written release directory "
        "(the reference's cbioValidator stage)",
    )
    q.add_argument("--release-dir", required=True)
    q.add_argument(
        "--strict", action="store_true",
        help="exit nonzero when QC errors are found",
    )
    q.set_defaults(fn=cmd_qc_release)

    u = sub.add_parser("public", help="public release from a consortium release")
    u.add_argument("--release-dir", required=True)
    u.add_argument("--output", required=True)
    u.add_argument("--keep-samples", default=None)
    u.add_argument("--private-columns", default="")
    u.add_argument("--study-id", dest="study_id", default="genie_public")
    u.add_argument("--version", default="TESTING")
    u.set_defaults(fn=cmd_public)

    d = sub.add_parser("dashboard", help="dashboard aggregation tables")
    d.add_argument("--warehouse", required=True)
    d.add_argument("--output", required=True)
    d.add_argument(
        "--release-dir", dest="release_dir", default=None,
        help="current release dir for the clinical value-decrease check",
    )
    d.add_argument(
        "--prev-release-dir", dest="prev_release_dir", default=None,
        help="previous release dir to diff clinical value counts against",
    )
    d.add_argument(
        "--html", default=None,
        help="also render the stored dashboard tables to one static "
        "HTML page (the reference's Rmd dashboard counterpart)",
    )
    d.add_argument(
        "--render", default=None,
        help="also render the dashboard DataFrames to one markdown "
        "document with the reference Rmd's section ladder "
        "(R/dashboard_markdown_generator.R counterpart)",
    )
    d.add_argument(
        "--release-label", dest="release_label", default=None,
        help="release title for the rendered markdown document",
    )
    d.set_defaults(fn=cmd_dashboard)

    m = sub.add_parser(
        "process-mutation", help="center maf/vcf annotation workflow"
    )
    m.add_argument("paths", nargs="+")
    m.add_argument("--center", required=True)
    m.add_argument("--output", required=True)
    m.set_defaults(fn=cmd_process_mutation)

    e = sub.add_parser(
        "invalid-reasons", help="per-center validation-error reports"
    )
    e.add_argument("--warehouse", required=True)
    e.add_argument("--output", required=True)
    e.add_argument(
        "--centers", default=None,
        help="comma-separated centers that get a 'No errors!' report "
        "even without tracker rows",
    )
    e.set_defaults(fn=cmd_invalid_reasons)

    cd = sub.add_parser(
        "corpus-dedup",
        help="exact + MinHash near-dup dedup over a documents parquet dir",
    )
    cd.add_argument("--input", required=True, help="documents parquet dir")
    cd.add_argument("--output", required=True, help="artifact dir")
    cd.add_argument("--id-col", dest="id_col", default="doc_id")
    cd.add_argument("--text-col", dest="text_col", default="text")
    cd.add_argument("--threshold", type=float, default=0.5)
    cd.add_argument("--shingle", type=int, default=20)
    cd.add_argument(
        "--normalize", action="store_true",
        help="Unicode-NFC the hash basis (X54) so composed/decomposed "
             "renderings dedup together; artifacts keep the original text",
    )
    cd.add_argument(
        "--keep-best", action="store_true",
        help="keep the most-token member per cluster instead of min id",
    )
    cd.add_argument(
        "--signature-store",
        dest="signature_store",
        default=None,
        help="persistent txnlog signature store: sync (delta-only "
        "re-shingle via md5 manifest diff) and compute pairs from it "
        "instead of rebuilding signatures from scratch",
    )
    cd.set_defaults(fn=cmd_corpus_dedup)
    cs = sub.add_parser(
        "corpus-sketch",
        help="KMV distinct sketch of a parquet dir into a mergeable store",
    )
    cs.add_argument("--input", required=True, help="documents parquet dir")
    cs.add_argument("--store", required=True, help="sketch store dir")
    cs.add_argument("--label", help="shard label (default: input basename)")
    cs.add_argument("--group-col", dest="group_col", default="source")
    cs.add_argument("--value-col", dest="value_col", default="text")
    cs.add_argument("--k", type=int, default=64)
    cs.add_argument(
        "--merged-out", dest="merged_out",
        help="write the merged all-shard sketch parquet here",
    )
    cs.add_argument(
        "--pairwise", action="store_true",
        help="print cross-shard Jaccard/intersection estimates",
    )
    cs.set_defaults(fn=cmd_corpus_sketch)
    cm = sub.add_parser(
        "corpus-mix",
        help="token-budgeted per-domain selection (data mixing)",
    )
    cm.add_argument("--input", required=True, help="documents parquet dir")
    cm.add_argument("--group-col", dest="group_col", default="lang")
    cm.add_argument("--id-col", dest="id_col", default="doc_id")
    cm.add_argument("--text-col", dest="text_col", default="text")
    cm.add_argument("--budget", type=int, help="one token budget for every group")
    cm.add_argument(
        "--budgets", help="per-group targets: lang=tokens,lang=tokens,..."
    )
    cm.add_argument(
        "--default-budget", dest="default_budget", type=int, default=0,
        help="budget for groups absent from --budgets (default 0 = drop)",
    )
    cm.add_argument("--out", help="write the kept (id, group, n_tokens) parquet here")
    cm.add_argument(
        "--temperature-target", dest="temperature_target", type=int,
        help="X69 temperature mixing: total doc target (exclusive "
             "with --budget/--budgets)",
    )
    cm.add_argument(
        "--temperature-halvings", dest="temperature_halvings", type=int,
        default=1,
        help="α = 1/2^a (0=proportional, 1=T=2 default, 2=T=4)",
    )
    cm.set_defaults(fn=cmd_corpus_mix)
    cq = sub.add_parser(
        "corpus-quality",
        help="Gopher quality-rule battery: report + kept corpus artifacts",
    )
    cq.add_argument("--input", required=True, help="documents parquet dir")
    cq.add_argument("--output", required=True, help="artifact dir")
    cq.add_argument("--id-col", dest="id_col", default="doc_id")
    cq.add_argument("--text-col", dest="text_col", default="text")
    cq.add_argument(
        "--min-words", dest="min_words", type=int, default=50,
        help="lower word-count bound (Gopher operating point: 50)",
    )
    cq.add_argument(
        "--with-repetition", dest="with_repetition", action="store_true",
        help="also apply the X11 repetition thresholds to keep",
    )
    cq.set_defaults(fn=cmd_corpus_quality)

    ai = sub.add_parser(
        "ann-index",
        help="persistent IVF ANN index: build / append / query (X88)",
    )
    ai.add_argument("action", choices=["build", "append", "query"])
    ai.add_argument("--input", required=True, help="vectors parquet dir")
    ai.add_argument("--store", required=True, help="index store dir")
    ai.add_argument("--id-col", dest="id_col", default="vec_id")
    ai.add_argument("--vec-col", dest="vec_col", default="embedding")
    ai.add_argument("--n-centroids", dest="n_centroids", type=int, default=16)
    ai.add_argument("--n-probe", dest="n_probe", type=int, default=4)
    ai.add_argument("--k", type=int, default=10)
    ai.add_argument("--out", help="write query results parquet here")
    ai.set_defaults(fn=cmd_ann_index)
    er = sub.add_parser(
        "events-report",
        help="session / funnel / retention report over an events parquet",
    )
    er.add_argument("--input", required=True, help="events parquet dir")
    er.add_argument("--output", required=True, help="artifact output dir")
    er.add_argument("--user-col", dest="user_col", default="user_id")
    er.add_argument("--ts-col", dest="ts_col", default="ts")
    er.add_argument("--type-col", dest="type_col", default="event_type")
    er.add_argument(
        "--order-col", dest="order_col", default="event_id",
        help="tie-break column inside equal timestamps (blank to disable)",
    )
    er.add_argument("--gap-minutes", dest="gap_minutes", type=int, default=30)
    er.add_argument(
        "--ts-unit", dest="ts_unit", choices=["ns", "us"], default="ns",
        help="unit of an integer --ts-col (ns = TIMESTAMP(NANOS) read "
        "under nanosAsLong, the session default; us = epoch microseconds)",
    )
    er.add_argument(
        "--steps", default="view,click,purchase",
        help="comma-separated ordered funnel event types",
    )
    er.set_defaults(fn=cmd_events_report)
    ic = sub.add_parser(
        "ingest-correlate",
        help="correlate upload-event and validation-result streams "
        "per (center, name)",
    )
    ic.add_argument("--uploads", required=True, help="upload-events CSV dir")
    ic.add_argument("--results", required=True, help="validation-results CSV dir")
    ic.add_argument("--out", required=True, help="correlated parquet table")
    ic.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    ic.add_argument(
        "--max-delay-seconds", dest="max_delay_seconds", type=int, default=600,
        help="max |result_ts - upload_ts| to count as the upload's verdict",
    )
    ic.add_argument("--watermark", default="5 minutes", help="late-data bound")
    ic.add_argument(
        "--how", choices=("inner", "left_outer"), default="left_outer",
        help="left_outer also emits overdue uploads (null status) once "
        "the watermark closes",
    )
    ic.set_defaults(fn=cmd_ingest_correlate)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from genie_spark.session import get_spark

    spark = get_spark(f"genie_spark_{args.command}")
    return args.fn(spark, args)


if __name__ == "__main__":
    sys.exit(main())
