"""File-format registry: filename detection → reader → rule set → keys.

Mirrors the reference's ``FileTypeFormat`` subclass registry
(genie/config.py:26-74) and filename-based filetype resolution
(genie/validate.py:63-88, ``determine_filetype`` tries each format's
``_validateFilename``).  Each format here is declarative: a filename
matcher, the Spark reader, the rule-set factory, and the primary key
used for MERGE upserts (genie/load.py:229-252 UNIQUE_KEY map).

Reference filename conventions (asserted per format):
  clinical  data_clinical_supp_{center}.txt or the sample/patient pair
            (genie_registry/clinical.py:402-414)
  maf       data_mutations_extended_{center}.txt (maf.py:161-168)
  cna       data_CNA_{center}.txt (cna.py:120-121)
  seg       genie_data_cna_hg19_{center}.seg (seg.py:17-21)
  bed       {seq_assay_id}.bed, assay id prefixed by center
            (bed.py:431-442)
  vcf       GENIE-{center}-*.vcf (vcf.py:26-30)
  sv        data_sv_{center}.txt (structural_variant.py)
  assay     assay_information.yaml (assay.py:21-23)
  patient/sample retraction, mutationsInCis: fixed names
            (sampleRetraction.py:29-30, mutationsInCis.py:31-33)
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from genie_spark.io import readers
from genie_spark.rules.clinical import patient_rules, sample_rules
from genie_spark.rules.engine import RuleSet, qcol
from genie_spark.rules.genomic import (
    assay_rules,
    bed_rules,
    cna_rules,
    maf_rules,
    mutations_in_cis_rules,
    seg_rules,
    sv_rules,
    vcf_rules,
)


@dataclass(frozen=True)
class FileFormat:
    name: str
    # (basenames, center) -> bool; pair formats (clinical) see all paths
    matches: Callable[[list[str], str], bool]
    # (spark, paths) -> DataFrame
    read: Callable[[SparkSession, list[str]], DataFrame]
    # (center) -> RuleSet | None (None = no frame rules, reader-only)
    rules: Callable[[str], RuleSet | None]
    # primary key for upsert into the bronze table; () = append-only
    keys: tuple[str, ...] = ()
    # post-validation processing applied at ingest (the reference's
    # ``process_steps``); identity when None
    transform: Callable[[DataFrame], DataFrame] | None = None


def _single(fn: Callable[[SparkSession, str], DataFrame]):
    def read(spark: SparkSession, paths: list[str]) -> DataFrame:
        return fn(spark, paths if len(paths) > 1 else paths[0])

    return read


def _read_clinical(spark: SparkSession, paths: list[str]) -> DataFrame:
    if len(paths) == 2:
        sample_path = next(p for p in paths if "sample" in os.path.basename(p))
        patient_path = next(p for p in paths if "patient" in os.path.basename(p))
        _, _, merged = readers.read_clinical_pair(spark, sample_path, patient_path)
        return merged
    return readers.read_delimited(spark, paths[0], upper=True)


def _read_bed(spark: SparkSession, paths: list[str]) -> DataFrame:
    """BED scan + SEQ_ASSAY_ID from the filename stem — the reference
    derives the assay id from the bed file's name
    (genie_registry/bed.py:431-442, file must be named
    ``{SEQ_ASSAY_ID}.bed``)."""
    from pyspark.sql import functions as F

    df = readers.read_bed(spark, paths if len(paths) > 1 else paths[0])
    # filename stem normalized like the reference preprocess
    # (bed.py:568-580: upper, underscores → dashes)
    assay = os.path.basename(paths[0])[: -len(".bed")].upper().replace("_", "-")
    return df.withColumn("SEQ_ASSAY_ID", F.lit(assay))


_MAF_NUMERIC = (
    "START_POSITION", "END_POSITION", "T_ALT_COUNT", "T_REF_COUNT",
    "T_DEPTH", "N_ALT_COUNT", "N_REF_COUNT", "N_DEPTH",
)


def _maf_transform(df: DataFrame) -> DataFrame:
    """MAF numeric coercion (reference genie_registry/maf.py:300-316
    checks these parse; genie/process_mutation.py casts at load):
    positions/counts → long via try_cast (malformed → null, never
    throws under ANSI mode)."""
    from pyspark.sql import functions as F

    cols = {c.upper(): c for c in df.columns}
    out = df
    for up in _MAF_NUMERIC:
        if up in cols:
            c = cols[up]
            out = out.withColumn(c, F.col(c).try_cast("long"))
    return out


def _read_cna(spark: SparkSession, paths: list[str]) -> DataFrame:
    """CNA matrix scan: the upload is WIDE (first column Hugo_Symbol,
    one column per sample — genie_registry/cna.py:192-233); the engine
    keeps CNA long (SURVEY §1.1), so melt at read with ``unpivot``.
    Values stay strings here; the value-domain rule validates them and
    the release pivots back to wide at write (io.writers.write_cna_wide).

    Deliberate staging difference: the reference remaps gene symbols
    against the bed table and merges duplicate genes DURING processing
    (cna.py:23-160, bed force-ordered first); here both run at release
    time (operators.remap.cna_symbol_remap + aggregations.
    merge_duplicate_values) so bronze keeps the uploaded symbols and a
    bed re-upload never forces a CNA re-ingest — at 100 TB the remap is
    a broadcast join either way, but replaying it from bronze is a
    release-time decision instead of a write-path migration.
    """
    from pyspark.sql import functions as F

    wide = readers.read_delimited(spark, paths[0])
    first, *samples = wide.columns
    return (
        wide.unpivot(
            [qcol(first).alias("Hugo_Symbol")],
            [qcol(s) for s in samples],
            "SAMPLE_ID",
            "value",
        )
        .where(F.col("value").isNotNull() & (F.col("value") != "NA"))
    )


def _assay_transform(df: DataFrame) -> DataFrame:
    # reference assay _process (genie_registry/assay.py:49-77):
    # SEQ_ASSAY_ID / SEQ_PIPELINE_ID upper + underscores→dashes,
    # gene_padding default 10 (int), variant_classifications column
    # guaranteed present
    from pyspark.sql import functions as F

    out = df
    for c in ("SEQ_ASSAY_ID", "SEQ_PIPELINE_ID"):
        if c in out.columns:
            out = out.withColumn(c, F.upper(F.translate(F.col(c), "_", "-")))
    if "gene_padding" in out.columns:
        out = out.withColumn(
            "gene_padding",
            F.coalesce(F.col("gene_padding").try_cast("int"), F.lit(10)),
        )
    else:
        out = out.withColumn("gene_padding", F.lit(10))
    if "variant_classifications" not in out.columns:
        out = out.withColumn("variant_classifications", F.lit(None).cast("string"))
    return out


def _clinical_transform(df: DataFrame) -> DataFrame:
    # reference clinical process_steps: update_clinical value
    # normalization then code→label remap (clinical.py:417-462,487-515)
    from genie_spark.transform import remap_clinical_values, update_clinical_values

    return remap_clinical_values(update_clinical_values(df))


def _read_upper(spark: SparkSession, paths: list[str]) -> DataFrame:
    # the reference uppercases SV headers before both validate and
    # process (genie_registry/structural_variant.py:30,67) and seg
    # headers before validation (genie_registry/seg.py:56:
    # ``segDF.columns = upper``)
    return readers.read_delimited(spark, paths[0], upper=True)


def _seg_transform(df: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    # reference seg _process (genie_registry/seg.py:23-39): uppercase
    # headers, dedup, dotted → flat column names, chr-prefix strip,
    # int casts.  The rename must happen before the MERGE — the bronze
    # key columns are the flat names.
    rename = {
        "LOC.START": "LOCSTART", "LOC.END": "LOCEND",
        "SEG.MEAN": "SEGMEAN", "NUM.MARK": "NUMMARK",
    }
    cols = []
    for c in df.columns:
        up = c.upper()
        cols.append(qcol(c).alias(rename.get(up, up)))
    out = df.select(*cols).dropDuplicates()
    if "CHROM" in out.columns:
        out = out.withColumn(
            "CHROM", F.regexp_replace(F.col("CHROM").cast("string"), "^chr", "")
        )
    for c in ("LOCSTART", "LOCEND", "NUMMARK"):
        if c in out.columns:
            out = out.withColumn(c, F.col(c).try_cast("long"))
    return out


def _clinical_rules(center: str) -> RuleSet:
    # merged-file validation = sample rules + patient rules (the
    # reference validates the merged frame, clinical.py:800-1298).
    # The patient-key duplicate check stays out: sample⋈patient has one
    # row per SAMPLE, so a patient with two samples repeats its
    # PATIENT_ID there; a duplicated patient row fans out into
    # duplicated SAMPLE_IDs, which clinical_sample.duplicate_keys catches.
    s = sample_rules(center)
    p = [r for r in patient_rules(center).rules
         if r.rule_id != "clinical_patient.duplicate_keys"]
    return RuleSet("clinical", list(s.rules) + p)


FORMATS: list[FileFormat] = [
    FileFormat(
        name="clinical",
        matches=lambda names, c: all(
            n == f"data_clinical_supp_{c}.txt"
            or re.fullmatch(rf"data_clinical_supp_(sample|patient)_{re.escape(c)}\.txt", n)
            for n in names
        )
        and len(names) in (1, 2),
        read=_read_clinical,
        rules=_clinical_rules,
        keys=("SAMPLE_ID",),
        transform=_clinical_transform,
    ),
    FileFormat(
        name="maf",
        matches=lambda names, c: names == [f"data_mutations_extended_{c}.txt"],
        read=_single(readers.read_maf),
        rules=maf_rules,
        keys=(
            "CHROMOSOME", "START_POSITION", "REFERENCE_ALLELE",
            "TUMOR_SEQ_ALLELE2", "TUMOR_SAMPLE_BARCODE",
        ),
        transform=_maf_transform,
    ),
    FileFormat(
        name="vcf",
        matches=lambda names, c: len(names) == 1
        and names[0].endswith(".vcf")
        and names[0].startswith(f"GENIE-{c}-"),
        read=_single(readers.read_vcf),
        rules=lambda c: vcf_rules(c),
        keys=(),
    ),
    FileFormat(
        name="cna_long",
        matches=lambda names, c: names == [f"data_CNA_{c}.txt"],
        read=_read_cna,
        rules=cna_rules,
        keys=("Hugo_Symbol", "SAMPLE_ID"),
    ),
    FileFormat(
        name="seg",
        matches=lambda names, c: names == [f"genie_data_cna_hg19_{c}.seg"],
        read=_read_upper,
        rules=seg_rules,
        keys=("ID", "CHROM", "LOCSTART", "LOCEND"),
        transform=_seg_transform,
    ),
    FileFormat(
        name="bed",
        matches=lambda names, c: len(names) == 1
        and names[0].endswith(".bed")
        and names[0].startswith(f"{c}-"),
        read=_read_bed,
        rules=lambda c: bed_rules(),
        keys=("Chromosome", "Start_Position", "End_Position", "SEQ_ASSAY_ID"),
    ),
    FileFormat(
        name="sv",
        matches=lambda names, c: names == [f"data_sv_{c}.txt"],
        read=_read_upper,
        rules=sv_rules,
        keys=(),
    ),
    FileFormat(
        name="assayinfo",
        matches=lambda names, c: len(names) == 1
        and names[0] in ("assay_information.yaml", f"{c}_assay_information.yaml"),
        read=lambda spark, paths: readers.read_assay_yaml(spark, paths[0]),
        rules=assay_rules,
        keys=("SEQ_ASSAY_ID",),
        transform=_assay_transform,
    ),
    FileFormat(
        name="sampleRetraction",
        matches=lambda names, c: names == ["sampleRetraction.csv"],
        read=_single(readers.read_retraction),
        rules=lambda c: None,
        keys=("genieSampleId",),
    ),
    FileFormat(
        name="patientRetraction",
        matches=lambda names, c: names == ["patientRetraction.csv"],
        read=lambda spark, paths: readers.read_retraction(
            spark, paths[0], col="geniePatientId"
        ),
        rules=lambda c: None,
        keys=("geniePatientId",),
    ),
    FileFormat(
        name="mutationsInCis",
        matches=lambda names, c: names == ["mutationsInCis_filtered_samples.csv"],
        read=_single(readers.read_mutations_in_cis),
        rules=mutations_in_cis_rules,
        keys=(),
    ),
    FileFormat(
        # center workflow document: {center}*.md stored as-is (reference
        # genie_registry/workflow.py:17-25)
        name="workflow",
        matches=lambda names, c: len(names) == 1
        and names[0].startswith(c)
        and names[0].endswith(".md"),
        read=lambda spark, paths: spark.read.text(paths[0]),
        rules=lambda c: None,
        keys=(),
    ),
]

BY_NAME: dict[str, FileFormat] = {f.name: f for f in FORMATS}


def determine_filetype(paths: Sequence[str], center: str) -> FileFormat | None:
    """First format whose filename contract the path bundle satisfies
    (reference genie/validate.py:63-88)."""
    names = sorted(os.path.basename(p) for p in paths)
    for fmt in FORMATS:
        if fmt.matches(names, center):
            return fmt
    return None
