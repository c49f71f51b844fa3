"""Release-artifact writers (SURVEY.md §2.1 S13-S18).

The reference writes single TSV/text files per artifact.  Here each
writer has two modes: ``parts`` (df.write.csv — the 100 TB path, many
files) and ``single`` (assemble one file on the driver from the part
files — what cBioPortal ingestion expects; release artifacts are
GB-scale, bounded).
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from genie_spark.functions.scalars import as_written


def strip_float_formatting(df: DataFrame) -> DataFrame:
    """'.0'-stripping on write (reference ``removePandasDfFloat``
    genie/process_functions.py:258-303): integral doubles render as
    integers.  Expressed as a cast, not a text post-process."""
    exprs = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            exprs.append(as_written(f.name, f.dataType).alias(f.name))
        else:
            exprs.append(F.col(f.name))
    return df.select(*exprs)


def write_tsv(
    df: DataFrame,
    path: str,
    single: bool = True,
    na_rep: str = "",
    header_lines: Sequence[str] = (),
) -> None:
    """TSV sink with float-strip (S13) and optional prepended comment
    header lines (the cBioPortal 5-line clinical header,
    genie/process_functions.py:356-403)."""
    out = strip_float_formatting(df)
    tmp = path + ".__parts__"
    (
        out.na.fill(na_rep if na_rep else "")
        .write.mode("overwrite")
        .option("sep", "\t")
        .option("header", "true")
        .option("emptyValue", na_rep)
        .option("nullValue", na_rep)
        .csv(tmp)
    )
    if single:
        parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
        with open(path, "w") as outfh:
            for line in header_lines:
                outfh.write(line + "\n")
            wrote_header = False
            for p in parts:
                with open(p) as fh:
                    header = fh.readline()
                    if not wrote_header:
                        outfh.write(header)
                        wrote_header = True
                    shutil.copyfileobj(fh, outfh)
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, path)


def cbio_clinical_headers(
    columns: Sequence[str],
    display_names: dict[str, str] | None = None,
    descriptions: dict[str, str] | None = None,
    datatypes: dict[str, str] | None = None,
    priorities: dict[str, int] | None = None,
) -> list[str]:
    """The 4 '#' metadata lines cBioPortal expects above the header
    (reference ``addClinicalHeaders``)."""
    dn = display_names or {}
    ds = descriptions or {}
    dt = datatypes or {}
    pr = priorities or {}
    return [
        "#" + "\t".join(dn.get(c, c.replace("_", " ").title()) for c in columns),
        "#" + "\t".join(ds.get(c, dn.get(c, c.replace("_", " ").title())) for c in columns),
        "#" + "\t".join(dt.get(c, "STRING") for c in columns),
        "#" + "\t".join(str(pr.get(c, 1)) for c in columns),
    ]


def write_cbio_clinical(df: DataFrame, path: str, **header_kwargs) -> None:
    """Clinical release file: 4 metadata lines + header + data.

    ID columns LEAD the header (SAMPLE_ID, then PATIENT_ID, then the
    attributes): cBioPortal's clinical validator expects the case ids
    in the leading columns, and the reference's clinical template
    orders them the same way (genie/process_functions.py:356-403
    addClinicalHeaders writes the mapping order, ids first).  The QC
    rule release.clinical_id_columns_lead pins the written form."""
    id_cols = [c for c in ("SAMPLE_ID", "PATIENT_ID") if c in df.columns]
    rest = [c for c in df.columns if c not in id_cols]
    df = df.select(*id_cols, *rest)
    write_tsv(
        df, path, single=True,
        header_lines=cbio_clinical_headers(df.columns, **header_kwargs),
    )


# GENIE clinical attribute levels (reference: the clinical tier
# release scope table's `level` column, genie/database_to_staging.py:
# 1808-1813 splits fieldName by level == patient/sample; the attribute
# set is the public GENIE data-guide dictionary).  Unknown attributes
# default to sample level (they ride the sample file, never silently
# dropped).
PATIENT_LEVEL_ATTRS = frozenset(
    {
        "PATIENT_ID",
        "SEX",
        "PRIMARY_RACE",
        "SECONDARY_RACE",
        "TERTIARY_RACE",
        "ETHNICITY",
        "BIRTH_YEAR",
        "CENTER",
        "YEAR_CONTACT",
        "YEAR_DEATH",
        "INT_CONTACT",
        "INT_DOD",
        "DEAD",
    }
)


def write_cbio_clinical_split(
    df: DataFrame,
    sample_path: str,
    patient_path: str,
    patient_cols: Sequence[str] | None = None,
    **header_kwargs,
) -> None:
    """The SPLIT clinical release pair the reference stores alongside
    data_clinical.txt (genie/process_functions.py:356-403
    addClinicalHeaders; called from database_to_staging.py:1361-1368):

    * ``data_clinical_patient.txt`` — patient-level attributes, one
      row per PATIENT_ID, PATIENT_ID leading;
    * ``data_clinical_sample.txt`` — PATIENT_ID + the sample-level
      attributes, one row per SAMPLE_ID, with PATIENT_ID then
      SAMPLE_ID leading (cBioPortal's clinical-sample validator
      requires the patient id BEFORE the sample id — the 'patient
      before sample' ordering validateData enforces).

    Both carry the 4 '#' metadata lines.  ``patient_cols`` overrides
    the level classification (defaults to the GENIE dictionary in
    ``PATIENT_LEVEL_ATTRS``; unknown attributes go to the sample
    file).  One row per id via a deterministic min-struct collapse —
    the reference's pandas ``drop_duplicates`` keeps an arbitrary
    first row; a distributed engine must pick a stable one.
    """
    plevel = set(
        patient_cols if patient_cols is not None else PATIENT_LEVEL_ATTRS
    )
    pat_attrs = [c for c in df.columns if c in plevel]
    smp_attrs = [c for c in df.columns if c not in plevel]
    if "PATIENT_ID" in df.columns:
        pat_order = ["PATIENT_ID"] + [c for c in pat_attrs if c != "PATIENT_ID"]
        smp_order = ["PATIENT_ID", "SAMPLE_ID"] + [
            c for c in smp_attrs if c != "SAMPLE_ID"
        ]
    else:
        pat_order = pat_attrs
        smp_order = smp_attrs

    def one_per(key: str, cols: list[str]) -> DataFrame:
        rest = [c for c in cols if c != key]
        if not rest:
            return df.select(key).distinct()
        agg = df.groupBy(key).agg(
            F.min(F.struct(*[F.col(c).alias(c) for c in rest])).alias("__r")
        )
        return agg.select(key, *[F.col(f"__r.{c}").alias(c) for c in rest])

    if pat_order:
        write_tsv(
            one_per("PATIENT_ID", pat_order).select(*pat_order),
            patient_path,
            single=True,
            header_lines=cbio_clinical_headers(pat_order, **header_kwargs),
        )
    write_tsv(
        one_per("SAMPLE_ID", smp_order).select(*smp_order),
        sample_path,
        single=True,
        header_lines=cbio_clinical_headers(smp_order, **header_kwargs),
    )


def write_cna_wide(
    cna_long: DataFrame,
    path: str,
    sample_ids: Sequence[str] | None = None,
    na_rep: str = "NA",
) -> None:
    """CNA matrix sink: long (gene, sample, value) → wide pivot at
    write time only (SURVEY.md §1.1 — the reference assembles this with
    outer merges + unix ``join``, genie/database_to_staging.py:1426-1518;
    a pivot is the native Spark equivalent).  Blank cells render as NA
    (S16, genie_registry/cna.py:166-172)."""
    pivoted = (
        cna_long.groupBy("Hugo_Symbol")
        .pivot("SAMPLE_ID", list(sample_ids) if sample_ids else None)
        .agg(F.first("value"))
        .orderBy("Hugo_Symbol")
    )
    write_tsv(pivoted, path, single=True, na_rep=na_rep)


def case_list_texts(
    clinical: DataFrame,
    study_id: str,
    by: str = "CANCER_TYPE",
    sample_col: str = "SAMPLE_ID",
) -> dict[str, str]:
    """cBioPortal case-list files (S17, genie/create_case_lists.py:
    18-271): one text blob per group with tab-joined sample ids.
    groupBy+collect_list computes the groups distributed; rendering the
    KB-scale texts happens on the driver."""
    groups = (
        clinical.where(F.col(by).isNotNull())
        .groupBy(by)
        .agg(F.array_sort(F.collect_set(sample_col)).alias("samples"))
        .collect()
    )
    out = {}
    for row in groups:
        value = row[by]
        key = value.lower().replace(" ", "_").replace("/", "_")
        ids = "\t".join(row["samples"])
        out[f"cases_{key}.txt"] = (
            f"cancer_study_identifier: {study_id}\n"
            f"stable_id: {study_id}_{key}\n"
            f"case_list_name: Tumor Type: {value}\n"
            f"case_list_description: All tumors with cancer type {value}\n"
            f"case_list_ids: {ids}\n"
        )
    all_ids = "\t".join(
        r[0]
        for r in clinical.select(sample_col).distinct().orderBy(sample_col).collect()
    )
    out["cases_all.txt"] = (
        f"cancer_study_identifier: {study_id}\n"
        f"stable_id: {study_id}_all\n"
        "case_list_name: All samples\n"
        "case_list_description: All samples\n"
        f"case_list_ids: {all_ids}\n"
    )
    # every released sample is sequenced, so _sequenced == _all
    # (genie/create_case_lists.py:128-147 write_case_list_sequenced)
    out["cases_sequenced.txt"] = (
        f"cancer_study_identifier: {study_id}\n"
        f"stable_id: {study_id}_sequenced\n"
        "case_list_name: Sequenced Tumors\n"
        "case_list_description: All sequenced samples\n"
        f"case_list_ids: {all_ids}\n"
    )
    return out


def case_list_alteration_texts(
    clinical: DataFrame,
    assay_info: DataFrame,
    study_id: str,
    sample_col: str = "SAMPLE_ID",
) -> dict[str, str]:
    """cases_cna.txt / cases_sv.txt: samples whose SEQ_ASSAY_ID's assay
    information declares the alteration type (reference
    genie/create_case_lists.py:103-126 ``create_sequenced_samples`` +
    write_case_list_cna/sv).  The per-SEQ_ASSAY_ID sample grouping runs
    distributed; the assay dim is broadcast."""
    out = {}
    if "alteration_types" not in assay_info.columns:
        return out
    for suffix, token, name in (
        ("cna", "cna", "Samples with CNA"),
        ("sv", "structural_variants", "Samples with SV"),
    ):
        assays = assay_info.where(
            F.col("alteration_types").contains(token)
        ).select("SEQ_ASSAY_ID").distinct()
        rows = (
            clinical.join(F.broadcast(assays), "SEQ_ASSAY_ID", "left_semi")
            .select(sample_col)
            .distinct()
            .orderBy(sample_col)
            .collect()
        )
        if not rows:
            continue
        ids = "\t".join(r[0] for r in rows)
        out[f"cases_{suffix}.txt"] = (
            f"cancer_study_identifier: {study_id}\n"
            f"stable_id: {study_id}_{suffix}\n"
            f"case_list_name: {name}\n"
            f"case_list_description: {name}\n"
            f"case_list_ids: {ids}\n"
        )
    return out


def cbio_meta_texts(
    study_id: str,
    version: str,
    present: set[str],
    study_name: str = "GENIE Cohort",
) -> dict[str, str]:
    """cBioPortal meta files for the release directory.

    The reference keeps pre-existing meta files in the release folder
    and only rewrites the version string
    (``revise_metadata_files``, genie/database_to_staging.py:1960-2009);
    a from-scratch engine must generate them.  Formats follow the
    public cBioPortal file-format documentation; ``present`` is the set
    of data file names actually written, and each meta references its
    data file via ``data_filename``."""
    stamp = f"{study_name} v{version}"
    out: dict[str, str] = {
        "meta_study.txt": (
            "type_of_cancer: mixed\n"
            f"cancer_study_identifier: {study_id}\n"
            f"name: {stamp}\n"
            f"description: {stamp}\n"
            "groups: GENIE\n"
            "add_global_case_list: true\n"
        )
    }
    if "data_clinical.txt" in present:
        out["meta_clinical.txt"] = (
            f"cancer_study_identifier: {study_id}\n"
            "genetic_alteration_type: CLINICAL\n"
            "datatype: MIXED_ATTRIBUTES\n"
            "data_filename: data_clinical.txt\n"
        )
    if "data_clinical_sample.txt" in present:
        out["meta_clinical_sample.txt"] = (
            f"cancer_study_identifier: {study_id}\n"
            "genetic_alteration_type: CLINICAL\n"
            "datatype: SAMPLE_ATTRIBUTES\n"
            "data_filename: data_clinical_sample.txt\n"
        )
    if "data_clinical_patient.txt" in present:
        out["meta_clinical_patient.txt"] = (
            f"cancer_study_identifier: {study_id}\n"
            "genetic_alteration_type: CLINICAL\n"
            "datatype: PATIENT_ATTRIBUTES\n"
            "data_filename: data_clinical_patient.txt\n"
        )
    if "data_mutations_extended.txt" in present:
        out["meta_mutations_extended.txt"] = (
            f"cancer_study_identifier: {study_id}\n"
            "genetic_alteration_type: MUTATION_EXTENDED\n"
            "datatype: MAF\n"
            "stable_id: mutations\n"
            "show_profile_in_analysis_tab: true\n"
            f"profile_name: Mutations ({stamp})\n"
            f"profile_description: Mutation data ({stamp})\n"
            "data_filename: data_mutations_extended.txt\n"
        )
    if "data_CNA.txt" in present:
        out["meta_CNA.txt"] = (
            f"cancer_study_identifier: {study_id}\n"
            "genetic_alteration_type: COPY_NUMBER_ALTERATION\n"
            "datatype: DISCRETE\n"
            "stable_id: cna\n"
            "show_profile_in_analysis_tab: true\n"
            f"profile_name: Copy-number alterations ({stamp})\n"
            f"profile_description: Copy-number data ({stamp})\n"
            "data_filename: data_CNA.txt\n"
        )
    if "genie_data_cna_hg19.seg" in present:
        out["meta_cna_hg19_seg.txt"] = (
            f"cancer_study_identifier: {study_id}\n"
            "genetic_alteration_type: COPY_NUMBER_ALTERATION\n"
            "datatype: SEG\n"
            "reference_genome_id: hg19\n"
            f"description: Segment data ({stamp})\n"
            "data_filename: genie_data_cna_hg19.seg\n"
        )
    if "data_sv.txt" in present:
        out["meta_sv.txt"] = (
            f"cancer_study_identifier: {study_id}\n"
            "genetic_alteration_type: STRUCTURAL_VARIANT\n"
            "datatype: SV\n"
            "stable_id: structural_variants\n"
            "show_profile_in_analysis_tab: true\n"
            f"profile_name: Structural variants ({stamp})\n"
            f"profile_description: Structural variant data ({stamp})\n"
            "data_filename: data_sv.txt\n"
        )
    if "data_gene_matrix.txt" in present:
        out["meta_gene_matrix.txt"] = (
            f"cancer_study_identifier: {study_id}\n"
            "genetic_alteration_type: GENE_PANEL_MATRIX\n"
            "datatype: GENE_PANEL_MATRIX\n"
            "data_filename: data_gene_matrix.txt\n"
        )
    return out


def gene_panel_text(
    bed: DataFrame,
    seq_assay_id: str,
    symbol_col: str = "Hugo_Symbol",
) -> str:
    """Gene panel file (S18, genie_registry/bed.py:444-497): unique
    exon-region panel genes."""
    cond = (F.col("SEQ_ASSAY_ID") == seq_assay_id) & F.col(
        "includeInPanel"
    ).cast("boolean")
    if "Feature_Type" in bed.columns:
        cond = cond & (F.coalesce(F.col("Feature_Type"), F.lit("exon")) == "exon")
    symbols = (
        bed.where(cond)
        .select(symbol_col)
        .where(F.col(symbol_col).isNotNull())
        .distinct()
        .orderBy(symbol_col)
        .collect()
    )
    genes = "\t".join(r[symbol_col] for r in symbols)
    stable = seq_assay_id.replace("_", "-").upper()
    return (
        f"stable_id: {stable}\n"
        f"description: {stable}, Number of Genes - {len(symbols)}\n"
        f"gene_list: {genes}\n"
    )
