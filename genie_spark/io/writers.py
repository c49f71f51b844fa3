"""cBioPortal study writers (SURVEY.md §2.1 S13-S18).

cBioPortal ingests one text file per artifact, so every data sink
writes Spark's part files to a scratch directory and assembles the one
file on the driver (release artifacts are GB-scale, bounded).

``write_study`` writes the file set that the consortium release and
the public release share: the clinical files, MAF, SV, SEG, CNA and
gene matrices, the case lists and the meta files.  The case lists come
from driver-side lists: one collect of the clinical's
``(SAMPLE_ID, CANCER_TYPE, SEQ_ASSAY_ID)`` rows (``study_samples``)
and one of the assay information (``assay_rows``).  Gene panels come
from one grouped query over the BED (``panel_genes``).  The text
renderers (``case_list_texts``, ``case_list_alteration_texts``,
``gene_panel_text``, ``cbio_meta_texts``) run no Spark job, so the
list work does not grow with the number of panels or cancer types.
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Mapping, Sequence
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from genie_spark.functions.scalars import as_written

if TYPE_CHECKING:
    from genie_spark.release.pipeline import ReleaseArtifacts


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
    na_rep: str = "",
    header_lines: Sequence[str] = (),
) -> None:
    """One TSV file with float-strip (S13) and optional prepended
    comment header lines (the cBioPortal clinical header,
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


def write_texts(out_dir: str, texts: Mapping[str, str]) -> None:
    """Driver-rendered text files (case lists, panels, meta files)."""
    for name, text in texts.items():
        with open(os.path.join(out_dir, name), "w") as f:
            f.write(text)


def cbio_clinical_headers(columns: Sequence[str]) -> list[str]:
    """The 4 '#' metadata lines cBioPortal expects above the header
    (reference ``addClinicalHeaders``)."""
    names = [c.replace("_", " ").title() for c in columns]
    return [
        "#" + "\t".join(names),
        "#" + "\t".join(names),
        "#" + "\t".join("STRING" for _ in columns),
        "#" + "\t".join("1" for _ in columns),
    ]


def write_cbio_clinical(df: DataFrame, path: str) -> None:
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
    write_tsv(df, path, header_lines=cbio_clinical_headers(df.columns))


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
    df: DataFrame, sample_path: str, patient_path: str
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

    Both carry the 4 '#' metadata lines.  The level classification is
    the GENIE dictionary in ``PATIENT_LEVEL_ATTRS``; unknown attributes
    go to the sample file.  One row per id via a deterministic
    min-struct collapse — the reference's pandas ``drop_duplicates``
    keeps an arbitrary first row; a distributed engine must pick a
    stable one.
    """
    pat_attrs = [c for c in df.columns if c in PATIENT_LEVEL_ATTRS]
    smp_attrs = [c for c in df.columns if c not in PATIENT_LEVEL_ATTRS]
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
            header_lines=cbio_clinical_headers(pat_order),
        )
    write_tsv(
        one_per("SAMPLE_ID", smp_order).select(*smp_order),
        sample_path,
        header_lines=cbio_clinical_headers(smp_order),
    )


def write_cna_wide(cna_long: DataFrame, path: str, na_rep: str = "NA") -> None:
    """CNA matrix sink: long (gene, sample, value) → wide pivot at
    write time only (SURVEY.md §1.1 — the reference assembles this with
    outer merges + unix ``join``, genie/database_to_staging.py:1426-1518;
    a pivot is the native Spark equivalent).  Sample columns are the
    sorted distinct sample ids.  Blank cells render as NA (S16,
    genie_registry/cna.py:166-172)."""
    pivoted = (
        cna_long.groupBy("Hugo_Symbol")
        .pivot("SAMPLE_ID")
        .agg(F.first("value"))
        .orderBy("Hugo_Symbol")
    )
    write_tsv(pivoted, path, na_rep=na_rep)


def _columns_or_null(df: DataFrame, cols: Sequence[str]) -> list:
    return [
        (F.col(c) if c in df.columns else F.lit(None).cast("string")).alias(c)
        for c in cols
    ]


def study_samples(clinical: DataFrame) -> list[Row]:
    """The clinical's ``(SAMPLE_ID, CANCER_TYPE, SEQ_ASSAY_ID)`` rows,
    in one collect (a missing column reads as null).  These rows feed
    every case list and the commands' assay ids, sample sets and
    clinical row counts."""
    return clinical.select(
        *_columns_or_null(clinical, ("SAMPLE_ID", "CANCER_TYPE", "SEQ_ASSAY_ID"))
    ).collect()


def assay_rows(assay_info: DataFrame | None) -> list[Row]:
    """The assay information's ``(SEQ_ASSAY_ID, library_strategy,
    alteration_types)`` rows, in one dim-sized collect; empty without
    assay information."""
    if assay_info is None or "SEQ_ASSAY_ID" not in assay_info.columns:
        return []
    return assay_info.select(
        *_columns_or_null(
            assay_info, ("SEQ_ASSAY_ID", "library_strategy", "alteration_types")
        )
    ).collect()


def panel_genes(bed: DataFrame, assay_ids: Sequence[str]) -> dict[str, list[str]]:
    """Each assay's panel genes (S18, genie_registry/bed.py:444-497):
    the symbols of its included exon regions, from one grouped query
    over all ``assay_ids``."""
    if not assay_ids:
        return {}
    cond = F.col("SEQ_ASSAY_ID").isin(list(assay_ids)) & F.col(
        "includeInPanel"
    ).cast("boolean")
    if "Feature_Type" in bed.columns:
        cond = cond & (F.coalesce(F.col("Feature_Type"), F.lit("exon")) == "exon")
    rows = (
        bed.where(cond & F.col("Hugo_Symbol").isNotNull())
        .groupBy("SEQ_ASSAY_ID")
        .agg(F.collect_set("Hugo_Symbol").alias("genes"))
        .collect()
    )
    return {r["SEQ_ASSAY_ID"]: r["genes"] for r in rows}


def gene_panel_text(genes: Sequence[str], seq_assay_id: str) -> str:
    """Gene panel file (S18, genie_registry/bed.py:444-497) listing the
    unique panel genes."""
    genes = sorted(set(genes))
    gene_list = "\t".join(genes)
    stable = seq_assay_id.replace("_", "-").upper()
    return (
        f"stable_id: {stable}\n"
        f"description: {stable}, Number of Genes - {len(genes)}\n"
        f"gene_list: {gene_list}\n"
    )


def _case_list(
    study_id: str, suffix: str, name: str, description: str, ids: Sequence[str]
) -> str:
    id_list = "\t".join(ids)
    return (
        f"cancer_study_identifier: {study_id}\n"
        f"stable_id: {study_id}_{suffix}\n"
        f"case_list_name: {name}\n"
        f"case_list_description: {description}\n"
        f"case_list_ids: {id_list}\n"
    )


def case_list_texts(samples: Sequence[Mapping], study_id: str) -> dict[str, str]:
    """cBioPortal case-list files (S17, genie/create_case_lists.py:
    18-271) from ``study_samples`` rows: one per CANCER_TYPE, plus the
    all and sequenced lists, each with its sorted sample ids."""
    by_type: dict[str, set[str]] = {}
    for r in samples:
        if r["CANCER_TYPE"] is not None:
            by_type.setdefault(r["CANCER_TYPE"], set()).add(r["SAMPLE_ID"])
    out = {}
    for value, ids in sorted(by_type.items()):
        key = value.lower().replace(" ", "_").replace("/", "_")
        out[f"cases_{key}.txt"] = _case_list(
            study_id, key, f"Tumor Type: {value}",
            f"All tumors with cancer type {value}", sorted(ids),
        )
    all_ids = sorted({r["SAMPLE_ID"] for r in samples})
    out["cases_all.txt"] = _case_list(
        study_id, "all", "All samples", "All samples", all_ids
    )
    # every released sample is sequenced, so _sequenced == _all
    # (genie/create_case_lists.py:128-147 write_case_list_sequenced)
    out["cases_sequenced.txt"] = _case_list(
        study_id, "sequenced", "Sequenced Tumors", "All sequenced samples", all_ids
    )
    return out


def case_list_alteration_texts(
    samples: Sequence[Mapping], assays: Sequence[Mapping], study_id: str
) -> dict[str, str]:
    """cases_cna.txt / cases_sv.txt: samples whose SEQ_ASSAY_ID's assay
    information declares the alteration type (reference
    genie/create_case_lists.py:103-126 ``create_sequenced_samples`` +
    write_case_list_cna/sv), from ``study_samples`` and ``assay_rows``
    rows.  A list with no sample is not written."""
    out = {}
    for suffix, token, name in (
        ("cna", "cna", "Samples with CNA"),
        ("sv", "structural_variants", "Samples with SV"),
    ):
        panels = {
            a["SEQ_ASSAY_ID"] for a in assays if token in (a["alteration_types"] or "")
        } - {None}
        ids = sorted({r["SAMPLE_ID"] for r in samples if r["SEQ_ASSAY_ID"] in panels})
        if ids:
            out[f"cases_{suffix}.txt"] = _case_list(study_id, suffix, name, name, ids)
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


def write_study(
    out_dir: str,
    arts: ReleaseArtifacts,
    study_id: str,
    version: str,
    samples: Sequence[Mapping],
    assays: Sequence[Mapping],
    cna_wide: DataFrame | None = None,
) -> None:
    """Write the cBioPortal study files the consortium and public
    releases share (reference database_to_staging.py store_* +
    create_case_lists; consortium_to_public.py:41-359 regenerates the
    same set): the merged and split clinical files, MAF, SV, SEG, CNA
    and gene matrices, ``case_lists/`` and the meta files of the data
    files written here.

    ``samples`` are the ``study_samples`` rows of ``arts.clinical`` and
    ``assays`` the ``assay_rows``.  The CNA matrix is pivoted from
    ``arts.cna_long``, or written as given by ``cna_wide`` (the public
    release subsets the released matrix's columns)."""
    case_dir = os.path.join(out_dir, "case_lists")
    os.makedirs(case_dir, exist_ok=True)

    def at(name: str) -> str:
        return os.path.join(out_dir, name)

    write_cbio_clinical(arts.clinical, at("data_clinical.txt"))
    written = {"data_clinical.txt"}
    if {"SAMPLE_ID", "PATIENT_ID"} <= set(arts.clinical.columns):
        write_cbio_clinical_split(
            arts.clinical, at("data_clinical_sample.txt"),
            at("data_clinical_patient.txt"),
        )
        written |= {"data_clinical_sample.txt", "data_clinical_patient.txt"}
    for name, df in (
        ("data_mutations_extended.txt", arts.maf),
        ("data_sv.txt", arts.sv),
        ("genie_data_cna_hg19.seg", arts.seg),
        ("data_gene_matrix.txt", arts.gene_matrix),
    ):
        if df is not None:
            write_tsv(df, at(name))
            written.add(name)
    if arts.cna_long is not None:
        write_cna_wide(arts.cna_long, at("data_CNA.txt"))
        written.add("data_CNA.txt")
    elif cna_wide is not None:
        write_tsv(cna_wide, at("data_CNA.txt"), na_rep="NA")
        written.add("data_CNA.txt")

    write_texts(case_dir, {
        **case_list_texts(samples, study_id),
        **case_list_alteration_texts(samples, assays, study_id),
    })
    write_texts(out_dir, cbio_meta_texts(study_id, version, written))
