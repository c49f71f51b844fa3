"""Release-directory QC: re-validate the assembled release artifacts.

The reference runs the cBioPortal ``validateData.py`` suite over the
release directory as a pipeline stage after everything is written
(``CBIO VALIDATION``, /root/reference/bin/database_to_staging.py:310-332)
— the release is not done until the files on disk cross-check.  This
module is the Spark-native equivalent: it re-READS the written
artifacts (not the in-memory DataFrames that produced them — the point
is catching writer bugs) and asserts the cross-file invariants
cBioPortal ingestion depends on:

- ``data_clinical.txt`` carries the 4 '#' metadata lines + header and a
  SAMPLE_ID column (genie/process_functions.py:356-403 addClinicalHeaders);
- every case-list file has the 5 required keys and its
  ``case_list_ids`` ⊆ clinical samples (genie/create_case_lists.py);
- ``cases_all.txt`` exists;
- maf ``Tumor_Sample_Barcode`` ⊆ clinical samples;
- ``data_gene_matrix.txt`` samples ⊆ clinical samples, and every
  referenced mutation panel has a ``data_gene_panel_<id>.txt`` on disk
  (genie/database_to_staging.py:809-859 store_gene_panel_files);
- gene panel files have stable_id/description/gene_list lines and each
  ``gene_list`` ⊆ ``genomic_information.txt``'s Hugo_Symbols when the
  bed release file is present;
- ``data_CNA.txt`` sample column headers ⊆ clinical samples;
- per-column value catalog (cBioPortal validateData.py): no duplicate
  clinical SAMPLE_ID rows, no blank PATIENT_ID, maf Chromosome in
  1-22/X/Y/MT and integer Start_Position, CNA calls in the discrete
  -2/-1.5/-1/0/1/2/NA domain, seg numeric columns parse;
- clinical enum columns (SEX/PRIMARY_RACE/ETHNICITY) carry remap-table
  LABELS, not raw codes (genie_registry/clinical.py:321-382);
- SV NCBI_BUILD in GRCh37/GRCh38
  (genie_registry/structural_variant.py:209-217) and MAF↔SV agree on
  one normalized reference build;
- mutation-profile samples ⊆ cases_sequenced.txt (validateData's
  profile↔case-list cross-check) and meta_study.txt carries the four
  importer-required fields;
- per-profile meta consistency (round 10, validateData's meta
  dictionary): accepted (genetic_alteration_type, datatype) pairs,
  profile metas carry stable_id/profile_name/profile_description,
  stable_id unique across meta files AND across case lists;
- data_clinical.txt id columns (SAMPLE_ID/PATIENT_ID) lead the header
  (the writer's addClinicalHeaders-order guarantee);
- clinical attribute priority ordering (round 11, validateData's
  clinical-attribute checks): priorities non-negative, id columns
  never hidden (priority 0), and the split
  data_clinical_patient/_sample.txt pair — 4 '#' lines, PATIENT_ID
  leading the patient file, PATIENT_ID then SAMPLE_ID leading the
  sample file (cBioPortal's patient-before-sample order), attributes
  at their level, split sample ids ⊆ the merged file, metas present;
- clinical attribute-id charset (validateData's ClinicalValidator
  file-format contract): column ids are uppercase [A-Z][A-Z0-9_]*,
  never digit-leading, in the merged AND split clinical files;
- profile ↔ case-list cross-references (round 11, completing the
  validateData notch): mutation/CNA/SV data files require their
  cases_sequenced/cases_cna/cases_sv lists, and the CNA sample
  columns / SV samples must appear in them;
- gene matrix internal + cross-file consistency: one row per sample
  (reference dedups before writing, database_to_staging.py:1628),
  `mutations` equals the sample's clinical SEQ_ASSAY_ID (the matrix is
  built from that column, database_to_staging.py:1622-1626), and every
  cases_sequenced sample with a panel-backed assay has a matrix row
  (WES-exempt, mirroring the panel-file exemption).

One query per released file: each data-sized artifact (the merged and
split-sample clinical files, MAF, SV, gene matrix, CNA, SEG) is read
once, through ``io.readers.read_delimited``, and validated by exactly
ONE ``RuleSet.validate`` query, and the driver-parsed id lists
(case-list ids, CNA header samples, panel ``gene_list``s) by one more,
over a ``local_rows_df`` table of (source file, id) pairs.  A cross-file containment check is a row
predicate of the child's query: an EXISTS subquery on the parent's key,
which Spark runs as an existence join — a left join whose marker column
is false on every child row with no parent match, with no distinct
parent projection and no fan-out.  ``genomic_information.txt`` is only
ever such a parent.  Data-sized tables stay distributed; the driver
reads only headers and KB-scale texts ('#' rows, case-list keys, panel
headers, meta files), and this module runs no Spark action of its own.
"""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from genie_spark.io.readers import read_delimited
from genie_spark.rules.engine import (
    AggRule, RowRule, RuleSet, ValidationMessage, ValidationReport, duplicated, qcol,
)
from genie_spark.session import local_rows_df

_CASE_LIST_KEYS = (
    "cancer_study_identifier",
    "stable_id",
    "case_list_name",
    "case_list_description",
    "case_list_ids",
)

# cBioPortal validateData's accepted Variant_Classification values
# (MutationsExtendedValidator); anything else breaks oncoprint and
# annotation rendering on import
_VARIANT_CLASSIFICATIONS = frozenset(
    {
        "3'Flank",
        "3'UTR",
        "5'Flank",
        "5'UTR",
        "De_novo_Start_InFrame",
        "De_novo_Start_OutOfFrame",
        "Frame_Shift_Del",
        "Frame_Shift_Ins",
        "Fusion",
        "IGR",
        "In_Frame_Del",
        "In_Frame_Ins",
        "Intron",
        "Missense_Mutation",
        "Nonsense_Mutation",
        "Nonstop_Mutation",
        "RNA",
        "Silent",
        "Splice_Region",
        "Splice_Site",
        "Targeted_Region",
        "Translation_Start_Site",
        "Unknown",
    }
)

# cBioPortal's case_list_category domain (its validator rejects any
# other value).  The reference's own template
# (genie/create_case_lists.py:9-15) omits the key entirely — it is
# OPTIONAL — so the rule fires only when a case list declares one.
_CASE_LIST_CATEGORIES = frozenset(
    {
        "all_cases_in_study",
        "all_cases_with_mutation_data",
        "all_cases_with_cna_data",
        "all_cases_with_log2_cna_data",
        "all_cases_with_methylation_data",
        "all_cases_with_mrna_array_data",
        "all_cases_with_mrna_rnaseq_data",
        "all_cases_with_rppa_data",
        "all_cases_with_microrna_data",
        "all_cases_with_mutation_and_cna_data",
        "all_cases_with_mutation_and_cna_and_mrna_data",
        "all_cases_with_gsva_data",
        "all_cases_with_sv_data",
        "other",
    }
)

# accepted (genetic_alteration_type, datatype) meta combinations —
# the subset of cBioPortal validateData's meta dictionary the GENIE
# release surface uses (io/writers.py cbio_meta_texts emits exactly
# these; anything else is a hand-edited meta the importer rejects)
_META_GAT_DATATYPES = frozenset(
    {
        ("CLINICAL", "MIXED_ATTRIBUTES"),
        ("CLINICAL", "PATIENT_ATTRIBUTES"),
        ("CLINICAL", "SAMPLE_ATTRIBUTES"),
        ("MUTATION_EXTENDED", "MAF"),
        ("COPY_NUMBER_ALTERATION", "DISCRETE"),
        ("COPY_NUMBER_ALTERATION", "SEG"),
        ("COPY_NUMBER_ALTERATION", "LOG2-VALUE"),
        ("COPY_NUMBER_ALTERATION", "CONTINUOUS"),
        ("STRUCTURAL_VARIANT", "SV"),
        ("GENE_PANEL_MATRIX", "GENE_PANEL_MATRIX"),
    }
)


def _resolve(df: DataFrame, name: str) -> str | None:
    """Spark resolves identifiers case-insensitively (caseSensitive is
    false by default) and upload headers arrive uppercased — match the
    engine's own resolution rules when probing written artifacts."""
    lower = name.lower()
    for c in df.columns:
        if c.lower() == lower:
            return c
    return None


def _parse_kv_text(path: str) -> dict[str, str]:
    out: dict[str, str] = {}
    with open(path) as fh:
        for line in fh:
            if ":" in line:
                k, v = line.split(":", 1)
                out[k.strip()] = v.strip()
    return out


def _literal(text: str) -> str:
    """``text`` inside a rule message template."""
    return text.replace("{", "{{").replace("}", "}}")


# alias of every frame a release RuleSet validates: subqueries name the
# child's columns through it, so a parent column of the same name (the
# SAMPLE_ID of clinical and of the gene matrix) cannot capture them
_CHILD = "__gs_child"


def _outer(name: str) -> Column:
    """The validated file's column ``name``, inside a subquery."""
    return F.col(f"{_CHILD}.`{name}`").outer()


def _has(parent: DataFrame, key: Column, child: str) -> Column:
    """True on the child rows whose column ``child`` holds some
    ``parent`` row's ``key`` (a null never matches).  An EXISTS
    subquery: Spark runs it inside the child's query as an existence
    join — a left join whose marker column needs no distinct parent
    projection, so no child row fans out."""
    return parent.where(key == _outer(child)).exists()


def _n_distinct(c: Column) -> Column:
    """Distinct non-null values of ``c``, counted in the one aggregation
    (``count_distinct`` would plan a second one)."""
    return F.size(F.collect_set(c))


def _absent(rule_id: str, child: str, found: Column, message: str) -> AggRule:
    """Distinct ``child`` ids that ``found`` misses (a null id counts as
    one)."""
    missing = F.when(~found, F.coalesce(qcol(child), F.lit("")))
    return AggRule(rule_id, "error", _n_distinct(missing), message)


def _build(c: Column) -> Column:
    """Normalized reference build (37/hg19 → GRCh37, 38/hg38 →
    GRCh38); null for blank and NA."""
    up = F.upper(F.trim(c))
    return (
        F.when(c.isNull() | up.isin("", "NA"), None)
        .when(up.isin("37", "GRCH37", "HG19"), F.lit("GRCh37"))
        .when(up.isin("38", "GRCH38", "HG38"), F.lit("GRCh38"))
        .otherwise(F.trim(c))
    )


def validate_release(spark: SparkSession, release_dir: str) -> ValidationReport:
    """Cross-file QC over a written release directory; errors mean the
    directory would fail cBioPortal ingestion (the reference's
    cbioValidator stage, bin/database_to_staging.py:310-332)."""
    msgs: list[ValidationMessage] = []

    def err(rid: str, text: str, n: int = 1, examples: list | None = None):
        msgs.append(
            ValidationMessage(rid, "error", text, n_violations=n,
                              examples=examples or [])
        )

    clin_path = os.path.join(release_dir, "data_clinical.txt")
    if not os.path.isfile(clin_path):
        err("release.clinical_missing", "release: data_clinical.txt is missing")
        return ValidationReport("release", msgs)

    # header shape: 4 '#' metadata lines, then the column header
    declared_types: dict[str, str] = {}
    with open(clin_path) as fh:
        head = [fh.readline() for _ in range(5)]
    n_meta = sum(1 for line in head if line.startswith("#"))
    if n_meta != 4:
        err(
            "release.clinical_header",
            f"release: data_clinical.txt must start with 4 '#' metadata "
            f"lines (found {n_meta})",
        )
    else:
        # attribute-metadata row CONTENT (cBioPortal validateData
        # clinical checks; reference writes labels/descriptions/types/
        # priorities, genie/process_functions.py:391-399
        # addClinicalHeaders): every '#' row must have one field per
        # column, row 3 datatypes must be STRING/NUMBER/BOOLEAN, row 4
        # priorities must be integers — a shifted or hand-edited
        # header imports every attribute under the wrong type
        meta_rows = [
            line.rstrip("\n").lstrip("#").split("\t") for line in head[:4]
        ]
        header_cols = head[4].rstrip("\n").split("\t")
        bad_width = [
            i + 1
            for i, row in enumerate(meta_rows)
            if len(row) != len(header_cols)
        ]
        if bad_width:
            err(
                "release.clinical_header_width",
                f"release: data_clinical.txt metadata lines {bad_width} "
                f"have a field count != the {len(header_cols)}-column "
                "header",
            )
        bad_types = sorted(
            {v for v in meta_rows[2] if v not in ("STRING", "NUMBER", "BOOLEAN")}
        )
        if bad_types:
            err(
                "release.clinical_header_datatype",
                "release: data_clinical.txt datatype row has values "
                "outside STRING/NUMBER/BOOLEAN",
                n=len(bad_types),
                examples=bad_types[:5],
            )
        bad_prio = sorted(
            {v for v in meta_rows[3] if not re.fullmatch(r"-?\d+", v)}
        )
        if bad_prio:
            err(
                "release.clinical_header_priority",
                "release: data_clinical.txt priority row has non-integer "
                "values",
                n=len(bad_prio),
                examples=bad_prio[:5],
            )
        # priority domain (cBioPortal validateData clinical-attribute
        # checks): priorities are NON-NEGATIVE integers (0 = hidden);
        # and the id columns must never be hidden — PATIENT_ID/
        # SAMPLE_ID at priority 0 disappear from the study view while
        # every case list still references them (a hand-edit the
        # importer accepts but the portal renders wrong)
        neg_prio = sorted(
            {v for v in meta_rows[3] if re.fullmatch(r"-\d+", v)}
        )
        if neg_prio:
            err(
                "release.clinical_priority_negative",
                "release: data_clinical.txt priority row has negative "
                "values (cBioPortal priorities are >= 0)",
                n=len(neg_prio),
                examples=neg_prio[:5],
            )
        if not bad_width:
            # remember the declared per-column datatypes for the
            # value-domain check below (row 3 of the metadata header)
            declared_types = dict(zip(header_cols, meta_rows[2]))
            hidden_ids = [
                c
                for c, p in zip(header_cols, meta_rows[3])
                if c.upper() in ("SAMPLE_ID", "PATIENT_ID") and p == "0"
            ]
            if hidden_ids:
                err(
                    "release.clinical_id_priority_hidden",
                    "release: data_clinical.txt id columns "
                    f"{hidden_ids} carry priority 0 (hidden) — case "
                    "identifiers must stay visible",
                )

    clinical = read_delimited(spark, clin_path)
    clin_sid = _resolve(clinical, "SAMPLE_ID")
    if clin_sid is None:
        err("release.clinical_sample_id",
            "release: data_clinical.txt has no SAMPLE_ID column")
        return ValidationReport("release", msgs)
    clin_assay = _resolve(clinical, "SEQ_ASSAY_ID")

    def in_clinical(child: str) -> Column:
        return _has(clinical, qcol(clin_sid), child)

    # (file, frame, rules): one RuleSet query each, run at the end
    checks: list[tuple[str, DataFrame, list[RowRule | AggRule]]] = []


    # id columns must LEAD the header (cBioPortal clinical validator /
    # the reference's addClinicalHeaders mapping order — the writer
    # guarantees this, so a violation means a hand-edited release)
    clin_pid_col = _resolve(clinical, "PATIENT_ID")
    lead_ids = [c for c in (clin_sid, clin_pid_col) if c is not None]
    if set(clinical.columns[: len(lead_ids)]) != set(lead_ids):
        err(
            "release.clinical_id_columns_lead",
            "release: data_clinical.txt id columns "
            f"{lead_ids} must be the leading header columns; header "
            f"starts {clinical.columns[:3]}",
        )

    # attribute-id charset (cBioPortal clinical file-format contract,
    # enforced by validateData's ClinicalValidator: attribute column
    # ids are UPPERCASE letters/digits/underscores and must not lead
    # with a digit — a lowercase or punctuated id fails the import,
    # and a digit-leading id breaks the portal's attribute queries)
    _ATTR_ID_RE = re.compile(r"[A-Z][A-Z0-9_]*")
    bad_attr_ids = sorted(
        c for c in clinical.columns if not _ATTR_ID_RE.fullmatch(c)
    )
    if bad_attr_ids:
        err(
            "release.clinical_attr_charset",
            "release: data_clinical.txt attribute ids must match "
            "[A-Z][A-Z0-9_]* (uppercase, not digit-leading)",
            n=len(bad_attr_ids),
            examples=bad_attr_ids[:5],
        )

    # declared datatype vs ACTUAL values (cBioPortal validateData
    # ClinicalValidator: a NUMBER-declared column whose cells don't
    # parse numeric imports as a broken attribute; a BOOLEAN-declared
    # column must stay in the TRUE/FALSE domain.  The reference ships
    # the types from addClinicalHeaders,
    # genie/process_functions.py:391-399, but never re-checks a
    # hand-edited release).  Sentinel-aware: blank and NA cells are
    # missing values, not domain violations.  Every typed column is a
    # row rule of the clinical query.
    clin_rules: list[RowRule | AggRule] = []
    for col in clinical.columns:
        t = declared_types.get(col)
        if t not in ("NUMBER", "BOOLEAN"):
            continue
        v = qcol(col)
        not_na = v.isNotNull() & ~v.isin("", "NA")
        if t == "NUMBER":
            rid, domain = "release.clinical_datatype_number", "parse numeric"
            bad = not_na & v.try_cast("double").isNull()
        else:
            rid, domain = "release.clinical_datatype_boolean", "be TRUE/FALSE"
            bad = not_na & ~v.isin("TRUE", "FALSE")
        clin_rules.append(RowRule(
            rid, "error", bad,
            f"release: data_clinical.txt column {_literal(col)} is declared "
            f"{t} but {{n}} value(s) do not {domain} (NA/blank excluded)",
            example_col=col))

    # --- split clinical pair (data_clinical_patient/_sample.txt) ------
    # cBioPortal validates the split files harder than the merged one
    # (validateData ClinicalValidator): the patient file must LEAD with
    # PATIENT_ID; the sample file must lead with PATIENT_ID then
    # SAMPLE_ID (patient-before-sample ordering); and attributes must
    # sit at their level — a patient attribute in the sample file (or
    # vice versa) imports the attribute at the wrong entity and every
    # per-patient query silently fans out per-sample.
    from genie_spark.io.writers import PATIENT_LEVEL_ATTRS

    def _split_header(fname: str) -> list[str] | None:
        path = os.path.join(release_dir, fname)
        if not os.path.isfile(path):
            return None
        with open(path) as fh:
            lines = [fh.readline() for _ in range(5)]
        if sum(1 for line in lines if line.startswith("#")) != 4:
            err(
                "release.clinical_split_header",
                f"release: {fname} must start with 4 '#' metadata lines",
            )
            return None
        cols = lines[4].rstrip("\n").split("\t")
        prio = lines[3].rstrip("\n").lstrip("#").split("\t")
        if len(prio) == len(cols):
            bad = sorted({v for v in prio if not re.fullmatch(r"\d+", v)})
            if bad:
                err(
                    "release.clinical_split_priority",
                    f"release: {fname} priority row has non-(>=0)-integer "
                    "values",
                    n=len(bad),
                    examples=bad[:5],
                )
            hidden = [
                c
                for c, p in zip(cols, prio)
                if c.upper() in ("SAMPLE_ID", "PATIENT_ID") and p == "0"
            ]
            if hidden:
                err(
                    "release.clinical_id_priority_hidden",
                    f"release: {fname} id columns {hidden} carry "
                    "priority 0 (hidden)",
                )
        else:
            err(
                "release.clinical_split_header",
                f"release: {fname} priority row width != header width",
            )
        return cols

    pat_cols = _split_header("data_clinical_patient.txt")
    smp_cols = _split_header("data_clinical_sample.txt")
    for fname, cols in (
        ("data_clinical_patient.txt", pat_cols),
        ("data_clinical_sample.txt", smp_cols),
    ):
        if cols is None:
            continue
        bad = sorted(c for c in cols if not _ATTR_ID_RE.fullmatch(c))
        if bad:
            err(
                "release.clinical_attr_charset",
                f"release: {fname} attribute ids must match "
                "[A-Z][A-Z0-9_]* (uppercase, not digit-leading)",
                n=len(bad),
                examples=bad[:5],
            )
    if pat_cols is not None:
        if pat_cols[:1] != ["PATIENT_ID"]:
            err(
                "release.clinical_split_lead",
                "release: data_clinical_patient.txt must lead with "
                f"PATIENT_ID; header starts {pat_cols[:2]}",
            )
        stray = [
            c for c in pat_cols
            if c.upper() not in PATIENT_LEVEL_ATTRS
        ]
        if stray:
            err(
                "release.clinical_split_level",
                "release: data_clinical_patient.txt carries non-patient-"
                "level attributes",
                n=len(stray),
                examples=stray[:5],
            )
    if smp_cols is not None:
        if smp_cols[:2] != ["PATIENT_ID", "SAMPLE_ID"]:
            err(
                "release.clinical_split_lead",
                "release: data_clinical_sample.txt must lead with "
                "PATIENT_ID then SAMPLE_ID (cBioPortal's patient-before-"
                f"sample order); header starts {smp_cols[:3]}",
            )
        stray = [
            c for c in smp_cols[1:]
            if c.upper() in PATIENT_LEVEL_ATTRS and c.upper() != "PATIENT_ID"
        ]
        if stray:
            err(
                "release.clinical_split_level",
                "release: data_clinical_sample.txt carries patient-level "
                "attributes",
                n=len(stray),
                examples=stray[:5],
            )
        # split sample ids must match the merged file (a regenerated
        # split from a different snapshot breaks profile case lists)
        smp_path = os.path.join(release_dir, "data_clinical_sample.txt")
        split_df = read_delimited(spark, smp_path)
        split_sid = _resolve(split_df, "SAMPLE_ID")
        if split_sid is not None:
            checks.append(("data_clinical_sample.txt", split_df, [RowRule(
                "release.clinical_split_samples", "error",
                ~in_clinical(split_sid),
                "release: data_clinical_sample.txt has {n} row(s) whose "
                "SAMPLE_ID is absent from data_clinical.txt: {examples}",
                example_col=split_sid)]))

    # per-column catalog (cBioPortal validateData.py clinical checks):
    # duplicated sample rows and blank patient ids both fail import
    clin_rules.append(RowRule(
        "release.clinical_dup_sample", "error", duplicated([clin_sid]),
        "release: data_clinical.txt has {n} row(s) sharing a duplicated "
        "SAMPLE_ID: {examples}", example_col=clin_sid))
    if clin_pid_col is not None:
        pid = qcol(clin_pid_col)
        clin_rules.append(RowRule(
            "release.clinical_patient_blank", "error",
            pid.isNull() | (F.trim(pid) == ""),
            "release: data_clinical.txt has {n} blank PATIENT_ID value(s)"))

    # clinical enum domains vs the remap tables (reference
    # genie_registry/clinical.py:321-382 ``remap_clinical_values``
    # applied at release QC time): a RELEASED SEX / PRIMARY_RACE /
    # ETHNICITY column must carry the remapped LABELS — a raw integer
    # code means the remap step was skipped for that file.  Release
    # sentinels and null/blank are allowed.
    from genie_spark.transform import DEFAULT_CLINICAL_MAPPINGS

    _ENUM_SENTINELS = ["Unknown", "Not Collected", "Not Applicable",
                       "Not Released", ""]
    for logical, mapping in sorted(DEFAULT_CLINICAL_MAPPINGS.items()):
        actual = _resolve(clinical, logical)
        if actual is None:
            continue
        allowed = sorted(set(mapping.values())) + _ENUM_SENTINELS
        clin_rules.append(RowRule(
            "release.clinical_enum_domain", "error",
            qcol(actual).isNotNull() & ~F.trim(qcol(actual)).isin(allowed),
            f"release: data_clinical.txt {logical} has {{n}} value(s) outside "
            "the remap-table label domain (raw codes mean the remap step "
            "was skipped): {examples}", example_col=actual))

    # --- case lists ------------------------------------------------------
    case_dir = os.path.join(release_dir, "case_lists")
    case_files = sorted(glob.glob(os.path.join(case_dir, "cases_*.txt")))
    if not any(os.path.basename(p) == "cases_all.txt" for p in case_files):
        err("release.case_list_all", "release: case_lists/cases_all.txt missing")
    case_study_ids: dict[str, list[str]] = {}
    case_stable_ids: dict[str, list[str]] = {}
    # case_list_ids per case-list file; (source file, id) rows of every
    # driver-parsed list, checked by the lists query at the end
    case_ids: dict[str, list[str]] = {}
    list_rows: set[tuple[str, str]] = set()
    checked_lists: list[str] = []
    for p in case_files:
        name = os.path.basename(p)
        kv = _parse_kv_text(p)
        if kv.get("stable_id"):
            case_stable_ids.setdefault(kv["stable_id"], []).append(name)
        if "case_list_ids" in kv:
            case_ids[name] = [s for s in kv["case_list_ids"].split("\t") if s]
            list_rows.update((name, s) for s in case_ids[name])
        missing_keys = [k for k in _CASE_LIST_KEYS if k not in kv]
        if missing_keys:
            err(
                "release.case_list_keys",
                f"release: {name} missing keys {missing_keys}",
            )
            continue
        # stable-id contract (genie/create_case_lists.py:44-112):
        # stable_id = <cancer_study_identifier>_<filename stem>, so
        # cBioPortal's per-study namespacing holds and a copied-in
        # case list from another study (or a renamed file) is caught
        stem = name[len("cases_"):-len(".txt")]
        sid = kv["cancer_study_identifier"]
        case_study_ids.setdefault(sid, []).append(name)
        expect = f"{sid}_{stem}"
        if kv["stable_id"] != expect:
            err(
                "release.case_list_stable_id",
                f"release: {name} stable_id {kv['stable_id']!r} != "
                f"expected {expect!r}",
            )
        category = kv.get("case_list_category")
        if category is not None and category not in _CASE_LIST_CATEGORIES:
            err(
                "release.case_list_category",
                f"release: {name} case_list_category {category!r} is "
                "outside cBioPortal's accepted domain",
            )
        checked_lists.append(name)
    # stable_id uniqueness ACROSS the release (cBioPortal validateData:
    # two case lists sharing a stable_id overwrite each other at
    # import — the per-file stem rule above can't see the collision)
    dup_stable = {
        sid: files for sid, files in case_stable_ids.items() if len(files) > 1
    }
    if dup_stable:
        err(
            "release.case_list_stable_id_dup",
            "release: case lists share a stable_id: "
            + ", ".join(
                f"{sid} ({', '.join(files)})"
                for sid, files in sorted(dup_stable.items())
            ),
            n=len(dup_stable),
        )
    if len(case_study_ids) > 1:
        err(
            "release.case_list_study_id",
            "release: case lists disagree on cancer_study_identifier: "
            + ", ".join(
                f"{sid} ({len(files)} files)"
                for sid, files in sorted(case_study_ids.items())
            ),
        )

    # profile ↔ case-list cross-reference (cBioPortal validateData:
    # a study with mutation / CNA / SV data MUST ship the matching
    # cases_sequenced / cases_cna / cases_sv list — the profile is
    # queried through its case list, so a missing one hides the whole
    # profile after import; the reference's create_case_lists writes
    # them from the same data files, so absence means a hand-pruned
    # release directory)
    profile_case_lists = {
        "data_mutations_extended.txt": "cases_sequenced.txt",
        "data_CNA.txt": "cases_cna.txt",
        "data_sv.txt": "cases_sv.txt",
    }
    present_case_files = {os.path.basename(p) for p in case_files}
    missing_cl = sorted(
        cl
        for d, cl in profile_case_lists.items()
        if os.path.isfile(os.path.join(release_dir, d))
        and cl not in present_case_files
    )
    if missing_cl:
        err(
            "release.case_list_profile",
            "release: profile data files present without their case "
            f"lists: {missing_cl}",
            n=len(missing_cl),
        )

    # --- gene panel headers ----------------------------------------------
    # (each non-empty gene_list ⊆ genomic_information.txt's Hugo_Symbols
    # is a rule of the lists query)
    panel_files = {
        os.path.basename(p): p
        for p in glob.glob(os.path.join(release_dir, "data_gene_panel_*.txt"))
    }
    panel_genes: list[str] = []
    for name, p in sorted(panel_files.items()):
        kv = _parse_kv_text(p)
        missing_keys = [
            k for k in ("stable_id", "description", "gene_list") if k not in kv
        ]
        if missing_keys:
            err("release.gene_panel_header",
                f"release: {name} missing {missing_keys}")
            continue
        genes = [g for g in kv["gene_list"].split("\t") if g]
        if not genes:
            err("release.gene_panel_empty", f"release: {name} has an "
                "empty gene_list")
        else:
            panel_genes.append(name)
            list_rows.update((name, g) for g in genes)

    # --- cBioPortal meta files ------------------------------------------
    # every data artifact needs its meta, and each meta's data_filename
    # must point at a file that exists (cBioPortal import fails on both)
    meta_for = {
        "data_clinical.txt": "meta_clinical.txt",
        "data_clinical_sample.txt": "meta_clinical_sample.txt",
        "data_clinical_patient.txt": "meta_clinical_patient.txt",
        "data_mutations_extended.txt": "meta_mutations_extended.txt",
        "data_CNA.txt": "meta_CNA.txt",
        "genie_data_cna_hg19.seg": "meta_cna_hg19_seg.txt",
        "data_sv.txt": "meta_sv.txt",
        "data_gene_matrix.txt": "meta_gene_matrix.txt",
    }
    missing_meta = [
        m for d, m in meta_for.items()
        if os.path.isfile(os.path.join(release_dir, d))
        and not os.path.isfile(os.path.join(release_dir, m))
    ]
    if missing_meta:
        err(
            "release.meta_missing",
            "release: data files present without their cBioPortal meta "
            "files",
            n=len(missing_meta),
            examples=missing_meta[:5],
        )
    meta_study_path = os.path.join(release_dir, "meta_study.txt")
    if not os.path.isfile(meta_study_path):
        err("release.meta_study", "release: meta_study.txt is missing")
    else:
        # cBioPortal's study importer requires these four; a release
        # missing any fails at import time (validateData.py study meta
        # checks; our writer emits all four — io/writers.py
        # cbio_meta_texts — so a violation means hand-edited meta)
        kv = _parse_kv_text(meta_study_path)
        missing_fields = [
            k
            for k in (
                "type_of_cancer",
                "cancer_study_identifier",
                "name",
                "description",
            )
            if not kv.get(k)
        ]
        if missing_fields:
            err(
                "release.meta_study_fields",
                f"release: meta_study.txt missing required fields "
                f"{missing_fields}",
            )
    meta_study_ids: dict[str, str] = {}
    meta_data_refs: set[str] = set()
    profile_stable_ids: dict[str, list[str]] = {}
    for m in sorted(glob.glob(os.path.join(release_dir, "meta_*.txt"))):
        name = os.path.basename(m)
        kv = _parse_kv_text(m)
        data_ref = kv.get("data_filename")
        if data_ref:
            meta_data_refs.add(data_ref)
            if not os.path.isfile(os.path.join(release_dir, data_ref)):
                err(
                    "release.meta_dangling",
                    f"release: {name} references missing "
                    f"{data_ref}",
                )
        sid = kv.get("cancer_study_identifier")
        if sid is not None:
            meta_study_ids[name] = sid
        # per-profile meta consistency (cBioPortal validateData
        # MetaFileValidator; the reference runs it as the release gate,
        # bin/database_to_staging.py:310-332):
        # (1) a known (genetic_alteration_type, datatype) combination,
        # (2) a profile meta (show_profile_in_analysis_tab) must carry
        #     stable_id / profile_name / profile_description,
        # (3) profile stable_ids must be unique across the release —
        #     two profiles sharing one overwrite each other at import.
        gat = kv.get("genetic_alteration_type")
        dt = kv.get("datatype")
        if gat is not None and (gat, dt) not in _META_GAT_DATATYPES:
            err(
                "release.meta_datatype_domain",
                f"release: {name} pairs genetic_alteration_type "
                f"{gat!r} with datatype {dt!r} — outside cBioPortal's "
                "accepted combinations",
            )
        if kv.get("show_profile_in_analysis_tab") is not None:
            missing_profile = [
                f
                for f in ("stable_id", "profile_name", "profile_description")
                if not kv.get(f)
            ]
            if missing_profile:
                err(
                    "release.meta_profile_fields",
                    f"release: profile meta {name} missing "
                    f"{missing_profile}",
                )
        if name != "meta_study.txt" and kv.get("stable_id"):
            profile_stable_ids.setdefault(kv["stable_id"], []).append(name)
    dup_profiles = {
        s: files for s, files in profile_stable_ids.items() if len(files) > 1
    }
    if dup_profiles:
        err(
            "release.meta_stable_id_dup",
            "release: meta profiles share a stable_id: "
            + ", ".join(
                f"{s} ({', '.join(files)})"
                for s, files in sorted(dup_profiles.items())
            ),
            n=len(dup_profiles),
        )
    # completeness the OTHER way: cBioPortal discovers data files
    # THROUGH meta files, so a shipped data artifact no meta references
    # is silently never imported.  The fixed ``meta_for`` catalog above
    # catches the known pairs; this generalizes to every data_*.txt /
    # *.seg on disk.  Gene panel files are exempt (the panel importer
    # reads them directly, no per-panel meta — matching the reference's
    # release layout, genie/database_to_staging.py store_gene_panel_files).
    shipped = sorted(
        n
        for n in os.listdir(release_dir)
        if os.path.isfile(os.path.join(release_dir, n))
        and (
            (n.startswith("data_") and n.endswith(".txt"))
            or n.endswith(".seg")
        )
        and not n.startswith("data_gene_panel_")
    )
    unreferenced = [n for n in shipped if n not in meta_data_refs]
    if unreferenced:
        err(
            "release.meta_unreferenced_data",
            "release: data files no meta_*.txt references via "
            "data_filename — cBioPortal would never import them",
            n=len(unreferenced),
            examples=unreferenced[:5],
        )
    # every meta file must agree on cancer_study_identifier — a
    # mismatched id imports the artifact into a DIFFERENT study (or
    # fails outright); cBioPortal's validator checks this per file
    if len(set(meta_study_ids.values())) > 1:
        err(
            "release.meta_study_id",
            "release: meta files disagree on cancer_study_identifier",
            n=len(meta_study_ids),
            examples=sorted(set(meta_study_ids.values()))[:5],
        )

    # --- CNA matrix headers ---------------------------------------------
    # (sample columns ⊆ clinical is a rule of the lists query)
    cna_path = os.path.join(release_dir, "data_CNA.txt")
    if os.path.isfile(cna_path):
        with open(cna_path) as fh:
            header = fh.readline().rstrip("\n").split("\t")
        samples = [c for c in header if c.lower() != "hugo_symbol"]
        list_rows.update(("data_CNA.txt", s) for s in samples)
        # profile ⊆ its case list (validateData: a profiled sample
        # missing from cases_cna is invisible in CNA views) — both
        # sides KB-scale driver lists, a set diff suffices
        if "cases_cna.txt" in case_ids:
            not_listed = sorted(set(samples) - set(case_ids["cases_cna.txt"]))
            if not_listed:
                err(
                    "release.cna_case_list",
                    "release: data_CNA.txt sample columns missing from "
                    "case_lists/cases_cna.txt",
                    n=len(not_listed),
                    examples=not_listed[:5],
                )

    # ====================================================================
    # data checks: ONE RuleSet query per data-sized released file, plus
    # one over the driver-parsed lists
    # ====================================================================
    lists = local_rows_df(spark, sorted(list_rows), "source string, id string")

    def listed(name: str, child: str) -> Column:
        """True where ``child`` is one of case list ``name``'s ids."""
        return _has(lists.where(F.col("source") == name), F.col("id"), child)

    # containment in the OTHER direction (cBioPortal validateData:
    # the all_cases_in_study list must cover every study sample —
    # a clinical sample missing from cases_all.txt is silently
    # excluded from study-wide views after import).  Forward
    # containment (ids ⊆ clinical) is a rule of the lists query.
    if "cases_all.txt" in case_ids:
        clin_rules.append(_absent(
            "release.case_list_all_coverage", clin_sid,
            listed("cases_all.txt", clin_sid),
            "release: {n} data_clinical.txt sample(s) missing from "
            "case_lists/cases_all.txt (all_cases_in_study must cover the study)"))
    checks.append(("data_clinical.txt", clinical, clin_rules))

    # genomic_information.txt is only ever a parent inside other
    # files' queries: its Hugo_Symbols back the panel gene check, its
    # SEQ_ASSAY_IDs the WES exemption
    bed_path = os.path.join(release_dir, "genomic_information.txt")
    bed = bed_gene = bed_assays = None
    if os.path.isfile(bed_path):
        bed = read_delimited(spark, bed_path, comment=None)
        bed_gene = _resolve(bed, "Hugo_Symbol")
        bed_assay = _resolve(bed, "SEQ_ASSAY_ID")
        if bed_assay is not None:
            a = qcol(bed_assay)
            bed_assays = bed.where(a.isNotNull() & ~a.isin("", "NA")).select(
                a.alias("__gs_assay"))

    def panel_backed(parent: DataFrame, key: Column, child: str) -> Column:
        """``_has`` under the WES exemption: WES panels are intentionally
        not written as panel files (store_gene_panel_files skips them),
        so only assays in genomic_information.txt's SEQ_ASSAY_IDs count
        as panel-backed.  An all-blank assay column gives no exemption
        basis: every assay counts, as with no bed file at all."""
        return _has(parent, key, child) | ~bed_assays.exists()

    # --- maf -------------------------------------------------------------
    maf_path = os.path.join(release_dir, "data_mutations_extended.txt")
    maf = maf_nb = None
    if os.path.isfile(maf_path):
        maf = read_delimited(spark, maf_path, comment=None)
        maf_rules = []
        tsb = _resolve(maf, "Tumor_Sample_Barcode")
        if tsb is None:
            err("release.maf_barcode",
                "release: data_mutations_extended.txt has no "
                "Tumor_Sample_Barcode column")
        else:
            maf_rules.append(_absent(
                "release.maf_samples", tsb, in_clinical(tsb),
                "release: data_mutations_extended.txt has {n} sample(s) "
                "absent from data_clinical.txt"))
            # gene-matrix↔case-list cross-check (cBioPortal
            # validateData: a sample in the mutation profile must be
            # in the _sequenced case list, or the importer drops its
            # mutations from analysis views; reference writes
            # _sequenced = all released samples,
            # genie/create_case_lists.py:128-147)
            if "cases_sequenced.txt" in case_ids:
                maf_rules.append(_absent(
                    "release.cases_sequenced_coverage", tsb,
                    listed("cases_sequenced.txt", tsb),
                    "release: data_mutations_extended.txt has {n} sample(s) "
                    "missing from cases_sequenced.txt"))
        # per-column catalog (validateData.py mutation checks):
        # chromosome domain and integer positions fail import
        chrom_col = _resolve(maf, "Chromosome")
        if chrom_col is not None:
            valid_chroms = [str(i) for i in range(1, 23)] + ["X", "Y", "MT"]
            c = qcol(chrom_col)
            maf_rules.append(RowRule(
                "release.maf_chromosome", "error",
                c.isNotNull() & ~c.isin(valid_chroms),
                "release: data_mutations_extended.txt has {n} Chromosome "
                "value(s) outside 1-22/X/Y/MT: {examples}", example_col=chrom_col))
        start_col = _resolve(maf, "Start_Position")
        if start_col is not None:
            # try_cast, not cast: ANSI mode makes cast THROW on garbage
            s = qcol(start_col)
            maf_rules.append(RowRule(
                "release.maf_start_position", "error",
                s.isNotNull() & s.try_cast("bigint").isNull(),
                "release: data_mutations_extended.txt has {n} non-integer "
                "Start_Position value(s)"))
        # Variant_Classification domain (cBioPortal validateData's
        # MutationsExtendedValidator catalog): values outside the
        # accepted set break oncoprint/annotation rendering.  Null is
        # allowed (the column is optional in several importers).
        vc = _resolve(maf, "Variant_Classification")
        if vc is not None:
            maf_rules.append(RowRule(
                "release.maf_variant_classification", "error",
                qcol(vc).isNotNull() & ~qcol(vc).isin(sorted(_VARIANT_CLASSIFICATIONS)),
                "release: data_mutations_extended.txt has {n} "
                "Variant_Classification value(s) outside the cBioPortal "
                "accepted set: {examples}", example_col=vc))
        # allele charset (genie/validate.py:426-480
        # get_invalid_allele_rows + genie_registry/maf.py:157-159,
        # 409-416): bases from {A,T,C,G,N} in combination, or a pure
        # "-" run.  The reference calls it with ignore_case=True
        # (lowercase acgt is VALID) and allow_na=False (str.match with
        # na=False → a null allele IS a violation) — mirror both.
        allele_ok = r"(?i)^([ATCGN]+|-+)$"
        for logical in (
            "Reference_Allele", "Tumor_Seq_Allele1", "Tumor_Seq_Allele2"
        ):
            acol = _resolve(maf, logical)
            if acol is not None:
                maf_rules.append(RowRule(
                    "release.maf_allele_charset", "error",
                    qcol(acol).isNull() | ~qcol(acol).rlike(allele_ok),
                    f"release: data_mutations_extended.txt has {{n}} {logical} "
                    "value(s) outside A/T/C/G/N (or '-'), or null"))
        # one normalized reference build in the MAF (its agreement with
        # the SV file is the SV query's)
        maf_nb = _resolve(maf, "NCBI_Build")
        if maf_nb is not None:
            n_builds = _n_distinct(_build(qcol(maf_nb)))
            maf_rules.append(AggRule(
                "release.ncbi_build_consistency", "error",
                F.when(n_builds > 1, n_builds),
                "release: data_mutations_extended.txt carries {n} normalized "
                "NCBI_Build values; a study declares one reference genome"))
        checks.append(("data_mutations_extended.txt", maf, maf_rules))

    # --- NCBI build: SV domain + MAF↔SV consistency -----------------------
    # The reference's SV validator restricts NCBI_BUILD to
    # GRCh37/GRCh38 with NA allowed
    # (genie_registry/structural_variant.py:209-217
    # check_col_and_values); and a release whose MAF and SV disagree on
    # the normalized build imports coordinates from two genomes into
    # one cBioPortal study (the meta declares ONE reference_genome).
    sv_path = os.path.join(release_dir, "data_sv.txt")
    if os.path.isfile(sv_path):
        sv = read_delimited(spark, sv_path, comment=None)
        sv_rules = []
        sv_nb = _resolve(sv, "NCBI_BUILD")
        if sv_nb is not None:
            b = qcol(sv_nb)
            sv_rules.append(RowRule(
                "release.sv_ncbi_build", "error",
                _build(b).isNotNull() & ~F.trim(b).isin("GRCh37", "GRCh38"),
                "release: data_sv.txt has {n} NCBI_BUILD value(s) outside "
                "GRCh37/GRCh38: {examples}", example_col=sv_nb))
            # the MAF's distinct builds enter as one scalar subquery; a
            # MAF that disagrees with itself is the MAF query's message
            maf_builds = F.array().cast("array<string>")
            if maf_nb is not None:
                maf_builds = maf.agg(F.collect_set(_build(qcol(maf_nb)))).scalar()
            n_builds = F.size(F.array_union(F.collect_set(_build(b)), maf_builds))
            sv_rules.append(AggRule(
                "release.ncbi_build_consistency", "error",
                F.when((n_builds > 1) & (F.size(maf_builds) <= 1), n_builds),
                "release: data_sv.txt and data_mutations_extended.txt carry "
                "{n} normalized reference builds between them; a study "
                "declares one reference genome"))
        sv_sid = _resolve(sv, "SAMPLE_ID")
        if sv_sid is not None:
            sv_rules.append(_absent(
                "release.sv_samples", sv_sid, in_clinical(sv_sid),
                "release: data_sv.txt has {n} sample(s) absent from "
                "data_clinical.txt"))
            # profile ⊆ its case list (the cases_sequenced analogue for
            # the SV profile)
            if "cases_sv.txt" in case_ids:
                sv_rules.append(_absent(
                    "release.sv_case_list", sv_sid,
                    listed("cases_sv.txt", sv_sid),
                    "release: data_sv.txt has {n} sample(s) missing from "
                    "case_lists/cases_sv.txt"))
        checks.append(("data_sv.txt", sv, sv_rules))

    # --- gene matrix ↔ clinical and gene panel files ---------------------
    matrix_path = os.path.join(release_dir, "data_gene_matrix.txt")
    matrix = gm_sid = None
    if os.path.isfile(matrix_path):
        matrix = read_delimited(spark, matrix_path, comment=None)
        gm_rules = []
        gm_sid = _resolve(matrix, "SAMPLE_ID")
        gm_mut = _resolve(matrix, "mutations")
        if gm_sid is not None:
            gm_rules.append(_absent(
                "release.gene_matrix_samples", gm_sid, in_clinical(gm_sid),
                "release: data_gene_matrix.txt has {n} sample(s) absent from "
                "data_clinical.txt"))
            # duplicate matrix rows: the reference build dedups on
            # SAMPLE_ID before writing (database_to_staging.py:1628
            # drop_duplicates) — two rows for one sample give the
            # importer two panel claims and is a malformed release
            gm_rules.append(RowRule(
                "release.gene_matrix_dup_sample", "error", duplicated([gm_sid]),
                "release: data_gene_matrix.txt has {n} row(s) sharing a "
                "duplicated SAMPLE_ID (the reference dedups on SAMPLE_ID "
                "before writing): {examples}", example_col=gm_sid))
        if gm_mut is not None:
            # every referenced panel has a data_gene_panel_<id>.txt on
            # disk (genie/database_to_staging.py:809-859
            # store_gene_panel_files), WES assays exempt
            mut = qcol(gm_mut)
            panels = [n[len("data_gene_panel_"):-len(".txt")] for n in panel_files]
            no_file = mut.isNotNull() & ~mut.isin("", "NA", *sorted(panels))
            if bed_assays is not None:
                no_file &= panel_backed(bed_assays, F.col("__gs_assay"), gm_mut)
            gm_rules.append(RowRule(
                "release.gene_panel_files", "error", no_file,
                "release: {n} data_gene_matrix.txt row(s) reference panels "
                "with no data_gene_panel_<id>.txt on disk: {examples}",
                example_col=gm_mut))
            # matrix ↔ clinical assay agreement: the matrix IS
            # clinical's (SAMPLE_ID, SEQ_ASSAY_ID) projection renamed to
            # `mutations` (database_to_staging.py:1622-1626), so a
            # matrix row whose panel disagrees with the sample's
            # clinical assay id means the two artifacts were built from
            # different snapshots
            if gm_sid is not None and clin_assay is not None:
                assay = qcol(clin_assay)
                other_assay = clinical.where(
                    assay.isNotNull() & (assay != _outer(gm_mut)))
                gm_rules.append(RowRule(
                    "release.gene_matrix_assay_mismatch", "error",
                    _has(other_assay, qcol(clin_sid), gm_sid),
                    "release: data_gene_matrix.txt has {n} row(s) whose "
                    "`mutations` disagrees with the sample's clinical "
                    "SEQ_ASSAY_ID (the matrix is built from that column)"))
        checks.append(("data_gene_matrix.txt", matrix, gm_rules))

    # --- discrete CNA value domain --------------------------------------
    # (validateData.py: GISTIC-style calls must be -2/-1.5/-1/0/1/2 or
    # NA); one array over all sample columns, no per-column pass
    if os.path.isfile(cna_path):
        cna = read_delimited(spark, cna_path, comment=None)
        cna_samples = [c for c in cna.columns if c.lower() != "hugo_symbol"]
        if cna_samples:
            # accept both float-stripped ("-1") and plain-float ("-1.0")
            # renderings — cBioPortal parses either
            allowed = ["-2", "-1.5", "-1", "0", "1", "2", "NA", "",
                       "-2.0", "-1.0", "0.0", "1.0", "2.0"]
            vals = F.array(*[F.coalesce(qcol(c), F.lit("NA")) for c in cna_samples])
            checks.append(("data_CNA.txt", cna, [AggRule(
                "release.cna_values", "error",
                F.sum(F.size(F.filter(vals, lambda x: ~x.isin(allowed)))),
                "release: data_CNA.txt has {n} value(s) outside the "
                "discrete -2/-1.5/-1/0/1/2/NA domain")]))

    # --- seg numeric columns --------------------------------------------
    seg_path = os.path.join(release_dir, "genie_data_cna_hg19.seg")
    if os.path.isfile(seg_path):
        seg = read_delimited(spark, seg_path, comment=None)
        seg_rules = []
        for col_name in ("loc.start", "loc.end", "num.mark", "seg.mean"):
            actual = _resolve(seg, col_name)
            if actual is not None:
                v = qcol(actual)
                seg_rules.append(RowRule(
                    "release.seg_numeric", "error",
                    v.isNotNull() & v.try_cast("double").isNull(),
                    f"release: genie_data_cna_hg19.seg has {{n}} non-numeric "
                    f"{col_name} value(s)"))
        # coordinate sanity (reference genie_registry/seg.py validates
        # loc.start/loc.end as integer positions): a segment whose end
        # precedes its start, or with a non-positive coordinate, is
        # structurally impossible and poisons downstream interval joins
        s_col, e_col = _resolve(seg, "loc.start"), _resolve(seg, "loc.end")
        if s_col is not None and e_col is not None:
            s = qcol(s_col).try_cast("bigint")
            e = qcol(e_col).try_cast("bigint")
            seg_rules.append(RowRule(
                "release.seg_coordinates", "error",
                s.isNotNull() & e.isNotNull() & ((s > e) | (s <= 0) | (e <= 0)),
                "release: genie_data_cna_hg19.seg has {n} segment(s) with "
                "loc.start > loc.end or non-positive coordinates"))
        checks.append(("genie_data_cna_hg19.seg", seg, seg_rules))

    # --- driver-parsed lists ⊆ their data-sized parents -----------------
    def absent_from(rule_id: str, name: str, found: Column, what: str) -> RowRule:
        return RowRule(
            rule_id, "error", (F.col("source") == name) & ~found,
            f"release: {_literal(name)} lists {{n}} {what}: {{examples}}",
            example_col="id")

    list_rules = [
        absent_from("release.case_list_samples", name, in_clinical("id"),
                    "sample(s) absent from data_clinical.txt")
        for name in checked_lists
    ]
    if os.path.isfile(cna_path):
        list_rules.append(absent_from(
            "release.cna_samples", "data_CNA.txt", in_clinical("id"),
            "sample column(s) absent from data_clinical.txt"))
    if bed_gene is not None:
        list_rules += [
            absent_from("release.gene_panel_genes", name,
                        _has(bed, qcol(bed_gene), "id"),
                        "gene(s) absent from genomic_information.txt")
            for name in panel_genes
        ]
    # gene-matrix ↔ case-list cross-check (cBioPortal validateData: a
    # _sequenced sample with no matrix row has no panel the importer
    # can attribute its profile to).  WES samples are exempt — the
    # reference REMOVES WES rows from the matrix on purpose
    # (database_to_staging.py:1631-1632), mirroring the
    # gene_panel_files exemption.
    if gm_sid is not None and "cases_sequenced.txt" in case_ids:
        rule = absent_from(
            "release.gene_matrix_cases_sequenced", "cases_sequenced.txt",
            _has(matrix, qcol(gm_sid), "id"),
            "sample(s) with no data_gene_matrix.txt row (and a panel-backed "
            "assay — not WES-exempt)")
        if clin_assay is not None and bed_assays is not None:
            backed = clinical.join(
                bed_assays, qcol(clin_assay) == F.col("__gs_assay"), "left_semi")
            rule.violation &= panel_backed(backed, qcol(clin_sid), "id")
        list_rules.append(rule)
    checks.append(("driver-parsed lists", lists, list_rules))

    for fname, df, rules in checks:
        msgs.extend(RuleSet(fname, rules).validate(df.alias(_CHILD)).messages)
    return ValidationReport("release", msgs)
