"""Rule sets for the genomic formats: MAF, VCF, BED, CNA (long form),
SEG, SV, assay info, mutationsInCis (SURVEY.md §2.10)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from genie_spark.functions.scalars import (
    allele_ok,
    chromosome_ok,
    genie_id_ok,
    is_integer_string,
)
from genie_spark.rules.engine import (
    AggRule,
    FrameRule,
    RowRule,
    RuleSet,
    ValidationMessage,
    duplicated,
    no_duplicate_keys,
    qcol,
    required_columns,
)
from genie_spark.schemas import (
    BREAKPOINT_TYPES,
    CNA_VALUES,
    CONNECTION_TYPES,
    MAF_REQUIRED,
    NCBI_BUILDS,
    SEG_REQUIRED,
    SUPPORT_VALUES,
    SV_INT_COLS,
    SV_REGIONS,
    SV_REQUIRED,
)

# ---------------------------------------------------------------------------
# MAF (genie_registry/maf.py:179-427)
# ---------------------------------------------------------------------------

MAF_VARIANT_KEY = [
    "CHROMOSOME", "START_POSITION", "REFERENCE_ALLELE",
    "TUMOR_SAMPLE_BARCODE", "TUMOR_SEQ_ALLELE2",
]


def maf_rules(center: str) -> RuleSet:
    num = lambda c: F.col(c).isNotNull() & F.col(c).try_cast("double").isNull()  # noqa: E731
    tsa1 = F.col("TUMOR_SEQ_ALLELE1")

    def depth_or_ref_required(df: DataFrame) -> list[ValidationMessage]:
        # t_depth or t_ref_count must be present (maf.py:301-304)
        if "T_DEPTH" not in df.columns and "T_REF_COUNT" not in df.columns:
            return [
                ValidationMessage(
                    "maf.depth_or_ref", "error",
                    "Mutation File: must contain T_DEPTH or T_REF_COUNT.",
                )
            ]
        return []

    def first_column_check(df: DataFrame) -> list[ValidationMessage]:
        # the file's FIRST column must be one of these (maf.py:217,267-271
        # — column order matters to the downstream annotator)
        allowed = ["CHROMOSOME", "HUGO_SYMBOL", "TUMOR_SAMPLE_BARCODE"]
        if df.columns and df.columns[0].upper() not in allowed:
            return [
                ValidationMessage(
                    "maf.first_column", "error",
                    "Mutation File: First column header must be one of "
                    f"these: {', '.join(allowed)}.",
                )
            ]
        return []

    def optional_headers_check(df: DataFrame) -> list[ValidationMessage]:
        # WARNING when informative-but-optional count columns are
        # absent (maf.py:238,334-357)
        optional = ["T_REF_COUNT", "N_DEPTH", "N_REF_COUNT", "N_ALT_COUNT"]
        missing = [c for c in optional if c not in df.columns]
        if missing:
            return [
                ValidationMessage(
                    "maf.optional_headers", "warning",
                    "Mutation File: does not have the column headers that "
                    "can give extra information to the processed "
                    f"mutation file: {', '.join(missing)}.",
                )
            ]
        return []

    rules = [
        required_columns("maf", MAF_REQUIRED),
        no_duplicate_keys("maf", MAF_VARIANT_KEY, description="variant key"),
        FrameRule("maf.depth_or_ref", depth_or_ref_required),
        # global TSA1 convention check (genie_registry/maf.py:14-112):
        # when all three allele columns exist, EVERY TSA1 must equal REF
        # or EVERY TSA1 must equal TSA2 (Genome Nexus uses TSA1 when the
        # variant is ambiguous, so a mixed convention is unannotatable).
        # n = the smaller of the two conventions' violation counts.
        AggRule(
            "maf.tsa1_convention", "error",
            F.least(
                F.count(F.when(~tsa1.eqNullSafe(F.col("REFERENCE_ALLELE")), 1)),
                F.count(F.when(~tsa1.eqNullSafe(F.col("TUMOR_SEQ_ALLELE2")), 1)),
            ),
            "Mutation File: contains both TUMOR_SEQ_ALLELE1 and "
            "TUMOR_SEQ_ALLELE2 columns; all TUMOR_SEQ_ALLELE1 values "
            "must match REFERENCE_ALLELE or all must match "
            "TUMOR_SEQ_ALLELE2.",
            required_cols=["TUMOR_SEQ_ALLELE1", "TUMOR_SEQ_ALLELE2", "REFERENCE_ALLELE"],
        ),
        FrameRule("maf.first_column", first_column_check),
        FrameRule("maf.optional_headers", optional_headers_check),
        RowRule(
            "maf.chromosome", "error",
            ~chromosome_ok("CHROMOSOME"),
            "Mutation File: {n} CHROMOSOME value(s) outside 1-22, X, Y, MT "
            "(no 'chr' prefix): {examples}",
            example_col="CHROMOSOME", required_cols=["CHROMOSOME"],
        ),
        RowRule(
            "maf.start_position", "error",
            ~is_integer_string("START_POSITION"),
            "Mutation File: {n} non-integer START_POSITION value(s).",
            required_cols=["START_POSITION"],
        ),
        RowRule(
            "maf.reference_allele", "error",
            F.col("REFERENCE_ALLELE").isNull() | ~allele_ok("REFERENCE_ALLELE"),
            "Mutation File: {n} REFERENCE_ALLELE value(s) missing or outside "
            "[ATCGN]+/-: {examples}",
            example_col="REFERENCE_ALLELE", required_cols=["REFERENCE_ALLELE"],
        ),
        RowRule(
            "maf.tumor_seq_allele2", "error",
            F.col("TUMOR_SEQ_ALLELE2").isNull() | ~allele_ok("TUMOR_SEQ_ALLELE2"),
            "Mutation File: {n} TUMOR_SEQ_ALLELE2 value(s) missing or outside "
            "[ATCGN]+/-: {examples}",
            example_col="TUMOR_SEQ_ALLELE2", required_cols=["TUMOR_SEQ_ALLELE2"],
        ),
        # REF must differ from TSA2 rowwise (maf.py:113-123)
        RowRule(
            "maf.ref_equals_tsa2", "error",
            F.col("REFERENCE_ALLELE") == F.col("TUMOR_SEQ_ALLELE2"),
            "Mutation File: {n} row(s) where REFERENCE_ALLELE equals "
            "TUMOR_SEQ_ALLELE2.",
            required_cols=["REFERENCE_ALLELE", "TUMOR_SEQ_ALLELE2"],
        ),
        RowRule(
            "maf.barcode_format", "error",
            ~genie_id_ok("TUMOR_SAMPLE_BARCODE", center),
            "Mutation File: {n} TUMOR_SAMPLE_BARCODE(s) not prefixed "
            f"GENIE-{center}: {{examples}}",
            example_col="TUMOR_SAMPLE_BARCODE",
            required_cols=["TUMOR_SAMPLE_BARCODE"],
        ),
        # start ≤ end is a WARNING (genie/validate.py:371-398)
        RowRule(
            "maf.start_gt_end", "warning",
            F.col("START_POSITION").try_cast("long")
            > F.col("END_POSITION").try_cast("long"),
            "Mutation File: {n} row(s) with START_POSITION > END_POSITION.",
            required_cols=["START_POSITION", "END_POSITION"],
        ),
    ]
    for c in ["T_DEPTH", "T_REF_COUNT", "T_ALT_COUNT", "N_DEPTH", "N_REF_COUNT", "N_ALT_COUNT"]:
        rules.append(
            RowRule(
                f"maf.numeric.{c.lower()}", "error", num(c),
                f"Mutation File: {{n}} non-numeric {c} value(s).",
                required_cols=[c],
            )
        )
    return RuleSet("maf", rules)


MUTATIONS_IN_CIS_REQUIRED = [
    "Flag", "Center", "Tumor_Sample_Barcode", "Hugo_Symbol", "HGVSp_Short",
    "Variant_Classification", "Chromosome", "Start_Position",
    "Reference_Allele", "Tumor_Seq_Allele2", "t_alt_count_num", "t_depth",
]
MUTATIONS_IN_CIS_KEY = [
    "Tumor_Sample_Barcode", "HGVSp_Short", "Start_Position",
    "Reference_Allele", "Tumor_Seq_Allele2",
]


def mutations_in_cis_rules(center: str) -> RuleSet:
    """mutationsInCis upload validation (reference
    genie_registry/mutationsInCis.py:48-118): required headers +
    GENIE-identifier barcodes.  The rows-must-exist-in-DB check needs
    the warehouse mergecheck table and is added by the CLI as a
    ``concat_key_subset_of`` cross-file rule on MUTATIONS_IN_CIS_KEY."""
    return RuleSet(
        "mutationsInCis",
        [
            required_columns("mutationsInCis", MUTATIONS_IN_CIS_REQUIRED),
            RowRule(
                "mutationsInCis.barcode_format", "error",
                ~genie_id_ok("Tumor_Sample_Barcode", center),
                "Mutations In Cis Filter File: {n} Tumor_Sample_Barcode(s) "
                f"not prefixed GENIE-{center}: {{examples}}",
                example_col="Tumor_Sample_Barcode",
                required_cols=["Tumor_Sample_Barcode"],
            ),
        ],
    )


# ---------------------------------------------------------------------------
# VCF (genie_registry/vcf.py:102-273)
# ---------------------------------------------------------------------------

_VCF_FIXED = ("#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER",
              "INFO", "FORMAT")


def vcf_sample_columns(center: str | None = None) -> FrameRule:
    """Tumor/normal sample-column shape rule
    (genie_registry/vcf.py:175-273): ≤11 columns total; 11 ⇒ matched
    tumor+normal pair, where BOTH columns must be GENIE-{center}
    identifiers (``TUMOR`` is never accepted here,
    genie_registry/vcf.py:227-241); 10 ⇒ single tumor sample (named
    TUMOR, or a GENIE-{center} id when no TUMOR column exists); <10 ⇒
    missing the sample column; any present sample column must have no
    missing values.  Identifier checks mirror
    genie/process_functions.py:199-222 (GENIE-{center} prefix, <50
    chars).  Column-count logic is metadata-only; the null scan is one
    RowRule per sample column."""

    def check(df: DataFrame) -> list[ValidationMessage | RowRule]:
        out: list[ValidationMessage | RowRule] = []

        def err(rid, text):
            out.append(ValidationMessage(rid, "error", text, n_violations=1))

        def check_identifier(c: str, role: str) -> None:
            if center is None:
                return
            if not c.startswith(f"GENIE-{center}"):
                err("vcf.sample_column_id",
                    f"vcf: {role} must start with GENIE-{center}")
            if len(c) >= 50:
                err("vcf.sample_column_id",
                    f"vcf: {role} must have less than 50 characters.")

        ncols = len(df.columns)
        sample_cols: list[str] = []
        if ncols > 11:
            err("vcf.max_columns",
                "vcf: Should not have more than 11 columns. Only single "
                "sample or matched tumor normal vcf files are accepted.")
        elif ncols == 11:
            # matched pair: both must be GENIE-{center} ids, never TUMOR
            sample_cols = list(df.columns[-2:])
            check_identifier(sample_cols[0], "tumor sample column")
            check_identifier(sample_cols[1], "normal sample column")
        elif ncols == 10:
            if "TUMOR" in df.columns:
                sample_cols = ["TUMOR"]
            else:
                sample_cols = [df.columns[-1]]
                check_identifier(sample_cols[0], "tumor sample column")
        else:
            err("vcf.min_columns",
                "vcf: Must have at least 10 columns (missing the tumor "
                "sample column, or both tumor and normal sample columns).")
        for c in sample_cols:
            name = c.replace("{", "{{").replace("}", "}}")
            out.append(
                RowRule(
                    "vcf.sample_column_nulls", "error",
                    qcol(c).isNull() | (qcol(c) == ""),
                    f"vcf: Must not have missing values in {name} column.",
                )
            )
        return out

    return FrameRule("vcf.sample_columns", check)


def vcf_rules(center: str | None = None) -> RuleSet:
    ws = F.col("INFO").contains(" ") | F.col("FILTER").contains(" ")
    return RuleSet(
        "vcf",
        [
            required_columns("vcf", list(_VCF_FIXED)),
            no_duplicate_keys("vcf", ["#CHROM", "POS", "REF", "ALT"], description="variant"),
            RowRule(
                "vcf.chrom", "error",
                ~chromosome_ok("#CHROM", allow_chr_prefix=False),
                "VCF File: {n} #CHROM value(s) invalid (no 'chr' prefix "
                "allowed): {examples}",
                example_col="#CHROM", required_cols=["#CHROM"],
            ),
            RowRule(
                "vcf.pos_int", "error",
                ~is_integer_string("POS"),
                "VCF File: {n} non-integer POS value(s).",
                required_cols=["POS"],
            ),
            RowRule(
                "vcf.ref_allele", "error",
                F.col("REF").isNull() | ~allele_ok("REF"),
                "VCF File: {n} REF value(s) outside [ATCGN]+: {examples}",
                example_col="REF", required_cols=["REF"],
            ),
            RowRule(
                "vcf.whitespace", "warning", ws,
                "VCF File: {n} row(s) contain whitespace in INFO/FILTER.",
                required_cols=["INFO", "FILTER"],
            ),
            # null #CHROM/POS ⇒ likely space-delimited upload
            # (genie_registry/vcf.py:128-133)
            RowRule(
                "vcf.space_delimited", "error",
                F.col("#CHROM").isNull() | F.col("POS").isNull(),
                "vcf: {n} row(s) may be space delimited instead of tab "
                "delimited.",
                required_cols=["#CHROM", "POS"],
            ),
            RowRule(
                "vcf.format_nulls", "error",
                F.col("FORMAT").isNull() | (F.col("FORMAT") == ""),
                "vcf: Must not have missing values in FORMAT column "
                "({n} row(s)).",
                required_cols=["FORMAT"],
            ),
            vcf_sample_columns(center),
        ],
    )


# ---------------------------------------------------------------------------
# BED (genie_registry/bed.py:616-718)
# ---------------------------------------------------------------------------

def bed_rules() -> RuleSet:
    return RuleSet(
        "bed",
        [
            required_columns("bed", ["Chromosome", "Start_Position", "End_Position", "Hugo_Symbol", "includeInPanel"]),
            RowRule(
                "bed.chromosome", "error",
                ~chromosome_ok("Chromosome", allow_chr_prefix=True),
                "BED File: {n} Chromosome value(s) invalid: {examples}",
                example_col="Chromosome", required_cols=["Chromosome"],
            ),
            RowRule(
                "bed.int_positions", "error",
                F.col("Start_Position").try_cast("long").isNull()
                | F.col("End_Position").try_cast("long").isNull(),
                "BED File: {n} row(s) with non-integer Start/End_Position.",
                required_cols=["Start_Position", "End_Position"],
            ),
            RowRule(
                "bed.symbol_null", "error",
                F.col("Hugo_Symbol").isNull() | F.col("Hugo_Symbol").isin("+", "-"),
                "BED File: {n} null/strand Hugo_Symbol value(s).",
                required_cols=["Hugo_Symbol"],
            ),
            RowRule(
                "bed.include_in_panel", "error",
                ~F.col("includeInPanel").isin("True", "False", "true", "false", "TRUE", "FALSE"),
                "BED File: {n} non-boolean includeInPanel value(s): {examples}",
                example_col="includeInPanel", required_cols=["includeInPanel"],
            ),
        ],
    )


# ---------------------------------------------------------------------------
# CNA long form (genie_registry/cna.py:178-279)
# ---------------------------------------------------------------------------

def cna_rules(center: str) -> RuleSet:
    return RuleSet(
        "cna",
        [
            required_columns("cna", ["Hugo_Symbol", "SAMPLE_ID", "value"]),
            RowRule(
                "cna.value_domain", "error",
                F.col("value").isNotNull() & ~F.col("value").isin(CNA_VALUES),
                f"CNA File: {{n}} value(s) outside {CNA_VALUES}: {{examples}}",
                example_col="value", required_cols=["value"],
            ),
            RowRule(
                "cna.sample_format", "error",
                ~genie_id_ok("SAMPLE_ID", center),
                "CNA File: {n} sample column(s) not prefixed "
                f"GENIE-{center}: {{examples}}",
                example_col="SAMPLE_ID", required_cols=["SAMPLE_ID"],
            ),
            no_duplicate_keys(
                "cna", ["Hugo_Symbol", "SAMPLE_ID"],
                description="gene-sample pair after remap",
            ),
        ],
    )


# ---------------------------------------------------------------------------
# SEG (genie_registry/seg.py:53-97)
# ---------------------------------------------------------------------------

def seg_rules(center: str) -> RuleSet:
    any_null = None
    for c in SEG_REQUIRED:
        n = qcol(c).isNull()
        any_null = n if any_null is None else (any_null | n)
    return RuleSet(
        "seg",
        [
            required_columns("seg", SEG_REQUIRED),
            RowRule(
                "seg.no_nulls", "error", any_null,
                "SEG File: {n} row(s) contain null values.",
                required_cols=SEG_REQUIRED,
            ),
            RowRule(
                "seg.id_format", "error",
                ~genie_id_ok("ID", center),
                f"SEG File: {{n}} ID(s) not prefixed GENIE-{center}: {{examples}}",
                example_col="ID", required_cols=["ID"],
            ),
            RowRule(
                "seg.int_cols", "error",
                ~is_integer_string(qcol("LOC.START").cast("string"))
                | ~is_integer_string(qcol("LOC.END").cast("string"))
                | ~is_integer_string(qcol("NUM.MARK").cast("string")),
                "SEG File: {n} row(s) with non-integer LOC.START/LOC.END/NUM.MARK.",
                required_cols=["LOC.START", "LOC.END", "NUM.MARK"],
            ),
            RowRule(
                "seg.mean_numeric", "error",
                qcol("SEG.MEAN").isNotNull()
                & qcol("SEG.MEAN").cast("string").try_cast("double").isNull(),
                "SEG File: {n} non-numeric SEG.MEAN value(s).",
                required_cols=["SEG.MEAN"],
            ),
            # reference runs validate._validate_chromosome on CHROM with
            # allow_chr=True (genie_registry/seg.py:77-81 →
            # genie/validate.py:170-215): the chr prefix is only a
            # WARNING, and the 1-22/X/Y domain check runs on the
            # stripped value
            RowRule(
                "seg.chromosome", "error",
                ~chromosome_ok("CHROM", allow_chr_prefix=True),
                "Seg: {n} invalid CHROM value(s): {examples}",
                example_col="CHROM", required_cols=["CHROM"],
            ),
            RowRule(
                "seg.chr_prefix", "warning",
                F.col("CHROM").cast("string").startswith("chr"),
                "Seg: Should not have the chr prefix in front of "
                "chromosomes ({n} row(s)).",
                required_cols=["CHROM"],
            ),
        ],
    )


# ---------------------------------------------------------------------------
# SV (genie_registry/structural_variant.py:64-275)
# ---------------------------------------------------------------------------

def sv_rules(center: str) -> RuleSet:
    def dom(col: str, values, rid: str) -> RowRule:
        return RowRule(
            rid, "error",
            F.col(col).isNotNull() & ~F.col(col).isin(list(values)),
            f"Structural Variant File: {{n}} {col} value(s) not in {list(values)}: "
            "{examples}",
            example_col=col, required_cols=[col],
        )

    rules = [
        required_columns("sv", SV_REQUIRED),
        RowRule(
            "sv.sample_format", "error",
            ~genie_id_ok("SAMPLE_ID", center),
            "Structural Variant File: {n} SAMPLE_ID(s) not prefixed "
            f"GENIE-{center}: {{examples}}",
            example_col="SAMPLE_ID", required_cols=["SAMPLE_ID"],
        ),
        dom("SV_STATUS", ["SOMATIC"], "sv.status"),
        dom("SITE1_REGION", SV_REGIONS, "sv.site1_region"),
        dom("SITE2_REGION", SV_REGIONS, "sv.site2_region"),
        dom("NCBI_BUILD", NCBI_BUILDS, "sv.ncbi_build"),
        dom("BREAKPOINT_TYPE", BREAKPOINT_TYPES, "sv.breakpoint_type"),
        dom("CONNECTION_TYPE", CONNECTION_TYPES, "sv.connection_type"),
        dom("DNA_SUPPORT", SUPPORT_VALUES, "sv.dna_support"),
        dom("RNA_SUPPORT", SUPPORT_VALUES, "sv.rna_support"),
    ]
    for c in SV_INT_COLS:
        rules.append(
            RowRule(
                f"sv.int.{c.lower()}", "error",
                F.col(c).isNotNull() & ~is_integer_string(c),
                f"Structural Variant File: {{n}} non-integer {c} value(s).",
                required_cols=[c],
            )
        )
    # no fully-duplicated rows (structural_variant.py:87-88)
    rules.append(
        FrameRule(
            "sv.duplicate_rows",
            lambda df: [
                RowRule(
                    "sv.duplicate_rows", "error", duplicated(df.columns),
                    "Structural Variant File: {n} row(s) are fully duplicated.",
                )
            ],
        )
    )
    return RuleSet("sv", rules)


# ---------------------------------------------------------------------------
# Assay info (genie_registry/assay.py:131-427)
# ---------------------------------------------------------------------------

# Static fixtures for the GDC read_group enums the reference fetches
# over HTTP at validation time (genie_registry/assay.py:161-218 pulls
# the public GDC data dictionary; network sources stay pluggable —
# SURVEY §7.3).  Pass explicit lists to assay_rules to use live values.
GDC_LIBRARY_SELECTION = [
    "Affinity Enrichment", "Hybrid Selection", "PCR", "Poly-T Enrichment",
    "Random", "rRNA Depletion", "miRNA Size Fractionation",
    "Targeted Sequencing", "Other",
]
GDC_LIBRARY_STRATEGY = ["Targeted Sequencing", "WXS"]
GDC_PLATFORMS = [
    "Illumina", "Ion Torrent", "LS454", "SOLiD", "PacBio",
    "Complete Genomics", "Nanopore", "BGI", "Other",
]
# genie_registry/assay.py:210-216 extends the GDC instrument_model enum
GDC_INSTRUMENT_MODELS = [
    "Illumina HiSeq 2000", "Illumina HiSeq 2500", "Illumina HiSeq 4000",
    "Illumina HiSeq X", "Illumina MiSeq", "Illumina NextSeq 500",
    "Illumina NextSeq 550", "Illumina NovaSeq 6000", "Ion Torrent PGM",
    "Ion Torrent Proton", "Ion Torrent S5", "Other",
]
# genie_registry/assay.py:226-247 variant_classifications domain
ASSAY_VARIANT_CLASSES = [
    "Splice_Site", "Nonsense_Mutation", "Frame_Shift_Del",
    "Frame_Shift_Ins", "Nonstop_Mutation", "Translation_Start_Site",
    "In_Frame_Ins", "In_Frame_Del", "Missense_Mutation", "Intron",
    "Splice_Region", "Silent", "RNA", "5'UTR", "3'UTR", "IGR",
    "5'Flank", "3'Flank",
]
ASSAY_REQUIRED_COLUMNS = [
    "SEQ_ASSAY_ID", "is_paired_end", "library_selection",
    "library_strategy", "platform", "instrument_model",
    "target_capture_kit", "read_length", "number_of_genes",
]


def assay_rules(
    center: str,
    library_selection: list[str] | None = None,
    library_strategy: list[str] | None = None,
    platforms: list[str] | None = None,
    instrument_models: list[str] | None = None,
) -> RuleSet:
    library_selection = library_selection or GDC_LIBRARY_SELECTION
    library_strategy = library_strategy or GDC_LIBRARY_STRATEGY
    platforms = platforms or GDC_PLATFORMS
    instrument_models = instrument_models or GDC_INSTRUMENT_MODELS
    return RuleSet(
        "assayinfo",
        [
            # the reference's check_col_and_values(required=True) calls
            # make every domain-checked column required
            # (genie_registry/assay.py:167-271)
            required_columns("assayinfo", ASSAY_REQUIRED_COLUMNS),
            RowRule(
                "assay.is_paired_end", "error",
                F.col("is_paired_end").isNotNull()
                & ~F.upper(F.col("is_paired_end").cast("string")).isin(
                    "TRUE", "FALSE"
                ),
                "Assay_information.yaml: {n} is_paired_end value(s) not "
                "True/False: {examples}",
                example_col="is_paired_end", required_cols=["is_paired_end"],
            ),
            RowRule(
                "assay.instrument_model", "error",
                F.col("instrument_model").isNotNull()
                & ~F.col("instrument_model").isin(instrument_models),
                "Assay_information.yaml: {n} instrument_model value(s) "
                "outside the GDC domain: {examples}",
                example_col="instrument_model",
                required_cols=["instrument_model"],
            ),
            RowRule(
                # semicolon-separated multi-values, each must be in the
                # domain; null allowed (assay.py:226-256, na_allowed)
                "assay.variant_classifications", "error",
                F.col("variant_classifications").isNotNull()
                & F.exists(
                    F.split(F.col("variant_classifications").cast("string"), ";"),
                    lambda x: ~F.trim(x).isin(ASSAY_VARIANT_CLASSES),
                ),
                "Assay_information.yaml: {n} variant_classifications "
                "value(s) outside the MAF class domain: {examples}",
                example_col="variant_classifications",
                required_cols=["variant_classifications"],
            ),
            RowRule(
                "assay.number_of_genes_int", "error",
                F.col("number_of_genes").isNotNull()
                & ~is_integer_string("number_of_genes"),
                "Assay_information.yaml: {n} non-integer number_of_genes "
                "value(s).",
                required_cols=["number_of_genes"],
            ),
            RowRule(
                # the reference's checkInt loop covers read_length too
                # (genie_registry/assay.py:258-270): null allowed,
                # non-integer string errors
                "assay.read_length_int", "error",
                F.col("read_length").isNotNull()
                & ~is_integer_string("read_length"),
                "Assay_information.yaml: {n} non-integer read_length "
                "value(s).",
                required_cols=["read_length"],
            ),
            RowRule(
                "assay.seq_assay_prefix", "error",
                ~F.upper(F.col("SEQ_ASSAY_ID")).startswith(center.upper()),
                f"Assay_information.yaml: {{n}} SEQ_ASSAY_ID(s) not prefixed "
                f"{center}: {{examples}}",
                example_col="SEQ_ASSAY_ID", required_cols=["SEQ_ASSAY_ID"],
            ),
            RowRule(
                "assay.library_selection", "error",
                F.col("library_selection").isNotNull()
                & ~F.col("library_selection").isin(library_selection),
                "Assay_information.yaml: {n} library_selection value(s) outside "
                "the GDC domain: {examples}",
                example_col="library_selection", required_cols=["library_selection"],
            ),
            RowRule(
                "assay.library_strategy", "error",
                F.col("library_strategy").isNotNull()
                & ~F.col("library_strategy").isin(library_strategy),
                "Assay_information.yaml: {n} library_strategy value(s) outside "
                "the GDC domain: {examples}",
                example_col="library_strategy", required_cols=["library_strategy"],
            ),
            RowRule(
                "assay.platform", "error",
                F.col("platform").isNotNull() & ~F.col("platform").isin(platforms),
                "Assay_information.yaml: {n} platform value(s) outside the GDC "
                "domain: {examples}",
                example_col="platform", required_cols=["platform"],
            ),
        ],
    )
