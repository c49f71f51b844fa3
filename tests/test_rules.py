"""Validation-rule tests — the reference's test pattern (small inline
frames, per-rule failure cases; tests/test_clinical.py, test_maf.py)."""

from __future__ import annotations

import pytest

from genie_spark.rules.clinical import patient_rules, sample_rules
from genie_spark.rules.genomic import (
    bed_rules,
    cna_rules,
    maf_rules,
    seg_rules,
    sv_rules,
    vcf_rules,
)

CENTER = "SAGE"


def _valid_sample(spark):
    return spark.createDataFrame(
        [
            ("GENIE-SAGE-1-1", "GENIE-SAGE-1", "36500", "LUAD", "1", "SAGE-PANEL-1", "Tumor"),
            ("GENIE-SAGE-2-1", "GENIE-SAGE-2", "40000", "UNKNOWN", "8", "SAGE-PANEL-1", "cfDNA"),
        ],
        ["SAMPLE_ID", "PATIENT_ID", "AGE_AT_SEQ_REPORT", "ONCOTREE_CODE",
         "SAMPLE_TYPE", "SEQ_ASSAY_ID", "SAMPLE_CLASS"],
    )


def rule_ids(report):
    return {m.rule_id for m in report.errors}


def test_valid_sample_file_passes(spark):
    report = sample_rules(CENTER, oncotree_codes=["LUAD", "BRCA"]).validate(_valid_sample(spark))
    assert report.is_valid, report.render()


def test_sample_rule_failures(spark):
    df = spark.createDataFrame(
        [
            # bad id prefix, bad age, bad oncotree, seq assay wrong prefix
            ("OTHER-1-1", "OTHER-1", "abc", "NOPE", "1", "XX-1", "Tumor"),
            # dup SAMPLE_ID pair + cfDNA mismatch
            ("GENIE-SAGE-3-1", "GENIE-SAGE-3", "50", "LUAD", "8", "SAGE-1", "Tumor"),
            ("GENIE-SAGE-3-1", "GENIE-SAGE-3", "50", "LUAD", "1", "SAGE-1", "Tumor"),
        ],
        ["SAMPLE_ID", "PATIENT_ID", "AGE_AT_SEQ_REPORT", "ONCOTREE_CODE",
         "SAMPLE_TYPE", "SEQ_ASSAY_ID", "SAMPLE_CLASS"],
    )
    ids = rule_ids(sample_rules(CENTER, oncotree_codes=["LUAD"]).validate(df))
    for expected in [
        "clinical_sample.duplicate_keys", "clinical.sample_id_format",
        "clinical.patient_id_format", "clinical.age_at_seq_report",
        "clinical.oncotree_code", "clinical.seq_assay_id",
        "clinical.cfdna_sample_type", "clinical.age_median",
    ]:
        assert expected in ids, f"missing {expected}: {ids}"


def test_sample_missing_columns_and_seq_date(spark):
    df = spark.createDataFrame([("GENIE-SAGE-1-1", "Jan-2017")], ["SAMPLE_ID", "SEQ_DATE"])
    ids = rule_ids(sample_rules(CENTER).validate(df))
    assert "clinical_sample.required_columns" in ids
    assert "clinical.seq_date_deprecated" in ids


def test_clinical_empty_rows(spark):
    """Fully-empty rows are an error (clinical.py:820-825); partially
    empty rows are not."""
    df = spark.createDataFrame(
        [("GENIE-SAGE-1-1", "x"), (None, ""), ("", None), ("GENIE-SAGE-2-1", None)],
        "SAMPLE_ID string, SAMPLE_CLASS string",
    )
    report = sample_rules(CENTER).validate(df)
    by_id = {m.rule_id: m for m in report.messages}
    assert by_id["clinical.empty_rows"].n_violations == 2


def test_patient_rules(spark):
    df = spark.createDataFrame(
        [
            ("GENIE-SAGE-1", "1", "1", "1", "1", "1", "1950", "2010", "2005",
             "20000", "19000", "True"),   # YEAR_DEATH < YEAR_CONTACT, INT_DOD < INT_CONTACT
            ("GENIE-SAGE-2", "7", "1", "1", "1", "1", "3020", "Unknown",
             "Not Applicable", "Unknown", "Not Applicable", "maybe"),  # bad sex code, future year, bad DEAD
        ],
        ["PATIENT_ID", "SEX", "PRIMARY_RACE", "SECONDARY_RACE", "TERTIARY_RACE",
         "ETHNICITY", "BIRTH_YEAR", "YEAR_CONTACT", "YEAR_DEATH", "INT_CONTACT",
         "INT_DOD", "DEAD"],
    )
    ids = rule_ids(patient_rules(CENTER).validate(df))
    for expected in [
        "clinical.sex_code", "clinical.birth_year", "clinical.death_before_contact",
        "clinical.dod_before_contact", "clinical.dead_domain",
    ]:
        assert expected in ids, f"missing {expected}: {ids}"


def test_int_year_consistency_and_dead_sentinels(spark):
    df = spark.createDataFrame(
        [
            # year known with Unknown interval → VALID (ref example)
            ("GENIE-SAGE-1", "1", "1", "1", "1950", "2012", "Not Applicable",
             "Unknown", "Not Applicable", "False"),
            # interval numeric but year Not Collected → text inconsistency
            ("GENIE-SAGE-2", "1", "1", "1", "1950", "Not Collected",
             "Not Applicable", "20000", "Not Applicable", "False"),
            # redaction marker on interval only → redaction inconsistency
            ("GENIE-SAGE-3", "1", "1", "1", "1950", "2012", "1999",
             ">32485", "30000", "True"),
            # DEAD sentinel not equal to INT_DOD sentinel
            ("GENIE-SAGE-4", "1", "1", "1", "1950", "2012", "Not Applicable",
             "20000", "Not Applicable", "Unknown"),
        ],
        ["PATIENT_ID", "SEX", "PRIMARY_RACE", "ETHNICITY", "BIRTH_YEAR",
         "YEAR_CONTACT", "YEAR_DEATH", "INT_CONTACT", "INT_DOD", "DEAD"],
    )
    report = patient_rules(CENTER).validate(df)
    ids = rule_ids(report)
    assert "clinical.contact_consistency" in ids
    assert "clinical.dead_int_dod_consistency" in ids
    by_id = {m.rule_id: m for m in report.messages}
    # rows 2 and 3 trip contact consistency; row 1 must not
    assert by_id["clinical.contact_consistency"].n_violations == 2


def test_sex_oncotree_and_sample_type_domain(spark):
    from genie_spark.rules.clinical import (
        sample_type_domain_rule,
        sex_oncotree_consistency,
    )
    from genie_spark.rules.engine import RuleSet

    oncotree = spark.createDataFrame(
        [("PRAD", "PROSTATE"), ("BRCA", "BREAST"), ("OV", "OVARY")],
        ["ONCOTREE_CODE", "ONCOTREE_PRIMARY_NODE"],
    )
    df = spark.createDataFrame(
        [
            ("GENIE-SAGE-1-1", "GENIE-SAGE-1", "PRAD", "2", "1"),  # prostate+female → flag
            ("GENIE-SAGE-2-1", "GENIE-SAGE-2", "OV", "2", "1"),    # ovary+female OK
            ("GENIE-SAGE-3-1", "GENIE-SAGE-3", "BRCA", "1", "77"), # sample type out of domain
        ],
        ["SAMPLE_ID", "PATIENT_ID", "ONCOTREE_CODE", "SEX", "SAMPLE_TYPE"],
    )
    report = RuleSet(
        "clinical_sample",
        [sex_oncotree_consistency(oncotree), sample_type_domain_rule([1, 2, 8, 99])],
    ).validate(df)
    by_id = {m.rule_id: m for m in report.messages}
    assert by_id["clinical.sex_oncotree"].severity == "warning"
    assert by_id["clinical.sex_oncotree"].examples == ["GENIE-SAGE-1-1"]
    assert by_id["clinical.sample_type_domain"].n_violations == 1


def _valid_maf(spark):
    return spark.createDataFrame(
        [
            ("1", "100", "101", "A", "A", "T", "GENIE-SAGE-1-1", "100", "90", "10"),
            ("X", "500", "500", "NA", "NA", "C", "GENIE-SAGE-2-1", "80", "70", "10"),
        ],
        ["CHROMOSOME", "START_POSITION", "END_POSITION", "REFERENCE_ALLELE",
         "TUMOR_SEQ_ALLELE1", "TUMOR_SEQ_ALLELE2", "TUMOR_SAMPLE_BARCODE",
         "T_DEPTH", "T_REF_COUNT", "T_ALT_COUNT"],
    )


def test_valid_maf_passes(spark):
    report = maf_rules(CENTER).validate(_valid_maf(spark))
    assert report.is_valid, report.render()


def test_maf_rule_failures(spark):
    df = spark.createDataFrame(
        [
            ("chr1", "abc", "50", "Z", "A", "A", "OTHER-1", "x", "1", "1"),
            ("25", "100", "101", "A", "A", "A", "GENIE-SAGE-1-1", "100", "90", "10"),
        ],
        ["CHROMOSOME", "START_POSITION", "END_POSITION", "REFERENCE_ALLELE",
         "TUMOR_SEQ_ALLELE1", "TUMOR_SEQ_ALLELE2", "TUMOR_SAMPLE_BARCODE",
         "T_DEPTH", "T_REF_COUNT", "T_ALT_COUNT"],
    )
    report = maf_rules(CENTER).validate(df)
    ids = rule_ids(report)
    for expected in [
        "maf.chromosome", "maf.start_position", "maf.reference_allele",
        "maf.ref_equals_tsa2", "maf.barcode_format", "maf.numeric.t_depth",
    ]:
        assert expected in ids, f"missing {expected}: {ids}"
    # start>end is a warning, not error
    warn_df = _valid_maf(spark).withColumn("START_POSITION", _lit("999999"))
    warn = maf_rules(CENTER).validate(warn_df)
    assert any(m.rule_id == "maf.start_gt_end" for m in warn.warnings)

    # first column must be CHROMOSOME/HUGO_SYMBOL/TUMOR_SAMPLE_BARCODE
    # (maf.py:217,267-271)
    base = _valid_maf(spark)
    reordered = base.select("T_DEPTH", *[c for c in base.columns if c != "T_DEPTH"])
    assert "maf.first_column" in rule_ids(maf_rules(CENTER).validate(reordered))
    assert "maf.first_column" not in rule_ids(maf_rules(CENTER).validate(base))

    # missing optional count columns is a warning (maf.py:334-357)
    warn2 = maf_rules(CENTER).validate(base)
    assert any(m.rule_id == "maf.optional_headers" for m in warn2.warnings)


def _lit(v):
    from pyspark.sql import functions as F

    return F.lit(v)


def test_maf_cross_validate(spark):
    from genie_spark.rules.engine import ids_subset_of

    maf = _valid_maf(spark)
    clinical = spark.createDataFrame([("GENIE-SAGE-1-1",)], ["SAMPLE_ID"])
    msgs = ids_subset_of("maf", "TUMOR_SAMPLE_BARCODE", clinical, "SAMPLE_ID").check(maf)
    assert msgs and msgs[0].n_violations == 1  # barcode 2-1 missing


def test_vcf_rules(spark):
    df = spark.createDataFrame(
        [
            ("1", "100", ".", "A", "T", ".", "PASS", "DP=10"),
            ("chr2", "x", ".", "Q", "T", ".", "PASS", "DP =10"),
        ],
        ["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO"],
    )
    report = vcf_rules().validate(df)
    ids = rule_ids(report)
    assert {"vcf.chrom", "vcf.pos_int", "vcf.ref_allele"} <= ids
    assert any(m.rule_id == "vcf.whitespace" for m in report.warnings)
    # 8 columns < 10 → missing sample column(s)
    assert "vcf.min_columns" in ids


def test_vcf_sample_column_rules(spark):
    base = ["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO",
            "FORMAT"]
    # 10-col single-sample with a bad sample header + a null sample value
    df = spark.createDataFrame(
        [
            ("1", "100", ".", "A", "T", ".", "PASS", "DP=10", "GT", "0/1"),
            ("1", "200", ".", "G", "C", ".", "PASS", "DP=9", "GT", None),
        ],
        base + ["NOT-AN-ID"],
    )
    ids = rule_ids(vcf_rules(CENTER).validate(df))
    assert "vcf.sample_column_id" in ids
    assert "vcf.sample_column_nulls" in ids

    # 11-col matched tumor/normal with proper GENIE ids → clean
    df2 = spark.createDataFrame(
        [("1", "100", ".", "A", "T", ".", "PASS", "DP=10", "GT", "0/1", "0/0")],
        base + [f"GENIE-{CENTER}-1-1-tumor", f"GENIE-{CENTER}-1-1-normal"],
    )
    ids2 = rule_ids(vcf_rules(CENTER).validate(df2))
    assert not {"vcf.sample_column_id", "vcf.sample_column_nulls",
                "vcf.max_columns", "vcf.min_columns"} & ids2

    # 12 columns → too many
    df3 = spark.createDataFrame(
        [("1", "100", ".", "A", "T", ".", "PASS", "DP=10", "GT", "a", "b", "c")],
        base + ["s1", "s2", "s3"],
    )
    assert "vcf.max_columns" in rule_ids(vcf_rules(CENTER).validate(df3))

    # 10-col single-sample named TUMOR → accepted
    # (genie_registry/vcf.py:242-258)
    df4 = spark.createDataFrame(
        [("1", "100", ".", "A", "T", ".", "PASS", "DP=10", "GT", "0/1")],
        base + ["TUMOR"],
    )
    assert "vcf.sample_column_id" not in rule_ids(vcf_rules(CENTER).validate(df4))

    # 11-col matched pair may NOT use TUMOR — both columns must be
    # GENIE-{center} ids (genie_registry/vcf.py:227-241)
    df5 = spark.createDataFrame(
        [("1", "100", ".", "A", "T", ".", "PASS", "DP=10", "GT", "0/1", "0/0")],
        base + ["TUMOR", f"GENIE-{CENTER}-1-1-normal"],
    )
    assert "vcf.sample_column_id" in rule_ids(vcf_rules(CENTER).validate(df5))

    # identifier length bound (<50 chars, process_functions.py:218-221)
    long_id = f"GENIE-{CENTER}-" + "x" * 50
    df6 = spark.createDataFrame(
        [("1", "100", ".", "A", "T", ".", "PASS", "DP=10", "GT", "0/1")],
        base + [long_id],
    )
    assert "vcf.sample_column_id" in rule_ids(vcf_rules(CENTER).validate(df6))


def test_bed_rules(spark):
    df = spark.createDataFrame(
        [
            ("chr1", "100", "200", "TP53", "True", None),
            ("99", "a", "200", "+", "yes", None),
        ],
        "Chromosome string, Start_Position string, End_Position string, "
        "Hugo_Symbol string, includeInPanel string, clinicalReported string",
    )
    ids = rule_ids(bed_rules().validate(df))
    assert {"bed.chromosome", "bed.int_positions", "bed.symbol_null", "bed.include_in_panel"} <= ids


def test_cna_rules(spark):
    df = spark.createDataFrame(
        [
            ("TP53", "GENIE-SAGE-1-1", -2.0),
            ("EGFR", "OTHER-1", 0.7),
            ("KRAS", "GENIE-SAGE-1-1", 1.0),
            ("KRAS", "GENIE-SAGE-1-1", 0.0),
        ],
        ["Hugo_Symbol", "SAMPLE_ID", "value"],
    )
    ids = rule_ids(cna_rules(CENTER).validate(df))
    assert {"cna.value_domain", "cna.sample_format", "cna.duplicate_keys"} <= ids


def test_seg_rules(spark):
    df = spark.createDataFrame(
        [
            ("GENIE-SAGE-1-1", "1", 100, 200, 5, 0.5),
            ("BAD-1", "1", 100, 200, 5, None),
            ("GENIE-SAGE-2-1", "chr25", 100, 200, 5, 0.5),  # bad even stripped
            ("GENIE-SAGE-3-1", "chr2", 100, 200, 5, 0.5),   # prefix = warning only
        ],
        "ID string, CHROM string, `LOC.START` long, `LOC.END` long, `NUM.MARK` long, `SEG.MEAN` double",
    )
    report = seg_rules(CENTER).validate(df)
    ids = rule_ids(report)
    assert {"seg.no_nulls", "seg.id_format", "seg.chromosome"} <= ids
    # chr2 strips to a valid chromosome → warning, not error
    by_id = {m.rule_id: m for m in report.messages}
    assert by_id["seg.chromosome"].n_violations == 1
    assert any(m.rule_id == "seg.chr_prefix" for m in report.warnings)


def test_sv_rules(spark):
    df = spark.createDataFrame(
        [
            ("GENIE-SAGE-1-1", "SOMATIC", "exon", "GRCh37", "PRECISE", "3to5", "Yes", "5"),
            ("OTHER-1", "GERMLINE", "nowhere", "hg19", "FUZZY", "1to2", "Maybe", "x"),
            # fully duplicated row (structural_variant.py:87-88)
            ("GENIE-SAGE-1-1", "SOMATIC", "exon", "GRCh37", "PRECISE", "3to5", "Yes", "5"),
        ],
        ["SAMPLE_ID", "SV_STATUS", "SITE1_REGION", "NCBI_BUILD",
         "BREAKPOINT_TYPE", "CONNECTION_TYPE", "DNA_SUPPORT", "SV_LENGTH"],
    )
    ids = rule_ids(sv_rules(CENTER).validate(df))
    for expected in ["sv.sample_format", "sv.status", "sv.site1_region",
                     "sv.ncbi_build", "sv.breakpoint_type", "sv.connection_type",
                     "sv.dna_support", "sv.int.sv_length", "sv.duplicate_rows"]:
        assert expected in ids, f"missing {expected}: {ids}"


def test_maf_tsa1_convention(spark):
    from genie_spark.rules.clinical import RuleSet  # reuse import path

    # mixed convention: row1 TSA1==REF, row2 TSA1==TSA2 → error
    mixed = spark.createDataFrame(
        [
            ("1", "100", "100", "C", "C", "A", f"GENIE-{CENTER}-1-1", "10", "90"),
            ("1", "200", "200", "C", "A", "A", f"GENIE-{CENTER}-1-1", "10", "90"),
        ],
        ["CHROMOSOME", "START_POSITION", "END_POSITION", "REFERENCE_ALLELE",
         "TUMOR_SEQ_ALLELE1", "TUMOR_SEQ_ALLELE2", "TUMOR_SAMPLE_BARCODE",
         "T_ALT_COUNT", "T_REF_COUNT"],
    )
    assert "maf.tsa1_convention" in rule_ids(maf_rules(CENTER).validate(mixed))

    # uniform TSA1==REF convention → clean
    uniform = spark.createDataFrame(
        [
            ("1", "100", "100", "C", "C", "A", f"GENIE-{CENTER}-1-1", "10", "90"),
            ("1", "200", "200", "T", "T", "G", f"GENIE-{CENTER}-1-1", "10", "90"),
        ],
        mixed.columns,
    )
    assert "maf.tsa1_convention" not in rule_ids(maf_rules(CENTER).validate(uniform))


def test_assay_rules(spark):
    """Assay-information validation parity
    (genie_registry/assay.py:131-427): required columns, GDC enums,
    boolean is_paired_end, semicolon-separated variant classes,
    integer read_length/number_of_genes."""
    from genie_spark.rules.genomic import assay_rules

    good = spark.createDataFrame(
        [(
            f"{CENTER}-PANEL-1", "True", "Hybrid Selection",
            "Targeted Sequencing", "Illumina", "Illumina NovaSeq 6000",
            "kit-1", "100", "500",
            "Missense_Mutation;Nonsense_Mutation",
        )],
        "SEQ_ASSAY_ID string, is_paired_end string, library_selection "
        "string, library_strategy string, platform string, "
        "instrument_model string, target_capture_kit string, "
        "read_length string, number_of_genes string, "
        "variant_classifications string",
    )
    assert assay_rules(CENTER).validate(good).is_valid

    bad = spark.createDataFrame(
        [(
            "OTHER-PANEL", "maybe", "Bad Selection", "WGS", "Betamax",
            "Underwood Typewriter", "kit-1", "short", "many",
            "Missense_Mutation;Made_Up_Class",
        )],
        good.schema,
    )
    ids = rule_ids(assay_rules(CENTER).validate(bad))
    assert {
        "assay.seq_assay_prefix", "assay.is_paired_end",
        "assay.library_selection", "assay.library_strategy",
        "assay.platform", "assay.instrument_model",
        "assay.variant_classifications", "assay.read_length_int",
        "assay.number_of_genes_int",
    } <= ids

    # a missing required column (target_capture_kit) is an error
    ids2 = rule_ids(assay_rules(CENTER).validate(good.drop("target_capture_kit")))
    assert any("required" in i or "columns" in i for i in ids2)


def test_row_rules_evaluate_in_one_job(spark):
    """The engine's core scale promise (engine.py: 'ALL row rules of a
    format are evaluated in ONE Spark job'): N row rules — with and
    without example sampling — must cost exactly one job, i.e. one
    corpus scan at 100 TB.  This pins the fused agg; splitting it
    (one agg per rule) fails here before it costs N scans in prod."""
    from pyspark.sql import functions as F

    from genie_spark.rules.engine import RowRule, RuleSet, qcol

    df = spark.createDataFrame(
        [(i, f"v{i % 7}", i % 3) for i in range(1000)],
        "id long, s string, m long",
    )
    rules = [
        RowRule("r.even", "error", qcol("id") % 2 == 0, "{n} even ids",
                example_col="id", required_cols=["id"]),
        RowRule("r.mod", "warning", qcol("m") == 0, "{n} zeros",
                required_cols=["m"]),
        RowRule("r.s", "error", qcol("s") == "v0", "{n} v0s ({examples})",
                example_col="s", required_cols=["s"]),
        RowRule("r.neg", "error", qcol("id") < 0, "{n} negatives",
                required_cols=["id"]),
    ]
    sc = spark.sparkContext

    def jobs_for(ruleset, tag):
        group = f"rules-job-pin-{tag}"
        sc.setJobGroup(group, "rule engine jobs-count pin")
        try:
            report = ruleset.validate(df)
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), report

    # AQE may split ONE query execution into a couple of stage-jobs,
    # so the pin is: the job count must not grow with the rule count
    # (per-rule aggs would add jobs per rule), and stays tiny.
    n_one, _ = jobs_for(RuleSet("pin1", rules[:1]), "one")
    n_all, report = jobs_for(RuleSet("pinN", rules), "all")
    assert n_all == n_one, (
        f"{len(rules)} rules ran {n_all} jobs vs {n_one} for 1 rule — "
        "the fused agg has been split into per-rule jobs"
    )
    assert n_all <= 2, f"fused row-rule agg ran {n_all} jobs"
    # and the fused pass still produced correct counts
    by_id = {m.rule_id: m.n_violations for m in report.messages}
    assert by_id == {"r.even": 500, "r.mod": 334, "r.s": 143}


def _write_clinical_pair(tmp_path, samples, patients):
    sp = tmp_path / f"data_clinical_supp_sample_{CENTER}.txt"
    pp = tmp_path / f"data_clinical_supp_patient_{CENTER}.txt"
    sp.write_text(
        "SAMPLE_ID\tPATIENT_ID\tAGE_AT_SEQ_REPORT\tONCOTREE_CODE\tSAMPLE_TYPE\t"
        "SEQ_ASSAY_ID\tSAMPLE_CLASS\n"
        + "".join(
            f"GENIE-{CENTER}-{s}\tGENIE-{CENTER}-{s.split('-')[0]}\t36500\tUNKNOWN\t1\t"
            f"{CENTER}-PANEL-1\tTumor\n"
            for s in samples
        )
    )
    pp.write_text(
        "PATIENT_ID\tSEX\tPRIMARY_RACE\tETHNICITY\tBIRTH_YEAR\n"
        + "".join(f"GENIE-{CENTER}-{p}\t1\t1\t1\t1950\n" for p in patients)
    )
    return [str(sp), str(pp)]


def test_merged_clinical_two_sample_patient(spark, tmp_path):
    """The merged clinical pair has one row per SAMPLE: a patient with
    two samples repeats its PATIENT_ID there and is valid, while a
    duplicated patient row fans out into duplicated SAMPLE_IDs and is
    still an error."""
    from genie_spark.formats import BY_NAME

    fmt = BY_NAME["clinical"]
    two = fmt.read(spark, _write_clinical_pair(tmp_path, ["1-1", "1-2", "2-1"], ["1", "2"]))
    report = fmt.rules(CENTER).validate(two)
    assert report.is_valid, report.render()

    paths = _write_clinical_pair(tmp_path, ["1-1", "2-1"], ["1", "2", "2"])
    ids = rule_ids(fmt.rules(CENTER).validate(fmt.read(spark, paths)))
    assert "clinical_sample.duplicate_keys" in ids
    # the patient file on its own keeps its key check
    patients = spark.read.option("sep", "\t").option("header", "true").csv(paths[1])
    assert "clinical_patient.duplicate_keys" in rule_ids(patient_rules(CENTER).validate(patients))


def test_duplicate_keys_message_names_the_key(spark):
    df = spark.createDataFrame(
        [
            ("1", "100", "A", "GENIE-SAGE-1-1", "T"),
            ("1", "100", "A", "GENIE-SAGE-1-1", "T"),
            ("2", "200", "G", "GENIE-SAGE-2-1", "C"),
        ],
        ["CHROMOSOME", "START_POSITION", "REFERENCE_ALLELE",
         "TUMOR_SAMPLE_BARCODE", "TUMOR_SEQ_ALLELE2"],
    )
    by_id = {m.rule_id: m for m in maf_rules(CENTER).validate(df).messages}
    m = by_id["maf.duplicate_keys"]
    assert m.severity == "error"
    assert m.n_violations == 2  # rows in the duplicated group
    assert "row(s)" in m.message
    assert "GENIE-SAGE-1-1" in m.message and "GENIE-SAGE-2-1" not in m.message

    single = sample_rules(CENTER).validate(
        _valid_sample(spark).unionByName(_valid_sample(spark).limit(1))
    )
    dup = {m.rule_id: m for m in single.messages}["clinical_sample.duplicate_keys"]
    assert dup.examples == ["GENIE-SAGE-1-1"]
    assert "GENIE-SAGE-1-1" in dup.message


def test_maf_tsa1_convention_count(spark):
    """n = min(#TSA1≠REF, #TSA1≠TSA2): rows 3,4 break the REF
    convention, rows 1,2,4 the TSA2 one → 2."""
    df = spark.createDataFrame(
        [
            ("1", "100", "100", "C", "C", "A", f"GENIE-{CENTER}-1-1"),
            ("1", "200", "200", "G", "G", "T", f"GENIE-{CENTER}-1-1"),
            ("1", "300", "300", "C", "A", "A", f"GENIE-{CENTER}-1-1"),
            ("1", "400", "400", "C", "G", "A", f"GENIE-{CENTER}-1-1"),
        ],
        ["CHROMOSOME", "START_POSITION", "END_POSITION", "REFERENCE_ALLELE",
         "TUMOR_SEQ_ALLELE1", "TUMOR_SEQ_ALLELE2", "TUMOR_SAMPLE_BARCODE"],
    )
    by_id = {m.rule_id: m for m in maf_rules(CENTER).validate(df).messages}
    assert by_id["maf.tsa1_convention"].severity == "error"
    assert by_id["maf.tsa1_convention"].n_violations == 2


def test_age_median_years_vs_days(spark):
    days = _valid_sample(spark)
    years = days.withColumn("AGE_AT_SEQ_REPORT", _lit("65"))
    assert "clinical.age_median" not in rule_ids(sample_rules(CENTER).validate(days))
    assert "clinical.age_median" in rule_ids(sample_rules(CENTER).validate(years))


def _execution_id(spark) -> int:
    """Id of the newest SQL execution in the status store (ids grow by
    one per query; the store evicts only the oldest)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def test_qcol_escapes_backticks(spark):
    """qcol names any column: dotted, quoted or holding a backtick."""
    from genie_spark.rules.engine import qcol

    names = ["LOC.START", "O'2", "O`2", "a``b"]
    df = spark.range(1).select(*[_lit(i).alias(n) for i, n in enumerate(names)])
    assert df.select(*[qcol(n) for n in names]).columns == names
    assert df.select(*[qcol(n) for n in names]).first() == tuple(range(len(names)))


_VCF_FIXED_COLS = ["#CHROM", "POS", "ID", "REF", "ALT", "QUAL", "FILTER", "INFO", "FORMAT"]


def _pin_cases(spark):
    """(rule set, upload) per package rule set, each upload tripping
    its frame checks."""
    from genie_spark.formats import BY_NAME
    from genie_spark.rules.genomic import assay_rules

    clinical = spark.createDataFrame(
        [
            # a two-sample patient, a duplicated sample, ages in years
            ("GENIE-SAGE-1-1", "GENIE-SAGE-1", "50", "LUAD", "1", "SAGE-P", "Tumor", "Jan-2017",
             "1", "1", "1", "1950"),
            ("GENIE-SAGE-1-2", "GENIE-SAGE-1", "60", "LUAD", "1", "SAGE-P", "Tumor", "Jan-2017",
             "1", "1", "1", "1950"),
            ("GENIE-SAGE-1-2", "GENIE-SAGE-1", "60", "LUAD", "1", "SAGE-P", "Tumor", "Jan-2017",
             "1", "1", "1", "1950"),
            ("", None, None, None, None, None, None, None, None, None, None, None),
        ],
        "SAMPLE_ID string, PATIENT_ID string, AGE_AT_SEQ_REPORT string, "
        "ONCOTREE_CODE string, SAMPLE_TYPE string, SEQ_ASSAY_ID string, "
        "SAMPLE_CLASS string, SEQ_DATE string, SEX string, PRIMARY_RACE string, "
        "ETHNICITY string, BIRTH_YEAR string",
    )
    base = _valid_maf(spark)
    maf = base.unionByName(base.limit(1)).select(
        "T_DEPTH", *[c for c in base.columns if c != "T_DEPTH"]
    )
    vcf10 = spark.createDataFrame(
        [("1", "100", ".", "A", "T", ".", "PASS", "DP=10", "GT", None)] * 2,
        "`#CHROM` string, POS string, ID string, REF string, ALT string, QUAL string, "
        "FILTER string, INFO string, FORMAT string, `NOT-AN-ID` string",
    )
    vcf11 = vcf10.withColumn("NORMAL", _lit(""))
    bed = spark.createDataFrame(
        [("99", "a", "200", "+", "yes")],
        ["Chromosome", "Start_Position", "End_Position", "Hugo_Symbol", "includeInPanel"],
    )
    cna = spark.createDataFrame(
        [("KRAS", "GENIE-SAGE-1-1", "1"), ("KRAS", "GENIE-SAGE-1-1", "0")],
        ["Hugo_Symbol", "SAMPLE_ID", "value"],
    )
    seg = spark.createDataFrame(
        [("BAD-1", "chr1", 100, 200, 5, None)],
        "ID string, CHROM string, `LOC.START` long, `LOC.END` long, "
        "`NUM.MARK` long, `SEG.MEAN` double",
    )
    sv = spark.createDataFrame(
        [("GENIE-SAGE-1-1", "SOMATIC", "x")] * 2, ["SAMPLE_ID", "SV_STATUS", "SV_LENGTH"]
    )
    assay = spark.createDataFrame(
        [("OTHER-PANEL", "maybe", "WGS")], ["SEQ_ASSAY_ID", "is_paired_end", "library_strategy"]
    )
    return {
        "clinical": (BY_NAME["clinical"].rules(CENTER), clinical),
        "maf": (maf_rules(CENTER), maf),
        "vcf10": (vcf_rules(CENTER), vcf10),
        "vcf11": (vcf_rules(CENTER), vcf11),
        "bed": (bed_rules(), bed),
        "cna": (cna_rules(CENTER), cna),
        "seg": (seg_rules(CENTER), seg),
        "sv": (sv_rules(CENTER), sv),
        "assay": (assay_rules(CENTER), assay),
    }


@pytest.mark.parametrize(
    "case", ["clinical", "maf", "vcf10", "vcf11", "bed", "cna", "seg", "sv", "assay"]
)
def test_rule_set_runs_one_query(spark, case):
    """RuleSet.validate issues exactly ONE Spark query per upload: every
    row, window and aggregate rule joins the fused agg, and FrameRules
    read only the schema."""
    ruleset, df = _pin_cases(spark)[case]
    before = _execution_id(spark)
    report = ruleset.validate(df)
    assert _execution_id(spark) - before == 1
    assert report.errors, "the fixture must trip rules"
