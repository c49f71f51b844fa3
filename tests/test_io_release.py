"""Reader/writer + end-to-end release pipeline tests on a synthetic
center upload (FIXTURES.md shapes)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from genie_spark.io.readers import (
    assay_df_from_dict,
    read_bed,
    read_clinical_pair,
    read_maf,
    read_vcf,
)
from genie_spark.io.writers import (
    case_list_alteration_texts,
    case_list_texts,
    gene_panel_text,
    panel_genes,
    strip_float_formatting,
    write_cna_wide,
    write_tsv,
)
from genie_spark.release.pipeline import consortium_to_public, run_release


def test_read_tsv_clinical_pair(spark, tmp_path):
    sp = tmp_path / "sample.txt"
    pp = tmp_path / "patient.txt"
    sp.write_text(
        "#comment line\nSAMPLE_ID\tPatient_Id\tAGE_AT_SEQ_REPORT\n"
        "GENIE-SAGE-1-1\tGENIE-SAGE-1\t36500\n"
    )
    pp.write_text("PATIENT_ID\tSEX\nGENIE-SAGE-1\t1\n")
    sample, patient, merged = read_clinical_pair(spark, str(sp), str(pp))
    assert "PATIENT_ID" in sample.columns  # upper-cased
    assert merged.count() == 1 and "SEX" in merged.columns


def test_read_maf_na_policy(spark, tmp_path):
    p = tmp_path / "m.maf"
    p.write_text(
        "Chromosome\tStart_Position\tReference_Allele\tTumor_Seq_Allele2\tt_depth\n"
        "1\t100\tNA\tT\tNA\n"
    )
    df = read_maf(spark, str(p))
    row = df.collect()[0]
    # "NA" survives in the allele column, nulls elsewhere
    assert row["REFERENCE_ALLELE"] == "NA"
    assert row["T_DEPTH"] is None


def test_read_vcf_preamble(spark, tmp_path):
    p = tmp_path / "v.vcf"
    p.write_text(
        "##fileformat=VCFv4.2\n##INFO=<x>\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tGENIE-SAGE-1-1\n"
        "1\t100\t.\tA\tT\t.\tPASS\tDP=10\tGT\t0/1\n"
    )
    df = read_vcf(spark, str(p))
    assert df.columns[:4] == ["#CHROM", "POS", "ID", "REF"]
    assert df.count() == 1 and df.collect()[0]["GENIE-SAGE-1-1"] == "0/1"


def test_read_bed_headerless(spark, tmp_path):
    p = tmp_path / "SAGE-PANEL-1.bed"
    p.write_text("chr1\t100\t200\tTP53\tTrue\n1\t300\t400\tEGFR\tFalse\n")
    df = read_bed(spark, str(p))
    assert df.columns[:4] == ["Chromosome", "Start_Position", "End_Position", "Hugo_Symbol"]
    assert df.count() == 2


def _newest_job(spark) -> int:
    """Id of the newest Spark job (ids grow by one per job)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


# (file bytes, read options, expected columns): every case is also read
# by Spark's header inference with the same options, which must agree
_DELIMITED_CASES = {
    "sanitized_header": (
        b'#comment\nSAMPLE_ID\tX\tsample_id\t""\tX\na\tb\tc\td\te\nf\t\th\ti\tj\n',
        {},
        ["SAMPLE_ID0", "X1", "sample_id2", "_c3", "X4"],
    ),
    "bom": (
        b"\xef\xbb\xbfSAMPLE_ID\tAGE\nGENIE-SAGE-1-1\t60\n",
        {},
        ["SAMPLE_ID", "AGE"],
    ),
    "quoted_tab_in_header": (
        b'"SAMPLE\tID"\tAGE\n"GENIE\t1"\t60\n',
        {},
        ["SAMPLE\tID", "AGE"],
    ),
    "comment_and_blank_before_header": (
        b"#version 1\n\nSAMPLE_ID\tAGE\nGENIE-SAGE-1-1\t60\n\nGENIE-SAGE-2-1\t\n",
        {},
        ["SAMPLE_ID", "AGE"],
    ),
    "headerless_bed": (
        b"chr1\t100\t200\tTP53\tTrue\n#c\n1\t300\t400\tEGFR\tFalse\n",
        {"header": False},
        ["_c0", "_c1", "_c2", "_c3", "_c4"],
    ),
    "maf_unquoted": (
        b'Hugo_Symbol\tReference_Allele\tHGVSp\nTP53\t"\tp.R175H\nKRAS\tNA\t"p.G12D\t\n',
        {"quote": ""},
        ["Hugo_Symbol", "Reference_Allele", "HGVSp"],
    ),
}


@pytest.mark.parametrize("case", sorted(_DELIMITED_CASES))
def test_read_delimited_matches_inference(spark, tmp_path, case):
    """The header-built read runs no Spark job and yields the columns
    and rows of Spark's inferring read with the same options."""
    from genie_spark.io.readers import read_delimited

    data, opts, expected = _DELIMITED_CASES[case]
    path = tmp_path / "t.txt"
    path.write_bytes(data)
    before = _newest_job(spark)
    df = read_delimited(spark, str(path), **opts)
    assert df.columns == expected
    assert _newest_job(spark) == before
    inferred = (
        spark.read.option("sep", "\t")
        .option("header", opts.get("header", True))
        .option("comment", "#")
        .option("quote", opts.get("quote", '"'))
        .csv(str(path))
    )
    assert inferred.columns == df.columns
    assert sorted(df.collect()) == sorted(inferred.collect())


_UPLOADS = {
    "clinical": {
        "data_clinical_supp_sample_SAGE.txt": "#c\nSAMPLE_ID\tPATIENT_ID\nGENIE-SAGE-1-1\tGENIE-SAGE-1\n",
        "data_clinical_supp_patient_SAGE.txt": "PATIENT_ID\tSEX\nGENIE-SAGE-1\t1\n",
    },
    "clinical_single": {
        "data_clinical_supp_SAGE.txt": "sample_id\tpatient_id\nGENIE-SAGE-1-1\tGENIE-SAGE-1\n",
    },
    "maf": {
        "data_mutations_extended_SAGE.txt": "Hugo_Symbol\tTumor_Sample_Barcode\nTP53\tGENIE-SAGE-1-1\n",
    },
    "bed": {"SAGE-PANEL-1.bed": "1\t100\t200\tTP53\tTrue\n"},
    "cna_long": {"data_CNA_SAGE.txt": "Hugo_Symbol\tGENIE-SAGE-1-1\nTP53\t1\n"},
    "seg": {
        "genie_data_cna_hg19_SAGE.seg": "ID\tchrom\tloc.start\tloc.end\tnum.mark\tseg.mean\n"
        "GENIE-SAGE-1-1\t1\t1\t100\t5\t0.1\n",
    },
    "sv": {"data_sv_SAGE.txt": "Sample_Id\tSV_Status\nGENIE-SAGE-1-1\tSOMATIC\n"},
    "vcf": {
        "GENIE-SAGE-1-1.vcf": "##fileformat=VCFv4.2\n"
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\n1\t100\t.\tA\tT\t.\tPASS\t.\n",
    },
    "sampleRetraction": {"sampleRetraction.csv": "GENIE-SAGE-1-1\n"},
    "patientRetraction": {"patientRetraction.csv": "GENIE-SAGE-1\n"},
    "mutationsInCis": {
        "mutationsInCis_filtered_samples.csv": "Tumor_Sample_Barcode,Flag\nGENIE-SAGE-1-1,TRUE\n",
    },
}


@pytest.mark.parametrize("case", sorted(_UPLOADS))
def test_upload_read_runs_no_job(spark, tmp_path, case):
    """Every text-reading upload format resolves its columns without a
    Spark job: the schema comes from the header line on the driver."""
    from genie_spark.formats import determine_filetype

    paths = []
    for name, text in _UPLOADS[case].items():
        paths.append(str(tmp_path / name))
        (tmp_path / name).write_text(text)
    fmt = determine_filetype(paths, "SAGE")
    assert fmt is not None and fmt.name == case.removesuffix("_single")
    before = _newest_job(spark)
    assert fmt.read(spark, paths).columns
    assert _newest_job(spark) == before


def test_upload_status_runs_no_job(spark, tmp_path):
    """Status checks and updates are driver-side: a check, three
    updates (valid, invalid with error text, valid again) and the
    invalid-reasons reports run no Spark job."""
    from genie_spark.io.status import (
        prior_status,
        record_status,
        write_invalid_reasons,
    )

    wh = str(tmp_path / "warehouse")
    before = _newest_job(spark)
    assert prior_status(wh, "SAGE", "a.txt", "m1") is None
    record_status(wh, "SAGE", "a.txt", "m1", "VALIDATED", "/in/a.txt")
    record_status(
        wh, "SAGE", "a.txt", "m2", "INVALID", "/in/a.txt",
        errors="ERROR [maf.cols]: missing",
    )
    record_status(wh, "SAGE", "a.txt", "m3", "VALIDATED", "/in/a.txt")
    assert prior_status(wh, "SAGE", "a.txt", "m3") == "VALIDATED"
    (path,) = write_invalid_reasons(wh, str(tmp_path / "reports"), ["SAGE"])
    assert open(path).read() == "No errors!"
    assert _newest_job(spark) == before


def _merged(spark):
    """Spark's own schema-merging read, the reference for table reads."""
    return spark.read.option("mergeSchema", "true")


def _evolved_table(spark, tgt):
    """Schema-evolved partitioned table: SAGE wide, GOLD narrow."""
    from genie_spark.io.bronze import DEFAULT_COMMIT, merge_into_bronze

    merge_into_bronze(
        spark.createDataFrame(
            [("S1", "SAGE", 30), ("G1", "GOLD", 40)],
            "SAMPLE_ID string, CENTER string, AGE int",
        ),
        tgt, keys=["SAMPLE_ID"],
    )
    merge_into_bronze(
        spark.createDataFrame(
            [("S2", "SAGE", 35, "x")],
            "SAMPLE_ID string, CENTER string, AGE int, NEW_COL string",
        ),
        tgt, keys=["SAMPLE_ID"], partition_values=["SAGE"],
    )
    return lambda: DEFAULT_COMMIT.read(spark, tgt), _merged(spark).parquet(tgt)


def _unpartitioned_table(spark, tgt):
    from genie_spark.io.bronze import merge_into_bronze, read_table

    merge_into_bronze(
        spark.createDataFrame([("S1", 1.5), ("S2", None)], "SAMPLE_ID string, X double"),
        tgt, keys=["SAMPLE_ID"],
    )
    return lambda: read_table(spark, tgt), _merged(spark).parquet(tgt)


def _log_table(spark, tgt):
    """LogCommit table with an integer partition column."""
    from genie_spark.io.bronze import merge_into_bronze
    from genie_spark.io.txnlog import LogCommit, read_snapshot, snapshot_files

    merge_into_bronze(
        spark.createDataFrame(
            [("S1", 0, "a"), ("S2", 1, None), ("S3", 2, "c")],
            "SAMPLE_ID string, B int, V string",
        ),
        tgt, keys=["SAMPLE_ID"], partition_col="B", commit=LogCommit(),
    )
    files = [os.path.join(tgt, r) for r in snapshot_files(tgt)]
    return (
        lambda: read_snapshot(spark, tgt),
        _merged(spark).option("basePath", tgt).parquet(*files),
    )


@pytest.mark.parametrize(
    "make",
    [_evolved_table, _unpartitioned_table, _log_table],
    ids=["evolved_partitioned", "unpartitioned", "log_int_partition"],
)
def test_table_read_runs_no_job(spark, tmp_path, make):
    """A table the package committed is read with its schema taken from
    the parquet footers on the driver: no Spark job, and the same
    columns, types and rows as Spark's own schema-merging read."""
    read, merged = make(spark, str(tmp_path / "table"))
    before = _newest_job(spark)
    got = read()
    schema = got.schema
    assert _newest_job(spark) == before
    assert [(f.name, f.dataType) for f in schema] == [
        (f.name, f.dataType) for f in merged.schema
    ]
    assert sorted(map(repr, got.collect())) == sorted(map(repr, merged.collect()))


def test_cna_read_with_quote_and_backtick_sample_ids(spark, tmp_path):
    """A CNA sample column named with ' or ` melts like any other — it
    reaches the validator instead of crashing the read."""
    from genie_spark.formats import BY_NAME

    for name in ("GENIE-SAGE-O'2", "GENIE-SAGE-O`2"):
        path = tmp_path / "data_CNA_SAGE.txt"
        path.write_text(f"Hugo_Symbol\tGENIE-SAGE-1\t{name}\nTP53\t1\t-1\nKRAS\tNA\t2\n")
        df = BY_NAME["cna_long"].read(spark, [str(path)])
        assert df.columns == ["Hugo_Symbol", "SAMPLE_ID", "value"]
        assert sorted(map(tuple, df.collect())) == [
            ("KRAS", name, "2"), ("TP53", "GENIE-SAGE-1", "1"), ("TP53", name, "-1"),
        ]


def test_assay_yaml_explode(spark):
    cfg = {
        "SAGE-PANEL-1": {
            "is_paired_end": True,
            "library_selection": "Hybrid Selection",
            "variant_classifications": ["Missense_Mutation", "Nonsense_Mutation"],
            "assay_specific_info": [
                {"SEQ_ASSAY_ID": "SAGE-PANEL-1", "number_of_genes": 50},
            ],
        }
    }
    df = assay_df_from_dict(spark, cfg)
    row = df.collect()[0]
    assert row["SEQ_ASSAY_ID"] == "SAGE-PANEL-1"
    assert row["variant_classifications"] == "Missense_Mutation;Nonsense_Mutation"
    assert row["number_of_genes"] == "50"


def test_write_tsv_float_strip(spark, tmp_path):
    df = spark.createDataFrame([(1, 2.0, 2.5, None)], "a int, b double, c double, d double")
    out = strip_float_formatting(df).collect()[0]
    assert out["b"] == "2" and out["c"] == "2.5" and out["d"] is None
    path = str(tmp_path / "out.tsv")
    write_tsv(df, path, na_rep="NA")
    text = open(path).read()
    assert "2\t2.5\tNA" in text.replace("1\t", "")


def test_write_cna_wide(spark, tmp_path):
    long = spark.createDataFrame(
        [("TP53", "S1", -1.0), ("TP53", "S2", 0.0), ("EGFR", "S1", 2.0)],
        ["Hugo_Symbol", "SAMPLE_ID", "value"],
    )
    path = str(tmp_path / "cna.tsv")
    write_cna_wide(long, path)
    lines = open(path).read().strip().split("\n")
    assert lines[0] == "Hugo_Symbol\tS1\tS2"
    assert "EGFR\t2\tNA" in lines and "TP53\t-1\t0" in lines


def test_case_lists_and_gene_panel(spark):
    clin = [
        {"SAMPLE_ID": "S1", "CANCER_TYPE": "Lung Cancer", "SEQ_ASSAY_ID": "SAGE-1"},
        {"SAMPLE_ID": "S2", "CANCER_TYPE": "Lung Cancer", "SEQ_ASSAY_ID": "SAGE-2"},
        {"SAMPLE_ID": "S3", "CANCER_TYPE": "Breast Cancer", "SEQ_ASSAY_ID": "SAGE-1"},
    ]
    texts = case_list_texts(clin, "genie_test")
    assert "cases_lung_cancer.txt" in texts and "cases_all.txt" in texts
    assert "S1\tS2" in texts["cases_lung_cancer.txt"]
    assays = [
        {"SEQ_ASSAY_ID": "SAGE-1", "alteration_types": "snv;gene_level_cna"},
        {"SEQ_ASSAY_ID": "SAGE-2", "alteration_types": None},
    ]
    alt = case_list_alteration_texts(clin, assays, "genie_test")
    assert list(alt) == ["cases_cna.txt"]
    assert "case_list_ids: S1\tS3\n" in alt["cases_cna.txt"]
    bed = spark.createDataFrame(
        [("SAGE-1", "TP53", "True", "exon"), ("SAGE-1", "EGFR", "True", "exon"),
         ("SAGE-1", "SKIP", "False", "exon"), ("SAGE-2", "OTHER", "True", "exon")],
        ["SEQ_ASSAY_ID", "Hugo_Symbol", "includeInPanel", "Feature_Type"],
    )
    genes = panel_genes(bed, ["SAGE-1"])
    assert list(genes) == ["SAGE-1"]
    text = gene_panel_text(genes["SAGE-1"], "SAGE-1")
    assert "EGFR\tTP53" in text and "Number of Genes - 2" in text


# ---------------------------------------------------------------------------
# end-to-end release
# ---------------------------------------------------------------------------

def _center_upload(spark):
    clinical = spark.createDataFrame(
        [
            ("GENIE-SAGE-1-1", "GENIE-SAGE-1", "SAGE-PANEL-1", "LUAD", "36500", "1950", "2015"),
            ("GENIE-SAGE-2-1", "GENIE-SAGE-2", "SAGE-PANEL-1", "BRCA", "40000", "1930", "2020"),
            ("GENIE-SAGE-3-1", "GENIE-SAGE-3", "SAGE-NOBED-9", "LUAD", "20000", "1980", "2020"),
        ],
        ["SAMPLE_ID", "PATIENT_ID", "SEQ_ASSAY_ID", "ONCOTREE_CODE",
         "AGE_AT_SEQ_REPORT", "BIRTH_YEAR", "YEAR_CONTACT"],
    )
    maf = spark.createDataFrame(
        [
            # in-panel variant, clean
            ("GENIE-SAGE-1-1", "1", 150, 150, "A", "T", 100.0, 10.0, 90.0, "PASS", "SUCCESS", 0.0001, "10/100"),
            # out-of-panel variant (pos 5000) → MAFinBED remove
            ("GENIE-SAGE-1-1", "1", 5000, 5000, "C", "G", 100.0, 10.0, 90.0, "PASS", "SUCCESS", 0.0001, "11/100"),
            # germline gnomAD AF → drop
            ("GENIE-SAGE-2-1", "2", 250, 250, "G", "A", 100.0, 10.0, 90.0, "PASS", "SUCCESS", 0.5, "50/100"),
            # common_variant FILTER → drop
            ("GENIE-SAGE-2-1", "2", 260, 260, "G", "A", 100.0, 10.0, 90.0, "common_variant", "SUCCESS", 0.0001, "51/100"),
            # annotation failed → drop
            ("GENIE-SAGE-2-1", "2", 270, 270, "G", "C", 100.0, 10.0, 90.0, "PASS", "FAILED", 0.0001, "52/100"),
            # mutation-in-cis pair on sample 2: gap = 302-300-1 = 1 bp,
            # |dVAF| = 0.01, codon diff 1 (R criteria: gap in 1..5,
            # dVAF < .05, codonDiff NA or 1)
            ("GENIE-SAGE-2-1", "2", 300, 300, "A", "T", 100.0, 30.0, 70.0, "PASS", "SUCCESS", 0.0001, "60/100"),
            ("GENIE-SAGE-2-1", "2", 302, 302, "C", "G", 100.0, 31.0, 69.0, "PASS", "SUCCESS", 0.0001, "61/100"),
        ],
        ["Tumor_Sample_Barcode", "Chromosome", "Start_Position", "End_Position",
         "Reference_Allele", "Tumor_Seq_Allele2", "t_depth", "t_alt_count",
         "t_ref_count", "FILTER", "Annotation_Status", "gnomAD_AFR_AF",
         "Protein_position"],
    )
    bed = spark.createDataFrame(
        [
            ("SAGE-PANEL-1", "1", 100, 400, "TP53", "True"),
            ("SAGE-PANEL-1", "2", 200, 400, "EGFR", "True"),
        ],
        ["SEQ_ASSAY_ID", "Chromosome", "Start_Position", "End_Position",
         "Hugo_Symbol", "includeInPanel"],
    )
    oncotree = spark.createDataFrame(
        [("LUAD", "Non-Small Cell Lung Cancer", "Lung Adenocarcinoma"),
         ("BRCA", "Breast Cancer", "Breast Invasive Ductal Carcinoma")],
        ["ONCOTREE_CODE", "CANCER_TYPE", "CANCER_TYPE_DETAILED"],
    )
    sv = spark.createDataFrame(
        [("GENIE-SAGE-1-1", "SOMATIC"), ("GENIE-SAGE-1-1", "GERMLINE"),
         ("GENIE-SAGE-3-1", "SOMATIC")],
        ["SAMPLE_ID", "SV_STATUS"],
    )
    return clinical, maf, bed, oncotree, sv


def test_release_end_to_end(spark):
    clinical, maf, bed, oncotree, sv = _center_upload(spark)
    arts = run_release(clinical, maf, bed, sv=sv, oncotree=oncotree, pad=10)

    # sample 3 removed: its assay has no bed (P13)
    removed = [r["SAMPLE_ID"] for r in arts.removed_samples.collect()]
    assert removed == ["GENIE-SAGE-3-1"]

    # sample 2 carries a newly detected mutation-in-cis pair → defaults
    # to TOSS → removed from the release entirely (reference
    # get_mutation_in_cis_filtered_samples)
    toss = {r["Tumor_Sample_Barcode"] for r in arts.flagged_samples.collect()}
    assert toss == {"GENIE-SAGE-2-1"}
    clin_ids = {r["SAMPLE_ID"] for r in arts.clinical.select("SAMPLE_ID").collect()}
    assert clin_ids == {"GENIE-SAGE-1-1"}

    # MAFinBED removed the out-of-panel variant
    rv = [(r["Chromosome"], r["Start_Position"]) for r in arts.removed_variants.collect()]
    assert rv == [("1", 5000)]

    # release MAF: TOSS sample dropped, in-panel clean variant kept
    kept = {(r["Tumor_Sample_Barcode"], r["Start_Position"]) for r in arts.maf.collect()}
    assert kept == {("GENIE-SAGE-1-1", 150)}

    # oncotree joined, PHI redacted BEFORE the years conversion: sample 1's
    # 36500-day (99.9 y) age must never surface as a numeric year value
    # (reference genie/database_to_staging.py:1288-1300 emits ">89")
    clin = {r["SAMPLE_ID"]: r for r in arts.clinical.collect()}
    assert clin["GENIE-SAGE-1-1"]["CANCER_TYPE"] == "Non-Small Cell Lung Cancer"
    assert clin["GENIE-SAGE-1-1"]["AGE_AT_SEQ_REPORT"] == ">32485"
    assert clin["GENIE-SAGE-1-1"]["AGE_AT_SEQ_REPORT_YEARS"] == ">89"
    assert clin["GENIE-SAGE-1-1"]["BIRTH_YEAR"] == "cannotReleaseHIPAA"

    # SV: germline row dropped, sample-3 row dropped
    assert [(r["SAMPLE_ID"], r["SV_STATUS"]) for r in arts.sv.collect()] == [
        ("GENIE-SAGE-1-1", "SOMATIC")
    ]

    # public conversion keeps only the public sample subset
    pub = consortium_to_public(
        arts,
        spark.createDataFrame([("GENIE-SAGE-1-1",)], ["SAMPLE_ID"]),
        private_columns=["BIRTH_YEAR"],
    )
    assert {r["SAMPLE_ID"] for r in pub.clinical.collect()} == {"GENIE-SAGE-1-1"}
    assert "BIRTH_YEAR" not in pub.clinical.columns
    assert {r["Start_Position"] for r in pub.maf.collect()} == {150}


def test_release_mergecheck_flag_mode_and_public_common_variant(spark):
    """A persisted mergecheck table with Flag='Flag' keeps the sample and
    tags variants; common_variant rows survive the consortium MAF and
    are only dropped at consortium→public (reference
    genie/consortium_to_public.py:27-37)."""
    clinical, maf, bed, oncotree, sv = _center_upload(spark)
    flags = spark.createDataFrame(
        [
            ("2", 300, None, "A", "T", "GENIE-SAGE-2-1", "Flag"),
            ("2", 302, None, "C", "G", "GENIE-SAGE-2-1", "Flag"),
        ],
        "Chromosome string, Start_Position long, HGVSp_Short string, "
        "Reference_Allele string, Tumor_Seq_Allele2 string, "
        "Tumor_Sample_Barcode string, Flag string",
    )
    arts = run_release(
        clinical, maf, bed, sv=sv, oncotree=oncotree, mergecheck_flags=flags, pad=10
    )
    clin_ids = {r["SAMPLE_ID"] for r in arts.clinical.select("SAMPLE_ID").collect()}
    assert clin_ids == {"GENIE-SAGE-1-1", "GENIE-SAGE-2-1"}

    # consortium MAF keeps the common_variant row (260) — reference
    # deliberately skips that filter at this stage — and flags the pair
    rows = {r["Start_Position"]: r for r in arts.maf.collect()}
    assert set(rows) == {150, 260, 300, 302}
    assert rows[300]["mutationInCis_Flag"] is True
    assert rows[302]["mutationInCis_Flag"] is True
    assert rows[150]["mutationInCis_Flag"] is False
    assert rows[260]["mutationInCis_Flag"] is False

    # public stage applies the common_variant filter
    pub = consortium_to_public(
        arts,
        spark.createDataFrame(
            [("GENIE-SAGE-1-1",), ("GENIE-SAGE-2-1",)], ["SAMPLE_ID"]
        ),
    )
    assert {r["Start_Position"] for r in pub.maf.collect()} == {150, 300, 302}


def _release_warehouse(spark, wh, n_panels):
    """Bronze tables for four samples on ``n_panels`` panels, each panel
    with its own cancer type."""
    panel = [f"SAGE-PANEL-{i % n_panels + 1}" for i in range(4)]
    codes = ["LUAD", "BRCA", "COAD"]
    tables = {
        "clinical": spark.createDataFrame(
            [(f"GENIE-SAGE-{i}-1", f"GENIE-SAGE-{i}", panel[i],
              codes[i % n_panels], "20000", "1970", "2020") for i in range(4)],
            "SAMPLE_ID string, PATIENT_ID string, SEQ_ASSAY_ID string, "
            "ONCOTREE_CODE string, AGE_AT_SEQ_REPORT string, BIRTH_YEAR string, "
            "YEAR_CONTACT string",
        ),
        "maf": spark.createDataFrame(
            [(f"GENIE-SAGE-{i}-1", "1", 150, 150, "A", "T", 100.0, 10.0, 90.0,
              "PASS", "SUCCESS", 0.0001) for i in range(4)],
            "Tumor_Sample_Barcode string, Chromosome string, Start_Position long, "
            "End_Position long, Reference_Allele string, Tumor_Seq_Allele2 string, "
            "t_depth double, t_alt_count double, t_ref_count double, FILTER string, "
            "Annotation_Status string, gnomAD_AFR_AF double",
        ),
        "bed": spark.createDataFrame(
            [(f"SAGE-PANEL-{p}", "1", 100, 400, g, "True")
             for p in range(1, n_panels + 1) for g in ("TP53", "EGFR")],
            "SEQ_ASSAY_ID string, Chromosome string, Start_Position long, "
            "End_Position long, Hugo_Symbol string, includeInPanel string",
        ),
        "assayinfo": spark.createDataFrame(
            [(f"SAGE-PANEL-{p}", "Targeted Sequencing", "snv;gene_level_cna")
             for p in range(1, n_panels + 1)],
            "SEQ_ASSAY_ID string, library_strategy string, alteration_types string",
        ),
        "oncotree": spark.createDataFrame(
            [("LUAD", "Non-Small Cell Lung Cancer", "Lung Adenocarcinoma"),
             ("BRCA", "Breast Cancer", "Breast Invasive Ductal Carcinoma"),
             ("COAD", "Colorectal Cancer", "Colon Adenocarcinoma")],
            "ONCOTREE_CODE string, CANCER_TYPE string, CANCER_TYPE_DETAILED string",
        ),
    }
    for name, df in tables.items():
        df.write.parquet(os.path.join(wh, name))


def test_release_jobs_independent_of_panels_and_cancer_types(spark, tmp_path):
    """The release's case lists, gene panels and assay ids come from one
    clinical collect, one assay collect and one grouped panel query, so
    a release over three panels and three cancer types runs as many
    Spark jobs as one over a single panel and cancer type."""
    import argparse

    from genie_spark.cli import cmd_release

    jobs = {}
    for n in (1, 3):
        wh, out = str(tmp_path / f"wh{n}"), str(tmp_path / f"release{n}")
        _release_warehouse(spark, wh, n)
        before = _newest_job(spark)
        rc = cmd_release(spark, argparse.Namespace(
            warehouse=wh, output=out, version="v1", pad=10, whitelist=None,
            skip_qc=True,
        ))
        jobs[n] = _newest_job(spark) - before
        assert rc == 0
        panels = sorted(f for f in os.listdir(out) if f.startswith("data_gene_panel_"))
        assert len(panels) == n
        cases = os.listdir(os.path.join(out, "case_lists"))
        assert len([f for f in cases if f.startswith("cases_")]) == n + 3
    assert jobs[3] == jobs[1]


def test_oncotree_json_flatten(spark, tmp_path):
    """Nested oncotree API JSON → code dimension (reference
    genie/process_functions.py:708-753): mainType/name plus level-1/2
    ancestor propagation."""
    import json

    from genie_spark.release.oncotree import read_oncotree_json

    payload = {
        "TISSUE": {
            "children": {
                "LUNG": {
                    "level": 1, "mainType": None, "name": "Lung",
                    "children": {
                        "NSCLC": {
                            "level": 2,
                            "mainType": "Non-Small Cell Lung Cancer",
                            "name": "Non-Small Cell Lung Cancer",
                            "children": {
                                "luad": {
                                    "level": 3,
                                    "mainType": "Non-Small Cell Lung Cancer",
                                    "name": "Lung Adenocarcinoma",
                                    "children": {},
                                }
                            },
                        }
                    },
                }
            }
        }
    }
    p = tmp_path / "oncotree.json"
    p.write_text(json.dumps(payload))
    df = read_oncotree_json(spark, str(p))
    rows = {r["ONCOTREE_CODE"]: r for r in df.collect()}
    assert set(rows) == {"LUNG", "NSCLC", "LUAD"}  # codes uppercased
    assert rows["LUAD"]["CANCER_TYPE"] == "Non-Small Cell Lung Cancer"
    assert rows["LUAD"]["CANCER_TYPE_DETAILED"] == "Lung Adenocarcinoma"
    assert rows["LUAD"]["ONCOTREE_PRIMARY_NODE"] == "LUNG"
    assert rows["LUAD"]["ONCOTREE_SECONDARY_NODE"] == "NSCLC"
    assert rows["LUNG"]["ONCOTREE_SECONDARY_NODE"] == ""


def test_release_seq_date_cutoff(spark):
    """Consortium 184-day SEQ_DATE window (reference seqDateFilter
    process_functions.py:327-353): freshly sequenced samples stay out
    of the consortium release; 'Release' counts as always-old."""
    clinical, maf, bed, oncotree, sv = _center_upload(spark)
    clinical = clinical.withColumn(
        "SEQ_DATE",
        F.when(F.col("SAMPLE_ID") == "GENIE-SAGE-1-1", "Jan-2026")  # 7 months old
        .when(F.col("SAMPLE_ID") == "GENIE-SAGE-2-1", "Jul-2026")   # 1 month old
        .otherwise("Release"),
    )
    arts = run_release(
        clinical, maf, bed, oncotree=oncotree,
        processing_date="Aug-2026", pad=10,
    )
    ids = {r["SAMPLE_ID"] for r in arts.clinical.select("SAMPLE_ID").collect()}
    assert "GENIE-SAGE-1-1" in ids       # 212 days > 184 → released
    assert "GENIE-SAGE-2-1" not in ids   # 31 days <= 184 → held back

    # shift the processing date so sample 1 (Jan-2026) is only 31 days
    # old — the date filter alone must now hold it back
    held = run_release(
        clinical, maf, bed, oncotree=oncotree,
        processing_date="Feb-2026", pad=10,
    )
    held_ids = {r["SAMPLE_ID"] for r in held.clinical.select("SAMPLE_ID").collect()}
    assert "GENIE-SAGE-1-1" not in held_ids


def test_release_germline_whitelist(spark):
    """A whitelisted known-somatic site survives the germline AF filter
    (reference genie/database_to_staging.py:253-292,346-374)."""
    clinical, maf, bed, oncotree, sv = _center_upload(spark)
    # keep sample 2 in the release by marking its cis pair as Flag
    flags = spark.createDataFrame(
        [
            ("2", 300, None, "A", "T", "GENIE-SAGE-2-1", "Flag"),
            ("2", 302, None, "C", "G", "GENIE-SAGE-2-1", "Flag"),
        ],
        "Chromosome string, Start_Position long, HGVSp_Short string, "
        "Reference_Allele string, Tumor_Seq_Allele2 string, "
        "Tumor_Sample_Barcode string, Flag string",
    )
    wl = spark.createDataFrame(
        [("2", 240, 260, "EGFR")],
        ["Chromosome", "Start_Position_wl", "End_Position_wl", "Hugo_Symbol_wl"],
    )
    arts = run_release(
        clinical, maf, bed, oncotree=oncotree,
        mergecheck_flags=flags, whitelist=wl, pad=10,
    )
    kept = {r["Start_Position"] for r in arts.maf.collect()}
    # 250 (gnomAD AF 0.5) is germline but sits inside the whitelist
    # interval → kept; without the whitelist it is dropped
    assert 250 in kept
    no_wl = run_release(
        clinical, maf, bed, oncotree=oncotree, mergecheck_flags=flags, pad=10
    )
    assert 250 not in {r["Start_Position"] for r in no_wl.maf.collect()}


def test_update_mergecheck_flags(spark):
    from genie_spark.release.filters import update_mergecheck_flags

    cols = ["Chromosome", "Tumor_Sample_Barcode", "HGVSp_Short", "Start_Position",
            "Reference_Allele", "Tumor_Seq_Allele2", "Center", "Flag"]
    existing = spark.createDataFrame(
        [
            ("1", "S1", "p.V600E", 100, "A", "T", "SAGE", "TOSS"),   # still detected
            ("1", "S2", "p.G12D", 200, "G", "C", "SAGE", "TOSS"),    # repaired → FIXED
            ("1", "S3", None, 300, "C", "G", "KEEPC", "TOSS"),       # keep center → KEEP
            ("1", "S4", "p.X1Y", 400, "T", "A", "FLAGC", "TOSS"),    # flag center → FLAG
        ],
        cols,
    )
    detected = spark.createDataFrame(
        [
            ("1", "S1", "p.V600E", 100, "A", "T", "SAGE"),   # existing
            ("1", "S5", "p.A1B", 500, "A", "G", "SAGE"),     # new → TOSS
            ("1", "S6", "p.C2D", 600, "G", "T", "KEEPC"),    # new keep-center → KEEP
        ],
        cols[:-1],
    )
    out = update_mergecheck_flags(
        existing, detected, keep_centers=["KEEPC"], flag_centers=["FLAGC"]
    )
    got = {r["Tumor_Sample_Barcode"]: r["Flag"] for r in out.collect()}
    assert got == {
        "S1": "TOSS", "S2": "FIXED", "S3": "KEEP", "S4": "FLAG",
        "S5": "TOSS", "S6": "KEEP",
    }
    assert out.count() == 6


def test_data_gene_matrix(spark):
    from genie_spark.release.pipeline import data_gene_matrix, wes_panels

    clinical = spark.createDataFrame(
        [("S1", "P-1"), ("S2", "P-1"), ("S3", "P-2"), ("S4", "WES-1")],
        ["SAMPLE_ID", "SEQ_ASSAY_ID"],
    )
    assay = spark.createDataFrame(
        [("WES-1", "WXS"), ("P-1", "Targeted Sequencing")],
        ["SEQ_ASSAY_ID", "library_strategy"],
    )
    cna_samples = spark.createDataFrame([("S1",)], ["SAMPLE_ID"])
    m = data_gene_matrix(
        clinical, wes_assay_ids=wes_panels(assay), cna_samples=cna_samples
    )
    rows = {r["SAMPLE_ID"]: (r["mutations"], r["cna"]) for r in m.collect()}
    # WES sample excluded; panel-level cna marking: S2 shares P-1 with S1
    assert "S4" not in rows
    assert rows["S1"] == ("P-1", "P-1")
    assert rows["S2"] == ("P-1", "P-1")
    assert rows["S3"] == ("P-2", "NA")


def test_assay_pipeline_id_and_transform(spark):
    from genie_spark.formats import _assay_transform
    from genie_spark.io.readers import assay_df_from_dict

    cfg = {
        "SAGE_panel_A": {
            "is_paired_end": True,
            "assay_specific_info": [
                {"SEQ_ASSAY_ID": "sage_a1",
                 "variant_classifications": ["Missense_Mutation", "Silent"]},
                {"SEQ_ASSAY_ID": "sage_a2", "gene_padding": "25"},
            ],
        }
    }
    df = _assay_transform(assay_df_from_dict(spark, cfg))
    rows = {r["SEQ_ASSAY_ID"]: r for r in df.collect()}
    assert set(rows) == {"SAGE-A1", "SAGE-A2"}  # upper + dashes
    assert all(r["SEQ_PIPELINE_ID"] == "SAGE-PANEL-A" for r in rows.values())
    assert rows["SAGE-A1"]["gene_padding"] == 10      # default
    assert rows["SAGE-A2"]["gene_padding"] == 25
    assert rows["SAGE-A1"]["variant_classifications"] == "Missense_Mutation;Silent"
