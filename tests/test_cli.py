"""CLI workflow tests: filetype detection, validate, ingest→release→
dashboard end-to-end on a synthetic center upload (reference entry
points genie/__main__.py, bin/input_to_database.py,
bin/database_to_staging.py)."""

from __future__ import annotations

import os

import pytest

from genie_spark.cli import (
    build_parser,
    cmd_dashboard,
    cmd_ingest,
    cmd_public,
    cmd_release,
    cmd_validate,
)
from genie_spark.formats import determine_filetype

CENTER = "SAGE"


def _write_clinical_pair(tmp_path):
    sp = tmp_path / f"data_clinical_supp_sample_{CENTER}.txt"
    pp = tmp_path / f"data_clinical_supp_patient_{CENTER}.txt"
    sp.write_text(
        "SAMPLE_ID\tPATIENT_ID\tAGE_AT_SEQ_REPORT\tONCOTREE_CODE\tSAMPLE_TYPE\tSEQ_ASSAY_ID\tSAMPLE_CLASS\n"
        f"GENIE-{CENTER}-1-1\tGENIE-{CENTER}-1\t36500\tUNKNOWN\t1\t{CENTER}-PANEL-1\tTumor\n"
        f"GENIE-{CENTER}-2-1\tGENIE-{CENTER}-2\t40000\tUNKNOWN\t8\t{CENTER}-PANEL-1\tcfDNA\n"
    )
    pp.write_text(
        "PATIENT_ID\tSEX\tPRIMARY_RACE\tETHNICITY\tBIRTH_YEAR\tYEAR_CONTACT\tINT_CONTACT\tDEAD\tYEAR_DEATH\tINT_DOD\tCENTER\n"
        f"GENIE-{CENTER}-1\t1\t1\t1\t1950\t2015\t23725\tFalse\tNot Applicable\tNot Applicable\t{CENTER}\n"
        f"GENIE-{CENTER}-2\t2\t2\t1\t1960\t2016\t20440\tFalse\tNot Applicable\tNot Applicable\t{CENTER}\n"
    )
    return [str(sp), str(pp)]


def _write_maf(tmp_path):
    p = tmp_path / f"data_mutations_extended_{CENTER}.txt"
    p.write_text(
        "Chromosome\tStart_Position\tEnd_Position\tReference_Allele\tTumor_Seq_Allele2\t"
        "Tumor_Sample_Barcode\tt_alt_count\tt_ref_count\tt_depth\n"
        f"1\t150\t150\tA\tT\tGENIE-{CENTER}-1-1\t10\t90\t100\n"
        f"1\t350\t350\tG\tC\tGENIE-{CENTER}-2-1\t20\t80\t100\n"
    )
    return [str(p)]


def _write_bed(tmp_path):
    p = tmp_path / f"{CENTER}-PANEL-1.bed"
    p.write_text("1\t100\t200\tTP53\tTrue\n1\t300\t400\tEGFR\tTrue\n")
    return [str(p)]


def _write_cna(tmp_path):
    p = tmp_path / f"data_CNA_{CENTER}.txt"
    p.write_text(
        f"Hugo_Symbol\tGENIE-{CENTER}-1-1\tGENIE-{CENTER}-2-1\n"
        "TP53\t-1\tNA\n"
        "EGFR\t2\t0\n"
    )
    return [str(p)]


def _write_assay(tmp_path):
    p = tmp_path / f"{CENTER}_assay_information.yaml"
    p.write_text(
        f"{CENTER}-PANEL-1:\n"
        "  is_paired_end: true\n"
        "  library_selection: Hybrid Selection\n"
        "  library_strategy: Targeted Sequencing\n"
        "  platform: Illumina\n"
        "  instrument_model: Illumina NovaSeq 6000\n"
        "  target_capture_kit: kit-1\n"
        "  read_length: 100\n"
        "  number_of_genes: 2\n"
        # the release ships CNA + SV data for this assay, so the assay
        # declaration must say so (reference genie_registry/assay.py
        # alteration_types domain) — the QC profile↔case-list rule
        # catches the inconsistency otherwise
        "  alteration_types: snv;small_indels;gene_level_cna;structural_variants\n"
    )
    return [str(p)]


def test_determine_filetype(tmp_path):
    clin = _write_clinical_pair(tmp_path)
    assert determine_filetype(clin, CENTER).name == "clinical"
    assert determine_filetype(_write_maf(tmp_path), CENTER).name == "maf"
    assert determine_filetype(_write_bed(tmp_path), CENTER).name == "bed"
    assert determine_filetype(["nonsense.xyz"], CENTER) is None


def _ns(**kw):
    import argparse

    return argparse.Namespace(**kw)


def test_validate_command(spark, tmp_path):
    paths = _write_clinical_pair(tmp_path)
    rc = cmd_validate(
        spark, _ns(paths=paths, center=CENTER, filetype=None)
    )
    assert rc == 0


def test_validate_bad_file(spark, tmp_path):
    sp = tmp_path / f"data_clinical_supp_{CENTER}.txt"
    # missing required columns + bad id prefix
    sp.write_text("SAMPLE_ID\tPATIENT_ID\nX-1\tX\n")
    rc = cmd_validate(
        spark, _ns(paths=[str(sp)], center=CENTER, filetype=None)
    )
    assert rc == 1


def _ingest_fixture(spark, tmp_path, wh):
    """Ingest the clinical pair, MAF, BED, CNA and assay uploads."""
    for paths, ft in [
        (_write_clinical_pair(tmp_path), None),
        (_write_maf(tmp_path), None),
        (_write_bed(tmp_path), "bed"),
        (_write_cna(tmp_path), None),
        (_write_assay(tmp_path), None),
    ]:
        rc = cmd_ingest(
            spark,
            _ns(paths=paths, center=CENTER, warehouse=wh, filetype=ft, force=True),
        )
        assert rc == 0, f"ingest failed for {paths}"


def test_ingest_release_dashboard(spark, tmp_path):
    wh = str(tmp_path / "warehouse")
    out = str(tmp_path / "release")
    dash = str(tmp_path / "dash")

    _ingest_fixture(spark, tmp_path, wh)

    # bed bronze needs SEQ_ASSAY_ID for the release no-genepanel filter
    bed = spark.read.parquet(os.path.join(wh, "bed"))
    assert "SEQ_ASSAY_ID" in bed.columns or "Chromosome" in bed.columns

    # re-ingest same clinical = upsert, row count unchanged
    rc = cmd_ingest(
        spark,
        _ns(paths=_write_clinical_pair(tmp_path), center=CENTER, warehouse=wh,
            filetype=None, force=True),
    )
    assert rc == 0
    clin = spark.read.parquet(os.path.join(wh, "clinical"))
    assert clin.count() == 2

    # CNA melted to long form, NA cells dropped
    cna = spark.read.parquet(os.path.join(wh, "cna_long"))
    assert set(cna.columns) >= {"Hugo_Symbol", "SAMPLE_ID", "value"}
    assert cna.count() == 3

    rc = cmd_release(
        spark, _ns(warehouse=wh, output=out, version="TEST", pad=10, whitelist=None)
    )
    assert rc == 0
    assert os.path.exists(os.path.join(out, "data_clinical.txt"))
    assert os.path.exists(os.path.join(out, "data_mutations_extended.txt"))
    with open(os.path.join(out, "data_CNA.txt")) as f:
        cna_txt = f.read()
    assert cna_txt.startswith("Hugo_Symbol")
    assert "NA" in cna_txt  # blank cells render as NA (S16)

    with open(os.path.join(out, "data_gene_matrix.txt")) as f:
        assert f.read().startswith("SAMPLE_ID")

    # full artifact set: combined bed, per-panel gene panel files, case
    # lists on disk (reference store_bed_files / store_gene_panel_files /
    # create_case_lists)
    assert os.path.exists(os.path.join(out, "genomic_information.txt"))
    with open(os.path.join(out, f"data_gene_panel_{CENTER}-PANEL-1.txt")) as f:
        panel = f.read()
    assert "stable_id:" in panel and "gene_list:" in panel
    case_dir = os.path.join(out, "case_lists")
    case_files = set(os.listdir(case_dir))
    assert {"cases_all.txt", "cases_sequenced.txt"} <= case_files
    with open(os.path.join(case_dir, "cases_all.txt")) as f:
        assert f"GENIE-{CENTER}-1-1" in f.read()

    # consortium → public: restrict to one sample, drop a private column
    pub = str(tmp_path / "public")
    keep_csv = tmp_path / "keep.csv"
    keep_csv.write_text(f"GENIE-{CENTER}-1-1\n")
    rc = cmd_public(
        spark,
        _ns(
            release_dir=out,
            output=pub,
            keep_samples=str(keep_csv),
            private_columns="BIRTH_YEAR",
        ),
    )
    assert rc == 0
    with open(os.path.join(pub, "data_clinical.txt")) as f:
        pub_clin = f.read()
    assert f"GENIE-{CENTER}-1-1" in pub_clin
    assert f"GENIE-{CENTER}-2-1" not in pub_clin
    assert "BIRTH_YEAR" not in pub_clin
    with open(os.path.join(pub, "data_mutations_extended.txt")) as f:
        pub_maf = f.read()
    assert f"GENIE-{CENTER}-1-1" in pub_maf
    assert f"GENIE-{CENTER}-2-1" not in pub_maf

    # full public artifact set (consortium_to_public.py:41-359): CNA
    # columns subset to public samples, gene matrix rows filtered,
    # panel/bed files copied, case lists regenerated
    with open(os.path.join(pub, "data_CNA.txt")) as f:
        pub_cna_header = f.readline().rstrip("\n").split("\t")
    assert f"GENIE-{CENTER}-1-1" in pub_cna_header
    assert f"GENIE-{CENTER}-2-1" not in pub_cna_header
    with open(os.path.join(pub, "data_gene_matrix.txt")) as f:
        pub_gm = f.read()
    assert f"GENIE-{CENTER}-2-1" not in pub_gm
    assert os.path.exists(os.path.join(pub, "genomic_information.txt"))
    assert os.path.exists(
        os.path.join(pub, f"data_gene_panel_{CENTER}-PANEL-1.txt")
    )
    with open(os.path.join(pub, "case_lists", "cases_all.txt")) as f:
        pub_cases = f.read()
    assert f"GENIE-{CENTER}-1-1" in pub_cases
    assert f"GENIE-{CENTER}-2-1" not in pub_cases

    # generated cBioPortal meta files in both dirs (the reference revises
    # pre-existing ones; we generate from scratch)
    assert os.path.exists(os.path.join(out, "meta_study.txt"))
    assert os.path.exists(os.path.join(out, "meta_mutations_extended.txt"))
    # assayinfo bronze ingested → the released assay's info is written
    with open(os.path.join(out, "assay_information.txt")) as f:
        assay_txt = f.read()
    assert f"{CENTER}-PANEL-1" in assay_txt
    assert os.path.exists(os.path.join(pub, "meta_study.txt"))
    with open(os.path.join(pub, "meta_clinical.txt")) as f:
        assert "data_filename: data_clinical.txt" in f.read()

    # both release dirs pass the full cross-file QC
    from genie_spark.release.qc import validate_release

    assert validate_release(spark, out).errors == []
    assert validate_release(spark, pub).errors == []

    # oncotree dim present → primary-node distribution with the
    # DEPRECATED_CODE bucket and a Total column
    spark.createDataFrame(
        [("UNKNOWN", "x", "x", "PRIMARY_X", "")],
        "ONCOTREE_CODE string, CANCER_TYPE string, CANCER_TYPE_DETAILED "
        "string, ONCOTREE_PRIMARY_NODE string, ONCOTREE_SECONDARY_NODE string",
    ).write.mode("overwrite").parquet(os.path.join(wh, "oncotree"))

    rc = cmd_dashboard(spark, _ns(warehouse=wh, output=dash))
    assert rc == 0
    counts = spark.read.parquet(os.path.join(dash, "sample_counts"))
    assert counts.count() >= 1
    primary = spark.read.parquet(os.path.join(dash, "primary_code_matrix"))
    rows = {r["PRIMARY_CODE"]: r for r in primary.collect()}
    # both test samples carry ONCOTREE_CODE=UNKNOWN → PRIMARY_X
    assert rows["PRIMARY_X"]["Total"] == 2
    onc_matrix = spark.read.parquet(os.path.join(dash, "oncotree_matrix"))
    assert "Total" in onc_matrix.columns


def _tree_bytes(root):
    """Relative path → bytes of every file under ``root``."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def test_public_full_sample_set_matches_release(spark, tmp_path):
    """cmd_public over every released sample, with no private column
    and the release's study id and version, writes each file it shares
    with the release byte for byte: both write their study files
    through one writer."""
    wh = str(tmp_path / "warehouse")
    out = str(tmp_path / "release")
    pub = str(tmp_path / "public")
    _ingest_fixture(spark, tmp_path, wh)
    rc = cmd_release(
        spark,
        _ns(warehouse=wh, output=out, version="TEST", pad=10, whitelist=None,
            skip_qc=True),
    )
    assert rc == 0
    rc = cmd_public(
        spark,
        _ns(release_dir=out, output=pub, keep_samples=None, private_columns=None,
            study_id="genie_private", version="TEST"),
    )
    assert rc == 0
    released, public = _tree_bytes(out), _tree_bytes(pub)
    # the assay information is the one release-only file
    assert set(public) == set(released) - {"assay_information.txt"}
    assert len(public) == 19
    assert [n for n in sorted(public) if public[n] != released[n]] == []


def test_retraction_e2e(spark, tmp_path):
    """ingest → retract → release excludes retracted samples (reference
    genie/toRetract.py:9-84: retraction runs every processing run with
    patient→sample cascade)."""
    wh = str(tmp_path / "warehouse")
    out = str(tmp_path / "release")
    for paths, ft in [
        (_write_clinical_pair(tmp_path), None),
        (_write_maf(tmp_path), None),
        (_write_bed(tmp_path), "bed"),
    ]:
        rc = cmd_ingest(
            spark,
            _ns(paths=paths, center=CENTER, warehouse=wh, filetype=ft, force=True),
        )
        assert rc == 0

    # pre-retraction release → snapshot v1
    rc = cmd_release(
        spark, _ns(warehouse=wh, output=str(tmp_path / "rel_v1"), version="v1",
                   pad=10, whitelist=None)
    )
    assert rc == 0

    # retract patient 2 — its sample must cascade out of the clinical bronze
    pr = tmp_path / "patientRetraction.csv"
    pr.write_text(f"GENIE-{CENTER}-2\n")
    rc = cmd_ingest(
        spark,
        _ns(paths=[str(pr)], center=CENTER, warehouse=wh, filetype=None, force=True),
    )
    assert rc == 0
    clin = spark.read.parquet(os.path.join(wh, "clinical"))
    assert [r["SAMPLE_ID"] for r in clin.select("SAMPLE_ID").collect()] == [
        f"GENIE-{CENTER}-1-1"
    ]

    rc = cmd_release(
        spark, _ns(warehouse=wh, output=out, version="v2", pad=10, whitelist=None)
    )
    assert rc == 0
    with open(os.path.join(out, "data_clinical.txt")) as f:
        released = f.read()
    assert f"GENIE-{CENTER}-1-1" in released
    assert f"GENIE-{CENTER}-2-1" not in released
    with open(os.path.join(out, "data_mutations_extended.txt")) as f:
        maf_txt = f.read()
    assert f"GENIE-{CENTER}-2-1" not in maf_txt

    # A5/A6: the v1→v2 clinical count drop shows up in sample_diff and
    # trips the decrease check (dashboard_table_updater.py:398-483)
    dash = str(tmp_path / "dash")
    rc = cmd_dashboard(spark, _ns(warehouse=wh, output=dash))
    assert rc == 0
    diff = spark.read.parquet(os.path.join(dash, "sample_diff"))
    rows = {(r["Center"], r["Release"]): r["Clinical"] for r in diff.collect()}
    assert rows[(CENTER, "v1")] == 2   # first release carries raw counts
    assert rows[(CENTER, "v2")] == -1  # one retracted sample
    dec = spark.read.parquet(os.path.join(dash, "decrease_check")).collect()
    assert len(dec) == 1 and dec[0]["Release"] == "v2"


def test_release_snapshot_version_ordering(spark, tmp_path):
    """Snapshot diffs order by the monotonic ReleaseSeq stamp, not the
    version string — 'v10' sorts lexicographically before 'v9' but must
    diff AFTER it (dashboard_table_updater.py:699-708 sorts releases
    numerically for the same reason)."""
    import types

    from genie_spark.cli import _append_release_snapshot, cmd_dashboard

    wh = str(tmp_path / "warehouse")
    os.makedirs(wh)

    def arts_with(n_rows):
        clin = spark.createDataFrame(
            [(f"S{i}", CENTER) for i in range(n_rows)], ["SAMPLE_ID", "CENTER"]
        )
        return types.SimpleNamespace(
            clinical=clin, maf=None, cna_long=None, seg=None, sv=None
        )

    # clinical bronze so cmd_dashboard runs; 9 releases v1..v9 growing,
    # then v10 with a drop
    arts_with(3).clinical.write.parquet(os.path.join(wh, "clinical"))
    for i in range(1, 10):
        _append_release_snapshot(spark, wh, f"v{i}", arts_with(i))
    _append_release_snapshot(spark, wh, "v10", arts_with(5))

    dash = str(tmp_path / "dash")
    rc = cmd_dashboard(spark, _ns(warehouse=wh, output=dash))
    assert rc == 0
    diff = spark.read.parquet(os.path.join(dash, "sample_diff"))
    rows = {r["Release"]: r["Clinical"] for r in diff.collect()}
    assert rows["v2"] == 1        # 2 - 1
    assert rows["v10"] == 5 - 9   # diffs against v9, not v1
    dec = spark.read.parquet(os.path.join(dash, "decrease_check")).collect()
    assert {r["Release"] for r in dec} == {"v10"}

    # samples-in-release membership matrix: columns in seq order
    # (v10 after v9), S0 everywhere, S8 only in v9, S4 back in v10
    sir = spark.read.parquet(os.path.join(dash, "samples_in_release"))
    assert sir.columns == ["SAMPLE_ID"] + [f"v{i}" for i in range(1, 11)]
    by_id = {r["SAMPLE_ID"]: r for r in sir.collect()}
    assert by_id["S0"]["v1"] == 1 and by_id["S0"]["v10"] == 1
    assert by_id["S8"]["v9"] == 1 and by_id["S8"]["v10"] == 0
    assert by_id["S4"]["v4"] == 0 and by_id["S4"]["v10"] == 1


def test_release_qc_stage(spark, tmp_path):
    """Post-write release QC (reference cbioValidator stage,
    bin/database_to_staging.py:310-332): a clean directory passes; a
    seeded corruption in each artifact class is caught."""
    from genie_spark.release.qc import validate_release

    out = str(tmp_path / "rel")
    case_dir = os.path.join(out, "case_lists")
    os.makedirs(case_dir)

    def write(path, text):
        with open(os.path.join(out, path), "w") as f:
            f.write(text)

    write(
        "data_clinical.txt",
        "#Sample Id\tCancer Type\n#desc\tdesc\n#STRING\tSTRING\n#1\t1\n"
        "SAMPLE_ID\tCANCER_TYPE\nGENIE-SAGE-1-1\tGlioma\nGENIE-SAGE-2-1\tGlioma\n",
    )
    write(
        "data_mutations_extended.txt",
        "Hugo_Symbol\tTumor_Sample_Barcode\nTP53\tGENIE-SAGE-1-1\n",
    )
    write(
        "data_gene_matrix.txt",
        "SAMPLE_ID\tmutations\nGENIE-SAGE-1-1\tSAGE-PANEL-1\n",
    )
    write(
        "data_gene_panel_SAGE-PANEL-1.txt",
        "stable_id: SAGE-PANEL-1\ndescription: d\ngene_list: TP53\tEGFR\n",
    )
    write(
        "genomic_information.txt",
        "Chromosome\tHugo_Symbol\tSEQ_ASSAY_ID\n1\tTP53\tSAGE-PANEL-1\n"
        "1\tEGFR\tSAGE-PANEL-1\n",
    )
    write("data_CNA.txt", "Hugo_Symbol\tGENIE-SAGE-1-1\nTP53\t-1\n")
    write(
        "case_lists/cases_all.txt",
        "cancer_study_identifier: s\nstable_id: s_all\ncase_list_name: n\n"
        "case_list_description: d\ncase_list_ids: GENIE-SAGE-1-1\tGENIE-SAGE-2-1\n",
    )
    # mutation + CNA data require their case lists (round-11
    # profile↔case-list cross-reference rule)
    write(
        "case_lists/cases_sequenced.txt",
        "cancer_study_identifier: s\nstable_id: s_sequenced\ncase_list_name: n\n"
        "case_list_description: d\ncase_list_ids: GENIE-SAGE-1-1\n",
    )
    write(
        "case_lists/cases_cna.txt",
        "cancer_study_identifier: s\nstable_id: s_cna\ncase_list_name: n\n"
        "case_list_description: d\ncase_list_ids: GENIE-SAGE-1-1\tGENIE-SAGE-2-1\n",
    )
    from genie_spark.io.writers import cbio_meta_texts

    present = {n for n in os.listdir(out) if os.path.isfile(os.path.join(out, n))}
    for name, text in cbio_meta_texts("s", "1.0", present).items():
        write(name, text)
    report = validate_release(spark, out)
    assert report.errors == []

    # corruption 1: case list references an unknown sample
    write(
        "case_lists/cases_all.txt",
        "cancer_study_identifier: s\nstable_id: s_all\ncase_list_name: n\n"
        "case_list_description: d\ncase_list_ids: GENIE-SAGE-1-1\tGENIE-X-9-9\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.case_list_samples" in ids

    # corruption 2: gene matrix references a bed-backed panel with no
    # file on disk → flagged
    write(
        "data_gene_matrix.txt",
        "SAMPLE_ID\tmutations\nGENIE-SAGE-1-1\tSAGE-PANEL-9\n",
    )
    write(
        "genomic_information.txt",
        "Chromosome\tHugo_Symbol\tSEQ_ASSAY_ID\n1\tTP53\tSAGE-PANEL-1\n"
        "1\tEGFR\tSAGE-PANEL-1\n1\tTP53\tSAGE-PANEL-9\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.gene_panel_files" in ids

    # ...but a matrix assay id absent from the bed is WES-exempt
    # (store_gene_panel_files writes no file for WES assays)
    write(
        "genomic_information.txt",
        "Chromosome\tHugo_Symbol\tSEQ_ASSAY_ID\n1\tTP53\tSAGE-PANEL-1\n"
        "1\tEGFR\tSAGE-PANEL-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.gene_panel_files" not in ids

    # ...and an all-blank SEQ_ASSAY_ID column gives no exemption basis:
    # every missing panel is flagged, as with no bed file at all
    write(
        "genomic_information.txt",
        "Chromosome\tHugo_Symbol\tSEQ_ASSAY_ID\n1\tTP53\tNA\n1\tEGFR\tNA\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.gene_panel_files" in ids
    write(
        "genomic_information.txt",
        "Chromosome\tHugo_Symbol\tSEQ_ASSAY_ID\n1\tTP53\tSAGE-PANEL-1\n"
        "1\tEGFR\tSAGE-PANEL-1\n",
    )

    # corruption 3: panel gene absent from genomic_information.txt
    write(
        "data_gene_panel_SAGE-PANEL-1.txt",
        "stable_id: SAGE-PANEL-1\ndescription: d\ngene_list: TP53\tBRCA1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.gene_panel_genes" in ids

    # corruption 4: CNA sample column not in clinical
    write("data_CNA.txt", "Hugo_Symbol\tGENIE-Y-1-1\nTP53\t-1\n")
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.cna_samples" in ids

    # corruption 5: maf barcode not in clinical
    write(
        "data_mutations_extended.txt",
        "Hugo_Symbol\tTumor_Sample_Barcode\nTP53\tGENIE-Z-1-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.maf_samples" in ids

    # corruption 6: clinical loses a metadata line
    write(
        "data_clinical.txt",
        "#Sample Id\tCancer Type\n#STRING\tSTRING\n#1\t1\n"
        "SAMPLE_ID\tCANCER_TYPE\nGENIE-SAGE-1-1\tGlioma\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_header" in ids

    # corruption 7: a data file loses its meta
    os.remove(os.path.join(out, "meta_CNA.txt"))
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.meta_missing" in ids

    # corruption 8: a meta references a data file that is gone
    os.remove(os.path.join(out, "data_sv.txt")) if os.path.exists(
        os.path.join(out, "data_sv.txt")
    ) else None
    os.remove(os.path.join(out, "data_gene_matrix.txt"))
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.meta_dangling" in ids

    # corruption 9: duplicated clinical SAMPLE_ID rows
    write(
        "data_clinical.txt",
        "#Sample Id\tPatient Id\n#desc\tdesc\n#STRING\tSTRING\n#1\t1\n"
        "SAMPLE_ID\tPATIENT_ID\nGENIE-SAGE-1-1\tGENIE-SAGE-1\n"
        "GENIE-SAGE-1-1\tGENIE-SAGE-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_dup_sample" in ids

    # corruption 10: blank PATIENT_ID
    write(
        "data_clinical.txt",
        "#Sample Id\tPatient Id\n#desc\tdesc\n#STRING\tSTRING\n#1\t1\n"
        "SAMPLE_ID\tPATIENT_ID\nGENIE-SAGE-1-1\t\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_patient_blank" in ids

    # corruption 11: maf chromosome outside 1-22/X/Y/MT and a
    # non-integer start position
    write(
        "data_mutations_extended.txt",
        "Hugo_Symbol\tTumor_Sample_Barcode\tChromosome\tStart_Position\n"
        "TP53\tGENIE-SAGE-1-1\tchr99\tnot_a_pos\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.maf_chromosome" in ids
    assert "release.maf_start_position" in ids

    # corruption 12: CNA call outside the discrete domain
    write("data_CNA.txt", "Hugo_Symbol\tGENIE-SAGE-1-1\nTP53\t7\n")
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.cna_values" in ids

    # corruption 13: seg numeric column fails to parse
    write(
        "genie_data_cna_hg19.seg",
        "ID\tchrom\tloc.start\tloc.end\tnum.mark\tseg.mean\n"
        "GENIE-SAGE-1-1\t1\t100\t200\t5\tnot_a_number\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.seg_numeric" in ids

    # corruption 14: allele columns outside the A/T/C/G/N (or "-")
    # charset (reference genie/validate.py get_invalid_allele_rows)
    write(
        "data_mutations_extended.txt",
        "Hugo_Symbol\tTumor_Sample_Barcode\tReference_Allele\t"
        "Tumor_Seq_Allele2\nTP53\tGENIE-SAGE-1-1\tACGT\tAXGT\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.maf_allele_charset" in ids
    # a null allele is ALSO a violation: the reference runs
    # get_invalid_allele_rows with allow_na=False (str.match na=False)
    write(
        "data_mutations_extended.txt",
        "Hugo_Symbol\tTumor_Sample_Barcode\tReference_Allele\t"
        "Tumor_Seq_Allele2\nTP53\tGENIE-SAGE-1-1\t\tACGT\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.maf_allele_charset" in ids
    # clean alleles (incl. the "-" deletion form and LOWERCASE, which
    # the reference accepts via ignore_case=True) do NOT trip it
    write(
        "data_mutations_extended.txt",
        "Hugo_Symbol\tTumor_Sample_Barcode\tReference_Allele\t"
        "Tumor_Seq_Allele2\nTP53\tGENIE-SAGE-1-1\tACGTN\t-\n"
        "KRAS\tGENIE-SAGE-1-1\tacgtn\ttAcG\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.maf_allele_charset" not in ids

    # corruption 15: stable_id not <study>_<filename stem>, and a
    # second case list claiming a different study id
    write(
        "case_lists/cases_all.txt",
        "cancer_study_identifier: s\nstable_id: other_all\n"
        "case_list_name: n\ncase_list_description: d\n"
        "case_list_ids: GENIE-SAGE-1-1\n",
    )
    write(
        "case_lists/cases_glioma.txt",
        "cancer_study_identifier: s2\nstable_id: s2_glioma\n"
        "case_list_name: n\ncase_list_description: d\n"
        "case_list_ids: GENIE-SAGE-1-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.case_list_stable_id" in ids
    assert "release.case_list_study_id" in ids

    # corruption 16: case_list_category outside cBioPortal's domain
    # (the key is OPTIONAL — the reference template omits it — so a
    # list without one must NOT trip the rule)
    write(
        "case_lists/cases_all.txt",
        "cancer_study_identifier: s\nstable_id: s_all\n"
        "case_list_name: n\ncase_list_description: d\n"
        "case_list_category: all_cases_with_telepathy_data\n"
        "case_list_ids: GENIE-SAGE-1-1\n",
    )
    write(
        "case_lists/cases_glioma.txt",
        "cancer_study_identifier: s\nstable_id: s_glioma\n"
        "case_list_name: n\ncase_list_description: d\n"
        "case_list_ids: GENIE-SAGE-1-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.case_list_category" in ids
    write(
        "case_lists/cases_all.txt",
        "cancer_study_identifier: s\nstable_id: s_all\n"
        "case_list_name: n\ncase_list_description: d\n"
        "case_list_category: all_cases_in_study\n"
        "case_list_ids: GENIE-SAGE-1-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.case_list_category" not in ids

    # corruption 17: seg segment with end before start / non-positive
    # coordinates
    write(
        "genie_data_cna_hg19.seg",
        "ID\tchrom\tloc.start\tloc.end\tnum.mark\tseg.mean\n"
        "GENIE-SAGE-1-1\t1\t500\t100\t5\t0.2\n"
        "GENIE-SAGE-1-1\t2\t0\t100\t5\t0.2\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.seg_coordinates" in ids
    write(
        "genie_data_cna_hg19.seg",
        "ID\tchrom\tloc.start\tloc.end\tnum.mark\tseg.mean\n"
        "GENIE-SAGE-1-1\t1\t100\t500\t5\t0.2\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.seg_coordinates" not in ids

    # corruption 18: Variant_Classification outside cBioPortal's
    # accepted catalog (a valid value and a null both pass)
    write(
        "data_mutations_extended.txt",
        "Hugo_Symbol\tTumor_Sample_Barcode\tVariant_Classification\n"
        "TP53\tGENIE-SAGE-1-1\tMissense_Mutatoin\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.maf_variant_classification" in ids
    write(
        "data_mutations_extended.txt",
        "Hugo_Symbol\tTumor_Sample_Barcode\tVariant_Classification\n"
        "TP53\tGENIE-SAGE-1-1\tMissense_Mutation\n"
        "KRAS\tGENIE-SAGE-1-1\t\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.maf_variant_classification" not in ids

    # corruption 19: meta files disagreeing on cancer_study_identifier
    write("meta_clinical.txt", "cancer_study_identifier: s\n"
          "data_filename: data_clinical.txt\n")
    write("meta_mutations_extended.txt",
          "cancer_study_identifier: OTHER\n"
          "data_filename: data_mutations_extended.txt\n")
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.meta_study_id" in ids
    write("meta_mutations_extended.txt",
          "cancer_study_identifier: s\n"
          "data_filename: data_mutations_extended.txt\n")
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.meta_study_id" not in ids

    # corruption 20: duplicate gene-matrix SAMPLE_ID rows (the
    # reference dedups before writing, database_to_staging.py:1628)
    write(
        "data_gene_matrix.txt",
        "SAMPLE_ID\tmutations\nGENIE-SAGE-1-1\tSAGE-PANEL-1\n"
        "GENIE-SAGE-1-1\tSAGE-PANEL-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.gene_matrix_dup_sample" in ids
    write(
        "data_gene_matrix.txt",
        "SAMPLE_ID\tmutations\nGENIE-SAGE-1-1\tSAGE-PANEL-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.gene_matrix_dup_sample" not in ids

    # corruption 21: matrix `mutations` disagrees with the sample's
    # clinical SEQ_ASSAY_ID (matrix is BUILT from that column,
    # database_to_staging.py:1622-1626) — needs clinical to carry the
    # assay column first
    write(
        "data_clinical.txt",
        "#Sample Id\tCancer Type\tAssay\n#d\td\td\n#STRING\tSTRING\tSTRING\n"
        "#1\t1\t1\nSAMPLE_ID\tCANCER_TYPE\tSEQ_ASSAY_ID\n"
        "GENIE-SAGE-1-1\tGlioma\tSAGE-PANEL-1\n"
        "GENIE-SAGE-2-1\tGlioma\tSAGE-WES-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.gene_matrix_assay_mismatch" not in ids
    write(
        "data_gene_matrix.txt",
        "SAMPLE_ID\tmutations\nGENIE-SAGE-1-1\tSAGE-PANEL-2\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.gene_matrix_assay_mismatch" in ids
    write(
        "data_gene_matrix.txt",
        "SAMPLE_ID\tmutations\nGENIE-SAGE-1-1\tSAGE-PANEL-1\n",
    )

    # corruption 22: cases_sequenced sample with a panel-backed assay
    # but no gene-matrix row → flagged; the WES sample (assay absent
    # from the bed) is exempt — the reference removes WES matrix rows
    # on purpose (database_to_staging.py:1631-1632)
    write(
        "case_lists/cases_sequenced.txt",
        "cancer_study_identifier: s\nstable_id: s_sequenced\n"
        "case_list_name: n\ncase_list_description: d\n"
        "case_list_category: all_cases_with_mutation_data\n"
        "case_list_ids: GENIE-SAGE-1-1\tGENIE-SAGE-2-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.gene_matrix_cases_sequenced" not in ids  # WES-exempt
    # give sample 2 a panel-backed assay: now its missing matrix row is
    # a real error
    write(
        "data_clinical.txt",
        "#Sample Id\tCancer Type\tAssay\n#d\td\td\n#STRING\tSTRING\tSTRING\n"
        "#1\t1\t1\nSAMPLE_ID\tCANCER_TYPE\tSEQ_ASSAY_ID\n"
        "GENIE-SAGE-1-1\tGlioma\tSAGE-PANEL-1\n"
        "GENIE-SAGE-2-1\tGlioma\tSAGE-PANEL-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.gene_matrix_cases_sequenced" in ids

    # corruption 23: containment in the reverse direction — a clinical
    # sample missing from cases_all.txt (all_cases_in_study must cover
    # the study; forward ⊆ ran as corruption 1)
    write(
        "case_lists/cases_all.txt",
        "cancer_study_identifier: s\nstable_id: s_all\ncase_list_name: n\n"
        "case_list_description: d\n"
        "case_list_ids: GENIE-SAGE-1-1\tGENIE-SAGE-2-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.case_list_all_coverage" not in ids
    write(
        "case_lists/cases_all.txt",
        "cancer_study_identifier: s\nstable_id: s_all\ncase_list_name: n\n"
        "case_list_description: d\ncase_list_ids: GENIE-SAGE-1-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.case_list_all_coverage" in ids

    # corruption 24: a shipped data_* file no meta references — it
    # would silently never be imported (discovery is THROUGH meta).
    # data_CNA.txt is ALSO legitimately unreferenced here (corruption 7
    # deleted meta_CNA.txt), so assert on the specific file.
    def _unreferenced():
        for m in validate_release(spark, out).errors:
            if m.rule_id == "release.meta_unreferenced_data":
                return m.examples
        return []

    write("data_timeline.txt", "PATIENT_ID\tSTART_DATE\nGENIE-SAGE-1\t0\n")
    assert "data_timeline.txt" in _unreferenced()
    assert "data_CNA.txt" in _unreferenced()  # from corruption 7
    os.remove(os.path.join(out, "data_timeline.txt"))
    assert "data_timeline.txt" not in _unreferenced()

    # corruption 25: clinical attribute-metadata row content — a
    # datatype outside STRING/NUMBER/BOOLEAN, a non-integer priority,
    # and a width-shifted metadata row (cBioPortal validateData
    # clinical header checks; reference addClinicalHeaders writes
    # labels/descriptions/types/priorities)
    write(
        "data_clinical.txt",
        "#Sample Id\tCancer Type\n#d\td\n#STRING\tVARCHAR\n#1\thigh\n"
        "SAMPLE_ID\tCANCER_TYPE\nGENIE-SAGE-1-1\tGlioma\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_header_datatype" in ids
    assert "release.clinical_header_priority" in ids
    write(
        "data_clinical.txt",
        "#Sample Id\n#d\td\n#STRING\tSTRING\n#1\t1\n"
        "SAMPLE_ID\tCANCER_TYPE\nGENIE-SAGE-1-1\tGlioma\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_header_width" in ids
    write(
        "data_clinical.txt",
        "#Sample Id\tCancer Type\n#d\td\n#STRING\tSTRING\n#1\t1\n"
        "SAMPLE_ID\tCANCER_TYPE\nGENIE-SAGE-1-1\tGlioma\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert not ids & {
        "release.clinical_header_width",
        "release.clinical_header_datatype",
        "release.clinical_header_priority",
    }


def test_release_qc_priority_and_split_clinical(spark, tmp_path):
    """validateData's clinical-attribute priority ordering notch:
    priorities non-negative, id columns never hidden (priority 0), and
    the split patient/sample pair leads with the ids in cBioPortal's
    patient-before-sample order with attributes at their level."""
    from genie_spark.io.writers import cbio_meta_texts
    from genie_spark.release.qc import validate_release

    out = str(tmp_path / "rel")
    os.makedirs(os.path.join(out, "case_lists"))

    def write(path, text):
        with open(os.path.join(out, path), "w") as f:
            f.write(text)

    def seed_clean():
        write(
            "data_clinical.txt",
            "#Sample Id\tPatient Id\tSex\n#d\td\td\n#STRING\tSTRING\tSTRING\n"
            "#1\t1\t1\n"
            "SAMPLE_ID\tPATIENT_ID\tSEX\nGENIE-SAGE-1-1\tGENIE-SAGE-1\tFemale\n",
        )
        write(
            "data_clinical_patient.txt",
            "#Patient Id\tSex\n#d\td\n#STRING\tSTRING\n#1\t1\n"
            "PATIENT_ID\tSEX\nGENIE-SAGE-1\tFemale\n",
        )
        write(
            "data_clinical_sample.txt",
            "#Patient Id\tSample Id\n#d\td\n#STRING\tSTRING\n#1\t1\n"
            "PATIENT_ID\tSAMPLE_ID\nGENIE-SAGE-1\tGENIE-SAGE-1-1\n",
        )
        write(
            "data_mutations_extended.txt",
            "Hugo_Symbol\tTumor_Sample_Barcode\nTP53\tGENIE-SAGE-1-1\n",
        )
        write(
            "case_lists/cases_all.txt",
            "cancer_study_identifier: s\nstable_id: s_all\n"
            "case_list_name: n\ncase_list_description: d\n"
            "case_list_ids: GENIE-SAGE-1-1\n",
        )
        write(
            "case_lists/cases_sequenced.txt",
            "cancer_study_identifier: s\nstable_id: s_sequenced\n"
            "case_list_name: n\ncase_list_description: d\n"
            "case_list_ids: GENIE-SAGE-1-1\n",
        )
        present = {
            n for n in os.listdir(out) if os.path.isfile(os.path.join(out, n))
        }
        for name, text in cbio_meta_texts("s", "1.0", present).items():
            write(name, text)

    seed_clean()
    assert validate_release(spark, out).errors == []

    # negative priority in the merged file
    write(
        "data_clinical.txt",
        "#Sample Id\tPatient Id\tSex\n#d\td\td\n#STRING\tSTRING\tSTRING\n"
        "#1\t-1\t1\n"
        "SAMPLE_ID\tPATIENT_ID\tSEX\nGENIE-SAGE-1-1\tGENIE-SAGE-1\tFemale\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_priority_negative" in ids

    # id column hidden (priority 0)
    write(
        "data_clinical.txt",
        "#Sample Id\tPatient Id\tSex\n#d\td\td\n#STRING\tSTRING\tSTRING\n"
        "#0\t1\t1\n"
        "SAMPLE_ID\tPATIENT_ID\tSEX\nGENIE-SAGE-1-1\tGENIE-SAGE-1\tFemale\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_id_priority_hidden" in ids
    seed_clean()

    # sample file with the ids in the WRONG order (sample before patient)
    write(
        "data_clinical_sample.txt",
        "#Sample Id\tPatient Id\n#d\td\n#STRING\tSTRING\n#1\t1\n"
        "SAMPLE_ID\tPATIENT_ID\nGENIE-SAGE-1-1\tGENIE-SAGE-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_split_lead" in ids

    # patient-level attribute (SEX) in the sample file
    write(
        "data_clinical_sample.txt",
        "#Patient Id\tSample Id\tSex\n#d\td\td\n#STRING\tSTRING\tSTRING\n"
        "#1\t1\t1\n"
        "PATIENT_ID\tSAMPLE_ID\tSEX\nGENIE-SAGE-1\tGENIE-SAGE-1-1\tFemale\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_split_level" in ids

    # sample-level attribute in the patient file
    write(
        "data_clinical_patient.txt",
        "#Patient Id\tOncotree Code\n#d\td\n#STRING\tSTRING\n#1\t1\n"
        "PATIENT_ID\tONCOTREE_CODE\nGENIE-SAGE-1\tGLIOMA\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_split_level" in ids
    seed_clean()

    # split sample id absent from the merged file
    write(
        "data_clinical_sample.txt",
        "#Patient Id\tSample Id\n#d\td\n#STRING\tSTRING\n#1\t1\n"
        "PATIENT_ID\tSAMPLE_ID\nGENIE-SAGE-9\tGENIE-SAGE-9-9\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_split_samples" in ids

    # split file without its meta
    seed_clean()
    os.remove(os.path.join(out, "meta_clinical_sample.txt"))
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.meta_missing" in ids

    # attribute-id charset: lowercase id in the merged file
    seed_clean()
    write(
        "data_clinical.txt",
        "#Sample Id\tPatient Id\tSex\n#d\td\td\n#STRING\tSTRING\tSTRING\n"
        "#1\t1\t1\n"
        "SAMPLE_ID\tPATIENT_ID\tsex\nGENIE-SAGE-1-1\tGENIE-SAGE-1\tFemale\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_attr_charset" in ids

    # attribute-id charset: digit-leading id in the split patient file
    seed_clean()
    write(
        "data_clinical_patient.txt",
        "#Patient Id\t2nd Sex\n#d\td\n#STRING\tSTRING\n#1\t1\n"
        "PATIENT_ID\t2ND_SEX\nGENIE-SAGE-1\tFemale\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_attr_charset" in ids


def test_release_qc_declared_datatype_vs_values(spark, tmp_path):
    """validateData's ClinicalValidator datatype notch: a
    NUMBER-declared column must parse numeric (NA/blank are missing,
    not violations) and a BOOLEAN-declared column must stay in
    TRUE/FALSE — seeded red→green per rule."""
    from genie_spark.io.writers import cbio_meta_texts
    from genie_spark.release.qc import validate_release

    out = str(tmp_path / "rel")
    os.makedirs(os.path.join(out, "case_lists"))

    def write(path, text):
        with open(os.path.join(out, path), "w") as f:
            f.write(text)

    def seed(age_vals, smoker_vals):
        rows = "\n".join(
            f"GENIE-SAGE-1-{i + 1}\tGENIE-SAGE-1\t{a}\t{s}"
            for i, (a, s) in enumerate(zip(age_vals, smoker_vals))
        )
        write(
            "data_clinical.txt",
            "#Sample Id\tPatient Id\tAge\tSmoker\n#d\td\td\td\n"
            "#STRING\tSTRING\tNUMBER\tBOOLEAN\n#1\t1\t1\t1\n"
            "SAMPLE_ID\tPATIENT_ID\tAGE\tSMOKER\n" + rows + "\n",
        )
        write(
            "data_mutations_extended.txt",
            "Hugo_Symbol\tTumor_Sample_Barcode\nTP53\tGENIE-SAGE-1-1\n",
        )
        for n in ("cases_all", "cases_sequenced"):
            write(
                f"case_lists/{n}.txt",
                "cancer_study_identifier: s\nstable_id: s_"
                + n.split("_")[1]
                + "\ncase_list_name: n\ncase_list_description: d\n"
                "case_list_ids: "
                + "\t".join(
                    f"GENIE-SAGE-1-{i + 1}" for i in range(len(age_vals))
                )
                + "\n",
            )
        present = {
            n for n in os.listdir(out) if os.path.isfile(os.path.join(out, n))
        }
        for name, text in cbio_meta_texts("s", "1.0", present).items():
            write(name, text)

    # green: numeric ages (with NA/blank sentinels), TRUE/FALSE domain
    seed(["62", "NA", "", "80.5"], ["TRUE", "FALSE", "NA", "TRUE"])
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_datatype_number" not in ids
    assert "release.clinical_datatype_boolean" not in ids

    # red: a NUMBER column with a non-numeric value
    seed(["62", "eighty", "NA", "80.5"], ["TRUE", "FALSE", "NA", "TRUE"])
    msgs = validate_release(spark, out).errors
    ids = {m.rule_id for m in msgs}
    assert "release.clinical_datatype_number" in ids
    m = next(
        m for m in msgs if m.rule_id == "release.clinical_datatype_number"
    )
    assert m.n_violations == 1 and "eighty" in m.examples

    # red: a BOOLEAN column outside TRUE/FALSE
    seed(["62", "70", "NA", "80.5"], ["TRUE", "yes", "False", "TRUE"])
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_datatype_boolean" in ids


def test_release_qc_profile_case_list_cross_refs(spark, tmp_path):
    """validateData's profile↔case-list cross-references: CNA/SV data
    files require cases_cna/cases_sv, and the profiled samples must
    appear in them."""
    from genie_spark.io.writers import cbio_meta_texts
    from genie_spark.release.qc import validate_release

    out = str(tmp_path / "rel")
    os.makedirs(os.path.join(out, "case_lists"))

    def write(path, text):
        with open(os.path.join(out, path), "w") as f:
            f.write(text)

    write(
        "data_clinical.txt",
        "#Sample Id\n#d\n#STRING\n#1\n"
        "SAMPLE_ID\nGENIE-SAGE-1-1\nGENIE-SAGE-2-1\n",
    )
    write(
        "data_mutations_extended.txt",
        "Hugo_Symbol\tTumor_Sample_Barcode\nTP53\tGENIE-SAGE-1-1\n",
    )
    write("data_CNA.txt", "Hugo_Symbol\tGENIE-SAGE-1-1\tGENIE-SAGE-2-1\nTP53\t-1\t0\n")
    write(
        "data_sv.txt",
        "SAMPLE_ID\tNCBI_BUILD\nGENIE-SAGE-1-1\tGRCh37\n",
    )

    def case_list(stem, ids):
        write(
            f"case_lists/cases_{stem}.txt",
            f"cancer_study_identifier: s\nstable_id: s_{stem}\n"
            f"case_list_name: n\ncase_list_description: d\n"
            f"case_list_ids: {ids}\n",
        )

    case_list("all", "GENIE-SAGE-1-1\tGENIE-SAGE-2-1")
    case_list("sequenced", "GENIE-SAGE-1-1\tGENIE-SAGE-2-1")
    case_list("cna", "GENIE-SAGE-1-1\tGENIE-SAGE-2-1")
    case_list("sv", "GENIE-SAGE-1-1")
    present = {
        n for n in os.listdir(out) if os.path.isfile(os.path.join(out, n))
    }
    for name, text in cbio_meta_texts("s", "1.0", present).items():
        write(name, text)
    assert validate_release(spark, out).errors == []

    # remove cases_cna → existence rule fires
    os.remove(os.path.join(out, "case_lists", "cases_cna.txt"))
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.case_list_profile" in ids

    # cases_cna missing a profiled sample column → membership rule
    case_list("cna", "GENIE-SAGE-1-1")
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.cna_case_list" in ids
    case_list("cna", "GENIE-SAGE-1-1\tGENIE-SAGE-2-1")

    # cases_sv missing an SV-profiled sample → membership rule
    write(
        "data_sv.txt",
        "SAMPLE_ID\tNCBI_BUILD\nGENIE-SAGE-1-1\tGRCh37\n"
        "GENIE-SAGE-2-1\tGRCh37\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.sv_case_list" in ids


def test_write_cbio_clinical_split(spark, tmp_path):
    """The split writer mirrors addClinicalHeaders: patient file one
    row per patient with PATIENT_ID leading; sample file one row per
    sample with PATIENT_ID then SAMPLE_ID leading; both carry the 4
    '#' lines and pass release QC level/order rules by construction."""
    from genie_spark.io.writers import write_cbio_clinical_split

    clin = spark.createDataFrame(
        [
            ("GENIE-SAGE-1-1", "GENIE-SAGE-1", "Female", "LUAD"),
            ("GENIE-SAGE-1-2", "GENIE-SAGE-1", "Female", "GLIOMA"),
            ("GENIE-SAGE-2-1", "GENIE-SAGE-2", "Male", "LUAD"),
        ],
        ["SAMPLE_ID", "PATIENT_ID", "SEX", "ONCOTREE_CODE"],
    )
    sp = str(tmp_path / "data_clinical_sample.txt")
    pp = str(tmp_path / "data_clinical_patient.txt")
    write_cbio_clinical_split(clin, sp, pp)
    with open(pp) as f:
        plines = f.read().splitlines()
    assert sum(1 for line in plines if line.startswith("#")) == 4
    assert plines[4].split("\t") == ["PATIENT_ID", "SEX"]
    assert sorted(plines[5:]) == [
        "GENIE-SAGE-1\tFemale", "GENIE-SAGE-2\tMale",
    ]
    with open(sp) as f:
        slines = f.read().splitlines()
    assert slines[4].split("\t") == ["PATIENT_ID", "SAMPLE_ID", "ONCOTREE_CODE"]
    assert len(slines) == 5 + 3  # one row per sample


def test_dashboard_clinical_value_decreases(spark, tmp_path):
    """--release-dir/--prev-release-dir wire the per-column value-count
    decrease check into the dashboard (reference
    print_clinical_values_difference_table)."""
    wh = str(tmp_path / "warehouse")
    os.makedirs(wh)
    spark.createDataFrame(
        [("GENIE-SAGE-1-1", "SAGE")], "SAMPLE_ID string, CENTER string"
    ).write.parquet(os.path.join(wh, "clinical"))

    def write_release(d, rows):
        os.makedirs(d)
        with open(os.path.join(d, "data_clinical.txt"), "w") as f:
            f.write("#h\n#h\n#h\n#h\nSAMPLE_ID\tPATIENT_ID\tSEX\n")
            for r in rows:
                f.write("\t".join(r) + "\n")

    prev = str(tmp_path / "rel_prev")
    cur = str(tmp_path / "rel_cur")
    write_release(prev, [
        ("GENIE-SAGE-1-1", "GENIE-SAGE-1", "Male"),
        ("GENIE-SAGE-2-1", "GENIE-SAGE-2", "Male"),
    ])
    write_release(cur, [
        ("GENIE-SAGE-1-1", "GENIE-SAGE-1", "Female"),  # Male 2→1
        ("GENIE-SAGE-2-1", "GENIE-SAGE-2", "Male"),
    ])
    dash = str(tmp_path / "dash")
    rc = cmd_dashboard(
        spark,
        _ns(warehouse=wh, output=dash, release_dir=cur, prev_release_dir=prev),
    )
    assert rc == 0
    dec = spark.read.parquet(os.path.join(dash, "clinical_value_decreases"))
    got = {(r["CENTER"], r["column"]): r["has_decrease"] for r in dec.collect()}
    assert got[("SAGE", "SEX")] is True
    assert got[("SAGE", "PATIENT_ID")] is False


def test_cross_file_validation(spark, tmp_path):
    """maf↔clinical cross-validation (reference
    genie_registry/maf.py:429-467): a Tumor_Sample_Barcode missing from
    the clinical bronze is a cross-file error when --warehouse is
    passed, and absent without it."""
    wh = str(tmp_path / "warehouse")
    rc = cmd_ingest(
        spark,
        _ns(paths=_write_clinical_pair(tmp_path), center=CENTER, warehouse=wh,
            filetype=None, force=True),
    )
    assert rc == 0

    bad_maf = tmp_path / f"data_mutations_extended_{CENTER}.txt"
    bad_maf.write_text(
        "Chromosome\tStart_Position\tEnd_Position\tReference_Allele\t"
        "Tumor_Seq_Allele2\tTumor_Sample_Barcode\tt_alt_count\tt_ref_count\tt_depth\n"
        f"1\t150\t150\tA\tT\tGENIE-{CENTER}-ORPHAN-1\t10\t90\t100\n"
    )
    # without a warehouse: file-local rules only → valid
    rc = cmd_validate(
        spark, _ns(paths=[str(bad_maf)], center=CENTER, filetype="maf",
                   warehouse=None),
    )
    assert rc == 0
    # with the warehouse: orphan barcode → cross-file error
    rc = cmd_validate(
        spark, _ns(paths=[str(bad_maf)], center=CENTER, filetype="maf",
                   warehouse=wh),
    )
    assert rc == 1

    # clinical referencing an assay id with no bed file → error
    clin = _write_clinical_pair(tmp_path)
    bed_wh = cmd_ingest(
        spark,
        _ns(paths=_write_bed(tmp_path), center=CENTER, warehouse=wh,
            filetype="bed", force=True),
    )
    assert bed_wh == 0
    rc = cmd_validate(
        spark, _ns(paths=clin, center=CENTER, filetype=None, warehouse=wh),
    )
    assert rc == 0  # SAGE-PANEL-1 bed exists
    orphan_clin = tmp_path / f"data_clinical_supp_{CENTER}.txt"
    orphan_clin.write_text(
        "SAMPLE_ID\tPATIENT_ID\tAGE_AT_SEQ_REPORT\tONCOTREE_CODE\tSAMPLE_TYPE\t"
        "SEQ_ASSAY_ID\tSAMPLE_CLASS\tSEX\tPRIMARY_RACE\tETHNICITY\tBIRTH_YEAR\t"
        "YEAR_CONTACT\tINT_CONTACT\tDEAD\tYEAR_DEATH\tINT_DOD\n"
        f"GENIE-{CENTER}-1-1\tGENIE-{CENTER}-1\t36500\tUNKNOWN\t1\t"
        f"{CENTER}-NOBED-9\tTumor\t1\t1\t1\t1950\t2015\t23725\tFalse\t"
        "Not Applicable\tNot Applicable\n"
    )
    rc = cmd_validate(
        spark, _ns(paths=[str(orphan_clin)], center=CENTER, filetype="clinical",
                   warehouse=wh),
    )
    assert rc == 1


def test_partition_scoped_merge(spark, tmp_path):
    """Ingesting one center's upload must not read or rewrite other
    centers' bronze partitions (100 TB posture: bronze is partitioned
    by CENTER and MERGE is partition-scoped)."""
    wh = str(tmp_path / "warehouse")
    p1 = tmp_path / "data_mutations_extended_SAGE.txt"
    p1.write_text(
        "Chromosome\tStart_Position\tEnd_Position\tReference_Allele\t"
        "Tumor_Seq_Allele2\tTumor_Sample_Barcode\tt_depth\n"
        "1\t150\t150\tA\tT\tGENIE-SAGE-1-1\t100\n"
    )
    rc = cmd_ingest(
        spark, _ns(paths=[str(p1)], center="SAGE", warehouse=wh,
                   filetype="maf", force=True),
    )
    assert rc == 0
    sage_dir = os.path.join(wh, "maf", "CENTER=SAGE")
    assert os.path.isdir(sage_dir)
    sage_mtimes = {
        f: os.path.getmtime(os.path.join(sage_dir, f))
        for f in os.listdir(sage_dir)
    }

    # second center's upload: SAGE partition files must be byte-for-byte
    # untouched (same inode mtimes)
    p2 = tmp_path / "data_mutations_extended_TEST.txt"
    p2.write_text(
        "Chromosome\tStart_Position\tEnd_Position\tReference_Allele\t"
        "Tumor_Seq_Allele2\tTumor_Sample_Barcode\tt_depth\n"
        "2\t250\t250\tG\tC\tGENIE-TEST-9-1\t50\n"
    )
    rc = cmd_ingest(
        spark, _ns(paths=[str(p2)], center="TEST", warehouse=wh,
                   filetype="maf", force=True),
    )
    assert rc == 0
    assert os.path.isdir(os.path.join(wh, "maf", "CENTER=TEST"))
    after = {
        f: os.path.getmtime(os.path.join(sage_dir, f))
        for f in os.listdir(sage_dir)
    }
    assert after == sage_mtimes

    # merged table reads back with both centers
    maf = spark.read.parquet(os.path.join(wh, "maf"))
    assert {r["CENTER"] for r in maf.select("CENTER").distinct().collect()} == {
        "SAGE", "TEST"
    }
    assert maf.count() == 2

    # re-upsert center SAGE updating a non-key column: TEST untouched,
    # no duplicate row
    p1.write_text(
        "Chromosome\tStart_Position\tEnd_Position\tReference_Allele\t"
        "Tumor_Seq_Allele2\tTumor_Sample_Barcode\tt_depth\n"
        "1\t150\t150\tA\tT\tGENIE-SAGE-1-1\t200\n"
    )
    rc = cmd_ingest(
        spark, _ns(paths=[str(p1)], center="SAGE", warehouse=wh,
                   filetype="maf", force=True),
    )
    assert rc == 0
    maf = spark.read.parquet(os.path.join(wh, "maf"))
    assert maf.count() == 2
    row = maf.where(maf.CENTER == "SAGE").collect()[0]
    depth_col = [c for c in maf.columns if c.upper() == "T_DEPTH"][0]
    assert float(row[depth_col]) == 200.0


def test_nightly_sweep(spark, tmp_path):
    """One-shot nightly: per-center dir sweep → ingest → release →
    dashboard (reference cron/Nextflow chaining)."""
    from genie_spark.cli import cmd_nightly

    input_dir = tmp_path / "uploads" / CENTER
    input_dir.mkdir(parents=True)
    _write_clinical_pair(input_dir)
    _write_maf(input_dir)
    _write_bed(input_dir)
    _write_cna(input_dir)
    (input_dir / "mystery.bin").write_text("???")

    wh = str(tmp_path / "wh")
    out = str(tmp_path / "rel")
    dash = str(tmp_path / "dash")
    rc = cmd_nightly(
        spark,
        _ns(
            input_dir=str(tmp_path / "uploads"), warehouse=wh, centers=None,
            output=out, dashboard=dash, version="N1",
            study_id="genie_private", pad=10, force=True, prev_release=None,
        ),
    )
    assert rc == 0
    assert spark.read.parquet(os.path.join(wh, "clinical")).count() == 2
    assert os.path.exists(os.path.join(out, "data_clinical.txt"))
    assert os.path.exists(os.path.join(out, "meta_study.txt"))
    assert os.path.exists(os.path.join(dash, "sample_counts"))
    # release snapshot recorded under the nightly version
    rcnt = spark.read.parquet(os.path.join(wh, "release_counts"))
    assert {r["Release"] for r in rcnt.select("Release").collect()} == {"N1"}

    # second nightly against the first release dir: the dashboard runs
    # the per-column value-decrease check against it
    out2 = str(tmp_path / "rel2")
    rc = cmd_nightly(
        spark,
        _ns(
            input_dir=str(tmp_path / "uploads"), warehouse=wh, centers=None,
            output=out2, dashboard=dash, version="N2",
            study_id="genie_private", pad=10, force=True, prev_release=out,
        ),
    )
    assert rc == 0
    dec = spark.read.parquet(os.path.join(dash, "clinical_value_decreases"))
    # identical uploads → no decreases anywhere
    assert dec.where("has_decrease").count() == 0


def _nightly_args(input_dir, wh, output=None):
    return _ns(
        input_dir=str(input_dir), warehouse=wh, centers=None, output=output,
        dashboard=None, version="N1", study_id="genie_private", pad=10,
        force=True, prev_release=None,
    )


def _two_center_uploads(root):
    """SAGE's fixture uploads, and GOLD's copy of them whose sample file
    has its columns in reverse order plus one more, and a patient
    retraction.  Returns each center's batches in the order a
    one-at-a-time sweep ingests them: centers by name, the clinical
    pair first, then the other files by name."""
    sage, gold = root / CENTER, root / "GOLD"
    sage.mkdir(parents=True)
    gold.mkdir()
    clinical = _write_clinical_pair(sage)
    maf, bed = _write_maf(sage), _write_bed(sage)
    for p in clinical + maf + bed:
        name = os.path.basename(p).replace(CENTER, "GOLD")
        with open(p) as f:
            text = f.read().replace(CENTER, "GOLD")
        if name.startswith("data_clinical_supp_sample"):
            lines = [line.split("\t")[::-1] for line in text.splitlines()]
            lines = [lines[0] + ["SAMPLE_NOTE"]] + [r + ["x"] for r in lines[1:]]
            text = "".join("\t".join(r) + "\n" for r in lines)
        (gold / name).write_text(text)
    (gold / "patientRetraction.csv").write_text("GENIE-GOLD-2\n")

    def g(name):
        return str(gold / name)

    return [
        ("GOLD", sorted([g("data_clinical_supp_sample_GOLD.txt"),
                         g("data_clinical_supp_patient_GOLD.txt")])),
        ("GOLD", [g("GOLD-PANEL-1.bed")]),
        ("GOLD", [g("data_mutations_extended_GOLD.txt")]),
        ("GOLD", [g("patientRetraction.csv")]),
        (CENTER, sorted(clinical)),
        (CENTER, bed),
        (CENTER, maf),
    ]


def test_nightly_matches_one_batch_at_a_time(spark, tmp_path):
    """The concurrent sweep leaves every bronze table with the same
    schema (column order included) and rows, and the status table with
    the same rows, as the same batches ingested one at a time in the
    old sweep order — which ran GOLD's retraction before SAGE's
    clinical.  GOLD's sample header differs from SAGE's, so the
    clinical table's column order depends on which center wrote it
    first: the clinical lane writes in sweep order."""
    import pyarrow.parquet as pq

    from genie_spark.cli import cmd_nightly
    from genie_spark.io.bronze import read_table

    old_order = _two_center_uploads(tmp_path / "uploads")
    seq, night = str(tmp_path / "seq"), str(tmp_path / "night")
    for center, paths in old_order:
        rc = cmd_ingest(
            spark, _ns(paths=paths, center=center, warehouse=seq, filetype=None, force=True),
        )
        assert rc == 0
    assert cmd_nightly(spark, _nightly_args(tmp_path / "uploads", night)) == 0

    tables = sorted(os.listdir(seq))
    assert tables == sorted(os.listdir(night))
    for t in tables:
        if t == "validation_status" or not os.path.isdir(os.path.join(seq, t)):
            continue
        a, b = read_table(spark, os.path.join(seq, t)), read_table(spark, os.path.join(night, t))
        assert [(f.name, f.dataType) for f in a.schema] == [
            (f.name, f.dataType) for f in b.schema
        ], t
        assert sorted(map(repr, a.collect())) == sorted(map(repr, b.collect())), t
    clinical = read_table(spark, os.path.join(night, "clinical"))
    assert "SAMPLE_NOTE" in clinical.columns
    ids = {r["SAMPLE_ID"] for r in clinical.collect()}
    assert "GENIE-GOLD-2-1" not in ids and f"GENIE-{CENTER}-2-1" in ids

    def status(wh):
        return pq.read_table(os.path.join(wh, "validation_status")).to_pylist()

    assert status(seq) == status(night)
    assert [(r["center"], r["name"]) for r in status(night)] == sorted(
        (r["center"], r["name"]) for r in status(night)
    )


def test_nightly_failed_batch_stops_the_sweep(spark, tmp_path):
    """A batch whose format read raises makes the sweep re-raise after
    the running batches finish: no retraction runs (its bronze table is
    never written) and no release directory is written."""
    import yaml

    from genie_spark.cli import cmd_nightly

    gold = tmp_path / "uploads" / "GOLD"
    gold.mkdir(parents=True)
    (gold / "GOLD_assay_information.yaml").write_text("GOLD-PANEL-1: [unclosed\n")
    (gold / "patientRetraction.csv").write_text("GENIE-GOLD-1\n")
    sage = tmp_path / "uploads" / CENTER
    sage.mkdir()
    _write_clinical_pair(sage)
    _write_bed(sage)
    wh, out = str(tmp_path / "wh"), str(tmp_path / "rel")
    with pytest.raises(yaml.YAMLError):
        cmd_nightly(spark, _nightly_args(tmp_path / "uploads", wh, output=out))
    assert not os.path.exists(os.path.join(wh, "patientRetraction"))
    assert not os.path.exists(out)


def test_nightly_batches_inherit_job_group(spark, tmp_path, monkeypatch):
    """Batch threads keep the caller's Spark local properties: a job
    group set before the sweep is the job group inside each batch."""
    import threading

    from genie_spark import cli

    up = tmp_path / "uploads" / CENTER
    up.mkdir(parents=True)
    _write_clinical_pair(up)
    _write_maf(up)
    _write_bed(up)
    sc = spark.sparkContext
    seen = []

    def ingest(spark_, args):
        seen.append((
            threading.current_thread() is threading.main_thread(),
            sc.getLocalProperty("spark.jobGroup.id"),
        ))
        return 0

    monkeypatch.setattr(cli, "cmd_ingest", ingest)
    sc.setJobGroup("nightly-pin", "nightly local-property pin")
    try:
        rc = cli.cmd_nightly(spark, _nightly_args(tmp_path / "uploads", str(tmp_path / "wh")))
    finally:
        sc.setJobGroup(None, None)
    assert rc == 0
    assert seen == [(False, "nightly-pin")] * 3


def test_compact_bronze(spark, tmp_path):
    """Compaction coalesces a partition's small-file litter into the
    target count, preserves content exactly, and leaves unselected
    partitions byte-for-byte untouched."""
    from genie_spark.cli import cmd_compact
    from genie_spark.io.bronze import merge_into_bronze

    tgt = str(tmp_path / "wh" / "maf")
    # many single-row writes → small-file litter in SAGE's partition
    base = spark.createDataFrame(
        [(f"GENIE-SAGE-{i}", "SAGE") for i in range(8)],
        "SAMPLE_ID string, CENTER string",
    ).repartition(8)
    merge_into_bronze(base, tgt, keys=["SAMPLE_ID"])
    other = spark.createDataFrame(
        [("GENIE-GOLD-1", "GOLD")], "SAMPLE_ID string, CENTER string"
    )
    merge_into_bronze(other, tgt, keys=["SAMPLE_ID"], partition_values=["GOLD"])

    sage_dir = os.path.join(tgt, "CENTER=SAGE")
    gold_dir = os.path.join(tgt, "CENTER=GOLD")
    n_before = len([f for f in os.listdir(sage_dir) if f.startswith("part-")])
    assert n_before > 1
    gold_mtimes = {
        f: os.path.getmtime(os.path.join(gold_dir, f))
        for f in os.listdir(gold_dir)
    }
    before_rows = {
        r["SAMPLE_ID"] for r in spark.read.parquet(tgt).collect()
    }

    rc = cmd_compact(
        spark,
        _ns(warehouse=str(tmp_path / "wh"), table="maf",
            centers="SAGE", target_file_mb=128),
    )
    assert rc == 0
    n_after = len([f for f in os.listdir(sage_dir) if f.startswith("part-")])
    assert n_after == 1
    # GOLD untouched, content identical
    assert gold_mtimes == {
        f: os.path.getmtime(os.path.join(gold_dir, f))
        for f in os.listdir(gold_dir)
    }
    assert {
        r["SAMPLE_ID"] for r in spark.read.parquet(tgt).collect()
    } == before_rows


def test_compact_bronze_escaped_center(spark, tmp_path, capsys):
    """A center Spark path-escapes on disk (``X/1`` is stored as
    ``CENTER=X%2F1``) is selected and reported by its own name, by the
    library call and by ``compact --centers``."""
    import json

    from genie_spark.cli import cmd_compact
    from genie_spark.io.bronze import compact_bronze, merge_into_bronze

    wh = str(tmp_path / "wh")
    batch = spark.createDataFrame(
        [(f"GENIE-X-{i}", "X/1") for i in range(6)], "SAMPLE_ID string, CENTER string"
    ).repartition(6)
    for table in ("maf", "clinical"):
        merge_into_bronze(batch, os.path.join(wh, table), keys=["SAMPLE_ID"])
    part_dir = os.path.join(wh, "maf", "CENTER=X%2F1")
    assert len([f for f in os.listdir(part_dir) if f.startswith("part-")]) > 1

    report = compact_bronze(spark, os.path.join(wh, "maf"), centers=["X/1"])
    assert list(report) == ["X/1"] and report["X/1"]["files_after"] == 1
    assert len([f for f in os.listdir(part_dir) if f.startswith("part-")]) == 1

    capsys.readouterr()
    rc = cmd_compact(
        spark, _ns(warehouse=wh, table="clinical", centers="X/1", target_file_mb=128)
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert list(out["partitions"]) == ["X/1"]
    assert out["partitions"]["X/1"]["files_after"] == 1
    assert spark.read.parquet(os.path.join(wh, "clinical")).count() == 6


def test_merge_preserves_null_center_partition(spark, tmp_path):
    """A batch carrying null-CENTER rows names no partition, so its
    MERGE rewrites the whole table — existing null-CENTER rows must
    survive it in the __HIVE_DEFAULT_PARTITION__ directory."""
    from genie_spark.io.bronze import merge_into_bronze

    tgt = str(tmp_path / "bronze_null")
    base = spark.createDataFrame(
        [("GENIE-1", "SAGE"), ("GENIE-2", None)],
        "SAMPLE_ID string, CENTER string",
    )
    merge_into_bronze(base, tgt, keys=["SAMPLE_ID"])

    batch = spark.createDataFrame(
        [("GENIE-3", None)], "SAMPLE_ID string, CENTER string"
    )
    merge_into_bronze(batch, tgt, keys=["SAMPLE_ID"])

    out = spark.read.parquet(tgt)
    assert {r["SAMPLE_ID"] for r in out.collect()} == {
        "GENIE-1", "GENIE-2", "GENIE-3"
    }
    # and the upsert path still updates in place within the null partition
    batch2 = spark.createDataFrame(
        [("GENIE-2", None)], "SAMPLE_ID string, CENTER string"
    )
    merge_into_bronze(batch2, tgt, keys=["SAMPLE_ID"])
    assert spark.read.parquet(tgt).count() == 3


def test_merge_partition_swap_crash_recovers(spark, tmp_path, monkeypatch):
    """A kill between two partition renames leaves the swap manifest +
    staging on disk (the half-old/half-new state is DETECTABLE); the
    next merge rolls the journaled swap forward to the fully-new table
    — the transactional guarantee the reference inherits from Synapse
    tables (genie/load.py:129-296), journaled here."""
    from genie_spark.io import bronze

    tgt = str(tmp_path / "bronze_crash")
    base = spark.createDataFrame(
        [("GENIE-SAGE-1", "old", "SAGE"), ("GENIE-GOLD-1", "old", "GOLD")],
        "SAMPLE_ID string, VAL string, CENTER string",
    )
    bronze.merge_into_bronze(base, tgt, keys=["SAMPLE_ID"])

    batch = spark.createDataFrame(
        [("GENIE-SAGE-1", "new", "SAGE"), ("GENIE-GOLD-1", "new", "GOLD")],
        "SAMPLE_ID string, VAL string, CENTER string",
    )
    real_rename = os.rename
    moved: list[str] = []

    def flaky(src, dst):
        if os.path.basename(dst).startswith("CENTER="):
            if moved:
                raise OSError("injected crash between partition renames")
            moved.append(dst)
        return real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", flaky)
        with pytest.raises(OSError, match="injected crash"):
            bronze.merge_into_bronze(
                batch, tgt, keys=["SAMPLE_ID"], partition_values=["SAGE", "GOLD"]
            )

    # half-swapped (GOLD installed; SAGE cleared, its replacement
    # claimed at the hidden .incoming path) — the journal records the
    # in-flight swap, so the state is detectable and the replacement
    # data survives at a path recovery knows about
    assert os.path.exists(tgt + bronze.MANIFEST_SUFFIX)
    assert os.path.isdir(os.path.join(tgt, ".CENTER=SAGE.incoming"))
    vals = {
        r["CENTER"]: r["VAL"] for r in spark.read.parquet(tgt).collect()
    }
    assert vals == {"GOLD": "new"}

    # any entry point rolls it forward before touching the table
    extra = spark.createDataFrame(
        [("GENIE-NEWC-1", "x", "NEWC")],
        "SAMPLE_ID string, VAL string, CENTER string",
    )
    bronze.merge_into_bronze(extra, tgt, keys=["SAMPLE_ID"])
    rows = {
        (r["SAMPLE_ID"], r["VAL"])
        for r in spark.read.parquet(tgt).collect()
    }
    assert rows == {
        ("GENIE-SAGE-1", "new"),
        ("GENIE-GOLD-1", "new"),
        ("GENIE-NEWC-1", "x"),
    }
    assert not os.path.exists(tgt + bronze.MANIFEST_SUFFIX)
    assert not os.path.isdir(tgt + ".staging")


def test_directory_swap_commits_explicit_empty_partition(spark, tmp_path):
    """commit_partitions(partition_values=...) drops a named partition
    the staging wrote no dir for (a writer emptied it) — the directory
    backend mirrors the txnlog fix for the stale-bucket bug (ADVICE
    r10, high): a staging-derived scope can never express 'this
    partition is now empty'."""
    from genie_spark.io import bronze

    tgt = str(tmp_path / "swap_tbl")
    base = spark.createDataFrame(
        [("a", "SAGE"), ("b", "GOLD")], "ID string, CENTER string"
    )
    base.write.partitionBy("CENTER").parquet(tgt)
    commit = bronze.DirectorySwapCommit()
    staging = commit.staging_path(tgt)
    # replacement keeps only SAGE; GOLD is named but stages nothing
    base.where("CENTER = 'SAGE'").write.mode("overwrite").partitionBy(
        "CENTER"
    ).parquet(staging)
    commit.commit_partitions(
        staging, tgt, "CENTER", partition_values=["SAGE", "GOLD"]
    )
    assert not os.path.isdir(os.path.join(tgt, "CENTER=GOLD"))
    rows = {r["ID"] for r in spark.read.parquet(tgt).collect()}
    assert rows == {"a"}


def test_merge_refuses_rows_outside_named_partitions(spark, tmp_path):
    """A MERGE scoped to SAGE whose batch also holds a GOLD row would
    swap the batch's GOLD rows over GOLD's data: it raises before the
    commit, and the table is as it was."""
    from genie_spark.io import bronze

    tgt = str(tmp_path / "bronze_scope")
    base = spark.createDataFrame(
        [("GENIE-SAGE-1", "old", "SAGE"), ("GENIE-GOLD-1", "old", "GOLD")],
        "SAMPLE_ID string, VAL string, CENTER string",
    )
    bronze.merge_into_bronze(base, tgt, keys=["SAMPLE_ID"])
    gold_dir = os.path.join(tgt, "CENTER=GOLD")
    gold_mtimes = {
        f: os.path.getmtime(os.path.join(gold_dir, f)) for f in os.listdir(gold_dir)
    }
    rows = sorted(map(tuple, spark.read.parquet(tgt).collect()))

    batch = spark.createDataFrame(
        [("GENIE-SAGE-1", "new", "SAGE"), ("GENIE-GOLD-2", "new", "GOLD")],
        "SAMPLE_ID string, VAL string, CENTER string",
    )
    with pytest.raises(ValueError, match="CENTER=GOLD"):
        bronze.merge_into_bronze(
            batch, tgt, keys=["SAMPLE_ID"], partition_values=["SAGE"]
        )
    assert not os.path.exists(tgt + bronze.MANIFEST_SUFFIX)
    assert sorted(map(tuple, spark.read.parquet(tgt).collect())) == rows
    assert gold_mtimes == {
        f: os.path.getmtime(os.path.join(gold_dir, f)) for f in os.listdir(gold_dir)
    }
    # named values are compared with the staged directory names unescaped
    odd = spark.createDataFrame(
        [("GENIE-X-1", "new", "X/1")], "SAMPLE_ID string, VAL string, CENTER string"
    )
    bronze.merge_into_bronze(odd, tgt, keys=["SAMPLE_ID"], partition_values=["X/1"])
    assert os.path.isdir(os.path.join(tgt, "CENTER=X%2F1"))
    assert len(spark.read.parquet(tgt).collect()) == len(rows) + 1


def test_merge_whole_swap_crash_recovers(spark, tmp_path, monkeypatch):
    """A kill between the two whole-table renames (table renamed
    aside, staging not yet renamed in) leaves NO table at the path —
    but the journal + staging roll forward to the new table; and a
    staging dir with no manifest (pre-commit crash) is rolled back."""
    from genie_spark.io import bronze

    tgt = str(tmp_path / "bronze_whole")
    base = spark.createDataFrame([("A", "old")], "K string, VAL string")
    bronze.merge_into_bronze(base, tgt, keys=["K"])
    batch = spark.createDataFrame([("A", "new")], "K string, VAL string")

    real_rename = os.rename

    def flaky(src, dst):
        if dst == tgt and src.endswith(".staging"):
            raise OSError("injected crash before staging rename")
        return real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", flaky)
        with pytest.raises(OSError, match="injected crash"):
            bronze.merge_into_bronze(batch, tgt, keys=["K"])

    assert not os.path.isdir(tgt)  # renamed aside mid-swap…
    assert os.path.exists(tgt + bronze.MANIFEST_SUFFIX)  # …but journaled
    assert bronze.recover_bronze(tgt)["action"] == "rolled_forward"
    out = {(r["K"], r["VAL"]) for r in spark.read.parquet(tgt).collect()}
    assert out == {("A", "new")}
    assert not os.path.isdir(tgt + ".old")
    assert not os.path.isdir(tgt + ".staging")

    # pre-commit crash: staging exists, no manifest.  A READER must
    # leave it intact (it may be a LIVE writer's in-progress output —
    # the manifest is only published at swap time); a WRITER entry
    # rolls it back before overwriting the staging path.
    os.makedirs(os.path.join(tgt + ".staging", "CENTER=X"))
    assert (
        bronze.recover_bronze(tgt, clean_leftovers=False)["action"] == "clean"
    )
    assert os.path.isdir(tgt + ".staging")
    assert bronze.recover_bronze(tgt)["action"] == "rolled_back"
    assert not os.path.isdir(tgt + ".staging")
    assert bronze.recover_bronze(tgt)["action"] == "clean"


def _crashed_partition_swap(spark, tmp_path, monkeypatch, name):
    """Build a half-applied partition swap (manifest + staging live)."""
    from genie_spark.io import bronze

    tgt = str(tmp_path / name)
    base = spark.createDataFrame(
        [("GENIE-SAGE-1", "old", "SAGE"), ("GENIE-GOLD-1", "old", "GOLD")],
        "SAMPLE_ID string, VAL string, CENTER string",
    )
    bronze.merge_into_bronze(base, tgt, keys=["SAMPLE_ID"])
    batch = spark.createDataFrame(
        [("GENIE-SAGE-1", "new", "SAGE"), ("GENIE-GOLD-1", "new", "GOLD")],
        "SAMPLE_ID string, VAL string, CENTER string",
    )
    real_rename = os.rename
    moved: list[str] = []

    def flaky(src, dst):
        # install renames only (claim renames go to hidden .incoming)
        if os.path.basename(dst).startswith("CENTER="):
            if moved:
                raise OSError("injected crash between partition renames")
            moved.append(dst)
        return real_rename(src, dst)

    with monkeypatch.context() as m:
        m.setattr(os, "rename", flaky)
        with pytest.raises(OSError, match="injected crash"):
            bronze.merge_into_bronze(
                batch, tgt, keys=["SAMPLE_ID"], partition_values=["SAGE", "GOLD"]
            )
    assert os.path.exists(tgt + bronze.MANIFEST_SUFFIX)
    return tgt


def _race_recover(tgt, barrier, results, idx):
    from genie_spark.io import bronze

    barrier.wait()
    try:
        results[idx] = bronze.recover_bronze(tgt)["action"]
    except Exception as ex:  # noqa: BLE001 - recorded for the assert
        results[idx] = f"error:{type(ex).__name__}:{ex}"


def test_concurrent_recover_is_exclusive(spark, tmp_path, monkeypatch):
    """N processes racing recover_bronze on the same manifested swap
    (the ADVICE r6 scenario: CLI readers + a writer all applying the
    same manifest) must not interleave renames — the per-table flock
    serializes them, so every process exits cleanly, the table holds
    exactly the new rows, and nothing is lost from staging AND target."""
    import multiprocessing as mp

    from genie_spark.io import bronze

    tgt = _crashed_partition_swap(spark, tmp_path, monkeypatch, "bronze_race")

    ctx = mp.get_context("fork")
    n = 6
    barrier = ctx.Barrier(n)
    results = ctx.Manager().dict()
    procs = [
        ctx.Process(target=_race_recover, args=(tgt, barrier, results, i))
        for i in range(n)
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=60)
        assert p.exitcode == 0
    # exactly the serialized outcomes: whoever holds the lock first
    # rolls forward; everyone who blocked behind them finds it clean
    acts = sorted(results.values())
    assert set(acts) <= {"rolled_forward", "clean"}, acts
    assert acts.count("rolled_forward") >= 1
    vals = {r["CENTER"]: r["VAL"] for r in spark.read.parquet(tgt).collect()}
    assert vals == {"SAGE": "new", "GOLD": "new"}
    assert not os.path.exists(tgt + bronze.MANIFEST_SUFFIX)
    assert not os.path.isdir(tgt + ".staging")


def test_reader_blocks_on_live_writer_swap(spark, tmp_path, monkeypatch):
    """A reader that sees a manifest while the writer still holds the
    swap lock must WAIT for the writer, not apply the swap itself —
    once the writer releases, the reader finds the manifest gone."""
    import threading
    import time

    from genie_spark.io import bronze

    tgt = _crashed_partition_swap(spark, tmp_path, monkeypatch, "bronze_wait")

    t0 = time.monotonic()
    release_after = 0.5
    seen: dict = {}

    def reader():
        seen["action"] = bronze.recover_bronze(tgt, clean_leftovers=False)[
            "action"
        ]
        seen["elapsed"] = time.monotonic() - t0

    # hold the lock as the "live writer", finish its apply, then release
    with bronze._swap_lock(tgt):
        th = threading.Thread(target=reader)
        th.start()
        time.sleep(release_after)
        with open(tgt + bronze.MANIFEST_SUFFIX) as f:
            manifest = __import__("json").load(f)
        bronze._apply_partition_swap(manifest, verify=True)
    th.join(timeout=30)
    assert not th.is_alive()
    # the reader blocked past the writer's hold and then had nothing
    # to apply (manifest was gone when it acquired the lock)
    assert seen["action"] == "clean"
    assert seen["elapsed"] >= release_after
    vals = {r["CENTER"]: r["VAL"] for r in spark.read.parquet(tgt).collect()}
    assert vals == {"SAGE": "new", "GOLD": "new"}


def test_crash_between_claim_and_install_recovers(spark, tmp_path, monkeypatch):
    """A kill after src → <dst>.incoming but before incoming → dst
    leaves the replacement claimed but not installed; recovery resumes
    from the .incoming dir without touching other partitions."""
    from genie_spark.io import bronze

    tgt = _crashed_partition_swap(spark, tmp_path, monkeypatch, "bronze_claim")
    # the injected crash lands exactly between claim and install: the
    # pending partition sits at the hidden .incoming path, its old dst
    # is already cleared, and — crucially — a Spark scan of the
    # half-swapped table must NOT surface the claim dir as a bogus
    # partition value
    assert os.path.isdir(os.path.join(tgt, ".CENTER=SAGE.incoming"))
    centers = {
        r["CENTER"] for r in spark.read.parquet(tgt).collect()
    }
    assert centers == {"GOLD"}
    assert bronze.recover_bronze(tgt)["action"] == "rolled_forward"
    vals = {r["CENTER"]: r["VAL"] for r in spark.read.parquet(tgt).collect()}
    assert vals == {"SAGE": "new", "GOLD": "new"}
    assert not os.path.exists(tgt + bronze.MANIFEST_SUFFIX)
    assert not any(
        e.endswith(".incoming") for e in os.listdir(tgt)
    )


def test_validation_status_workflow(spark, tmp_path, capsys):
    """Duplicate filenames rejected; unchanged (name, md5) skips
    revalidation; invalid files land in the error tracker (reference
    input_to_database.py:54-113,479-644)."""
    wh = str(tmp_path / "warehouse")
    paths = _write_clinical_pair(tmp_path)

    # duplicate basenames in one batch → rejected before validation
    rc = cmd_ingest(
        spark,
        _ns(paths=[paths[0], paths[0]], center=CENTER, warehouse=wh,
            filetype=None, force=True),
    )
    assert rc == 2

    rc = cmd_ingest(
        spark, _ns(paths=paths, center=CENTER, warehouse=wh, filetype=None,
                   force=True),
    )
    assert rc == 0
    status = spark.read.parquet(os.path.join(wh, "validation_status"))
    rows = status.collect()
    assert len(rows) == 1 and rows[0]["status"] == "VALIDATED"

    # unchanged re-upload skips revalidation
    capsys.readouterr()
    rc = cmd_ingest(
        spark, _ns(paths=paths, center=CENTER, warehouse=wh, filetype=None,
                   force=True),
    )
    assert rc == 0
    assert "skipping revalidation" in capsys.readouterr().out

    # an invalid maf records INVALID + error text
    bad = tmp_path / f"data_mutations_extended_{CENTER}.txt"
    bad.write_text("Chromosome\tStart_Position\nX\t1\n")
    rc = cmd_ingest(
        spark, _ns(paths=[str(bad)], center=CENTER, warehouse=wh,
                   filetype="maf", force=False),
    )
    assert rc == 1
    status = spark.read.parquet(os.path.join(wh, "validation_status"))
    errs = [r for r in status.collect() if r["status"] == "INVALID"]
    assert len(errs) == 1 and "must at least have" in errs[0]["errors"]


def _files(table_dir):
    """(relative path, size, mtime_ns, bytes) of every file of a table."""
    out = []
    for root, _dirs, files in os.walk(table_dir):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            with open(p, "rb") as fh:
                out.append(
                    (os.path.relpath(p, table_dir), st.st_size,
                     st.st_mtime_ns, fh.read())
                )
    return sorted(out)


def test_record_status_raises_on_unreadable_status_table(spark, tmp_path):
    """An unreadable status table is not an absent one: record_status
    raises and leaves the table's files as they were.  Treating it as
    absent would overwrite every other file's status with one row."""
    from genie_spark.io.status import STATUS_TABLE, record_status

    wh = str(tmp_path / "warehouse")
    record_status(wh, CENTER, "a.txt", "m1", "VALIDATED", "/in/a.txt")
    record_status(wh, CENTER, "b.txt", "m2", "VALIDATED", "/in/b.txt")
    table = os.path.join(wh, STATUS_TABLE)
    part = next(f for f in sorted(os.listdir(table)) if f.endswith(".parquet"))
    with open(os.path.join(table, part), "wb") as f:
        f.write(b"not a parquet file")
    before = _files(table)
    with pytest.raises(Exception, match="(?i)parquet"):
        record_status(wh, CENTER, "c.txt", "m3", "VALIDATED", "/in/c.txt")
    assert _files(table) == before


def test_record_status_survives_kill_mid_commit(spark, tmp_path, monkeypatch):
    """A kill after the old status table moved out and before the new
    one moved in loses no row: the next update completes the
    interrupted commit instead of starting a one-row table in its
    place."""
    from genie_spark.io.status import STATUS_TABLE, record_status

    class Killed(BaseException):
        pass

    wh = str(tmp_path / "warehouse")
    table = os.path.join(wh, STATUS_TABLE)
    record_status(wh, CENTER, "a.txt", "m1", "VALIDATED", "/in/a.txt")
    rename = os.rename

    def killed_on_install(src, dst):
        if dst == table:
            raise Killed
        return rename(src, dst)

    monkeypatch.setattr(os, "rename", killed_on_install)
    with pytest.raises(Killed):
        record_status(wh, CENTER, "b.txt", "m2", "VALIDATED", "/in/b.txt")
    monkeypatch.undo()
    assert not os.path.isdir(table)

    record_status(wh, CENTER, "c.txt", "m3", "INVALID", "/in/c.txt",
                  errors="ERROR [maf.cols]: missing")
    status = {
        r["name"]: r["status"]
        for r in spark.read.parquet(table).collect()
    }
    assert status == {"a.txt": "VALIDATED", "b.txt": "VALIDATED", "c.txt": "INVALID"}


def test_record_status_error_text_lifecycle(spark, tmp_path):
    """The status table is created with empty error text on the first
    update; a file's error text is set when it turns INVALID and
    cleared when it turns back to VALIDATED."""
    from genie_spark.io.status import STATUS_TABLE, record_status

    wh = str(tmp_path / "warehouse")
    table = os.path.join(wh, STATUS_TABLE)

    def errors():
        return {r["name"]: r["errors"] for r in spark.read.parquet(table).collect()}

    record_status(wh, CENTER, "a.txt", "m1", "VALIDATED", "/in/a.txt")
    assert os.path.isdir(table)
    assert errors() == {"a.txt": ""}

    record_status(wh, CENTER, "a.txt", "m1", "VALIDATED", "/in/a.txt")
    assert errors() == {"a.txt": ""}

    record_status(
        wh, CENTER, "b.txt", "m2", "INVALID", "/in/b.txt",
        errors="ERROR [maf.cols]: missing",
    )
    assert errors() == {"a.txt": "", "b.txt": "ERROR [maf.cols]: missing"}
    record_status(wh, CENTER, "b.txt", "m3", "VALIDATED", "/in/b.txt")
    assert errors() == {"a.txt": "", "b.txt": ""}
    status = {
        r["name"]: (r["md5"], r["status"])
        for r in spark.read.parquet(table).collect()
    }
    assert status == {"a.txt": ("m1", "VALIDATED"), "b.txt": ("m3", "VALIDATED")}
    assert not os.path.exists(os.path.join(wh, "error_tracker"))


def test_workflow_format_and_mutations_in_cis_rules(spark, tmp_path):
    wf = tmp_path / f"{CENTER}-workflow.md"
    wf.write_text("# workflow\n")
    assert determine_filetype([str(wf)], CENTER).name == "workflow"

    # mutationsInCis: good headers + barcodes pass; a variant not in the
    # stored detection table is a cross-file error
    header = (
        "Flag,Center,Tumor_Sample_Barcode,Hugo_Symbol,HGVSp_Short,"
        "Variant_Classification,Chromosome,Start_Position,Reference_Allele,"
        "Tumor_Seq_Allele2,t_alt_count_num,t_depth\n"
    )
    row = (
        f"TOSS,{CENTER},GENIE-{CENTER}-1-1,TP53,p.V600E,Missense,1,100,A,T,10,100\n"
    )
    wh = str(tmp_path / "warehouse")
    original = tmp_path / "mutationsInCis_filtered_samples.csv"
    original.write_text(header + row)
    rc = cmd_ingest(
        spark, _ns(paths=[str(original)], center=CENTER, warehouse=wh,
                   filetype="mutationsInCis", force=True),
    )
    assert rc == 0
    rc = cmd_validate(
        spark, _ns(paths=[str(original)], center=CENTER,
                   filetype="mutationsInCis", warehouse=wh),
    )
    assert rc == 0
    foreign = tmp_path / "mutationsInCis_filtered_samples.csv"
    foreign.write_text(
        header
        + f"TOSS,{CENTER},GENIE-{CENTER}-9-9,EGFR,p.X1Y,Missense,2,999,G,C,5,50\n"
    )
    rc = cmd_validate(
        spark, _ns(paths=[str(foreign)], center=CENTER,
                   filetype="mutationsInCis", warehouse=wh),
    )
    assert rc == 1

    # center scoping (mutationsInCis.py:50-56): the containment rule for
    # center OTHER is built against OTHER's stored rows only, so a row
    # whose key exactly matches SAGE's stored variant still fails it
    from genie_spark.cli import cross_file_rules
    from genie_spark.io.readers import read_mutations_in_cis

    upload = read_mutations_in_cis(spark, str(original))
    scoped = cross_file_rules(spark, wh, "mutationsInCis", "OTHER")
    assert scoped, "warehouse table exists → rule must be built"
    assert any(m for rule in scoped for m in rule.check(upload))


def test_parser_shape():
    p = build_parser()
    args = p.parse_args(["validate", "f.txt", "--center", "SAGE"])
    assert args.command == "validate"
    args = p.parse_args(
        ["release", "--warehouse", "w", "--output", "o"]
    )
    assert args.pad == 10


def test_process_mutation_and_invalid_reasons(spark, tmp_path):
    from genie_spark.cli import cmd_invalid_reasons, cmd_process_mutation
    from genie_spark.io.status import record_status

    maf = tmp_path / "upload.maf"
    maf.write_text(
        "CHROMOSOME\tSTART_POSITION\tEND_POSITION\tREFERENCE_ALLELE\t"
        "TUMOR_SEQ_ALLELE2\tTUMOR_SAMPLE_BARCODE\n"
        "1\t150\t150\tA\tT\t1-1\n"
    )
    out = str(tmp_path / "staging")
    rc = cmd_process_mutation(
        spark, _ns(paths=[str(maf)], center=CENTER, output=out)
    )
    assert rc == 0
    assert f"data_mutations_extended_{CENTER}.txt" in os.listdir(out)

    wh = str(tmp_path / "wh")
    record_status(
        wh, CENTER, "bad.maf", "d41d8", "invalid", "/x/bad.maf",
        errors="line 1 bad|line 2 bad",
    )
    reports = str(tmp_path / "reports")
    rc = cmd_invalid_reasons(
        spark, _ns(warehouse=wh, output=reports, centers=f"{CENTER},OTHER")
    )
    assert rc == 0
    text = (tmp_path / "reports" / f"{CENTER}_validation_errors.txt").read_text()
    assert "bad.maf" in text and "line 1 bad\nline 2 bad" in text
    assert (
        tmp_path / "reports" / "OTHER_validation_errors.txt"
    ).read_text() == "No errors!"


def test_parser_new_subcommands():
    p = build_parser()
    a = p.parse_args(
        ["process-mutation", "f.maf", "--center", "SAGE", "--output", "/tmp/o"]
    )
    assert a.fn.__name__ == "cmd_process_mutation"
    a = p.parse_args(["invalid-reasons", "--warehouse", "/w", "--output", "/o"])
    assert a.fn.__name__ == "cmd_invalid_reasons"


def test_dashboard_failed_annotations(spark, tmp_path):
    wh = str(tmp_path / "wh")
    spark.createDataFrame(
        [(f"GENIE-{CENTER}-1-1", f"GENIE-{CENTER}-1", CENTER)],
        ["SAMPLE_ID", "PATIENT_ID", "CENTER"],
    ).write.parquet(os.path.join(wh, "clinical"))
    spark.createDataFrame(
        [
            (CENTER, "SUCCESS"), (CENTER, "FAILED"), (CENTER, "FAILED"),
            ("GOLD", "SUCCESS"),
        ],
        ["Center", "Annotation_Status"],
    ).write.parquet(os.path.join(wh, "maf"))
    dash = str(tmp_path / "dash")
    assert cmd_dashboard(spark, _ns(warehouse=wh, output=dash)) == 0
    fa = {
        r["Center"]: r["Failed_Annotations"]
        for r in spark.read.parquet(os.path.join(dash, "failed_annotations")).collect()
    }
    assert fa == {CENTER: 2}


def test_seg_ingest_transform(spark, tmp_path):
    seg = tmp_path / f"genie_data_cna_hg19_{CENTER}.seg"
    seg.write_text(
        "ID\tchrom\tloc.start\tloc.end\tnum.mark\tseg.mean\n"
        f"GENIE-{CENTER}-1-1\tchr1\t100\t500\t10\t0.5\n"
        f"GENIE-{CENTER}-1-1\tchr1\t100\t500\t10\t0.5\n"  # dup row drops
    )
    wh = str(tmp_path / "wh")
    rc = cmd_ingest(
        spark,
        _ns(paths=[str(seg)], center=CENTER, warehouse=wh, filetype="seg",
            force=False),
    )
    assert rc == 0
    bronze = spark.read.parquet(os.path.join(wh, "seg"))
    rows = bronze.collect()
    assert len(rows) == 1  # deduped
    r = rows[0]
    assert r["CHROM"] == "1"            # chr prefix stripped
    assert r["LOCSTART"] == 100 and r["LOCEND"] == 500  # renamed + int
    assert r["CENTER"] == CENTER


def test_sv_ingest_uppercases_headers(spark, tmp_path):
    sv = tmp_path / f"data_sv_{CENTER}.txt"
    sv.write_text(
        "sample_id\tsv_status\tsite1_hugo_symbol\n"
        f"GENIE-{CENTER}-1-1\tSOMATIC\tALK\n"
    )
    wh = str(tmp_path / "wh")
    rc = cmd_ingest(
        spark,
        _ns(paths=[str(sv)], center=CENTER, warehouse=wh, filetype="sv",
            force=False),
    )
    assert rc == 0
    bronze = spark.read.parquet(os.path.join(wh, "sv"))
    assert {"SAMPLE_ID", "SV_STATUS", "SITE1_HUGO_SYMBOL"} <= set(bronze.columns)


def test_read_bronze_absent_vs_corrupt(spark, tmp_path):
    """None strictly means "not ingested": an absent dir is None, a
    present-but-corrupt table raises instead of silently vanishing
    from dashboard/release inputs.  Footers whose schemas conflict,
    or that carry no Spark schema, raise naming the column or file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from genie_spark.io.bronze import read_table

    wh = str(tmp_path / "warehouse")
    os.makedirs(wh)
    assert read_table(spark, os.path.join(wh, "clinical")) is None

    # an ingest that died before its first commit (empty dir, or only
    # _temporary droppings) is a NOT-INGESTED state, not a corrupt one
    empty = os.path.join(wh, "maf")
    os.makedirs(os.path.join(empty, "_temporary"))
    with open(os.path.join(empty, "_temporary", "x.parquet"), "wb") as f:
        f.write(b"partial")
    assert read_table(spark, empty) is None

    corrupt = os.path.join(wh, "clinical")
    os.makedirs(corrupt)
    with open(os.path.join(corrupt, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet footer")
    with pytest.raises(Exception):
        df = read_table(spark, corrupt)
        assert df is not None
        df.collect()

    # AGE is int in one partition and string in the other
    mixed = os.path.join(wh, "mixed")
    spark.range(1).selectExpr("CAST(id AS INT) AS AGE").write.parquet(
        os.path.join(mixed, "CENTER=A")
    )
    spark.range(1).selectExpr("CAST(id AS STRING) AS AGE").write.parquet(
        os.path.join(mixed, "CENTER=B")
    )
    with pytest.raises(ValueError, match="'AGE'"):
        read_table(spark, mixed)

    # a part file pyarrow wrote has no Spark schema in its footer
    foreign = os.path.join(wh, "foreign")
    os.makedirs(foreign)
    part = os.path.join(foreign, "part-00000.parquet")
    pq.write_table(pa.table({"AGE": [1]}), part)
    with pytest.raises(ValueError, match=part):
        read_table(spark, foreign)


def _build_clean_release(spark, root):
    """Minimal release directory that passes validate_release cleanly —
    the base every seeded corruption in
    test_release_qc_full_rule_matrix perturbs."""
    from genie_spark.io.writers import cbio_meta_texts

    out = str(root)
    os.makedirs(os.path.join(out, "case_lists"), exist_ok=True)

    def write(path, text):
        with open(os.path.join(out, path), "w") as f:
            f.write(text)

    write(
        "data_clinical.txt",
        "#Sample Id\tPatient Id\tSex\n#desc\tdesc\tdesc\n"
        "#STRING\tSTRING\tSTRING\n#1\t1\t1\n"
        "SAMPLE_ID\tPATIENT_ID\tSEX\nGENIE-SAGE-1-1\tGENIE-SAGE-1\tMale\n",
    )
    write(
        "data_mutations_extended.txt",
        "Hugo_Symbol\tTumor_Sample_Barcode\tNCBI_Build\n"
        "TP53\tGENIE-SAGE-1-1\tGRCh37\n",
    )
    write(
        "data_sv.txt",
        "SAMPLE_ID\tNCBI_BUILD\nGENIE-SAGE-1-1\tGRCh37\n",
    )
    write(
        "data_gene_matrix.txt",
        "SAMPLE_ID\tmutations\nGENIE-SAGE-1-1\tSAGE-PANEL-1\n",
    )
    write(
        "data_gene_panel_SAGE-PANEL-1.txt",
        "stable_id: SAGE-PANEL-1\ndescription: d\ngene_list: TP53\n",
    )
    write(
        "genomic_information.txt",
        "Chromosome\tHugo_Symbol\tSEQ_ASSAY_ID\n1\tTP53\tSAGE-PANEL-1\n",
    )
    write(
        "case_lists/cases_all.txt",
        "cancer_study_identifier: s\nstable_id: s_all\ncase_list_name: n\n"
        "case_list_description: d\ncase_list_ids: GENIE-SAGE-1-1\n",
    )
    # mutation + SV data require their case lists (round-11
    # profile↔case-list cross-reference rule)
    write(
        "case_lists/cases_sequenced.txt",
        "cancer_study_identifier: s\nstable_id: s_sequenced\n"
        "case_list_name: n\ncase_list_description: d\n"
        "case_list_ids: GENIE-SAGE-1-1\n",
    )
    write(
        "case_lists/cases_sv.txt",
        "cancer_study_identifier: s\nstable_id: s_sv\n"
        "case_list_name: n\ncase_list_description: d\n"
        "case_list_ids: GENIE-SAGE-1-1\n",
    )
    present = {n for n in os.listdir(out) if os.path.isfile(os.path.join(out, n))}
    for name, text in cbio_meta_texts("s", "1.0", present).items():
        write(name, text)
    return out


# corruption -> (mutator, expected rule id) for every validate_release
# rule NOT already exercised by test_release_qc_stage — together the
# two tests seed one corruption per QC rule (the safety net the
# reference delegates to cBioPortal's external validateData.py,
# /root/reference/bin/database_to_staging.py:310-332).
def _drop_clinical(out):
    os.remove(os.path.join(out, "data_clinical.txt"))


def _clinical_no_sample_id(out):
    with open(os.path.join(out, "data_clinical.txt"), "w") as f:
        f.write(
            "#a\n#b\n#c\n#d\nNOT_SAMPLE\tPATIENT_ID\nx\tGENIE-SAGE-1\n"
        )


def _drop_cases_all(out):
    os.remove(os.path.join(out, "case_lists", "cases_all.txt"))


def _case_list_missing_keys(out):
    with open(os.path.join(out, "case_lists", "cases_all.txt"), "w") as f:
        f.write("cancer_study_identifier: s\nstable_id: s_all\n")


def _matrix_stray_sample(out):
    with open(os.path.join(out, "data_gene_matrix.txt"), "w") as f:
        f.write("SAMPLE_ID\tmutations\nGENIE-X-9-9\tSAGE-PANEL-1\n")


def _panel_missing_header(out):
    with open(os.path.join(out, "data_gene_panel_SAGE-PANEL-1.txt"), "w") as f:
        f.write("stable_id: SAGE-PANEL-1\ngene_list: TP53\n")


def _panel_empty_genes(out):
    with open(os.path.join(out, "data_gene_panel_SAGE-PANEL-1.txt"), "w") as f:
        f.write("stable_id: SAGE-PANEL-1\ndescription: d\ngene_list:\n")


def _maf_no_barcode(out):
    with open(os.path.join(out, "data_mutations_extended.txt"), "w") as f:
        f.write("Hugo_Symbol\tOther\nTP53\tx\n")


def _drop_meta_study(out):
    os.remove(os.path.join(out, "meta_study.txt"))


def _clinical_raw_sex_code(out):
    # the remap-skipped shape: a raw integer code where the release
    # must carry the remap table's LABEL (reference
    # genie_registry/clinical.py:321-382)
    with open(os.path.join(out, "data_clinical.txt"), "w") as f:
        f.write(
            "#a\tb\tc\n#a\tb\tc\n#a\tb\tc\n#a\tb\tc\n"
            "SAMPLE_ID\tPATIENT_ID\tSEX\nGENIE-SAGE-1-1\tGENIE-SAGE-1\t1\n"
        )


def _sv_bad_build(out):
    with open(os.path.join(out, "data_sv.txt"), "w") as f:
        f.write("SAMPLE_ID\tNCBI_BUILD\nGENIE-SAGE-1-1\tb37-lite\n")


def _sv_build_disagrees_with_maf(out):
    # GRCh38 is inside the SV domain, so ONLY the consistency rule
    # fires (the maf declares GRCh37)
    with open(os.path.join(out, "data_sv.txt"), "w") as f:
        f.write("SAMPLE_ID\tNCBI_BUILD\nGENIE-SAGE-1-1\tGRCh38\n")


def _maf_hg38_alias_disagrees(out):
    # normalization: maf "38" and sv "GRCh37" normalize to different
    # builds → consistency fires without any domain violation
    with open(os.path.join(out, "data_mutations_extended.txt"), "w") as f:
        f.write(
            "Hugo_Symbol\tTumor_Sample_Barcode\tNCBI_Build\n"
            "TP53\tGENIE-SAGE-1-1\t38\n"
        )


def _cases_sequenced_misses_maf_sample(out):
    # a cases_sequenced list that omits the mutation profile's sample
    # — the profile↔case-list cross-check must flag the maf sample
    with open(os.path.join(out, "case_lists", "cases_sequenced.txt"), "w") as f:
        f.write(
            "cancer_study_identifier: s\nstable_id: s_sequenced\n"
            "case_list_name: n\ncase_list_description: d\n"
            "case_list_ids: GENIE-SAGE-OTHER-1\n"
        )


def _meta_study_missing_description(out):
    kept = []
    with open(os.path.join(out, "meta_study.txt")) as f:
        kept = [l for l in f if not l.startswith("description:")]
    with open(os.path.join(out, "meta_study.txt"), "w") as f:
        f.writelines(kept)


def _sv_stray_sample(out):
    with open(os.path.join(out, "data_sv.txt"), "w") as f:
        f.write(
            "SAMPLE_ID\tNCBI_BUILD\nGENIE-SAGE-1-1\tGRCh37\nGENIE-X-9-9\tGRCh37\n"
        )


@pytest.mark.parametrize(
    "mutate,rule_id",
    [
        (_drop_clinical, "release.clinical_missing"),
        (_clinical_no_sample_id, "release.clinical_sample_id"),
        (_drop_cases_all, "release.case_list_all"),
        (_case_list_missing_keys, "release.case_list_keys"),
        (_matrix_stray_sample, "release.gene_matrix_samples"),
        (_panel_missing_header, "release.gene_panel_header"),
        (_panel_empty_genes, "release.gene_panel_empty"),
        (_maf_no_barcode, "release.maf_barcode"),
        (_drop_meta_study, "release.meta_study"),
        (_clinical_raw_sex_code, "release.clinical_enum_domain"),
        (_sv_bad_build, "release.sv_ncbi_build"),
        (_sv_build_disagrees_with_maf, "release.ncbi_build_consistency"),
        (_maf_hg38_alias_disagrees, "release.ncbi_build_consistency"),
        (_cases_sequenced_misses_maf_sample, "release.cases_sequenced_coverage"),
        (_meta_study_missing_description, "release.meta_study_fields"),
        (_sv_stray_sample, "release.sv_samples"),
    ],
    ids=lambda p: p if isinstance(p, str) else p.__name__,
)
def test_release_qc_full_rule_matrix(spark, tmp_path, mutate, rule_id):
    from genie_spark.release.qc import validate_release

    out = _build_clean_release(spark, tmp_path / "rel")
    assert validate_release(spark, out).errors == []
    mutate(out)
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert rule_id in ids, ids


def _newest_execution_id(spark) -> int:
    """Id of the newest SQL execution in the status store (ids grow by
    one per query; the store evicts only the oldest)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).head().executionId() if n else -1


def test_release_qc_one_query_per_file(spark, tmp_path):
    """validate_release issues ONE Spark query per data-sized released
    file (clinical, MAF, SV, gene matrix here) plus one over the
    driver-parsed lists, and release/qc.py runs no action of its own."""
    from genie_spark.release import qc

    out = _build_clean_release(spark, tmp_path / "rel")
    before = _newest_execution_id(spark)
    assert qc.validate_release(spark, out).errors == []
    assert _newest_execution_id(spark) - before == 5
    with open(qc.__file__) as f:
        src = f.read()
    for action in (".count(", ".collect(", ".first(", ".take("):
        assert action not in src, action


def test_release_qc_reads_bom_led_files(spark, tmp_path):
    """A released file that starts with a UTF-8 BOM (a spreadsheet
    round-trip) keeps its first column name: a MAF led by
    Tumor_Sample_Barcode still has that column, and QC stays clean."""
    from genie_spark.release.qc import validate_release

    out = _build_clean_release(spark, tmp_path / "rel")
    with open(os.path.join(out, "data_mutations_extended.txt"), "wb") as f:
        f.write(
            b"\xef\xbb\xbfTumor_Sample_Barcode\tHugo_Symbol\tNCBI_Build\n"
            b"GENIE-SAGE-1-1\tTP53\tGRCh37\n"
        )
    assert validate_release(spark, out).errors == []


def test_release_qc_punctuated_clinical_attribute(spark, tmp_path):
    """A clinical attribute id containing '.' (or a message-template
    brace) is a charset violation, not a crash of the NUMBER-typed
    value check."""
    from genie_spark.release.qc import validate_release

    out = _build_clean_release(spark, tmp_path / "rel")
    with open(os.path.join(out, "data_clinical.txt"), "w") as f:
        f.write(
            "#Sample Id\tPatient Id\tAge\tStage\n#d\td\td\td\n"
            "#STRING\tSTRING\tNUMBER\tNUMBER\n#1\t1\t1\t1\n"
            "SAMPLE_ID\tPATIENT_ID\tAGE.AT\tSTAGE{N}\n"
            "GENIE-SAGE-1-1\tGENIE-SAGE-1\tsixty\ttwo\n"
        )
    msgs = validate_release(spark, out).errors
    (charset,) = [m for m in msgs if m.rule_id == "release.clinical_attr_charset"]
    assert charset.examples == ["AGE.AT", "STAGE{N}"]
    typed = sorted(
        (m.message.split(" is declared")[0], m.examples)
        for m in msgs if m.rule_id == "release.clinical_datatype_number"
    )
    assert typed == [
        ("release: data_clinical.txt column AGE.AT", ["sixty"]),
        ("release: data_clinical.txt column STAGE{N}", ["two"]),
    ]


def test_release_qc_split_samples_true_count(spark, tmp_path):
    """release.clinical_split_samples counts every stray split sample
    (not a capped sample of them) and keeps five examples."""
    from genie_spark.io.writers import cbio_meta_texts
    from genie_spark.release.qc import validate_release

    out = _build_clean_release(spark, tmp_path / "rel")
    stray = "".join(f"GENIE-SAGE-9\tGENIE-SAGE-9-{i}\n" for i in range(9))
    with open(os.path.join(out, "data_clinical_sample.txt"), "w") as f:
        f.write(
            "#Patient Id\tSample Id\n#d\td\n#STRING\tSTRING\n#1\t1\n"
            "PATIENT_ID\tSAMPLE_ID\nGENIE-SAGE-1\tGENIE-SAGE-1-1\n" + stray
        )
    present = {n for n in os.listdir(out) if os.path.isfile(os.path.join(out, n))}
    for name, text in cbio_meta_texts("s", "1.0", present).items():
        with open(os.path.join(out, name), "w") as f:
            f.write(text)
    (m,) = [
        m for m in validate_release(spark, out).errors
        if m.rule_id == "release.clinical_split_samples"
    ]
    assert m.n_violations == 9
    assert m.examples == [f"GENIE-SAGE-9-{i}" for i in range(5)]


def test_corpus_dedup_command(spark, tmp_path):
    """corpus-dedup writes all four artifacts; the cleaned corpus
    drops near-dup non-survivors; --keep-best keeps the longest copy."""
    from genie_spark.cli import cmd_corpus_dedup

    base = "the quick brown fox jumps over the lazy dog and runs far away today "
    docs = spark.createDataFrame(
        [
            (1, base * 3),
            (2, base * 3),
            (3, base * 3 + " extra tail"),
            (4, "completely different content about query engines " * 4),
            (5, "tiny"),   # exact dups SHORTER than the shingle length:
            (6, "tiny"),   # minhash cannot see them - the exact stage must
        ],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)

    out = str(tmp_path / "deduped_min")
    rc = cmd_corpus_dedup(
        spark,
        _ns(input=src, output=out, id_col="doc_id", text_col="text",
            threshold=0.5, shingle=20, keep_best=False),
    )
    assert rc == 0
    kept = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "deduped")).collect()
    )
    assert kept == [1, 4, 5]  # min-id survivors: near-dup {1,2,3} and exact {5,6}

    out2 = str(tmp_path / "deduped_best")
    rc = cmd_corpus_dedup(
        spark,
        _ns(input=src, output=out2, id_col="doc_id", text_col="text",
            threshold=0.5, shingle=20, keep_best=True),
    )
    assert rc == 0
    kept2 = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out2, "deduped")).collect()
    )
    assert kept2 == [3, 4, 5]  # longest near-dup copy survives; exact dup 6 dropped


def test_corpus_dedup_rejects_bulk_duplicate_ids(spark, tmp_path, capsys):
    """The CLI screens the one-row-per-id contract ONCE on the bare
    scan (stage 2 then promises unique_ids=True instead of re-running
    the guard against the fat survivors plan): a self-unioned corpus
    exits 2 with a clear message."""
    from genie_spark.cli import cmd_corpus_dedup

    docs = spark.createDataFrame(
        [(i, f"document body number {i} with content " * 3) for i in range(50)],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "docs_dup")
    docs.unionByName(docs).write.parquet(src)
    rc = cmd_corpus_dedup(
        spark,
        _ns(input=src, output=str(tmp_path / "out_dup"), id_col="doc_id",
            text_col="text", threshold=0.5, shingle=20, keep_best=False),
    )
    assert rc == 2
    assert "duplicated 'doc_id'" in capsys.readouterr().out


def test_corpus_dedup_signature_store(spark, tmp_path, capsys):
    """--signature-store makes corpus-dedup incremental: the first run
    full-builds the store, a re-run over the unchanged corpus is a
    noop sync with an identical drop list, and a grown corpus
    re-shingles only the delta.  A parameter mismatch fails loudly."""
    import pytest as _pytest

    from genie_spark.cli import cmd_corpus_dedup

    base = "the quick brown fox jumps over the lazy dog and runs far away today "
    docs = spark.createDataFrame(
        [
            (1, base * 3),
            (2, base * 3),
            (3, base * 3 + " extra tail"),
            (4, "completely different content about query engines " * 4),
        ],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)
    store = str(tmp_path / "sigstore")

    ns = lambda out_dir, inp=src: _ns(  # noqa: E731
        input=inp, output=out_dir, id_col="doc_id", text_col="text",
        threshold=0.5, shingle=20, keep_best=False, signature_store=store,
    )
    out = str(tmp_path / "run1")
    assert cmd_corpus_dedup(spark, ns(out)) == 0
    assert "full sync" in capsys.readouterr().out
    kept = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "deduped")).collect()
    )
    assert kept == [1, 4]

    out2 = str(tmp_path / "run2")
    assert cmd_corpus_dedup(spark, ns(out2)) == 0
    assert "noop sync" in capsys.readouterr().out
    kept2 = sorted(
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out2, "deduped")).collect()
    )
    assert kept2 == kept

    # grown corpus: delta-only re-shingle
    grown = docs.unionByName(
        spark.createDataFrame(
            [(9, "brand new content that matches nothing else at all " * 4)],
            ["doc_id", "text"],
        )
    )
    src2 = str(tmp_path / "docs2")
    grown.write.parquet(src2)
    out3 = str(tmp_path / "run3")
    assert cmd_corpus_dedup(spark, ns(out3, inp=src2)) == 0
    msg = capsys.readouterr().out
    assert "incremental sync" in msg and "1 re-shingled" in msg

    # parameter mismatch (different shingle k) fails loudly
    from genie_spark.analytics.signature_store import sync_docinfo_store

    with _pytest.raises(ValueError, match="not comparable"):
        sync_docinfo_store(spark, docs, store, k=10)


def test_corpus_sketch_store_accumulates_and_merges(spark, tmp_path, capsys):
    """Two builds with different labels accumulate two shards; the
    merged estimate reflects the distinct UNION across shards (overlap
    collapses); re-running a label is idempotent."""
    from genie_spark.analytics.sketches import kmv_sketch
    from genie_spark.cli import cmd_corpus_sketch

    rows_a = [("s", f"doc-{i}") for i in range(40)]
    rows_b = [("s", f"doc-{i}") for i in range(20, 60)]  # 20 overlap
    a = str(tmp_path / "release_a")
    b = str(tmp_path / "release_b")
    spark.createDataFrame(rows_a, ["source", "text"]).write.parquet(a)
    spark.createDataFrame(rows_b, ["source", "text"]).write.parquet(b)
    store = str(tmp_path / "sketches")
    merged_out = str(tmp_path / "merged")

    ns = lambda inp, label: _ns(  # noqa: E731
        input=inp, store=store, label=label, group_col="source",
        value_col="text", k=64, merged_out=None,
    )
    assert cmd_corpus_sketch(spark, ns(a, "a")) == 0
    out1 = capsys.readouterr().out
    assert "est_distinct=40.0" in out1

    ns2 = _ns(input=b, store=store, label="b", group_col="source",
              value_col="text", k=64, merged_out=merged_out)
    assert cmd_corpus_sketch(spark, ns2) == 0
    out2 = capsys.readouterr().out
    # union of the two releases = 60 distinct, not 80
    assert "est_distinct=60.0" in out2

    # persisted merged artifact matches a direct global build
    both = spark.createDataFrame(rows_a + rows_b, ["source", "text"])
    direct = kmv_sketch(both, k=64).collect()[0]
    stored = spark.read.parquet(merged_out).collect()[0]
    assert stored["kmin"] == direct["kmin"]
    assert stored["est_distinct"] == direct["est_distinct"]

    # idempotent shard rewrite: same label again, still 60
    assert cmd_corpus_sketch(spark, ns(a, "a")) == 0
    assert "est_distinct=60.0" in capsys.readouterr().out


def test_corpus_sketch_pairwise_shard_overlap(spark, tmp_path, capsys):
    """--pairwise reports the cross-shard Jaccard: releases a and b
    share 20 of 60 distinct values → J=1/3 exactly (under k)."""
    from genie_spark.cli import cmd_corpus_sketch

    rows_a = [("s", f"doc-{i}") for i in range(40)]
    rows_b = [("s", f"doc-{i}") for i in range(20, 60)]
    a = str(tmp_path / "rel_a")
    b = str(tmp_path / "rel_b")
    spark.createDataFrame(rows_a, ["source", "text"]).write.parquet(a)
    spark.createDataFrame(rows_b, ["source", "text"]).write.parquet(b)
    store = str(tmp_path / "sk2")

    mk = lambda inp, label: _ns(  # noqa: E731
        input=inp, store=store, label=label, group_col="source",
        value_col="text", k=64, merged_out=None, pairwise=True,
    )
    assert cmd_corpus_sketch(spark, mk(a, "a")) == 0
    capsys.readouterr()
    assert cmd_corpus_sketch(spark, mk(b, "b")) == 0
    out = capsys.readouterr().out
    assert "overlap a ~ b" in out
    assert "jaccard=0.333" in out
    assert "est_common=20.0" in out


def test_corpus_sketch_k_mismatch_merges_at_min_k(spark, tmp_path, capsys):
    """A store shard built at k=16 merged with --k 64 must truncate the
    merge to k=16 (larger-k merge over truncated arrays silently
    under-counts) and say so."""
    from genie_spark.cli import cmd_corpus_sketch

    rows = [("s", f"doc-{i}") for i in range(200)]
    a = str(tmp_path / "rel_small_k")
    spark.createDataFrame(rows, ["source", "text"]).write.parquet(a)
    store = str(tmp_path / "sk3")

    ns = lambda k, label: _ns(  # noqa: E731
        input=a, store=store, label=label, group_col="source",
        value_col="text", k=k, merged_out=None, pairwise=False,
    )
    assert cmd_corpus_sketch(spark, ns(16, "a")) == 0
    capsys.readouterr()
    assert cmd_corpus_sketch(spark, ns(64, "b")) == 0
    out = capsys.readouterr().out
    assert "merging at k=16" in out
    # estimate still in the right ballpark from the truncated merge
    import re

    est = float(re.search(r"est_distinct=([0-9.]+)", out).group(1))
    assert 80 < est < 500


def test_corpus_mix_cli(spark, tmp_path, capsys):
    """corpus-mix: per-group --budgets fill each listed domain to its
    token target, write the kept set, and report per-group totals;
    bad input columns and malformed budgets exit 2."""
    from genie_spark.cli import cmd_corpus_mix

    rows = [
        (i, ["en", "fr", "de"][i % 3], " ".join(f"w{i}_{j}" for j in range(10)))
        for i in range(90)
    ]
    inp = str(tmp_path / "docs")
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ).write.parquet(inp)
    out = str(tmp_path / "kept")

    ns = _ns(
        input=inp, group_col="lang", id_col="doc_id", text_col="text",
        budget=None, budgets="en=55,fr=1000000", default_budget=0, out=out,
    )
    assert cmd_corpus_mix(spark, ns) == 0
    text = capsys.readouterr().out
    assert "en\tkept 6 docs, 60 tokens" in text
    assert "fr\tkept 30 docs, 300 tokens" in text
    assert "de" not in text.replace("kept", "")  # unlisted → dropped
    kept = spark.read.parquet(out)
    assert kept.count() == 36
    assert set(kept.columns) == {"doc_id", "lang", "n_tokens"}

    bad = _ns(
        input=inp, group_col="nope", id_col="doc_id", text_col="text",
        budget=None, budgets=None, default_budget=0, out=None,
    )
    assert cmd_corpus_mix(spark, bad) == 2
    capsys.readouterr()
    malformed = _ns(
        input=inp, group_col="lang", id_col="doc_id", text_col="text",
        budget=None, budgets="en=xyz", default_budget=0, out=None,
    )
    assert cmd_corpus_mix(spark, malformed) == 2


def _stress_recover(tgt, stop_flag, errors, idx):
    from genie_spark.io import bronze

    while not stop_flag.is_set():
        try:
            bronze.recover_bronze(tgt, clean_leftovers=False)
        except Exception as ex:  # noqa: BLE001 - recorded for the assert
            errors.append(f"{idx}: {type(ex).__name__}: {ex}")
            return


def test_bronze_swap_stress_under_concurrent_readers(tmp_path):
    """Filesystem-level stress of the flock protocol: a writer commits
    20 successive partition swaps while 3 reader processes hammer
    recover_bronze in a loop.  Every swap must land atomically — after
    each commit the partition holds exactly the new generation's file
    set — and no process may ever error (the pre-fix interleaving lost
    partitions with ENOENT).  Pure os-level: no Spark needed, so the
    loop runs hot."""
    import multiprocessing as mp
    import os

    from genie_spark.io import bronze

    tgt = str(tmp_path / "bronze_stress")
    os.makedirs(os.path.join(tgt, "CENTER=SAGE"))
    with open(os.path.join(tgt, "CENTER=SAGE", "part-0.parquet"), "w") as f:
        f.write("gen-0")

    ctx = mp.get_context("fork")
    mgr = ctx.Manager()
    stop = mgr.Event()
    errors = mgr.list()
    readers = [
        ctx.Process(target=_stress_recover, args=(tgt, stop, errors, i))
        for i in range(3)
    ]
    for p in readers:
        p.start()
    try:
        for gen in range(1, 21):
            staging = tgt + ".staging"
            part = os.path.join(staging, "CENTER=SAGE")
            os.makedirs(part)
            with open(os.path.join(part, f"part-{gen}.parquet"), "w") as f:
                f.write(f"gen-{gen}")
            bronze._swap_partitions(staging, tgt, "CENTER")
            listing = sorted(os.listdir(os.path.join(tgt, "CENTER=SAGE")))
            assert listing == [f"part-{gen}.parquet"], (gen, listing)
            with open(
                os.path.join(tgt, "CENTER=SAGE", f"part-{gen}.parquet")
            ) as f:
                assert f.read() == f"gen-{gen}"
            assert not os.path.exists(tgt + bronze.MANIFEST_SUFFIX)
    finally:
        stop.set()
        for p in readers:
            p.join(timeout=30)
    assert list(errors) == []
    for p in readers:
        assert p.exitcode == 0


def test_merge_schema_evolution(spark, tmp_path):
    """Center uploads evolve schemas: a batch ADDING a column merges
    (old rows read null there), a NARROWER batch must not drop the
    table's columns (untouched rows keep their values; the upserted
    row takes NA for the columns its upload lacked — the reference's
    create_missing_columns + whole-row update_table semantics), and a
    type conflict resolves to the table's type."""
    from genie_spark.io.bronze import merge_into_bronze

    tgt = str(tmp_path / "bronze_evo")
    base = spark.createDataFrame(
        [("S1", "SAGE", 30), ("G1", "GOLD", 40)],
        "SAMPLE_ID string, CENTER string, AGE int",
    )
    merge_into_bronze(base, tgt, keys=["SAMPLE_ID"])

    # batch adds NEW_COL
    wide = spark.createDataFrame(
        [("S2", "SAGE", 35, "x")],
        "SAMPLE_ID string, CENTER string, AGE int, NEW_COL string",
    )
    merge_into_bronze(wide, tgt, keys=["SAMPLE_ID"])
    rows = {
        r["SAMPLE_ID"]: (r["AGE"], r["NEW_COL"])
        for r in spark.read.option("mergeSchema", "true").parquet(tgt).collect()
    }
    assert rows == {"S1": (30, None), "G1": (40, None), "S2": (35, "x")}

    # narrower batch: updates S1 without AGE/NEW_COL — table keeps the
    # columns; S1's AGE goes NA (whole-row replace), G1 untouched
    narrow = spark.createDataFrame(
        [("S1", "SAGE")], "SAMPLE_ID string, CENTER string"
    )
    merge_into_bronze(narrow, tgt, keys=["SAMPLE_ID"])
    rows = {
        r["SAMPLE_ID"]: (r["AGE"], r["NEW_COL"])
        for r in spark.read.option("mergeSchema", "true").parquet(tgt).collect()
    }
    assert rows == {"S1": (None, None), "G1": (40, None), "S2": (35, "x")}

    # type conflict: AGE arrives as a string of digits → cast to the
    # table's int
    retyped = spark.createDataFrame(
        [("S3", "SAGE", "50")], "SAMPLE_ID string, CENTER string, AGE string"
    )
    merge_into_bronze(retyped, tgt, keys=["SAMPLE_ID"])
    got = {
        r["SAMPLE_ID"]: r["AGE"]
        for r in spark.read.option("mergeSchema", "true").parquet(tgt).collect()
    }
    assert got["S3"] == 50 and got["S2"] == 35

    # case-insensitive name matching (code-review r7): a batch header
    # differing only in CASE is the SAME column — it must carry its
    # data through, never null both sides, and never fork a duplicate
    # column in the table schema
    cased = spark.createDataFrame(
        [("S4", "SAGE", 60)], "Sample_Id string, Center string, Age int"
    )
    merge_into_bronze(cased, tgt, keys=["SAMPLE_ID"])
    out = spark.read.option("mergeSchema", "true").parquet(tgt)
    assert sorted(c.lower() for c in out.columns) == sorted(
        {"sample_id", "center", "age", "new_col"}
    )
    got = {r["SAMPLE_ID"]: r["AGE"] for r in out.collect()}
    assert got["S4"] == 60 and got["S2"] == 35


def test_table_commit_seam_is_the_only_commit_path(spark, tmp_path):
    """merge_into_bronze / compact_bronze / rewrite_bronze must drive
    ONLY the TableCommit protocol (recover → staging_path → commit_*),
    so a Delta/Iceberg backend is a drop-in (VERDICT r7 item 3).  A
    recording backend delegating to the directory implementation sees
    the full protocol; the table state is identical to the default."""
    import os

    from genie_spark.io import bronze

    calls: list[tuple] = []

    class Recording(bronze.DirectorySwapCommit):
        def recover(self, target_path, clean_leftovers=True):
            calls.append(("recover",))
            return super().recover(target_path, clean_leftovers)

        def staging_path(self, target_path, token="staging"):
            calls.append(("staging_path", token))
            return super().staging_path(target_path, token)

        def commit_whole(self, staging, target_path):
            calls.append(("commit_whole",))
            return super().commit_whole(staging, target_path)

        def commit_partitions(self, staging, target_path, partition_col):
            calls.append(("commit_partitions", partition_col))
            return super().commit_partitions(staging, target_path, partition_col)

    rec = Recording()
    tgt = str(tmp_path / "wh" / "maf")
    base = spark.createDataFrame(
        [(f"GENIE-SAGE-{i}", "SAGE") for i in range(4)],
        "SAMPLE_ID string, CENTER string",
    ).repartition(4)
    # first write: whole swap
    bronze.merge_into_bronze(base, tgt, keys=["SAMPLE_ID"], commit=rec)
    assert calls == [("recover",), ("staging_path", "staging"), ("commit_whole",)]
    calls.clear()
    # second write: partition-scoped commit
    batch = spark.createDataFrame(
        [("GENIE-SAGE-0", "SAGE")], "SAMPLE_ID string, CENTER string"
    )
    bronze.merge_into_bronze(
        batch, tgt, keys=["SAMPLE_ID"], partition_values=["SAGE"], commit=rec
    )
    assert calls == [
        ("recover",),
        ("staging_path", "staging"),
        ("commit_partitions", "CENTER"),
    ]
    calls.clear()
    # compaction: per-partition staging token + partition commit
    report = bronze.compact_bronze(spark, tgt, centers=["SAGE"], commit=rec)
    assert calls[0] == ("recover",)
    assert ("staging_path", "compact.SAGE") in calls
    assert ("commit_partitions", "CENTER") in calls
    assert report["SAGE"]["files_after"] == 1
    calls.clear()
    # full rewrite
    bronze.rewrite_bronze(
        spark.read.parquet(tgt).where("SAMPLE_ID != 'GENIE-SAGE-3'"),
        tgt,
        commit=rec,
    )
    assert calls == [("recover",), ("staging_path", "staging"), ("commit_whole",)]
    got = {r["SAMPLE_ID"] for r in spark.read.parquet(tgt).collect()}
    assert got == {"GENIE-SAGE-0", "GENIE-SAGE-1", "GENIE-SAGE-2"}
    assert not os.path.isdir(tgt + ".staging")


def test_ingest_correlate_command(spark, tmp_path, capsys):
    """ingest-correlate pairs upload events with in-bound validation
    verdicts per (center, name), emits overdue uploads with null
    status only after the watermark closes their window, and resumes
    from its checkpoint across invocations (VERDICT r7 item 9)."""
    from genie_spark.cli import cmd_ingest_correlate

    up_dir, res_dir = tmp_path / "up", tmp_path / "res"
    up_dir.mkdir(), res_dir.mkdir()
    (up_dir / "u1.csv").write_text(
        "center,name,uts\n"
        "SAGE,clin.txt,2026-01-01 10:00:00\n"
        "GOLD,maf.txt,2026-01-01 10:00:00\n"
    )
    (res_dir / "r1.csv").write_text(
        "center,name,rts,status\n"
        "SAGE,clin.txt,2026-01-01 10:05:00,VALID\n"      # within 10 min
        "GOLD,maf.txt,2026-01-01 11:30:00,INVALID\n"     # outside bound
    )
    ns = _ns(
        uploads=str(up_dir),
        results=str(res_dir),
        out=str(tmp_path / "corr"),
        checkpoint=str(tmp_path / "ckpt"),
        max_delay_seconds=600,
        watermark="5 minutes",
        how="left_outer",
    )
    assert cmd_ingest_correlate(spark, ns) == 0
    got = {
        (r["center"], r["name"], r["r_status"])
        for r in spark.read.parquet(ns.out).collect()
    }
    # on-time verdict pairs immediately; GOLD's window is still open
    # (nothing has advanced the watermark past it), so no overdue row yet
    assert got == {("SAGE", "clin.txt", "VALID")}

    # a later batch advances the watermark past GOLD's window → the
    # overdue upload is emitted with a NULL status on the next run
    (up_dir / "u2.csv").write_text(
        "center,name,uts\nSAGE,cna.txt,2026-01-01 13:00:00\n"
    )
    (res_dir / "r2.csv").write_text(
        "center,name,rts,status\nSAGE,cna.txt,2026-01-01 13:01:00,VALID\n"
    )
    assert cmd_ingest_correlate(spark, ns) == 0
    got = {
        (r["center"], r["name"], r["r_status"])
        for r in spark.read.parquet(ns.out).collect()
    }
    assert ("SAGE", "clin.txt", "VALID") in got
    assert ("SAGE", "cna.txt", "VALID") in got
    assert ("GOLD", "maf.txt", None) in got  # overdue, late-emitted
    out_text = capsys.readouterr().out
    assert "overdue" in out_text


def test_dashboard_html_artifact(spark, tmp_path):
    """--html renders the STORED dashboard parquet to one static page
    (reference Rmd dashboard counterpart): every table name appears as
    a caption and every stored row's values appear as table cells."""
    import html as _html_mod

    from genie_spark.cli import cmd_dashboard

    wh = str(tmp_path / "warehouse")
    os.makedirs(wh)
    spark.createDataFrame(
        [
            ("GENIE-SAGE-1-1", "SAGE"),
            ("GENIE-SAGE-2-1", "SAGE"),
            ("GENIE-DFCI-1-1", "DFCI"),
        ],
        "SAMPLE_ID string, CENTER string",
    ).write.parquet(os.path.join(wh, "clinical"))
    dash = str(tmp_path / "dash")
    page = str(tmp_path / "dashboard.html")
    rc = cmd_dashboard(spark, _ns(warehouse=wh, output=dash, html=page))
    assert rc == 0 and os.path.isfile(page)
    with open(page) as fh:
        text = fh.read()
    for name in ("sample_counts", "distinct_samples"):
        assert f"<caption>{name}</caption>" in text
        stored = spark.read.parquet(os.path.join(dash, name)).collect()
        assert stored
        for r in stored:
            cells = "".join(
                f"<td>{_html_mod.escape('' if v is None else str(v))}</td>"
                for v in r
            )
            assert cells in text, (name, tuple(r))


def test_release_qc_meta_profile_rules(spark, tmp_path):
    """Round-10 validator notch (cBioPortal validateData meta rules,
    reference gate bin/database_to_staging.py:310-332): per-profile
    (genetic_alteration_type, datatype) domain, profile-field
    completeness, and stable_id uniqueness across meta files AND
    across case lists — each seeded corruption flips exactly red."""
    from genie_spark.io.writers import cbio_meta_texts
    from genie_spark.release.qc import validate_release

    out = str(tmp_path / "rel")
    os.makedirs(os.path.join(out, "case_lists"))

    def write(path, text):
        with open(os.path.join(out, path), "w") as f:
            f.write(text)

    write(
        "data_clinical.txt",
        "#Sample Id\tCancer Type\n#desc\tdesc\n#STRING\tSTRING\n#1\t1\n"
        "SAMPLE_ID\tCANCER_TYPE\nGENIE-SAGE-1-1\tGlioma\n",
    )
    write(
        "data_mutations_extended.txt",
        "Hugo_Symbol\tTumor_Sample_Barcode\nTP53\tGENIE-SAGE-1-1\n",
    )
    write("data_CNA.txt", "Hugo_Symbol\tGENIE-SAGE-1-1\nTP53\t-1\n")
    write(
        "case_lists/cases_all.txt",
        "cancer_study_identifier: s\nstable_id: s_all\ncase_list_name: n\n"
        "case_list_description: d\ncase_list_ids: GENIE-SAGE-1-1\n",
    )
    write(
        "case_lists/cases_sequenced.txt",
        "cancer_study_identifier: s\nstable_id: s_sequenced\n"
        "case_list_name: n\ncase_list_description: d\n"
        "case_list_ids: GENIE-SAGE-1-1\n",
    )
    write(
        "case_lists/cases_cna.txt",
        "cancer_study_identifier: s\nstable_id: s_cna\n"
        "case_list_name: n\ncase_list_description: d\n"
        "case_list_ids: GENIE-SAGE-1-1\n",
    )
    present = {n for n in os.listdir(out) if os.path.isfile(os.path.join(out, n))}
    metas = cbio_meta_texts("s", "1.0", present)
    for name, text in metas.items():
        write(name, text)
    assert validate_release(spark, out).errors == []

    # corruption 1: unknown (genetic_alteration_type, datatype) pair
    write(
        "meta_CNA.txt",
        metas["meta_CNA.txt"].replace(
            "datatype: DISCRETE", "datatype: WEIRD"
        ),
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.meta_datatype_domain" in ids
    write("meta_CNA.txt", metas["meta_CNA.txt"])

    # corruption 2: profile meta loses profile_name
    write(
        "meta_mutations_extended.txt",
        "\n".join(
            l
            for l in metas["meta_mutations_extended.txt"].splitlines()
            if not l.startswith("profile_name:")
        )
        + "\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.meta_profile_fields" in ids
    write(
        "meta_mutations_extended.txt", metas["meta_mutations_extended.txt"]
    )

    # corruption 3: two profile metas share a stable_id
    write(
        "meta_CNA.txt",
        metas["meta_CNA.txt"].replace(
            "stable_id: cna", "stable_id: mutations"
        ),
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.meta_stable_id_dup" in ids
    write("meta_CNA.txt", metas["meta_CNA.txt"])

    # corruption 4: two case lists share a stable_id
    write(
        "case_lists/cases_sequenced.txt",
        "cancer_study_identifier: s\nstable_id: s_all\n"
        "case_list_name: n\ncase_list_description: d\n"
        "case_list_ids: GENIE-SAGE-1-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.case_list_stable_id_dup" in ids
    write(
        "case_lists/cases_sequenced.txt",
        "cancer_study_identifier: s\nstable_id: s_sequenced\n"
        "case_list_name: n\ncase_list_description: d\n"
        "case_list_ids: GENIE-SAGE-1-1\n",
    )
    assert validate_release(spark, out).errors == []


def test_release_data_guide(spark, tmp_path):
    """cmd_release --data-guide renders a static HTML guide whose
    per-center sample/panel tables match the WRITTEN release artifacts
    (re-read from disk, the reference data_guide_template.Rnw
    counterpart) and whose provenance block carries the release
    counts."""
    import re as _re

    wh = str(tmp_path / "warehouse")
    out = str(tmp_path / "release")
    guide = str(tmp_path / "guide.html")

    for paths, ft in [
        (_write_clinical_pair(tmp_path), None),
        (_write_maf(tmp_path), None),
        (_write_bed(tmp_path), "bed"),
        (_write_assay(tmp_path), None),
    ]:
        rc = cmd_ingest(
            spark,
            _ns(paths=paths, center=CENTER, warehouse=wh, filetype=ft, force=True),
        )
        assert rc == 0
    rc = cmd_release(
        spark,
        _ns(
            warehouse=wh, output=out, version="TESTv1", pad=10,
            whitelist=None, data_guide=guide,
        ),
    )
    assert rc == 0
    with open(guide) as f:
        html = f.read()
    assert "Release <b>TESTv1</b>" in html
    assert "Samples per center" in html
    assert "Sequencing panels per center" in html
    assert "Filter provenance" in html

    # the per-center sample count in the guide equals the count in the
    # written data_clinical.txt for this center
    with open(os.path.join(out, "data_clinical.txt")) as f:
        lines = [l for l in f.read().splitlines() if l and not l.startswith("#")]
    hdr = lines[0].split("\t")
    sid_idx = hdr.index("SAMPLE_ID")
    n_samples = sum(
        1 for l in lines[1:] if l.split("\t")[sid_idx].startswith(f"GENIE-{CENTER}-")
    )
    row = _re.search(
        rf"<tr><td>{CENTER}</td><td>(\d+)</td>", html.replace("\n", "")
    )
    assert row and int(row.group(1)) == n_samples
    # the panel table names the released assay
    assert f"{CENTER}-PANEL-1" in html


def test_release_qc_clinical_id_columns_lead(spark, tmp_path):
    """The id columns must lead data_clinical.txt's header (cBioPortal
    clinical validator / reference addClinicalHeaders order); the
    writer reorders, so QC red here means a hand-edited release."""
    from genie_spark.release.qc import validate_release

    out = str(tmp_path / "rel")
    os.makedirs(os.path.join(out, "case_lists"))

    def write(path, text):
        with open(os.path.join(out, path), "w") as f:
            f.write(text)

    good = (
        "#Sample Id\tPatient Id\tCancer Type\n#d\td\td\n"
        "#STRING\tSTRING\tSTRING\n#1\t1\t1\n"
        "SAMPLE_ID\tPATIENT_ID\tCANCER_TYPE\n"
        "GENIE-SAGE-1-1\tGENIE-SAGE-1\tGlioma\n"
    )
    write("data_clinical.txt", good)
    write(
        "case_lists/cases_all.txt",
        "cancer_study_identifier: s\nstable_id: s_all\ncase_list_name: n\n"
        "case_list_description: d\ncase_list_ids: GENIE-SAGE-1-1\n",
    )
    from genie_spark.io.writers import cbio_meta_texts

    present = {n for n in os.listdir(out) if os.path.isfile(os.path.join(out, n))}
    for name, text in cbio_meta_texts("s", "1.0", present).items():
        write(name, text)
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_id_columns_lead" not in ids

    # corruption: an attribute column shoved in front of the ids
    write(
        "data_clinical.txt",
        "#Cancer Type\tSample Id\tPatient Id\n#d\td\td\n"
        "#STRING\tSTRING\tSTRING\n#1\t1\t1\n"
        "CANCER_TYPE\tSAMPLE_ID\tPATIENT_ID\n"
        "Glioma\tGENIE-SAGE-1-1\tGENIE-SAGE-1\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_id_columns_lead" in ids

    # PATIENT_ID/SAMPLE_ID in either leading order both pass
    write(
        "data_clinical.txt",
        "#Patient Id\tSample Id\tCancer Type\n#d\td\td\n"
        "#STRING\tSTRING\tSTRING\n#1\t1\t1\n"
        "PATIENT_ID\tSAMPLE_ID\tCANCER_TYPE\n"
        "GENIE-SAGE-1\tGENIE-SAGE-1-1\tGlioma\n",
    )
    ids = {m.rule_id for m in validate_release(spark, out).errors}
    assert "release.clinical_id_columns_lead" not in ids


def test_corpus_dedup_normalize_flag(spark, tmp_path):
    """--normalize: composed and decomposed renderings of the same
    text dedup together (hash basis is NFC); without the flag they
    survive as distinct docs; artifacts keep the ORIGINAL text."""
    import unicodedata

    from genie_spark.cli import cmd_corpus_dedup

    decomposed = ("café story body text " * 6).strip()
    composed = unicodedata.normalize("NFC", decomposed)
    assert decomposed != composed
    docs = spark.createDataFrame(
        [(1, composed), (2, decomposed),
         (3, "totally different content entirely " * 5)],
        ["doc_id", "text"],
    )
    src = str(tmp_path / "docs")
    docs.write.parquet(src)

    def run(out, normalize):
        rc = cmd_corpus_dedup(
            spark,
            _ns(input=src, output=out, id_col="doc_id", text_col="text",
                threshold=0.5, shingle=20, keep_best=False,
                normalize=normalize),
        )
        assert rc == 0
        return spark.read.parquet(os.path.join(out, "deduped"))

    plain = run(str(tmp_path / "out_plain"), False)
    assert sorted(r["doc_id"] for r in plain.collect()) == [1, 2, 3]

    normed = run(str(tmp_path / "out_norm"), True)
    rows = {r["doc_id"]: r["text"] for r in normed.collect()}
    assert sorted(rows) == [1, 3]            # exact dup under NFC
    assert rows[1] == composed               # original text kept
    assert "__hb" not in normed.columns


def test_corpus_quality_cli(spark, tmp_path, capsys):
    """corpus-quality: writes the per-doc rule report and the kept
    corpus, prints total/kept plus per-rule fail counts; with
    --with-repetition a repetitive doc is additionally dropped; bad
    columns exit 2."""
    from genie_spark.cli import cmd_corpus_quality

    # distinct filler words: passes the repetition section too (a
    # "word word word..." doc is 100% duplicate 5-grams — correctly
    # flagged by X11, so it can't serve as the clean fixture)
    clean = (
        "the be to of and that have with "
        + " ".join(f"word{i:02d}" for i in range(42))
    ).strip()
    repetitive = ("the be to of and that have with " + "loop spin " * 40).strip()
    rows = [
        (1, clean),
        (2, "the be too short"),
        (3, repetitive),
    ]
    inp = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(inp)
    out = str(tmp_path / "qual")

    ns = _ns(
        input=inp, output=out, id_col="doc_id", text_col="text",
        min_words=50, with_repetition=False,
    )
    assert cmd_corpus_quality(spark, ns) == 0
    text = capsys.readouterr().out
    assert "2/3 documents kept" in text
    assert "r_word_count failed by 1 docs" in text
    report = spark.read.parquet(f"{out}/quality_report")
    assert report.count() == 3
    kept = spark.read.parquet(f"{out}/kept")
    assert {r["doc_id"] for r in kept.collect()} == {1, 3}

    ns2 = _ns(
        input=inp, output=str(tmp_path / "qual2"), id_col="doc_id",
        text_col="text", min_words=50, with_repetition=True,
    )
    assert cmd_corpus_quality(spark, ns2) == 0
    text = capsys.readouterr().out
    assert "1/3 documents kept" in text
    # doc 3 (the 40× bigram loop) AND doc 2: a 4-word doc has 3
    # distinct 2-grams → top-2-gram mass 1/3 > the 8% threshold —
    # tiny docs legitimately trip the repetition section
    assert "r_repetition failed by 2 docs" in text
    # X64 line rows: all three docs are single-line (no duplicate
    # lines/paragraphs) — the line-repetition rule passes everywhere
    assert "r_line_repetition failed by 0 docs" in text
    kept2 = spark.read.parquet(str(tmp_path / "qual2") + "/kept")
    assert {r["doc_id"] for r in kept2.collect()} == {1}

    bad = _ns(
        input=inp, output=out, id_col="nope", text_col="text",
        min_words=50, with_repetition=False,
    )
    assert cmd_corpus_quality(spark, bad) == 2


def test_corpus_mix_cli_temperature(spark, tmp_path, capsys):
    """corpus-mix --temperature-target: X69 temperature mixing from the
    CLI — head group flattened, tail fully admitted (admit capped at
    1e6 ppm), per-group report printed, kept parquet carries the audit
    columns; exclusive with --budget/--budgets."""
    from genie_spark.cli import cmd_corpus_mix

    rows = [(i, "head" if i < 900 else "tail") for i in range(1000)]
    inp = str(tmp_path / "docs_t")
    spark.createDataFrame(rows, "doc_id long, lang string").write.parquet(inp)
    out = str(tmp_path / "kept_t")

    ns = _ns(
        input=inp, group_col="lang", id_col="doc_id", text_col="text",
        budget=None, budgets=None, default_budget=0, out=out,
        temperature_target=400, temperature_halvings=1,
    )
    assert cmd_corpus_mix(spark, ns) == 0
    text = capsys.readouterr().out
    assert "admit 1000000 ppm" in text       # tail fully admitted
    assert "2 groups temperature-mixed" in text
    kept = spark.read.parquet(out)
    assert {"n_docs", "weight_ppm", "admit_ppm"} <= set(kept.columns)
    tail = kept.where("lang = 'tail'").count()
    head = kept.where("lang = 'head'").count()
    assert tail == 100
    assert head < 500  # flattened well under the 90% input share

    both = _ns(
        input=inp, group_col="lang", id_col="doc_id", text_col="text",
        budget=7, budgets=None, default_budget=0, out=None,
        temperature_target=10, temperature_halvings=1,
    )
    assert cmd_corpus_mix(spark, both) == 2


def test_dashboard_markdown_golden(spark, tmp_path):
    """--render writes the Rmd-counterpart markdown document from the
    same DataFrames the dashboard stores (r13, VERDICT r12 item 6) —
    byte-identical to the committed golden file on a fixed literal
    fixture (literal rows, not testdata, so driver regeneration of
    /root/testdata can't shift the golden)."""
    from genie_spark.cli import cmd_dashboard

    wh = str(tmp_path / "warehouse")
    os.makedirs(wh)
    centers = ["SAGE", "DFCI", "MSK", "UHN", "VICC"]
    codes = ["LUAD", "BRCA", "GBM"]
    rows = [
        (f"GENIE-{centers[i % 5]}-{i:03d}", centers[i % 5], codes[(i * 7) % 3])
        for i in range(1, 41)
    ]
    spark.createDataFrame(
        rows, "SAMPLE_ID string, CENTER string, ONCOTREE_CODE string"
    ).write.parquet(os.path.join(wh, "clinical"))
    md = str(tmp_path / "dashboard.md")
    rc = cmd_dashboard(
        spark,
        _ns(
            warehouse=wh, output=str(tmp_path / "dash"), html=None,
            render=md, release_label="fixture-release",
        ),
    )
    assert rc == 0
    golden = os.path.join(
        os.path.dirname(__file__), "golden", "dashboard_fixture.md"
    )
    with open(md) as got, open(golden) as want:
        assert got.read() == want.read()


def test_dashboard_markdown_sections_and_caps():
    """The renderer emits the reference Rmd's conditional sections —
    failed-annotation summary with the Rmd's exact kable column names,
    release-over-release diffs, samples-per-release totals — and notes
    a table shown in part.  It renders driver-side tables, no Spark."""
    from genie_spark.cli import ShownTable, dashboard_markdown

    diff = ShownTable(
        ["Center", "Release", "samples"],
        [[f"C{i:03d}", "v2", "-2"] for i in range(100)],
        300,
    )
    text = dashboard_markdown(
        {
            "sample_counts": ShownTable(["CENTER", "count"], [["SAGE", "5"]], 1),
            "failed_annotations": ShownTable(
                ["Center", "Failed_Annotations"], [["DFCI", "1"], ["SAGE", "3"]], 2
            ),
            "sample_diff": diff,
            "decrease_check": diff,
            "samples_per_release": ShownTable(
                ["Release", "Number of samples"], [["v1", "300"], ["v2", "150"]], 2
            ),
        },
        release="9.9-consortium",
    )
    assert text.startswith("# GENIE dashboard — 9.9-consortium")
    assert "## Sample and Variant Count per center" in text
    assert "### Genome nexus failed annotations summary" in text
    assert "| Center | Number of failed annotations |" in text
    assert "## Release-over-release differences" in text
    assert "## Samples per release" in text
    assert "| v1 | 300 |" in text and "| v2 | 150 |" in text
    assert "_first 100 of 300 rows_" in text


def _snapshot_warehouse(spark, wh, releases):
    """A warehouse holding a clinical bronze table and one release
    snapshot per name in ``releases``, release i holding i+1 samples."""
    import types

    from genie_spark.cli import _append_release_snapshot

    os.makedirs(wh)
    spark.createDataFrame(
        [(f"S{i}", CENTER) for i in range(3)], "SAMPLE_ID string, CENTER string"
    ).write.parquet(os.path.join(wh, "clinical"))
    for i, name in enumerate(releases):
        clin = spark.createDataFrame(
            [(f"S{j}", CENTER) for j in range(i + 1)], ["SAMPLE_ID", "CENTER"]
        )
        _append_release_snapshot(
            spark, wh, name,
            types.SimpleNamespace(clinical=clin, maf=None, cna_long=None, seg=None, sv=None),
        )


def test_dashboard_render_reads_each_stored_table_once(spark, tmp_path):
    """--render and --html share one driver-side read of each stored
    table (its capped head; the row count comes from the footers), plus
    one agg for the per-release sample totals."""
    from genie_spark.cli import cmd_dashboard
    from test_rules import _execution_id

    wh = str(tmp_path / "warehouse")
    _snapshot_warehouse(spark, wh, ["v1", "v2"])

    def executions(out, **render):
        before = _execution_id(spark)
        assert cmd_dashboard(spark, _ns(warehouse=wh, output=out, **render)) == 0
        return _execution_id(spark) - before

    plain = executions(str(tmp_path / "plain"))
    dash = str(tmp_path / "dash")
    rendered = executions(
        dash, render=str(tmp_path / "d.md"), html=str(tmp_path / "d.html")
    )
    stored = os.listdir(dash)
    assert "samples_in_release" in stored
    assert rendered - plain == len(stored) + 1


def test_dashboard_markdown_release_order(spark, tmp_path):
    """"Samples per release" lists releases in the stored matrix's
    ReleaseSeq order: v9 before v10, not lexicographically."""
    from genie_spark.cli import cmd_dashboard

    wh = str(tmp_path / "warehouse")
    _snapshot_warehouse(spark, wh, ["v9", "v10"])
    md = str(tmp_path / "d.md")
    assert cmd_dashboard(spark, _ns(warehouse=wh, output=str(tmp_path / "dash"), render=md)) == 0
    with open(md) as f:
        text = f.read()
    section = text.split("## Samples per release\n")[1].split("##")[0]
    assert "| v9 | 1 |\n| v10 | 2 |" in section, section


def test_dashboard_markdown_two_release_golden(spark, tmp_path):
    """r14 (VERDICT r13 item 6): --render over a TWO-snapshot fixture —
    the release-over-release sections (sample diffs, decrease check,
    samples-per-release, clinical value-count decreases) render from
    stored snapshots, byte-identical to the committed golden, and the
    rendered decrease flags are PARITY-checked against the a17
    operator (value_count_decreases) run directly on the same release
    dirs.  Literal rows only — driver regeneration of /root/testdata
    cannot shift the golden."""
    import types

    from genie_spark.cli import _append_release_snapshot, cmd_dashboard
    from genie_spark.operators.aggregations import value_count_decreases

    wh = str(tmp_path / "warehouse")
    os.makedirs(wh)
    centers = ["SAGE", "DFCI", "MSK"]
    rows = [
        (f"GENIE-{centers[i % 3]}-{i:03d}", centers[i % 3],
         ["LUAD", "BRCA", "GBM"][(i * 5) % 3])
        for i in range(1, 31)
    ]
    spark.createDataFrame(
        rows, "SAMPLE_ID string, CENTER string, ONCOTREE_CODE string"
    ).write.parquet(os.path.join(wh, "clinical"))

    def arts(n):
        clin = spark.createDataFrame(
            [(f"GENIE-SAGE-{i:03d}", "SAGE") for i in range(n)],
            ["SAMPLE_ID", "CENTER"],
        )
        return types.SimpleNamespace(
            clinical=clin, maf=None, cna_long=None, seg=None, sv=None
        )

    # two stored snapshots: v2 drops two clinical rows -> decrease row
    _append_release_snapshot(spark, wh, "v1", arts(6))
    _append_release_snapshot(spark, wh, "v2", arts(4))

    # two release dirs: at SAGE the SAMPLE_TYPE value 'Primary' count
    # drops 3 -> 1 (a value-distribution decrease); DFCI is unchanged
    def write_clin(d, rows):
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, "data_clinical.txt"), "w") as f:
            f.write("SAMPLE_ID\tCENTER\tSAMPLE_TYPE\n")
            for r in rows:
                f.write("\t".join(r) + "\n")

    prev_dir = str(tmp_path / "rel_v1")
    cur_dir = str(tmp_path / "rel_v2")
    sage = [f"GENIE-SAGE-{i:03d}" for i in range(4)]
    dfci = [f"GENIE-DFCI-{i:03d}" for i in range(2)]
    write_clin(prev_dir, [
        (sage[0], "SAGE", "Primary"),
        (sage[1], "SAGE", "Primary"),
        (sage[2], "SAGE", "Primary"),
        (sage[3], "SAGE", "Metastasis"),
        (dfci[0], "DFCI", "Primary"),
        (dfci[1], "DFCI", "Primary"),
    ])
    write_clin(cur_dir, [
        (sage[0], "SAGE", "Primary"),
        (sage[1], "SAGE", "Metastasis"),
        (sage[2], "SAGE", "Metastasis"),
        (sage[3], "SAGE", "Metastasis"),
        (dfci[0], "DFCI", "Primary"),
        (dfci[1], "DFCI", "Primary"),
    ])

    md = str(tmp_path / "dashboard.md")
    dash = str(tmp_path / "dash")
    rc = cmd_dashboard(
        spark,
        _ns(
            warehouse=wh, output=dash, html=None, render=md,
            release_label="fixture-two-release",
            release_dir=cur_dir, prev_release_dir=prev_dir,
        ),
    )
    assert rc == 0

    # parity: the STORED decrease table == the a17 operator's own
    # answer on the same release dirs (same reader as cmd_dashboard)
    def read_clin(d):
        return (
            spark.read.option("sep", "\t").option("header", "true")
            .option("comment", "#")
            .csv(os.path.join(d, "data_clinical.txt"))
        )

    want = sorted(
        (r["CENTER"], r["column"], bool(r["has_decrease"]))
        for r in value_count_decreases(
            read_clin(cur_dir), read_clin(prev_dir)
        ).collect()
    )
    got = sorted(
        (r["CENTER"], r["column"], bool(r["has_decrease"]))
        for r in spark.read.parquet(
            os.path.join(dash, "clinical_value_decreases")
        ).collect()
    )
    assert got == want
    assert ("SAGE", "SAMPLE_TYPE", True) in got
    assert ("DFCI", "SAMPLE_TYPE", False) in got

    # the rendered document carries the flags and is golden-exact
    with open(md) as f:
        text = f.read()
    assert "## Release-over-release differences" in text
    assert "| SAGE | SAMPLE_TYPE | true |" in text
    assert "| DFCI | SAMPLE_TYPE | false |" in text
    assert "| v2 | -2 |" in text or "| SAGE | v2 | -2 |" in text
    golden = os.path.join(
        os.path.dirname(__file__), "golden",
        "dashboard_two_release_fixture.md",
    )
    with open(golden) as f:
        assert text == f.read()


def test_ann_index_cli(spark, tmp_path, capsys):
    """ann-index build → query → append → query: the CLI face of the
    X88 store; appended exact copies surface at rank 1."""
    from genie_spark.cli import build_parser

    emb = "/root/testdata/sf0.001/embeddings.parquet"
    store = str(tmp_path / "annstore")
    p = build_parser()

    a = p.parse_args(["ann-index", "build", "--input", emb, "--store", store])
    assert a.fn(spark, a) == 0
    assert "built store" in capsys.readouterr().out

    qdir = str(tmp_path / "queries")
    spark.read.parquet(emb).where("vec_id < 3").write.parquet(qdir)
    out = str(tmp_path / "topk")
    a = p.parse_args(
        ["ann-index", "query", "--input", qdir, "--store", store,
         "--k", "5", "--out", out]
    )
    assert a.fn(spark, a) == 0
    res = spark.read.parquet(out)
    assert res.count() > 0
    assert set(res.columns) == {"query_id", "neighbor_id", "rank", "cosine"}

    newdir = str(tmp_path / "new")
    spark.read.parquet(emb).where("vec_id = 5").selectExpr(
        "vec_id + 9000 as vec_id", "embedding"
    ).write.parquet(newdir)
    a = p.parse_args(["ann-index", "append", "--input", newdir, "--store", store])
    assert a.fn(spark, a) == 0
    q5 = str(tmp_path / "q5")
    spark.read.parquet(emb).where("vec_id = 5").write.parquet(q5)
    a = p.parse_args(["ann-index", "query", "--input", q5, "--store", store])
    assert a.fn(spark, a) == 0
    top = capsys.readouterr().out.splitlines()
    assert any("#1\t9005" in line for line in top)

    # missing column → exit 2, no traceback
    bad = str(tmp_path / "bad")
    spark.range(3).write.parquet(bad)
    a = p.parse_args(["ann-index", "build", "--input", bad, "--store", store])
    assert a.fn(spark, a) == 2


def test_events_report_cli(spark, tmp_path, capsys):
    """events-report over the driver events parquet: three artifacts
    land, funnel percentages print, session count matches the
    registered w5 query."""
    from genie_spark.cli import build_parser
    from genie_spark.workload import w5_sessionize

    outdir = str(tmp_path / "report")
    p = build_parser()
    a = p.parse_args(
        ["events-report", "--input", "/root/testdata/sf0.001/events.parquet",
         "--output", outdir]
    )
    assert a.fn(spark, a) == 0
    out = capsys.readouterr().out
    assert "sessions (gap 30 min)" in out
    assert "funnel step 3 (purchase)" in out
    sess = spark.read.parquet(outdir + "/sessions")
    assert sess.count() == w5_sessionize(spark, "/root/testdata/sf0.001").count()
    assert spark.read.parquet(outdir + "/funnel").count() > 0
    assert spark.read.parquet(outdir + "/retention").count() > 0


def test_events_report_cli_us_longs_and_type_col(spark, tmp_path, capsys):
    """--ts-unit us honors honest epoch-µs BIGINT time columns (r15
    code-review finding: the nanos-only branch shrank them 1000×), and
    --type-col flows through to session stats."""
    from genie_spark.cli import build_parser

    M = 60 * 1_000_000
    src = str(tmp_path / "ev_us")
    spark.createDataFrame(
        [
            (1, 1, "view", 0 * M),
            (1, 2, "click", 10 * M),
            (1, 3, "view", 100 * M),
        ],
        "user_id long, event_id long, kind string, t long",
    ).write.parquet(src)
    outdir = str(tmp_path / "rep_us")
    p = build_parser()
    a = p.parse_args(
        ["events-report", "--input", src, "--output", outdir,
         "--ts-col", "t", "--ts-unit", "us", "--type-col", "kind"]
    )
    assert a.fn(spark, a) == 0
    assert "2 sessions" in capsys.readouterr().out
    sess = {
        (r["user_id"], r["session_seq"]): (r["n_events"], r["n_event_types"])
        for r in spark.read.parquet(outdir + "/sessions").collect()
    }
    # µs honored: 0/10min same session (2 types), 100min a new one —
    # under the broken ns reading everything would be one session
    assert sess == {(1, 1): (2, 2), (1, 2): (1, 1)}
