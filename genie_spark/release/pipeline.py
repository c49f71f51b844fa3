"""End-to-end release pipeline (reference ``stagingToCbio``
genie/database_to_staging.py:1713-1956 + §3.3 of SURVEY.md).

One lineage: bronze tables in → filter DAG → per-artifact DataFrames
out.  The reference shells out to R twice (MAFinBED, mergeCheck) and to
unix join for the CNA matrix; all three are native ops here, so the
whole filter DAG is visible to Catalyst (filter pushdown through the
joins, broadcast for the dim-sized inputs, AQE for center skew).

The filter DAG is computed once: ``run_release`` materializes the
released clinical and MAF tables (``localCheckpoint``), like the
reference, which filters once and then writes every file from the
result.  Every sink reads the materialized tables.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from genie_spark.functions.redact import age_days_to_release_years, redact_phi
from genie_spark.release.filters import (
    common_variant_filter,
    configure_maf,
    germline_status_filter,
    mafinbed_remove_variants,
    mergecheck_toss_and_flag,
    mutation_in_cis_samples,
    no_genepanel_filter,
    seq_date_filter_ids,
)


@dataclass
class ReleaseArtifacts:
    clinical: DataFrame
    maf: DataFrame
    sv: DataFrame | None = None
    seg: DataFrame | None = None
    cna_long: DataFrame | None = None
    bed: DataFrame | None = None
    gene_matrix: DataFrame | None = None
    removed_samples: DataFrame | None = None
    flagged_samples: DataFrame | None = None
    removed_variants: DataFrame | None = None
    stats: dict = field(default_factory=dict)


def apply_retractions(
    clinical: DataFrame,
    sample_retraction: DataFrame | None = None,
    patient_retraction: DataFrame | None = None,
    sample_col: str = "SAMPLE_ID",
    patient_col: str = "PATIENT_ID",
) -> DataFrame:
    """Remove retracted patients (cascading to their samples) and
    retracted samples from the clinical table (reference
    genie/toRetract.py:9-84).  Only clinical needs retracting — every
    genomic artifact is filtered by the clinical sample set downstream,
    the same argument the reference makes (toRetract.py:70-71).

    The retraction frames are as read by the sampleRetraction /
    patientRetraction formats: first column carries the id
    (``genieSampleId`` / ``geniePatientId``).
    """
    from genie_spark.operators.filters import retract_cascade

    out = clinical
    if patient_retraction is not None and patient_col in out.columns:
        ids = patient_retraction.select(
            F.col(patient_retraction.columns[0]).alias(patient_col)
        )
        out = retract_cascade(out, ids, patient_col)
    if sample_retraction is not None and sample_col in out.columns:
        ids = sample_retraction.select(
            F.col(sample_retraction.columns[0]).alias(sample_col)
        )
        out = retract_cascade(out, ids, sample_col)
    return out


# library_strategy of a whole-exome assay (reference
# ``store_assay_info_files`` genie/database_to_staging.py:1191-1193)
WES_LIBRARY_STRATEGY = "WXS"


def wes_panels(assay_info: DataFrame) -> DataFrame:
    """Whole-exome SEQ_ASSAY_IDs."""
    return assay_info.where(
        F.col("library_strategy") == WES_LIBRARY_STRATEGY
    ).select("SEQ_ASSAY_ID")


def data_gene_matrix(
    clinical: DataFrame,
    wes_assay_ids: DataFrame | None = None,
    cna_samples: DataFrame | None = None,
    sv_samples: DataFrame | None = None,
) -> DataFrame:
    """cBioPortal data gene matrix (reference ``store_data_gene_matrix``
    genie/database_to_staging.py:1595-1653): one row per sample with its
    mutations panel; WES panels excluded; the cna/sv columns carry the
    panel id when ANY sample of that panel has cna/sv data, else "NA"
    (panel-level marking — process_functions.py:1138-1157).
    """
    m = (
        clinical.select(
            "SAMPLE_ID", F.col("SEQ_ASSAY_ID").alias("mutations")
        )
        .where(F.col("SAMPLE_ID") != "")
        .dropDuplicates(["SAMPLE_ID"])
    )
    if wes_assay_ids is not None:
        m = m.join(
            F.broadcast(
                wes_assay_ids.select(F.col("SEQ_ASSAY_ID").alias("mutations"))
            ),
            "mutations",
            "left_anti",
        )
    for samples, name in ((cna_samples, "cna"), (sv_samples, "sv")):
        if samples is None:
            continue
        panels = (
            m.join(
                samples.select("SAMPLE_ID").distinct(), "SAMPLE_ID", "left_semi"
            )
            .select(F.col("mutations").alias("__p"))
            .distinct()
        )
        m = (
            m.join(F.broadcast(panels), m["mutations"] == panels["__p"], "left")
            .withColumn(name, F.coalesce(F.col("__p"), F.lit("NA")))
            .drop("__p")
        )
    # joins on the "mutations" key move it to the front; cBioPortal
    # expects SAMPLE_ID as the leading column regardless of which
    # optional inputs were present
    cols = ["SAMPLE_ID", "mutations"] + [c for c in ("cna", "sv") if c in m.columns]
    return m.select(*cols)


def _filter_dag(
    clinical: DataFrame,
    maf: DataFrame,
    bed: DataFrame,
    oncotree: DataFrame | None = None,
    mergecheck_flags: DataFrame | None = None,
    whitelist: DataFrame | None = None,
    sample_retraction: DataFrame | None = None,
    patient_retraction: DataFrame | None = None,
    processing_date: str | None = None,
    consortium_cutoff_days: int = 184,
    pad: int = 10,
) -> ReleaseArtifacts:
    """The lazy release filter DAG, steps 1-5 of :func:`run_release`.

    ``clinical`` is the released clinical table; ``maf`` is the
    configured MAF over the panel-kept samples, which
    :func:`_released_maf` still restricts to the released clinical.
    Nothing runs here."""
    clinical = apply_retractions(
        clinical, sample_retraction=sample_retraction,
        patient_retraction=patient_retraction,
    )
    if processing_date is not None and "SEQ_DATE" in clinical.columns:
        # consortium cutoff (``Jan-2026``-style processing date, 184-day
        # default): freshly sequenced samples stay staging-only
        recent = seq_date_filter_ids(
            clinical, processing_date, cutoff_days=consortium_cutoff_days
        )
        clinical = clinical.join(recent, "SAMPLE_ID", "left_anti")
    kept, removed = no_genepanel_filter(clinical, bed)

    sample_assay = kept.select("SAMPLE_ID", "SEQ_ASSAY_ID")
    maf_samples = maf.join(
        sample_assay.withColumnRenamed("SAMPLE_ID", "Tumor_Sample_Barcode"),
        "Tumor_Sample_Barcode",
        "inner",  # J12: MAF ⊆ clinical samples (R/MAFinBED.R:94-95)
    )
    removed_variants = mafinbed_remove_variants(maf_samples, bed, pad=pad)
    if mergecheck_flags is not None:
        toss_samples, flagged_variants = mergecheck_toss_and_flag(mergecheck_flags)
    else:
        toss_samples = mutation_in_cis_samples(maf_samples)
        flagged_variants = None
    release_maf = configure_maf(
        maf_samples,
        remove_variants_keys=removed_variants,
        flagged_variant_keys=flagged_variants,
        whitelist=whitelist,
    )

    # TOSS samples leave the release entirely (clinical + every genomic
    # artifact), like remove_center_consortium_samples in the reference.
    clin = kept.join(
        toss_samples.withColumnRenamed("Tumor_Sample_Barcode", "SAMPLE_ID"),
        "SAMPLE_ID",
        "left_anti",
    )
    if oncotree is not None:
        clin = clin.join(
            F.broadcast(
                oncotree.select(
                    F.upper(F.col("ONCOTREE_CODE")).alias("ONCOTREE_CODE"),
                    "CANCER_TYPE",
                    "CANCER_TYPE_DETAILED",
                )
            ),
            "ONCOTREE_CODE",
            "left",
        ).where(F.col("CANCER_TYPE").isNotNull())  # deprecated-code drop (1285-1287)
    clin = redact_phi(clin)
    if "AGE_AT_SEQ_REPORT" in clin.columns:
        # Post-redaction conversion (genie/database_to_staging.py:1288-1300):
        # redact_phi has already capped numeric values, so the years column
        # can only carry 0..89 or the ">89"/"<18"/"withheld" sentinels.
        clin = clin.withColumn(
            "AGE_AT_SEQ_REPORT_YEARS",
            age_days_to_release_years("AGE_AT_SEQ_REPORT"),
        )
    return ReleaseArtifacts(
        clinical=clin,
        maf=release_maf,
        removed_samples=removed,
        flagged_samples=toss_samples,
        removed_variants=removed_variants,
    )


def _released_maf(maf: DataFrame, clinical: DataFrame) -> DataFrame:
    """The MAF rows of released clinical samples."""
    return maf.join(
        clinical.select(F.col("SAMPLE_ID").alias("Tumor_Sample_Barcode")),
        "Tumor_Sample_Barcode",
        "left_semi",
    )


def run_release(
    clinical: DataFrame,
    maf: DataFrame,
    bed: DataFrame,
    sv: DataFrame | None = None,
    seg: DataFrame | None = None,
    cna_long: DataFrame | None = None,
    oncotree: DataFrame | None = None,
    assay_info: DataFrame | None = None,
    mergecheck_flags: DataFrame | None = None,
    whitelist: DataFrame | None = None,
    sample_retraction: DataFrame | None = None,
    patient_retraction: DataFrame | None = None,
    processing_date: str | None = None,
    consortium_cutoff_days: int = 184,
    pad: int = 10,
) -> ReleaseArtifacts:
    """Consortium release (§3.3):

    1. no-gene-panel filter on samples (P13);
    2. MAF restricted to kept samples (J12) with SEQ_ASSAY_ID attached;
    3. MAFinBED remove set (J3) + mutation-in-cis (W1): TOSS samples
       removed from the release entirely, FLAG variants tagged
       (reference run_genie_filters genie/database_to_staging.py:1074-1154);
    4. configure_maf (germline-with-whitelist/annotation filters, count
       algebra) — ``common_variant`` rows kept until the public stage;
    5. clinical: oncotree broadcast join (J8), PHI redaction (§2.9),
       then AGE days→years;
    6. SV/SEG/CNA restricted to kept samples; SV germline rows dropped.

    ``mergecheck_flags`` is the persisted mutationsInCis flag table
    (MERGECHECK_KEY columns + ``Flag``).  Without one, every newly
    detected cis pair defaults to TOSS (the reference's
    ``uploadToTable`` insert mode, R/mergecheck_functions.R:19-77) and
    those samples are removed.  ``whitelist`` is a known-somatic-sites
    BED that overrides the germline filter.

    This runs Spark jobs: the released clinical table, then the
    released MAF (restricted to that clinical), are each computed once
    with ``localCheckpoint(eager=True)``.  A release writes about
    fifteen sinks from these two tables (clinical files, case lists,
    counts, snapshots), and a lazy frame replays its whole filter DAG
    from bronze for every one of them.  SV/SEG/CNA and the gene matrix
    stay lazy over the checkpointed clinical.  The trade-off:
    checkpoint blocks live on the executors without lineage, so losing
    an executor fails the jobs that read them instead of recomputing.
    ``removed_samples``, ``flagged_samples`` and ``removed_variants``
    stay lazy; only the data guide reads them.
    """
    arts = _filter_dag(
        clinical, maf, bed,
        oncotree=oncotree,
        mergecheck_flags=mergecheck_flags,
        whitelist=whitelist,
        sample_retraction=sample_retraction,
        patient_retraction=patient_retraction,
        processing_date=processing_date,
        consortium_cutoff_days=consortium_cutoff_days,
        pad=pad,
    )
    arts.clinical = arts.clinical.localCheckpoint(eager=True)
    arts.maf = _released_maf(arts.maf, arts.clinical).localCheckpoint(eager=True)
    keep_ids = arts.clinical.select("SAMPLE_ID")
    if sv is not None:
        arts.sv = germline_status_filter(sv).join(keep_ids, "SAMPLE_ID", "left_semi")
    if seg is not None:
        arts.seg = seg.join(
            keep_ids.withColumnRenamed("SAMPLE_ID", "ID"), "ID", "left_semi"
        )
    if cna_long is not None:
        arts.cna_long = cna_long.join(keep_ids, "SAMPLE_ID", "left_semi")
    arts.bed = bed
    arts.gene_matrix = data_gene_matrix(
        arts.clinical,
        wes_assay_ids=wes_panels(assay_info) if assay_info is not None else None,
        cna_samples=arts.cna_long.select("SAMPLE_ID").distinct()
        if arts.cna_long is not None
        else None,
        sv_samples=arts.sv.select("SAMPLE_ID").distinct()
        if arts.sv is not None
        else None,
    )
    return arts


def consortium_to_public(
    arts: ReleaseArtifacts,
    public_sample_ids: DataFrame,
    private_columns: list[str] = (),
) -> ReleaseArtifacts:
    """Public release (reference genie/consortium_to_public.py:41-359):
    re-filter every artifact to the public sample set, drop
    private-scope clinical columns (P16/P17), and apply the
    ``common_variant`` filter — the reference drops those MAF rows only
    at this stage (consortium_to_public.py:27-37), never at consortium
    build time."""
    keep = public_sample_ids.select("SAMPLE_ID").distinct()
    pub_clin = arts.clinical.join(keep, "SAMPLE_ID", "left_semi")
    pub_clin = pub_clin.select(
        [c for c in pub_clin.columns if c not in set(private_columns)]
    )
    out = ReleaseArtifacts(
        clinical=pub_clin,
        maf=common_variant_filter(arts.maf).join(
            keep.withColumnRenamed("SAMPLE_ID", "Tumor_Sample_Barcode"),
            "Tumor_Sample_Barcode",
            "left_semi",
        ),
    )
    if arts.sv is not None:
        out.sv = arts.sv.join(keep, "SAMPLE_ID", "left_semi")
    if arts.seg is not None:
        out.seg = arts.seg.join(
            keep.withColumnRenamed("SAMPLE_ID", "ID"), "ID", "left_semi"
        )
    if arts.cna_long is not None:
        out.cna_long = arts.cna_long.join(keep, "SAMPLE_ID", "left_semi")
    out.bed = arts.bed
    return out
