"""Format-aware readers (SURVEY.md §2.1 S1-S12).

Each reader mirrors a reference scan's quirks — comment skipping, the
MAF "NA is a real allele" policy, the VCF ## preamble — while staying a
plain ``spark.read`` so Catalyst keeps pushdown/pruning.  All readers
accept one path or a list (centers upload per-file; Spark unions
free via multi-path reads).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from genie_spark.schemas import BED_SCHEMA, MAF_ALLELE_COLS, MAF_NA_STRINGS
from genie_spark.session import local_rows_df


def _paths(p: str | Sequence[str]) -> list[str]:
    return [p] if isinstance(p, str) else list(p)


def read_tsv(
    spark: SparkSession,
    path: str | Sequence[str],
    schema=None,
    header: bool = True,
) -> DataFrame:
    """Generic TSV scan with '#'-comment skip (reference
    genie/example_filetype_format.py:83-97: ``pd.read_csv(sep='\\t',
    comment='#')``)."""
    r = (
        spark.read.option("sep", "\t")
        .option("header", str(header).lower())
        .option("comment", "#")
    )
    if schema is not None:
        r = r.schema(schema)
    return r.csv(_paths(path))


def read_clinical_pair(
    spark: SparkSession,
    sample_path: str | Sequence[str],
    patient_path: str | Sequence[str],
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Clinical sample+patient pair scan (reference
    genie/process_functions.py:41-87): upper-case headers, inner join
    on PATIENT_ID.  Returns (sample, patient, merged); the
    sample⊆patient referential check is a rule
    (rules.engine.ids_subset_of), not a reader error."""
    sample = read_tsv(spark, sample_path)
    patient = read_tsv(spark, patient_path)
    sample = sample.select([F.col(c).alias(c.upper()) for c in sample.columns])
    patient = patient.select([F.col(c).alias(c.upper()) for c in patient.columns])
    merged = sample.join(patient, "PATIENT_ID", "inner")
    return sample, patient, merged


def read_maf(spark: SparkSession, path: str | Sequence[str]) -> DataFrame:
    """MAF scan with the reference NA policy (genie_registry/maf.py:
    469-551): every column read as string with quoting disabled; the
    literal string "NA" is a VALID allele in allele columns but a null
    marker everywhere else, so NA-strings are nulled only in non-allele
    columns.  Column names are upper-cased (maf.py:229)."""
    df = (
        spark.read.option("sep", "\t")
        .option("header", "true")
        .option("comment", "#")
        .option("quote", "")          # csv.QUOTE_NONE (maf.py:533)
        .option("nullValue", "\x00")  # nothing maps to null at read time
        .csv(_paths(path))
    )
    df = df.select([F.col(c).alias(c.upper()) for c in df.columns])
    allele = {c.upper() for c in MAF_ALLELE_COLS}
    exprs = []
    for c in df.columns:
        if c in allele:
            exprs.append(F.col(c))
        else:
            exprs.append(
                F.when(F.col(c).isin(MAF_NA_STRINGS), None)
                .otherwise(F.col(c))
                .alias(c)
            )
    return df.select(*exprs)


def read_vcf(spark: SparkSession, path: str) -> DataFrame:
    """VCF scan (genie_registry/vcf.py:32-91): skip the ``##`` preamble,
    use the ``#CHROM`` line as the header, custom NA handling (no
    default null parsing).

    The header line is found with a driver-side bounded read of the
    file head (the preamble is always at the top); the body is then a
    distributed text scan + split — no full driver materialization.
    """
    text = spark.read.text(path)
    header_row = (
        text.where(F.col("value").startswith("#CHROM")).limit(1).collect()
    )
    if not header_row:
        raise ValueError(f"{path}: no #CHROM header line found")
    names = header_row[0]["value"].split("\t")
    body = text.where(~F.col("value").startswith("##")).where(
        ~F.col("value").startswith("#CHROM")
    )
    parts = F.split(F.col("value"), "\t")
    return body.select(
        *[parts.getItem(i).alias(n) for i, n in enumerate(names)]
    )


def read_bed(spark: SparkSession, path: str | Sequence[str]) -> DataFrame:
    """Headerless BED scan (genie_registry/bed.py:403-429).  The
    reference sniffs the first row to reject files with headers; here
    the int-position rule in bed_rules flags them (a header row fails
    the Start_Position integer check)."""
    df = (
        spark.read.option("sep", "\t")
        .option("header", "false")
        .option("comment", "#")
        .csv(_paths(path))
    )
    names = [f.name for f in BED_SCHEMA.fields]
    cols = []
    for i, c in enumerate(df.columns):
        if i < len(names):
            cols.append(F.col(c).alias(names[i]))
    return df.select(*cols)


def read_retraction(spark: SparkSession, path: str | Sequence[str], col: str = "genieSampleId") -> DataFrame:
    """Headerless one-column retraction list
    (genie_registry/sampleRetraction.py:19-27)."""
    return (
        spark.read.option("header", "false")
        .csv(_paths(path))
        .select(F.col("_c0").alias(col))
    )


def read_known_somatic_sites(
    spark: SparkSession, path: str | Sequence[str]
) -> DataFrame:
    """Known-somatic-sites whitelist BED (the file the reference
    downloads from the public vcf2maf data dir,
    genie/database_to_staging.py:253-265): headerless tab-separated
    ``Chromosome Start End Symbol`` with ``#`` comments.  Columns are
    suffixed ``_wl`` ready for :func:`release.filters.whitelist_hits`."""
    return (
        spark.read.option("header", "false")
        .option("sep", "\t")
        .option("comment", "#")
        .csv(_paths(path))
        .select(
            F.col("_c0").alias("Chromosome"),
            F.col("_c1").try_cast("long").alias("Start_Position_wl"),
            F.col("_c2").try_cast("long").alias("End_Position_wl"),
            F.col("_c3").alias("Hugo_Symbol_wl"),
        )
    )


def read_mutations_in_cis(spark: SparkSession, path: str | Sequence[str]) -> DataFrame:
    """mutationsInCis CSV scan (genie_registry/mutationsInCis.py:23-29)."""
    return (
        spark.read.option("header", "true")
        .option("comment", "#")
        .csv(_paths(path))
    )


def assay_df_from_dict(spark: SparkSession, cfg: dict) -> DataFrame:
    """Assay YAML → rows (genie_registry/assay.py:79-129): top-level
    keys are SEQ_ASSAY_IDs; ``assay_specific_info`` lists are exploded;
    list-valued fields join to ';'-separated strings
    (genie/process_functions.py:137-146).  The YAML parse itself is a
    driver-side ``yaml.safe_load`` (gated import — config files are
    KBs)."""
    rows = []
    for pipeline_id, info in cfg.items():
        base = {k: v for k, v in info.items() if k != "assay_specific_info"}
        specifics = info.get("assay_specific_info") or [{}]
        for sp in specifics:
            # the top-level key is the SEQ_PIPELINE_ID; each
            # assay_specific_info entry may carry its own SEQ_ASSAY_ID
            # (assay.py:79-129: SEQ_PIPELINE_ID = assay)
            row = {"SEQ_ASSAY_ID": pipeline_id, "SEQ_PIPELINE_ID": pipeline_id}
            for k, v in {**base, **sp}.items():
                row[k] = ";".join(str(x) for x in v) if isinstance(v, list) else (
                    str(v) if v is not None else None
                )
            rows.append(row)
    all_keys = ["SEQ_ASSAY_ID"] + sorted({k for r in rows for k in r} - {"SEQ_ASSAY_ID"})
    data = [tuple(r.get(k) for k in all_keys) for r in rows]
    return local_rows_df(
        spark, data, ", ".join(f"`{k}` string" for k in all_keys)
    )


def read_assay_yaml(spark: SparkSession, path: str) -> DataFrame:
    try:
        import yaml  # gated: PyYAML may be absent in minimal images
    except ImportError as e:  # pragma: no cover
        raise ImportError("assay YAML reading requires PyYAML; use assay_df_from_dict") from e
    with open(path) as fh:
        return assay_df_from_dict(spark, yaml.safe_load(fh))
