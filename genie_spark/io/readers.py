"""Format-aware readers (SURVEY.md §2.1 S1-S12).

One reader for delimited text.  The reference reads every flat file
through one default, ``pd.read_csv(sep="\\t", comment="#")``
(genie/example_filetype_format.py:83-97), and each format changes only
the options it needs.  Here that default is :func:`read_delimited`,
and every upload, release and public read of a TSV/CSV/BED file goes
through it with its own ``sep``, ``header``, ``comment`` and ``quote``
(plus upper-cased header names for the formats the reference
upper-cases); :func:`read_vcf` shares its header-line scan.  No other
module builds a ``spark.read`` CSV or text-split chain for a delimited
file (source-scanned in tests/test_plans.py).

The schema comes from the header line, so the read runs no Spark job:
the driver opens the file, takes its first line that is neither blank
nor a comment, splits it with the read's own quoting, and passes Spark
an all-string ``StructType`` — the columns Spark's header inference
would find (a blank name becomes ``_c<i>``, a name repeated in any case
gets its index appended, a UTF-8 BOM is dropped), without the
inference job.  A header-less format gets ``_c0…_cN`` from that line's
field count.  This assumes the file is on the driver's file system;
the assumption was already made, because the driver opens every upload
to checksum it (io/status.file_md5), parses the assay YAML, and reads
the released files' '#' metadata rows in release QC.

Each reader still mirrors a reference scan's quirks — comment skipping,
the MAF "NA is a real allele" policy, the VCF ## preamble — while the
body stays a plain ``spark.read`` so Catalyst keeps pushdown/pruning.
Readers accept one path or a list (centers upload per-file; Spark
unions multi-path reads for free); the header comes from the first.
"""

from __future__ import annotations

import csv
from collections import Counter
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from genie_spark.schemas import BED_SCHEMA, MAF_ALLELE_COLS, MAF_NA_STRINGS
from genie_spark.session import local_rows_df


def _first_line(path: str, keep: Callable[[str], bool]) -> str | None:
    """The file's first line (terminator stripped) that ``keep``
    accepts.  ``utf-8-sig`` drops a leading BOM, as Spark's header
    parse does; undecodable bytes become U+FFFD, as in Spark's decode."""
    with open(path, encoding="utf-8-sig", errors="replace") as fh:
        for line in fh:
            line = line.rstrip("\r\n")
            if keep(line):
                return line
    return None


def _spark_names(fields: list[str]) -> list[str]:
    """Spark's CSV header sanitizing (identifiers case-insensitive): a
    blank name becomes ``_c<i>``, a name repeated in any case gets its
    index appended."""
    seen = Counter(n.lower() for n in fields)
    return [
        f"_c{i}" if not n else f"{n}{i}" if seen[n.lower()] > 1 else n
        for i, n in enumerate(fields)
    ]


def read_delimited(
    spark: SparkSession,
    path: str | Sequence[str],
    *,
    sep: str = "\t",
    header: bool = True,
    comment: str | None = "#",
    quote: str = '"',
    upper: bool = False,
) -> DataFrame:
    """All-string scan of a delimited file whose schema is built from
    its header line (module docstring).  ``quote=""`` disables quoting,
    as in Spark; ``upper`` upper-cases the header names."""
    paths = [path] if isinstance(path, str) else list(path)
    line = _first_line(
        paths[0],
        # Spark's header pick: not blank after trimming spaces, and not
        # starting with the comment prefix
        lambda s: bool(s.strip(" ")) and not (comment and s.startswith(comment)),
    )
    if line is None:
        fields = []
    elif quote:
        fields = next(csv.reader([line], delimiter=sep, quotechar=quote))
    else:
        fields = line.split(sep)
    names = _spark_names(fields) if header else [f"_c{i}" for i in range(len(fields))]
    if upper:
        names = [n.upper() for n in names]
    reader = (
        spark.read.schema(StructType([StructField(n, StringType()) for n in names]))
        .option("sep", sep)
        .option("header", header)
        .option("quote", quote)
    )
    if comment:
        reader = reader.option("comment", comment)
    return reader.csv(paths)


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
    sample = read_delimited(spark, sample_path, upper=True)
    patient = read_delimited(spark, patient_path, upper=True)
    merged = sample.join(patient, "PATIENT_ID", "inner")
    return sample, patient, merged


def read_maf(spark: SparkSession, path: str | Sequence[str]) -> DataFrame:
    """MAF scan with the reference NA policy (genie_registry/maf.py:
    469-551): every column read verbatim as string, quoting disabled
    (csv.QUOTE_NONE, maf.py:533); the literal string "NA" is a VALID
    allele in allele columns but a null marker everywhere else, so
    NA-strings are nulled only in non-allele columns.  Column names are
    upper-cased (maf.py:229)."""
    df = read_delimited(spark, path, quote="", upper=True)
    allele = {c.upper() for c in MAF_ALLELE_COLS}
    return df.select(*[
        F.col(c) if c in allele
        else F.when(F.col(c).isin(MAF_NA_STRINGS), None).otherwise(F.col(c)).alias(c)
        for c in df.columns
    ])


def read_vcf(spark: SparkSession, path: str) -> DataFrame:
    """VCF scan (genie_registry/vcf.py:32-91): skip the ``##`` preamble,
    use the ``#CHROM`` line as the header, custom NA handling (no
    default null parsing).

    The ``#CHROM`` line is found by the same driver line scan as every
    other header; the body is a distributed text scan + split, so an
    empty field stays "" (a CSV scan would read it as null)."""
    line = _first_line(path, lambda s: s.startswith("#CHROM"))
    if line is None:
        raise ValueError(f"{path}: no #CHROM header line found")
    parts = F.split(F.col("value"), "\t")
    return (
        spark.read.text(path)
        .where(~F.col("value").startswith("##"))
        .where(~F.col("value").startswith("#CHROM"))
        .select(*[parts.getItem(i).alias(n) for i, n in enumerate(line.split("\t"))])
    )


def read_bed(spark: SparkSession, path: str | Sequence[str]) -> DataFrame:
    """Headerless BED scan (genie_registry/bed.py:403-429).  The
    reference sniffs the first row to reject files with headers; here
    the int-position rule in bed_rules flags them (a header row fails
    the Start_Position integer check)."""
    df = read_delimited(spark, path, header=False)
    names = [f.name for f in BED_SCHEMA.fields]
    return df.select(*[F.col(c).alias(n) for c, n in zip(df.columns, names)])


def read_retraction(spark: SparkSession, path: str | Sequence[str], col: str = "genieSampleId") -> DataFrame:
    """Headerless one-column retraction list
    (genie_registry/sampleRetraction.py:19-27)."""
    df = read_delimited(spark, path, sep=",", header=False, comment=None)
    return df.select(F.col("_c0").alias(col))


def read_known_somatic_sites(
    spark: SparkSession, path: str | Sequence[str]
) -> DataFrame:
    """Known-somatic-sites whitelist BED (the file the reference
    downloads from the public vcf2maf data dir,
    genie/database_to_staging.py:253-265): headerless tab-separated
    ``Chromosome Start End Symbol`` with ``#`` comments.  Columns are
    suffixed ``_wl`` ready for :func:`release.filters.whitelist_hits`."""
    return read_delimited(spark, path, header=False).select(
        F.col("_c0").alias("Chromosome"),
        F.col("_c1").try_cast("long").alias("Start_Position_wl"),
        F.col("_c2").try_cast("long").alias("End_Position_wl"),
        F.col("_c3").alias("Hugo_Symbol_wl"),
    )


def read_mutations_in_cis(spark: SparkSession, path: str | Sequence[str]) -> DataFrame:
    """mutationsInCis CSV scan (genie_registry/mutationsInCis.py:23-29)."""
    return read_delimited(spark, path, sep=",")


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
