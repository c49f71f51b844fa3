from genie_spark.io.readers import (
    read_bed,
    read_clinical_pair,
    read_delimited,
    read_maf,
    read_mutations_in_cis,
    read_retraction,
    read_vcf,
)

__all__ = [
    "read_bed",
    "read_clinical_pair",
    "read_delimited",
    "read_maf",
    "read_mutations_in_cis",
    "read_retraction",
    "read_vcf",
]
