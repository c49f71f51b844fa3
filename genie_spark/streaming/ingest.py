"""Continuous center-file ingestion (SURVEY.md §2.12).

The reference is strictly batch: a cron/Nextflow trigger re-walks each
center's folder, skips files whose (name, md5) is unchanged
(genie/input_to_database.py:54-113) and upserts into Synapse tables
(genie/load.py:129-296).  The Spark-native equivalent:

  * ``readStream`` on the center drop directory — Spark's file source
    already tracks processed files in the checkpoint, subsuming the
    reference's name-based skip;
  * content-hash manifest (md5 of the payload) kept as a table for the
    reference's re-uploaded-but-unchanged semantics;
  * ``foreachBatch`` applies the same join-diff upsert used in batch
    (operators.upsert.apply_upsert), so batch and streaming share one
    MERGE implementation.

``trigger(availableNow=True)`` turns the same pipeline back into the
reference's cron-batch shape — one code path for both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_tsv_dir(
    spark: SparkSession,
    input_dir: str,
    schema,
    sep: str = "\t",
) -> DataFrame:
    """File-source stream over a center upload directory."""
    return (
        spark.readStream.schema(schema)
        .option("sep", sep)
        .option("header", "true")
        .option("comment", "#")
        .option("maxFilesPerTrigger", 64)
        .csv(input_dir)
        .withColumn("_ingest_file", F.col("_metadata.file_path"))
    )


def upsert_batch_writer(
    target_path: str,
    keys: list[str],
    transform=None,
):
    """foreachBatch callback: transform (validation/normalization) then
    MERGE into the parquet target by primary key.  A micro-batch may
    hold any centers' rows, so the merge names no partitions and
    rewrites the whole table (io/bronze.py)."""
    from genie_spark.io.bronze import merge_into_bronze

    def write(batch: DataFrame, batch_id: int) -> None:
        data = batch.drop("_ingest_file")
        if transform is not None:
            data = transform(data)
        merge_into_bronze(data, target_path, keys)

    return write


def run_ingest_once(
    spark: SparkSession,
    input_dir: str,
    target_path: str,
    checkpoint_dir: str,
    schema,
    keys: list[str],
    transform=None,
) -> None:
    """One availableNow pass — the reference's cron-triggered ingest
    with streaming bookkeeping (processed-file tracking survives
    restarts via the checkpoint)."""
    stream = stream_tsv_dir(spark, input_dir, schema)
    q = (
        stream.writeStream.foreachBatch(
            upsert_batch_writer(target_path, keys, transform)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def content_manifest(df: DataFrame, file_col: str = "_ingest_file") -> DataFrame:
    """Per-file content hash — the md5-skip manifest
    (genie/input_to_database.py:87-113): re-uploads with identical
    content can be dropped by anti-joining their hash."""
    return df.groupBy(file_col).agg(
        F.md5(F.concat_ws("\x01", F.array_sort(F.collect_list(F.to_json(F.struct("*")))))).alias(
            "content_md5"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )
