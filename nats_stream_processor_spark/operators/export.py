"""Training-data export: deterministic sharded parquet layout.

The last stage of the curation pipeline (dedup -> filter -> split ->
pack -> EXPORT): write the corpus as hash-sharded, within-shard-ordered
parquet so that (a) membership of every document is a pure function of
its id (same property as train_val_split — reruns and backfills land
documents in the same shard), (b) each shard is internally ordered, so
sequence packing (queries/curation.py pack_sequences) reads it back in
packing order with no extra sort, and (c) shards are independent units
of work for the training data loader.

Scale shape: one hash exchange on the shard id + a partition-local sort
— the minimal possible movement for a deterministic layout. At 100 TB
raise `shards` to ~#files wanted (100k+) and set `max_records_per_file`
to bound file sizes; both are metadata-only changes to the same plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash32_col

DEFAULT_SHARDS = 8


def with_shard(df: DataFrame, id_col: str = "doc_id",
               shards: int = DEFAULT_SHARDS) -> DataFrame:
    """Deterministic shard id: md5-derived hash-mod of the id (never
    rand() / spark_partition_id(), which change across reruns)."""
    return df.withColumn(
        "shard", (hash32_col(F.col(id_col).cast("string")) % shards)
        .cast("int"))


def export_training_shards(df: DataFrame, path: str,
                           id_col: str = "doc_id",
                           shards: int = DEFAULT_SHARDS,
                           max_records_per_file: int | None = None) -> None:
    """Write `df` as `path/shard=N/part-*.parquet`, hash-sharded on
    `id_col` and ordered by `id_col` within each shard."""
    out = with_shard(df, id_col, shards)
    writer = (
        out.repartition(shards, F.col("shard"))
        .sortWithinPartitions("shard", id_col)
        .write.mode("overwrite")
    )
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.partitionBy("shard").parquet(path)
