"""Per-partition lineage + checkpoint-resumable runs.

BASELINE.json north_rule: runs must be resumable from checkpoint with
per-partition lineage rows (cell_id, row_count, checksum) — re-runs skip
completed partitions. The reference's analogue is its per-region
incremental processing (~140 working areas, src/config.yaml:23-160;
skip-if-exists gates like gen_crossings.py:76-92).

Pattern:
  todo = partitions(input) ANTI-JOIN completed(lineage)
  process(todo) → write partition → append lineage row
Idempotence: partition writes are overwrite-by-partition; lineage rows
carry an order-insensitive content checksum so a resumed run can verify
prior output instead of trusting it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

LINEAGE_SCHEMA = "cell_id long, row_count long, checksum string"


def partition_lineage(df: DataFrame, cell_col: str = "cell_id") -> DataFrame:
    """(cell_id, row_count, checksum): checksum = xor-combined xxhash64 of
    each row's canonical string — order-insensitive (rows) AND
    column-order-insensitive: columns hash in sorted-by-name order, so
    the checksum of a partition read BACK from storage (where partition
    columns move last) reproduces the one recorded at commit time —
    the property verify-on-resume depends on."""
    row_hash = F.xxhash64(F.concat_ws(
        "\x1f", *[F.col(c).cast("string") for c in sorted(df.columns)]))
    return (
        df.withColumn("_h", row_hash)
        .groupBy(F.col(cell_col).alias("cell_id"))
        .agg(
            F.count("*").alias("row_count"),
            F.format_string("%016x", F.bit_xor("_h")).alias("checksum"),
        )
    )


def load_lineage(spark: SparkSession, path: str) -> DataFrame:
    if os.path.isdir(path):
        return spark.read.parquet(path)
    return spark.createDataFrame([], LINEAGE_SCHEMA)


def remaining_partitions(df: DataFrame, lineage: DataFrame,
                         cell_col: str = "cell_id") -> DataFrame:
    """Rows of df whose partition is NOT recorded complete — the resume
    anti-join."""
    done = lineage.select(F.col("cell_id").alias(cell_col)).distinct()
    return df.join(F.broadcast(done), cell_col, "left_anti")


class CheckpointedRun:
    """Drive a partitioned computation resumably.

    >>> run = CheckpointedRun(spark, out_dir)
    >>> todo = run.remaining(input_df_with_cell_id)
    >>> result = transform(todo)
    >>> run.commit(result)          # writes partitions + lineage rows

    A killed run leaves committed partitions + lineage; the next run's
    ``remaining`` skips them. Output is parquet partitioned by cell_id
    (partition-overwrite semantics keep commits idempotent).
    """

    def __init__(self, spark: SparkSession, out_dir: str, cell_col: str = "cell_id"):
        self.spark = spark
        self.out_dir = out_dir
        self.data_dir = os.path.join(out_dir, "data")
        self.lineage_dir = os.path.join(out_dir, "lineage")
        self.cell_col = cell_col
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def lineage(self) -> DataFrame:
        return load_lineage(self.spark, self.lineage_dir)

    def remaining(self, df: DataFrame, verify: bool = False) -> DataFrame:
        """Rows of df in partitions not yet complete. With verify=True a
        claimed-complete partition only counts as done if its STORED
        bytes still reproduce the recorded (row_count, checksum) — a
        corrupted or tampered partition is returned for reprocessing
        instead of trusted (the docstring promise of this module)."""
        lineage = self.lineage()
        if verify:
            bad = self.verify().select(F.col("cell_id"))
            lineage = lineage.join(bad, "cell_id", "left_anti")
        return remaining_partitions(df, lineage, self.cell_col)

    def commit(self, result: DataFrame) -> None:
        """Write result partitions + their lineage rows atomically-enough:
        data first, lineage last (a crash between the two re-processes the
        partition — idempotent by dynamic partition overwrite)."""
        result = result.cache()
        (
            result.repartition(self.cell_col)
            .write.mode("overwrite")
            .partitionBy(self.cell_col)
            .parquet(self.data_dir)
        )
        (partition_lineage(result, self.cell_col)
         .write.mode("append").parquet(self.lineage_dir))
        result.unpersist()

    def output(self) -> DataFrame:
        """The run's committed table."""
        return self.spark.read.parquet(self.data_dir)

    def verify(self) -> DataFrame:
        """Recompute per-partition lineage from the STORED output and
        check it against the recorded rows — full content verification
        (row_count AND order-insensitive checksum), not just counts.
        Returns the cell_ids claimed complete whose stored bytes no
        longer reproduce any recorded lineage row (empty = healthy).
        A cell with several recorded rows (re-commit after a crash
        between data write and lineage append) is healthy if ANY of
        them matches — dynamic partition overwrite makes the last data
        write the live one, and its lineage row is among the records."""
        if not os.path.isdir(self.data_dir):  # nothing committed yet
            return self.spark.createDataFrame([], "cell_id long")
        actual = partition_lineage(self.output(), self.cell_col)
        recorded = self.lineage()
        healthy = recorded.join(
            actual, ["cell_id", "row_count", "checksum"], "left_semi"
        ).select("cell_id").distinct()
        return (recorded.select("cell_id").distinct()
                .join(healthy, "cell_id", "left_anti"))
