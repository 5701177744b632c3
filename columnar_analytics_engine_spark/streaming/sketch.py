"""Streaming maintained count-min sketch: a ``foreachBatch`` sink that
keeps a mergeable frequency sketch over an unbounded event stream — the
streaming twin of the batch CMS (queries/retrieval.sketch_heavy_hitters,
same md5-derived hash family, so the two agree exactly).

Storage model exploits the sketch's MERGEABILITY: each micro-batch
writes only its OWN d×w partial counters, partitioned by ``batch_id``;
the full sketch is the groupBy-sum of all partitions on read.  No
read-modify-write of global state ever happens — the per-batch write is
O(d·w) rows regardless of batch size, and a foreachBatch retry
dynamic-overwrites its own partition, so the maintained sketch is exact
under retries (the same contract as streaming/incremental.py).  This is
the 100 TB shape: 1000 executors pre-aggregate map-side inside the
batch, the sink appends a sketch-sized partition, and periodic
compaction (streaming/maintenance.py) folds old partitions into one.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnar_analytics_engine_spark.functions.hashing import h60
from columnar_analytics_engine_spark.artifacts import resolve_artifact

CMS_DEPTH = 4
CMS_WIDTH = 256


def _bucket() -> F.Column:
    """Counter index for (string key ``k``, hash row ``row_id``) —
    identical to the batch CMS."""
    return F.pmod(h60("cms", "CONCAT(CAST(row_id AS STRING), ':', k)"), F.lit(CMS_WIDTH))


def partial_sketch(batch: DataFrame, key_col: str = "user_id") -> DataFrame:
    """The d×w partial counters for one micro-batch: (row_id, bucket, c)."""
    rows = F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    return (
        batch.select(F.col(key_col).cast("string").alias("k"))
        .select("k", F.explode(rows).alias("row_id"))
        .select("row_id", _bucket().alias("bucket"))
        .groupBy("row_id", "bucket")
        .agg(F.count("*").alias("c"))
    )


def read_sketch(spark: SparkSession, sketch_path: str) -> DataFrame:
    """The merged sketch (sum over all batch partitions), or an empty
    frame when no batch has committed yet.  Only path-not-found means
    "no sketch"; real read failures propagate."""
    try:
        parts = spark.read.parquet(resolve_artifact(sketch_path))
    except AnalysisException as exc:
        if "PATH_NOT_FOUND" in str(exc) or "Path does not exist" in str(exc):
            return spark.createDataFrame([], "row_id int, bucket long, c long")
        raise
    return parts.groupBy("row_id", "bucket").agg(F.sum("c").alias("c"))


def estimate_counts(
    spark: SparkSession, sketch_path: str, keys: DataFrame, key_col: str = "user_id"
) -> DataFrame:
    """CMS estimate (min over the d counters; always >= true count) for
    every key in ``keys``.  The merged sketch is at most d·w rows, so it
    broadcasts; the probe side never shuffles."""
    sk = read_sketch(spark, sketch_path)
    rows = F.array(*[F.lit(i) for i in range(CMS_DEPTH)])
    probes = keys.select(
        F.col(key_col),
        F.col(key_col).cast("string").alias("k"),
        F.explode(rows).alias("row_id"),
    ).select(key_col, "row_id", _bucket().alias("bucket"))
    return (
        probes.join(F.broadcast(sk), ["row_id", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cms_estimate"))
    )


def cms_maintenance_query(
    spark: SparkSession,
    events_stream: DataFrame,
    state_dir: str,
    key_col: str = "user_id",
):
    """Build the streaming query: fold every micro-batch into a
    partial-counters partition under ``{state_dir}/cms``.  Returns the
    not-yet-started ``DataStreamWriter`` (tests drain with
    ``availableNow``)."""
    sketch_path = f"{state_dir}/cms"

    def process(batch_df: DataFrame, batch_id: int) -> None:
        (
            partial_sketch(batch_df, key_col)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(resolve_artifact(sketch_path))
        )

    return (
        events_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{state_dir}/_checkpoint")
    )
