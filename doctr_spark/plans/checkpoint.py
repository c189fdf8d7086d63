"""Resumable extraction: per-bucket checkpointing with a lineage/metrics
sidecar table (semantics the reference lacks entirely — SURVEY.md §4.3).

Design: conversations hash into ``buckets`` deterministic buckets
(pmod(xxhash64(conv_id))). Each bucket is written as its own partition
directory; a manifest (sidecar) table records one row per completed
bucket with the bucket count it was hashed under and extraction metrics
(turns, convs, boxes, chars, quarantined errors, strip ratio). A restart
skips manifested buckets; a restart under a different bucket count is
refused, since the same conversation would hash to a different bucket
and be written twice (or never).

At 100 TB the same layout holds: buckets are the unit of retry/lineage
(O(100-1000) of them), each bucket write is a normal distributed job, and
the input scan for bucket b is pruned by predicate pushdown when the
source table is bucketed/partitioned by the same key — on plain parquet
it degrades to a full-scan filter per job, which is why bucket counts
should stay coarse."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import extract_turns

MANIFEST_SCHEMA = (
    "bucket int, buckets int, n_turns long, n_convs long, n_boxes long, n_chars long, "
    "n_errors long, avg_strip_ratio double, status string, completed_ts timestamp"
)
# the result columns the manifest metrics read back; an explicit schema
# makes a write that produced no rows read as empty instead of failing
# schema inference
_READ_BACK_SCHEMA = (
    "conv_id string, payload_kind string, n_boxes int, n_chars int, strip_ratio double, bucket int"
)


def with_bucket(df: DataFrame, buckets: int) -> DataFrame:
    return df.withColumn("bucket", F.pmod(F.xxhash64("conv_id"), F.lit(buckets)).cast("int"))


def _done_rows(spark: SparkSession, manifest_dir: str) -> list:
    """(bucket, buckets) of every completed bucket. Only a missing manifest
    directory means a fresh start; an unreadable manifest raises."""
    if not os.path.exists(manifest_dir):
        return []
    manifest = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)
    return manifest.filter(F.col("status") == "done").select("bucket", "buckets").collect()


def completed_buckets(spark: SparkSession, manifest_dir: str) -> set[int]:
    return {r["bucket"] for r in _done_rows(spark, manifest_dir)}


def _extract_buckets(
    spark: SparkSession, bucketed: DataFrame, todo: list[int], buckets: int, results_dir: str, manifest_dir: str
) -> None:
    """Extract ``todo`` buckets in one job, then append their manifest rows."""
    res = with_bucket(extract_turns(bucketed.filter(F.col("bucket").isin(todo)).drop("bucket")), buckets)
    (
        # co-locate each bucket before the partitioned write via an AQE
        # REBALANCE on the bucket key: one shuffle of slim post-extraction
        # text rows buys ~one file per bucket instead of tasks x buckets
        # small files (the dynamic-overwrite commit moves files SERIALLY on
        # the driver, so file count is a fixed serial cost that was
        # strangling wide clusters: 32-core 7.1k -> 19.1k cold / 24.7k warm
        # turns/s on a 605k-turn corpus). Unlike a plain
        # repartition(buckets, bucket), REBALANCE also SPLITS an oversized
        # bucket at the advisory partition size — a single 10^5-turn
        # conversation concentrates one bucket, and a hard
        # one-task-per-bucket rule would serialize its whole write behind
        # one core (the skew-bench straggler); splitting costs a handful of
        # extra files, still O(1) per bucket for the serial commit.
        res.hint("rebalance", "bucket")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(results_dir)
    )
    written = spark.read.schema(_READ_BACK_SCHEMA).parquet(results_dir).filter(F.col("bucket").isin(todo))
    per_bucket = written.groupBy("bucket").agg(
        F.count("*").alias("n_turns"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.sum("n_boxes").alias("n_boxes"),
        F.sum("n_chars").alias("n_chars"),
        F.count(F.when(F.col("payload_kind") == "error", 1)).alias("n_errors"),
        F.avg("strip_ratio").alias("avg_strip_ratio"),
    )
    # every todo bucket gets a manifest row — an empty bucket (no rows, so
    # no partition dir) is still "done" with zero metrics, otherwise it
    # would rerun on every resume
    (
        spark.createDataFrame([(b,) for b in todo], "bucket int")
        .join(per_bucket, "bucket", "left")
        .na.fill({"n_turns": 0, "n_convs": 0, "n_boxes": 0, "n_chars": 0, "n_errors": 0, "avg_strip_ratio": 1.0})
        .select(
            "bucket", F.lit(buckets).alias("buckets"), "n_turns", "n_convs", "n_boxes", "n_chars", "n_errors",
            "avg_strip_ratio", F.lit("done").alias("status"), F.current_timestamp().alias("completed_ts"),
        )
        .write.mode("append")
        .parquet(manifest_dir)
    )


def run_extraction_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    buckets: int = 8,
    max_buckets_this_run: int | None = None,
    grouped: bool = False,
) -> dict:
    """Extract all turns, bucket by bucket, resuming past completed buckets.

    ``max_buckets_this_run`` lets tests simulate an interrupted run.
    ``grouped=True`` runs ALL remaining buckets in one job (single input
    scan + ``partitionBy(bucket)`` dynamic-overwrite write) — the 100 TB
    shape: N remaining buckets cost one pass, and a mid-job failure just
    leaves un-manifested partition dirs that the next run clears.
    ``grouped=False`` runs the same job once per bucket, for the finest
    retry/lineage granularity (each bucket commits independently).
    Raises ``ValueError`` before any extraction when the manifest was
    written under a different bucket count. Returns a summary dict.
    """
    results_dir = os.path.join(out_dir, "results")
    manifest_dir = os.path.join(out_dir, "manifest")
    rows = _done_rows(spark, manifest_dir)
    found = {r["buckets"] for r in rows}
    if found - {buckets}:
        got = ", ".join("missing (an older manifest)" if n is None else str(n) for n in sorted(found, key=str))
        raise ValueError(
            f"manifest {manifest_dir} has buckets={got}, this run asks for buckets={buckets}: "
            "conversations would hash to other buckets and be written twice or never"
        )
    done = {r["bucket"] for r in rows}
    todo = [b for b in range(buckets) if b not in done][:max_buckets_this_run]
    # a crashed run, or one under another bucket count whose manifest was
    # then deleted, may have left partition dirs without a manifest row;
    # dynamic overwrite only rewrites partitions present in the NEW data,
    # so such rows would stay in results/ (and in the read-back metrics)
    # next to their re-extracted copies. Manifested buckets are never
    # touched.
    for stale in glob.glob(os.path.join(results_dir, "bucket=*")):
        if int(stale.rsplit("=", 1)[1]) not in done:
            shutil.rmtree(stale)
    bucketed = with_bucket(transcripts, buckets)
    # per-bucket mode is grouped mode with one bucket to do
    for job in [todo] if grouped and todo else [[b] for b in todo]:
        _extract_buckets(spark, bucketed, job, buckets, results_dir, manifest_dir)
    return {"processed": todo, "skipped": sorted(done), "remaining": buckets - len(done) - len(todo)}


def read_extraction_results(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.option("basePath", os.path.join(out_dir, "results")).parquet(
        os.path.join(out_dir, "results")
    )
