"""Incremental / streaming dedup.

The reference's append verb continues the SAME archive: it rebuilds its
md5→bid table from the existing package and keeps numbering
(`dedup_append_prepare`, reference src/dedup.c:908-1077).  The stream
does the same through the package verbs: each micro-batch of (complete)
conversations is `create_package`d into an empty directory or
`append_package`d to the package already there.  So the stream's store IS the
package — manifest, per-turn metadata, `block_z` and the crash recovery of
`_rewrite`/`_recover` included — and `open_package`, `extract_package` and
`extract_turns` read it.  A crashed stream resumes from the last committed
batch (checkpointLocation); a replayed batch is a no-op, because
`append_package` anti-joins on conv_id.

Also provided: watermarked streaming exact-duplicate suppression
(`dropDuplicatesWithinWatermark`) for the turn stream itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduputil_spark.cache import release_caches
from deduputil_spark.config import DedupConfig
from deduputil_spark.sources.package import append_package, create_package, has_package

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def incremental_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    pkg_dir: str,
    checkpoint_dir: str,
    cfg: DedupConfig | None = None,
    trigger_available_now: bool = True,
):
    """readStream over a parquet drop-zone of completed conversations ->
    foreachBatch create-or-append into the package at `pkg_dir`."""
    cfg = cfg or DedupConfig()
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(source_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if has_package(pkg_dir):
            append_package(spark, batch_df, pkg_dir, cfg)
        else:
            create_package(spark, batch_df, pkg_dir, cfg)
        # foreachBatch hands each batch its own session wrapper, and
        # create_package's tracked frames are keyed by that session
        release_caches(batch_df.sparkSession)

    writer = stream.writeStream.foreachBatch(handle).option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_exact_dedup(transcript_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Suppress exact-duplicate turns in-flight: state-bounded by watermark
    (late duplicates beyond the watermark are the batch layer's job)."""
    return (
        transcript_stream.withWatermark("ts", watermark)
        .withColumn("text_md5", F.md5(F.col("text").cast("binary")))
        .dropDuplicatesWithinWatermark(["text_md5"])
    )
