"""Streaming incremental dedup: the stream's store is the package.  Micro-batch
create/append must converge to the same blocks as one batch run
(streaming/batch equivalence), a replayed batch must be a no-op, and the
package must round-trip whole transcript rows."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from deduputil_spark.cache import release_caches
from deduputil_spark.config import DedupConfig
from deduputil_spark.operators.assemble import assemble_documents
from deduputil_spark.operators.chunk import chunk_documents
from deduputil_spark.operators.dedup import build_block_store, build_file_meta
from deduputil_spark.operators.reconstruct import roundtrip_mismatches
from deduputil_spark.sources.package import extract_package, extract_turns, open_package
from deduputil_spark.streaming.incremental import incremental_dedup_stream, streaming_exact_dedup

CFG = DedupConfig(block_size=256, block_min_size=64, block_max_size=1024)
COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _run_stream(spark, src: str, pkg: str, ckpt: str) -> None:
    """Drain the drop-zone into the package (availableNow) and wait."""
    q = incremental_dedup_stream(spark, src, pkg, ckpt, CFG)
    q.awaitTermination(120)
    assert not q.isActive


def test_microbatch_upserts_match_batch(spark, transcripts):
    convs = [r["conv_id"] for r in transcripts.select("conv_id").distinct().collect()]
    convs.sort()
    third = len(convs) // 3
    batches = [convs[:third], convs[third : 2 * third], convs[2 * third :]]
    with tempfile.TemporaryDirectory() as d:
        src, pkg, ckpt = (os.path.join(d, n) for n in ("src", "pkg", "ckpt"))
        # one drop per batch, each drained by a restart of the same stream:
        # the first micro-batch creates the package, the next two append
        for ids in batches:
            transcripts.filter(F.col("conv_id").isin(ids)).write.mode("append").parquet(src)
            _run_stream(spark, src, pkg, ckpt)
        p = open_package(spark, pkg)
        sb, sm = p["blocks"], p["file_meta"]
        # batch-mode ground truth
        chunks = chunk_documents(assemble_documents(transcripts), CFG)
        bb = build_block_store(chunks)
        bm = build_file_meta(chunks, bb)
        # same unique block SET (ids may be permuted: append order != global order)
        a = {r["md5"] for r in sb.select("md5").collect()}
        b_ = {r["md5"] for r in bb.select("md5").collect()}
        assert a == b_
        assert sm.count() == bm.count()
        # bids dense + unique in the streamed package
        n = sb.count()
        mm = sb.agg(F.min("bid"), F.max("bid")).collect()[0]
        assert (mm[0], mm[1]) == (0, n - 1)
        assert sb.select("bid").distinct().count() == n
        # round-trip from the streamed package
        assert roundtrip_mismatches(transcripts, extract_package(spark, pkg)).count() == 0


def test_replayed_batch_is_noop(spark, transcripts):
    ids = [r["conv_id"] for r in transcripts.select("conv_id").distinct().limit(20).collect()]
    with tempfile.TemporaryDirectory() as d:
        src, pkg = os.path.join(d, "src"), os.path.join(d, "pkg")
        transcripts.filter(F.col("conv_id").isin(ids)).write.parquet(src)
        _run_stream(spark, src, pkg, os.path.join(d, "ckpt1"))
        p1 = open_package(spark, pkg)
        n_blocks, n_meta = p1["blocks"].count(), p1["file_meta"].count()
        h1 = p1["header"]
        # a lost checkpoint replays the same batch into the package (A4 idempotence)
        _run_stream(spark, src, pkg, os.path.join(d, "ckpt2"))
        p2 = open_package(spark, pkg)
        assert p2["blocks"].count() == n_blocks
        assert p2["file_meta"].count() == n_meta
        h2 = p2["header"]
        assert (h2["block_num"], h2["file_num"]) == (h1["block_num"], h1["file_num"])
        assert h2["file_num"] == n_meta == 20


def test_streaming_source_end_to_end(spark, transcripts):
    """Real readStream → foreachBatch → package with availableNow; the
    package returns whole rows, metadata included, and the handler releases
    the frames create_package tracked."""
    with tempfile.TemporaryDirectory() as d:
        src, pkg = os.path.join(d, "src"), os.path.join(d, "pkg")
        ids = [r["conv_id"] for r in transcripts.select("conv_id").distinct().limit(30).collect()]
        src_df = transcripts.filter(F.col("conv_id").isin(ids))
        src_df.write.parquet(src)
        release_caches()
        _run_stream(spark, src, pkg, os.path.join(d, "ckpt"))
        assert release_caches() == 0
        assert open_package(spark, pkg)["header"]["file_num"] == 30
        want = sorted(map(tuple, src_df.select(*COLS).collect()))
        got = sorted(map(tuple, extract_turns(spark, pkg).select(*COLS).collect()))
        assert got == want


def test_streaming_exact_dedup_plan(spark, transcripts):
    """dropDuplicatesWithinWatermark builds a valid streaming plan and, run
    on a memory-ish source via availableNow, suppresses exact dup turns."""
    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        out = os.path.join(d, "out")
        dup_turns = spark.createDataFrame(
            [("x1", 0, "user", "same text", None, None),
             ("x2", 0, "user", "same text", None, None),
             ("x3", 0, "user", "other text", None, None)],
            schema=transcripts.schema,
        ).withColumn("ts", F.current_timestamp())
        dup_turns.write.parquet(src)
        stream = spark.readStream.schema(dup_turns.schema).parquet(src)
        dd = streaming_exact_dedup(stream)
        q = (
            dd.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        assert got.count() == 2  # one of the two "same text" turns suppressed
