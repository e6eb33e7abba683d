"""The two workloads: the timed job, its correctness check, its traced
layer-by-layer composition and the production call that composition must
match.

Every job is closed-loop batch work: one client, one job at a time, in one
process.  Lazy outputs are materialized through a full-column `noop` sink, so
column pruning cannot skip work the way `.count()` can.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deduputil_spark.cache import release_caches, track
from deduputil_spark.config import DedupConfig
from deduputil_spark.operators.assemble import assemble_documents, turn_metadata
from deduputil_spark.operators.chunk import chunk_documents
from deduputil_spark.operators.cluster import connected_components
from deduputil_spark.operators.dedup import build_block_store, build_file_meta, dedup_stats
from deduputil_spark.operators.lsh import candidate_pairs
from deduputil_spark.operators.minhash import lsh_bands, minhash_signatures_numpy
from deduputil_spark.operators.suffixarray import duplicated_spans, strip_duplicated_spans
from deduputil_spark.operators.verify import jaccard_verify_docs
from deduputil_spark.plans.pipeline import run_pipeline_lean
from deduputil_spark.sources.package import MAGIC, append_package, create_package, extract_turns
from perfbench.inputs import JACCARD_GATE

CFG = DedupConfig()
SUFFIX_L = 20
RECALL_FLOOR = 0.99


class CheckFailed(AssertionError):
    """A workload's output is wrong."""


def sink(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def release(spark) -> None:
    """Drop every persist a job made, so one run's caches never serve the next."""
    release_caches()
    spark.catalog.clearCache()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


@dataclass
class JobResult:
    wall_s: float
    #: gathers the job's outputs for the check; called before `release`
    collect: Callable[[], dict]
    phases: dict[str, float] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


# --------------------------------------------------------------------------
# near-duplicate clustering
# --------------------------------------------------------------------------


def _neardup(spark, transcripts: DataFrame) -> DataFrame:
    clusters = run_pipeline_lean(spark, transcripts, CFG).clusters
    sink(clusters)
    return clusters


def neardup_check(out: dict, truth: pd.DataFrame) -> dict:
    """Recall of the planted pairs whose true Jaccard clears the gate must be
    >= RECALL_FLOOR, and the weak-hash collision pair must stay apart."""
    label = dict(zip(out["clusters"]["conv_id"], out["clusters"]["cluster_id"]))

    def together(rows: pd.DataFrame) -> list[bool]:
        return [
            label.get(a) is not None and label.get(a) == label.get(b)
            for a, b in zip(rows["conv_a"], rows["conv_b"])
        ]

    gated = truth[(truth["kind"] != "collision_nonpair") & (truth["true_jaccard"] >= JACCARD_GATE)]
    recall = sum(together(gated)) / max(len(gated), 1)
    if recall < RECALL_FLOOR:
        raise CheckFailed(f"pair_recall {recall:.4f} < {RECALL_FLOOR} over {len(gated)} planted pairs")
    collisions = truth[truth["kind"] == "collision_nonpair"]
    merged = [f"{a}~{b}" for a, b, s in zip(collisions["conv_a"], collisions["conv_b"], together(collisions)) if s]
    if merged:
        raise CheckFailed(f"collision pair co-clustered: {merged}")
    return {"pair_recall": recall}


def neardup_traced(tr, spark, tables: dict, work: str) -> dict:
    """run_pipeline_lean's calls in its order, with exactly its persists."""
    transcripts = tables["transcripts"]
    docs = tr.step("assemble", lambda: track(assemble_documents(transcripts)))
    tr.add("minhash", "python_rows", tr.rows(docs))
    sigs = tr.step("minhash", lambda: track(minhash_signatures_numpy(docs, CFG)))
    cands = tr.step(
        "lsh",
        lambda: track(candidate_pairs(lsh_bands(sigs, CFG, band_key="xxhash"), CFG, persist_bands=False)),
    )
    tr.add("lsh", "candidates", tr.rows(cands))
    verified = tr.step(
        "verify",
        lambda: track(jaccard_verify_docs(cands, docs, CFG.shingle_k, threshold=CFG.jaccard_threshold)),
    )
    tr.add("cluster", "edges_in", tr.rows(verified))
    clusters = tr.step(
        "cluster",
        lambda: connected_components(
            verified.select("conv_a", "conv_b"), CFG.max_cc_iterations, all_vertices=docs.select("conv_id")
        ),
    )
    return {"clusters": tr.bookkeeping(lambda: checksum(clusters))}


def neardup_production(spark, tables: dict, work: str) -> dict:
    return {"clusters": checksum(run_pipeline_lean(spark, tables["transcripts"], CFG).clusters)}


# --------------------------------------------------------------------------
# package_roundtrip
# --------------------------------------------------------------------------


def package_tables(spark, inp: dict) -> dict:
    tr = inp["transcripts"]
    return {
        "base": spark.read.parquet(tr.path("transcripts_base.parquet")),
        "tail": spark.read.parquet(tr.path("transcripts_tail.parquet")),
    }


def package_job(spark, tables: dict, work: str) -> JobResult:
    pkg = os.path.join(work, "pkg")
    shutil.rmtree(pkg, ignore_errors=True)
    t0 = time.monotonic()
    create_package(spark, tables["base"], pkg, CFG)
    t1 = time.monotonic()
    append_package(spark, tables["tail"], pkg, CFG)
    t2 = time.monotonic()
    out = extract_turns(spark, pkg)
    sink(out)
    t3 = time.monotonic()
    return JobResult(
        t3 - t0,
        lambda: {"turns": out.toPandas()},
        phases={"create_s": t1 - t0, "append_s": t2 - t1, "extract_s": t3 - t2},
        extra={"stored_bytes": dir_bytes(pkg)},
    )


def package_check(out: dict, inp: dict) -> dict:
    """Per-turn text and metadata equality against the source, ordered by
    (conv_id, turn_idx)."""
    source = pd.read_parquet(inp["transcripts"].path("transcripts.parquet"))
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    key = ["conv_id", "turn_idx"]
    got = out["turns"][cols].sort_values(key).reset_index(drop=True)
    want = source[cols].sort_values(key).reset_index(drop=True)
    if len(got) != len(want):
        raise CheckFailed(f"round trip gave {len(got)} turns for {len(want)} source turns")
    got["ts"] = pd.to_datetime(got["ts"]).astype("datetime64[us]")
    want["ts"] = pd.to_datetime(want["ts"]).astype("datetime64[us]")
    got["turn_idx"] = got["turn_idx"].astype("int64")
    want["turn_idx"] = want["turn_idx"].astype("int64")
    for c in cols:
        g, w = got[c], want[c]
        bad = ~((g == w) | (g.isna() & w.isna()))
        if bad.any():
            i = int(bad.to_numpy().nonzero()[0][0])
            raise CheckFailed(
                f"round-trip mismatch in {c!r} at {tuple(want.loc[i, key])}: {g[i]!r:.60} != {w[i]!r:.60}"
            )
    return {}


def _write_package(spark, blocks: DataFrame, meta: DataFrame, pkg: str) -> None:
    """create_package's writes: the two tables, then the manifest."""
    blocks.write.mode("overwrite").parquet(os.path.join(pkg, "blocks"))
    meta.write.mode("overwrite").parquet(os.path.join(pkg, "file_meta"))
    st = dedup_stats(blocks, meta)
    spark.createDataFrame(
        [(CFG.block_size, st.unique_blocks, int(meta.count()), MAGIC, CFG.config_hash(),
          CFG.chunk_algo, st.total_bytes, st.unique_bytes, bool(CFG.compress_blocks))],
        "block_size int, block_num long, file_num long, magic_num long, "
        "config_hash string, chunk_algo string, total_bytes long, stored_bytes long, "
        "block_z boolean",
    ).write.mode("overwrite").parquet(os.path.join(pkg, "manifest"))


def package_traced(tr, spark, tables: dict, work: str) -> dict:
    """create_package's calls in its order, with exactly its persists, then
    append_package and extract_turns as whole calls."""
    base = tables["base"]
    pkg = os.path.join(work, "pkg_traced")
    shutil.rmtree(pkg, ignore_errors=True)
    docs = tr.step("assemble", lambda: assemble_documents(base))
    tr.add("chunk", "python_rows", tr.rows(docs))
    chunks = tr.step("chunk", lambda: chunk_documents(docs, CFG))
    body_chunks = tr.rows(chunks.filter(~F.col("is_tail")))
    blocks = tr.step("dedup", lambda: track(build_block_store(chunks)))
    tr.add("dedup", "unique_block_ratio", tr.rows(blocks) / max(body_chunks, 1))
    meta = tr.step(
        "dedup",
        lambda: track(build_file_meta(chunks, blocks).join(turn_metadata(base), "conv_id", "left")),
    )
    tr.step("package", lambda: _write_package(spark, blocks, meta, pkg), rows=lambda: package_rows(spark, pkg))
    tr.add("package", "bytes_written", dir_bytes(pkg))
    crosscheck = tr.bookkeeping(lambda: package_checksums(spark, pkg))
    tr.step("package", lambda: append_package(spark, tables["tail"], pkg, CFG), rows=lambda: package_rows(spark, pkg))
    tr.add("package", "bytes_written", dir_bytes(pkg))
    tr.step("reconstruct", lambda: extract_turns(spark, pkg))
    return crosscheck


PACKAGE_TABLES = ("blocks", "file_meta", "manifest")


def package_checksums(spark, pkg: str) -> dict:
    return {t: checksum(spark.read.parquet(os.path.join(pkg, t))) for t in PACKAGE_TABLES}


def package_rows(spark, pkg: str) -> int:
    """Rows the package holds: what a create or an append (which rewrites
    every table) writes."""
    return sum(spark.read.parquet(os.path.join(pkg, t)).count() for t in PACKAGE_TABLES)


def package_production(spark, tables: dict, work: str) -> dict:
    pkg = os.path.join(work, "pkg_production")
    shutil.rmtree(pkg, ignore_errors=True)
    create_package(spark, tables["base"], pkg, CFG)
    return package_checksums(spark, pkg)


# --------------------------------------------------------------------------
# exact substrings
# --------------------------------------------------------------------------


def _substring(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    spans = duplicated_spans(docs, SUFFIX_L, "rolling")
    clean = strip_duplicated_spans(docs, SUFFIX_L, "rolling", spans=spans)
    sink(clean)
    return spans, clean


def suffix_check(out: dict, planted: pd.DataFrame, copies: pd.DataFrame) -> dict:
    """Every planted snippet lies inside one span; full-copy documents (both
    sides) are covered end to end and stripped to nothing; and each
    document's stripped char count equals the length its spans cover."""
    spans, clean = out["spans"], out["clean"]
    by_doc = {d: g[["span_start", "span_end"]].to_numpy() for d, g in spans.groupby("doc_id")}
    for d, off, ln in planted[["doc_id", "off", "len"]].itertuples(index=False):
        iv = by_doc.get(d)
        if iv is None or not ((iv[:, 0] <= off) & (iv[:, 1] >= off + ln)).any():
            raise CheckFailed(f"planted snippet doc {d} [{off}, {off + ln}) not covered by any span")
    n_chars = dict(zip(clean["doc_id"], clean["n_chars"]))
    stripped = dict(zip(clean["doc_id"], clean["n_stripped"]))
    for d in set(copies["doc_id"]) | set(copies["src_id"]):
        if stripped.get(d) != n_chars.get(d):
            raise CheckFailed(f"full-copy doc {d}: stripped {stripped.get(d)} of {n_chars.get(d)} chars")
    covered = (spans["span_end"] - spans["span_start"]).groupby(spans["doc_id"]).sum()
    for d, n in covered.items():
        if stripped.get(d) != n:
            raise CheckFailed(f"doc {d}: spans cover {n} chars but {stripped.get(d)} were stripped")
    if int(sum(stripped.values())) != int(covered.sum()):
        raise CheckFailed("chars stripped from documents without spans")
    return {}


def suffix_traced(tr, docs: DataFrame) -> None:
    spans = tr.step("suffixarray", lambda: duplicated_spans(docs, SUFFIX_L, "rolling"))
    tr.step("suffixarray", lambda: strip_duplicated_spans(docs, SUFFIX_L, "rolling", spans=spans))


# --------------------------------------------------------------------------
# neardup_substring: both duplicate finders, one after the other
# --------------------------------------------------------------------------


def find_tables(spark, inp: dict) -> dict:
    return {
        "transcripts": spark.read.parquet(inp["transcripts"].path("transcripts.parquet")),
        "docs": spark.read.parquet(inp["suffixdocs"].path("documents.parquet")),
    }


def find_job(spark, tables: dict, work: str) -> JobResult:
    t0 = time.monotonic()
    clusters = _neardup(spark, tables["transcripts"])
    t1 = time.monotonic()
    spans, clean = _substring(tables["docs"])
    t2 = time.monotonic()

    def collect() -> dict:
        return {
            "clusters": clusters.toPandas(),
            "spans": spans.select("doc_id", "span_start", "span_end").toPandas(),
            "clean": clean.select("doc_id", F.length("text").alias("n_chars"), "n_stripped").toPandas(),
        }

    return JobResult(t2 - t0, collect, phases={"neardup_s": t1 - t0, "substring_s": t2 - t1})


def find_check(out: dict, inp: dict) -> dict:
    docs = inp["suffixdocs"]
    suffix_check(
        out, pd.read_parquet(docs.path("planted_snippets.parquet")), pd.read_parquet(docs.path("full_copies.parquet"))
    )
    return neardup_check(out, pd.read_parquet(inp["transcripts"].path("truth_pairs.parquet")))


def find_traced(tr, spark, tables: dict, work: str) -> dict:
    got = neardup_traced(tr, spark, tables, work)
    suffix_traced(tr, tables["docs"])
    return got


# --------------------------------------------------------------------------


def checksum(df: DataFrame) -> tuple[int, str]:
    """(rows, order-independent content sum): equal multisets of rows give
    equal sums whatever the partitioning."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(r["n"]), str(r["h"])


@dataclass
class Workload:
    name: str
    #: input families (inputs.py) the workload reads
    families: tuple[str, ...]
    #: layers its job exercises; every other layer reads 0 when traced
    layers: tuple[str, ...]
    tables: Callable
    job: Callable
    check: Callable
    traced: Callable
    production: Callable


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "neardup_substring", ("transcripts", "suffixdocs"),
            ("assemble", "minhash", "lsh", "verify", "cluster", "suffixarray"),
            find_tables, find_job, find_check, find_traced, neardup_production,
        ),
        Workload(
            "package_roundtrip", ("transcripts",),
            ("assemble", "chunk", "dedup", "package", "reconstruct"),
            package_tables, package_job, package_check, package_traced, package_production,
        ),
    )
}


def warm_up(spark, wl: Workload, tables: dict, work: str) -> None:
    """One run of the workload on a 1/20 slice of its inputs.  The traced
    run starts with it, so the class loading, code generation and Python
    worker start-up of a first job in a fresh JVM stay out of its layer
    split and its overhead baseline."""
    def sliced(df: DataFrame) -> DataFrame:
        key = "conv_id" if "conv_id" in df.columns else "doc_id"
        return df.filter(F.xxhash64(key) % 20 == 0)

    wl.job(spark, {k: sliced(v) for k, v in tables.items()}, work)
    release(spark)
