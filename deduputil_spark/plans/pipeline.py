"""The flagship plan: transcripts → near-duplicate clusters.

One dataflow, `run_pipeline_lean`:

  assemble → signatures → (bands) → candidates → verified → clusters

Without a checkpoint directory it is one lazy plan with only the persists
correctness needs — no count jobs, no metrics.  With one, the same calls in
the same order go through `Runner`, which makes the run resumable and metered
(north rule: "every stage checkpoints per-partition lineage and metrics … so
the pipeline resumes mid-run"): each stage is written as a table keyed by
stage, dataflow version and config hash, read back and counted.  A stage
whose table already exists is read back, not recomputed — kill the driver
after stage k, rerun, and stages 1..k are loaded while k+1.. continue.
Metrics rows record stage, rows_out, wall_ms, config_hash, partitions.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from deduputil_spark.cache import track
from deduputil_spark.config import DedupConfig
from deduputil_spark.io import read_table, table_exists, write_table
from deduputil_spark.operators.assemble import assemble_documents
from deduputil_spark.operators.cluster import connected_components
from deduputil_spark.operators.lsh import candidate_pairs, cap_pair_degree
from deduputil_spark.operators.minhash import lsh_bands, minhash_signatures_numpy
from deduputil_spark.operators.verify import jaccard_verify_docs

#: Part of every checkpoint location.  Bump it whenever a stage's output can
#: change under the same config hash (a new signature scheme, say), so tables
#: an older dataflow wrote are never read back as this one's.
DATAFLOW_VERSION = 2


@dataclass
class StageMetric:
    stage: str
    rows_out: int
    wall_ms: int
    partitions: int
    config_hash: str
    resumed: bool


@dataclass
class PipelineResult:
    clusters: DataFrame
    verified_pairs: DataFrame
    metrics: list[StageMetric] = field(default_factory=list)


class Runner:
    """Checkpoint-aware stage runner.

    With a `checkpoint_dir`, each stage is written as a table (or read back
    if a previous run wrote it), then counted into a metrics row.  Without
    one, a stage is just persisted (tracked — the caller releases) or, with
    `persist=False`, left lazy: no count jobs and no metrics."""

    def __init__(self, spark: SparkSession, cfg, checkpoint_dir: str | None):
        # cfg is duck-typed: anything with config_hash() (DedupConfig, _SuffixCfg)
        self.spark = spark
        self.cfg = cfg
        self.dir = checkpoint_dir
        self.metrics: list[StageMetric] = []
        if checkpoint_dir:
            os.makedirs(checkpoint_dir, exist_ok=True)

    def _loc(self, stage: str) -> str:
        return os.path.join(self.dir, f"{stage}_v{DATAFLOW_VERSION}_{self.cfg.config_hash()}")

    def run(self, stage: str, build, persist: bool = True) -> DataFrame:
        if not self.dir:
            return track(build()) if persist else build()
        t0 = time.monotonic()
        loc = self._loc(stage)
        resumed = table_exists(self.spark, loc)
        if not resumed:
            write_table(build(), loc)
        df = read_table(self.spark, loc)
        self.record(stage, df.count(), int((time.monotonic() - t0) * 1000), df.rdd.getNumPartitions(), resumed)
        return df

    def record(self, stage: str, rows_out: int, wall_ms: int = 0, partitions: int = -1, resumed: bool = False):
        self.metrics.append(
            StageMetric(
                stage=stage,
                rows_out=rows_out,
                wall_ms=wall_ms,
                partitions=partitions,
                config_hash=self.cfg.config_hash(),
                resumed=resumed,
            )
        )

    def dump_metrics(self) -> None:
        if not self.dir:
            return
        path = os.path.join(self.dir, "metrics.jsonl")
        with open(path, "a") as f:
            for m in self.metrics:
                f.write(json.dumps(m.__dict__) + "\n")


def run_pipeline_lean(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: DedupConfig | None = None,
    checkpoint_dir: str | None = None,
) -> PipelineResult:
    """Transcripts → near-duplicate clusters, the one near-dup dataflow.

    With `checkpoint_dir=None` (production shape) the plan persists only what
    correctness requires — docs (3 consumers), signatures, candidate pairs
    (3 joins) and verified pairs (the CC input) — keeps the bands lazy and
    leaves the clusters unpersisted; `metrics` stays empty.  With a
    `checkpoint_dir` every stage becomes a resumable, counted checkpoint
    table (see `Runner`)."""
    cfg = cfg or DedupConfig()
    r = Runner(spark, cfg, checkpoint_dir)
    docs = r.run("assemble", lambda: assemble_documents(transcripts))
    # persist the COMPACT signature table (one row/doc) instead of the
    # bands×-bigger exploded band table; bands re-derive from it with one JVM
    # explode per consumer (see candidate_pairs persist_bands)
    sigs = r.run("signatures", lambda: minhash_signatures_numpy(docs, cfg))
    bands = lsh_bands(sigs, cfg, band_key="xxhash")  # no per-band string build
    if cfg.max_pair_degree is None:
        cands = r.run("candidates", lambda: candidate_pairs(bands, cfg, persist_bands=False))
    else:
        # degree cap ON: the raw and capped candidate sets are separate stages
        # and a metered run records the dropped-edge count as its own row —
        # thinning is never silent (the contract lsh.cap_pair_degree promises)
        raw = r.run("candidates_raw", lambda: candidate_pairs(bands, cfg, persist_bands=False))
        cands = r.run("candidates", lambda: cap_pair_degree(raw, cfg.max_pair_degree))
        if r.dir:
            r.record("degree_cap_dropped", r.metrics[-2].rows_out - r.metrics[-1].rows_out)
    # verify prunes DOCS before exploding shingles: cost scales with the
    # candidate set, not the corpus
    verified = r.run(
        "verified",
        lambda: jaccard_verify_docs(cands, docs, cfg.shingle_k, threshold=cfg.jaccard_threshold),
    )
    clusters = r.run(
        "clusters",
        lambda: connected_components(
            verified.select("conv_a", "conv_b"),
            cfg.max_cc_iterations,
            all_vertices=docs.select("conv_id"),
        ),
        persist=False,
    )
    r.dump_metrics()
    return PipelineResult(clusters=clusters, verified_pairs=verified, metrics=r.metrics)


@dataclass
class ExactSubstringResult:
    clean_docs: DataFrame
    spans: DataFrame
    metrics: list[StageMetric] = field(default_factory=list)


class _SuffixCfg:
    """Duck-typed config for Runner: hashes the exact-substring knobs so a
    checkpoint from a different (L, method) is never read back."""

    def __init__(self, L: int, method: str):
        self.L, self.method = int(L), method

    def config_hash(self) -> str:
        import hashlib

        return hashlib.md5(f"suffix:{self.L}:{self.method}".encode()).hexdigest()[:12]


def run_exact_substring(
    spark: SparkSession,
    docs: DataFrame,
    L: int = 20,
    method: str = "rolling",
    checkpoint_dir: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> ExactSubstringResult:
    """The exact-substring dedup plan (Lee et al. ExactSubstr): corpus-wide
    duplicated spans → cleaned corpus, as two stages (same Runner/checkpoint
    semantics as `run_pipeline_lean`: with a `checkpoint_dir`, kill after the
    spans stage, rerun, and the spans table is read back, not recomputed).
    `method="rolling"` is the scale path (8 bytes/position on the wire,
    exact gram re-verification)."""
    from deduputil_spark.operators.suffixarray import duplicated_spans, strip_duplicated_spans

    r = Runner(spark, _SuffixCfg(L, method), checkpoint_dir)
    spans = r.run("suffix_spans", lambda: duplicated_spans(docs, L, method, id_col, text_col))
    clean = r.run(
        "suffix_strip",
        lambda: strip_duplicated_spans(docs, L, method, id_col, text_col, spans=spans),
    )
    r.dump_metrics()
    return ExactSubstringResult(clean_docs=clean, spans=spans, metrics=r.metrics)


def pair_recall(verified_or_clusters: DataFrame, truth_pairs: DataFrame, via_clusters: bool = True) -> float:
    """Planted-pair recall (BASELINE.json metric).  `truth_pairs` rows with
    kind != collision_nonpair must co-cluster (or appear among verified pairs)."""
    truth = truth_pairs.filter(F.col("kind") != "collision_nonpair")
    n_truth = truth.count()
    if n_truth == 0:
        return 1.0
    if via_clusters:
        lab = verified_or_clusters  # (conv_id, cluster_id)
        la = lab.select(F.col("conv_id").alias("conv_a"), F.col("cluster_id").alias("ca"))
        lb = lab.select(F.col("conv_id").alias("conv_b"), F.col("cluster_id").alias("cb"))
        hit = truth.join(la, "conv_a").join(lb, "conv_b").filter(F.col("ca") == F.col("cb")).count()
    else:
        hit = truth.join(verified_or_clusters, ["conv_a", "conv_b"], "left_semi").count()
    return hit / n_truth
