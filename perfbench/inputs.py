"""Seeded benchmark inputs, generated before any timing and cached per seed.

Each input family's tables are parquet files under
`<cache>/<family>-x<scale>-s<seed>-v<version>/`.
The program under test only ever receives those tables (read back through
Spark); the ground truth beside them (planted pairs, planted snippets) is read
only by the benchmark's correctness checks.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when a generator or a size below changes, so a stale cache is never
#: read back
INPUT_VERSION = 2

#: transcript corpus: `synthesize(n_base_convs=...)` gives ~18 turns and
#: ~18 k chars per base conversation (1% long turns carry most chars), plus
#: 30% planted duplicate conversations and the hot greeting in ~30%
TRANSCRIPT_BASE_CONVS = 500
#: planted pairs count toward recall when their true Jaccard clears the
#: pipeline's verify threshold (FIXTURES.md: 20%-edit pairs and most
#: substring pairs sit below it by design); k matches DedupConfig.shingle_k
JACCARD_GATE = 0.7
SHINGLE_K = 5
#: share of conversations held out of create_package and appended afterwards
APPEND_SHARE = 0.10

#: exact-substring documents, shaped like bench.py's suffix corpus but sized
#: for a 4-core host: lowercase+space text, 5% of docs carry one planted
#: 120-char snippet (each snippet planted in >= 2 docs, so every planted copy
#: is a true duplicate), 2% are full copies of another doc
SUFFIX_DOCS = 3_000
SUFFIX_DOC_LEN = (300, 700)
SNIPPET_LEN = 120
N_SNIPPETS = 50
SNIPPET_DOC_SHARE = 0.05
COPY_DOC_SHARE = 0.02

#: cached seeds kept per workload; older ones are pruned so a long series of
#: seeds does not fill the checkout's disk
KEEP_SEEDS = 4


@dataclass
class Inputs:
    dir: str
    meta: dict

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)


def _write(df: pd.DataFrame, path: str, row_group_size: int) -> None:
    # small row groups: Spark splits a parquet scan only at row-group
    # boundaries, and one split per file would serialize the first stage
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path, row_group_size=row_group_size)


def _shingles(text: str, k: int = SHINGLE_K) -> set:
    toks = text.split()
    if len(toks) < k:
        return {tuple(toks)}
    return set(zip(*(toks[i:] for i in range(k))))


def _jaccard(a: str, b: str) -> float:
    """Exact word-k-shingle Jaccard of two assembled documents, computed
    without the program under test: the recall gate's ground truth."""
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _gen_transcripts(out: str, seed: int, scale: float) -> dict:
    from deduputil_spark.synth import synthesize

    res = synthesize(n_base_convs=max(int(TRANSCRIPT_BASE_CONVS * scale), 20), seed=seed)
    tr, truth = res.transcripts, res.truth_pairs
    conv_ids = np.array(sorted(tr["conv_id"].unique()))
    rng = np.random.default_rng(seed + 1)
    tail_ids = set(rng.choice(conv_ids, size=int(len(conv_ids) * APPEND_SHARE), replace=False).tolist())
    in_tail = tr["conv_id"].isin(tail_ids)
    _write(tr, os.path.join(out, "transcripts.parquet"), 2000)
    _write(tr[~in_tail], os.path.join(out, "transcripts_base.parquet"), 2000)
    _write(tr[in_tail], os.path.join(out, "transcripts_tail.parquet"), 2000)

    docs = {
        cid: "\n".join(g.sort_values("turn_idx")["text"]) for cid, g in tr.groupby("conv_id", sort=False)
    }
    truth = truth.assign(true_jaccard=[_jaccard(docs[a], docs[b]) for a, b in zip(truth["conv_a"], truth["conv_b"])])
    truth.to_parquet(os.path.join(out, "truth_pairs.parquet"), index=False)

    planted = truth[truth["kind"] != "collision_nonpair"]
    dup_convs = set(planted["conv_a"]) | set(planted["conv_b"])
    greeting = tr["text"].str.startswith("hello thanks for contacting support")
    return {
        "turns": int(len(tr)),
        "convs": int(len(conv_ids)),
        "chars": int(tr["text"].str.len().sum()),
        "text_utf8_bytes": int(tr["text"].map(lambda s: len(s.encode())).sum()),
        "base_turns": int((~in_tail).sum()),
        "tail_turns": int(in_tail.sum()),
        "planted_pairs": int(len(planted)),
        "gated_pairs": int((planted["true_jaccard"] >= JACCARD_GATE).sum()),
        "planted_dup_conv_share": round(len(dup_convs) / len(conv_ids), 4),
        "hot_bucket_conv_share": round(tr.loc[greeting, "conv_id"].nunique() / len(conv_ids), 4),
    }


def _gen_suffix_docs(out: str, seed: int, scale: float) -> dict:
    rng = np.random.default_rng(seed)
    n = max(int(SUFFIX_DOCS * scale), 200)
    lens = rng.integers(SUFFIX_DOC_LEN[0], SUFFIX_DOC_LEN[1] + 1, size=n)
    bounds = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=bounds[1:])
    alpha = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz      ", dtype=np.uint8)
    buf = alpha[rng.integers(0, alpha.size, size=int(bounds[-1]))]
    snippets = alpha[rng.integers(0, alpha.size, size=(N_SNIPPETS, SNIPPET_LEN))]

    # full-copy targets are disjoint from their sources and from snippet docs,
    # so every planted fact still holds after the copies are made
    order = rng.permutation(n)
    n_copy = int(n * COPY_DOC_SHARE)
    n_snip = int(n * SNIPPET_DOC_SHARE)
    copy_targets, snip_docs = order[:n_copy], order[n_copy : n_copy + n_snip]
    # snippet s goes to docs s, s+n_pool, ... of snip_docs: >= 2 docs each
    n_pool = min(N_SNIPPETS, n_snip // 2)
    planted = []
    for k, d in enumerate(snip_docs):
        s = k % n_pool
        off = int(rng.integers(0, lens[d] - SNIPPET_LEN))
        buf[bounds[d] + off : bounds[d] + off + SNIPPET_LEN] = snippets[s]
        planted.append((int(d), off, SNIPPET_LEN))
    texts = [buf[bounds[i] : bounds[i + 1]].tobytes().decode() for i in range(n)]
    pool = order[n_copy:]
    copies = []
    for t in copy_targets:
        src = int(pool[int(rng.integers(0, len(pool)))])
        texts[int(t)] = texts[src]
        copies.append((int(t), src))

    docs = pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})
    _write(docs, os.path.join(out, "documents.parquet"), 2000)
    pd.DataFrame(planted, columns=["doc_id", "off", "len"]).to_parquet(
        os.path.join(out, "planted_snippets.parquet"), index=False
    )
    pd.DataFrame(copies, columns=["doc_id", "src_id"]).to_parquet(
        os.path.join(out, "full_copies.parquet"), index=False
    )
    return {
        "docs": n,
        "chars": int(docs["text"].str.len().sum()),
        "snippet_doc_share": round(n_snip / n, 4),
        "full_copy_doc_share": round(n_copy / n, 4),
    }


_GENERATORS = {"transcripts": _gen_transcripts, "suffixdocs": _gen_suffix_docs}


def load_inputs(cache_root: str, family: str, seed: int, scale: float = 1.0) -> Inputs:
    """Generate (once per seed and scale) and return one input family's
    directory.  `scale` shrinks the inputs for the benchmark's self-test."""
    d = os.path.join(cache_root, f"{family}-x{scale:g}-s{seed}-v{INPUT_VERSION}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = _GENERATORS[family](tmp, seed, scale)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        _prune(cache_root, keep=d)
    with open(meta_path) as f:
        return Inputs(dir=d, meta=json.load(f))


def _prune(cache_root: str, keep: str) -> None:
    family = os.path.basename(keep).split("-s")[0]
    dirs = [
        os.path.join(cache_root, n)
        for n in os.listdir(cache_root)
        if n.startswith(family + "-s") and not n.endswith(".tmp")
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[KEEP_SEEDS:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
