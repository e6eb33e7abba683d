#!/usr/bin/env python
"""Benchmark harness.

Default: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

--scaling: runs the transcript pipeline at local[N] and local[4N] cores
(N = SPARK_GRAFT_SCALE_N, default 2 — the sandbox evidence for the north
rule's two-cluster-size criterion) in separate subprocesses and writes
BENCH/SCALING_<sf>_last.md; --scaling-suffix does the same for the
exact-substring rolling pass.

The transcript corpus is synthesized deterministically per scale factor and
cached under /tmp/deduputil_bench (synthesis time is excluded from timings).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_BASE_CONVS = {"sf0.001": 400, "sf0.01": 3800, "sf0.1": 38000, "sfbig": 152000}
CACHE_DIR = "/tmp/deduputil_bench"


#: shared session conf for every bench leg.  On a slow/contended sandbox
#: host a low-parallelism leg can stall the whole JVM (GC + compute) past
#: Spark's default 120 s heartbeat window, at which point HeartbeatReceiver
#: declares the in-process executor dead and tears the context down
#: mid-job (observed r5: "no recent heartbeats: 321934 ms exceeds timeout
#: 120000 ms" killed every 2-core suffix leg).  Benches measure dataflow,
#: not liveness-detection latency — give the heartbeat generous rope.  The
#: driver heap is `get_spark`'s default (`session.default_driver_mem`).
BENCH_CONF = {
    "spark.network.timeout": "800s",
    "spark.executor.heartbeatInterval": "30s",
}


def _sf_name(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


def ensure_corpus(sf_dir: str) -> tuple[str, int]:
    """Synthesize (once) the transcript corpus matched to this sf; return
    (parquet_path, n_turns)."""
    from deduputil_spark.synth import write_corpus

    name = _sf_name(sf_dir)
    n_base = SF_BASE_CONVS.get(name, 3800)
    out = os.path.join(CACHE_DIR, f"{name}_b{n_base}_seed42")
    marker = os.path.join(out, "transcripts.parquet")
    if not os.path.exists(marker):
        write_corpus(out, n_base_convs=n_base, seed=42)
    import pyarrow.parquet as pq

    n_turns = pq.read_metadata(marker).num_rows
    return marker, n_turns


def run_bench(sf_dir: str, cpus: int) -> dict:
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from deduputil_spark.config import DedupConfig
    from deduputil_spark.session import get_spark

    corpus_path, n_turns = ensure_corpus(sf_dir)
    spark = get_spark(
        "bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 16),
        extra_conf=BENCH_CONF,
    )
    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    t = spark.read.parquet(corpus_path)

    # headline: full near-dup pipeline (assemble→minhash→lsh→verify→cluster)
    # in production shape (run_pipeline_lean: no per-stage counts).  One full
    # warmup run first — cold-JVM JIT otherwise dominates (~2.5× noise).
    from deduputil_spark.plans.pipeline import run_pipeline_lean

    run_pipeline_lean(spark, t, DedupConfig()).clusters.count()
    spark.catalog.clearCache()
    # best-of-2 measured runs: host throughput on this VM drifts ±50% across
    # a session (same commit measured 35s and 53s twenty minutes apart), and
    # the minimum is the measurement least polluted by that noise
    best = None
    for _ in range(2):
        t0 = time.monotonic()
        res = run_pipeline_lean(spark, t, DedupConfig())
        n_clustered = res.clusters.count()
        elapsed = time.monotonic() - t0
        best = elapsed if best is None or elapsed < best else best
        from deduputil_spark.cache import release_caches

        release_caches()
        spark.catalog.clearCache()
    timings["pipeline_cluster"] = round(best, 3)
    extras["turns_per_sec"] = round(n_turns / timings["pipeline_cluster"], 1)
    extras["n_turns"] = n_turns
    extras["n_clustered_docs"] = n_clustered

    if not os.environ.get("SPARK_GRAFT_PIPELINE_ONLY"):
        # exact chunk dedup (CDC pandas-UDF path + block store)
        from deduputil_spark.operators.assemble import assemble_documents
        from deduputil_spark.operators.chunk import chunk_documents
        from deduputil_spark.operators.dedup import build_block_store

        # best-of-2, same discipline as pipeline_cluster: a single reading of
        # this slice swung 2x on this host (r3 driver bench vs interleaved A/B)
        best_cdc = None
        for _ in range(2):
            t0 = time.monotonic()
            docs = assemble_documents(t)
            blocks = build_block_store(chunk_documents(docs, DedupConfig()))
            n_blocks = blocks.count()
            el = time.monotonic() - t0
            best_cdc = el if best_cdc is None or el < best_cdc else best_cdc
            spark.catalog.clearCache()
        timings["cdc_exact_dedup"] = round(best_cdc, 3)
        extras["n_unique_blocks"] = n_blocks

        # driver-table queries at sf_dir
        for name in ["fsp_chunks", "minhash_bands", "verified_pairs", "ann_topk",
                     "simhash", "token_stats", "sessionize", "suffix_spans"]:
            q = em.queries()[name]
            t0 = time.monotonic()
            q(spark, sf_dir).count()
            timings[name] = round(time.monotonic() - t0, 3)

    spark.stop()
    # stage_* entries are a breakdown of pipeline_cluster — don't double-count
    total = round(sum(v for k, v in timings.items() if not k.startswith("stage_")), 3)
    return {
        "metric": "transcript_neardup_pipeline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_name(sf_dir).replace("sf", ""),
        "cpus": cpus,
        **extras,
    }


def run_bench_bestof(sf_dir: str, cpus: int) -> dict:
    """Official-artifact discipline (VERDICT r4 #1): the single-run driver
    bench has twice landed in a slow host window (this VM's throughput drifts
    ±50% across minutes) and misread as a regression.  Run the driver-shape
    suite N times in FRESH JVM subprocesses, bracketed by the Spark-free
    hardware probe, and report per-query minima — with every raw run and
    every probe reading embedded in the artifact so a dirty window is
    self-documenting."""
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    # wall budget: on the r5 slow host one driver-shape run can take 15-20
    # min; rather than risk the caller's (driver's) own timeout producing NO
    # artifact, stop adding legs once the budget is spent — the artifact then
    # says min-over-fewer-runs, which the embedded probes contextualize.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "2400"))
    ensure_corpus(sf_dir)  # synthesis happens once, outside any timed leg
    t_start = time.monotonic()
    probes = [hardware_probe(reps=2)]
    runs: list[dict] = []
    failures: list[str] = []
    for i in range(n_runs):
        if runs and i > 0 and time.monotonic() - t_start > budget_s:
            failures.append(
                f"run {i} skipped: bench budget {budget_s:.0f}s spent "
                f"({time.monotonic() - t_start:.0f}s elapsed)"
            )
            break
        env = dict(os.environ, SPARK_GRAFT_BENCH_ONCE="1",
                   SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS=str(cpus))
        res = _run_leg(env, f"bench local[{cpus}]", failures)
        if res is not None:
            runs.append(res)
        probes.append(hardware_probe(reps=2))
    if not runs:
        raise RuntimeError(f"all {n_runs} bench runs failed: {failures}")
    merged: dict[str, float] = {}
    for r in runs:
        for k, v in r["queries"].items():
            merged[k] = v if k not in merged or v < merged[k] else merged[k]
    total = round(sum(v for k, v in merged.items() if not k.startswith("stage_")), 3)
    base = runs[0]
    out = {
        "metric": base["metric"],
        "value": total,
        "unit": "sec",
        "queries": merged,
        "sf": base["sf"],
        "cpus": cpus,
        "n_turns": base["n_turns"],
        "turns_per_sec": round(base["n_turns"] / merged["pipeline_cluster"], 1),
        "n_clustered_docs": base["n_clustered_docs"],
        "discipline": f"per-query min over {len(runs)} fresh-JVM runs, "
                      "probe-bracketed (VERDICT r4 #1)",
        "run_totals": [r["value"] for r in runs],
        "run_queries": [r["queries"] for r in runs],
        "probes": [
            {"stream_eff": p["stream"]["per_vcpu_eff"],
             "alu_eff": p["alu"]["per_vcpu_eff"],
             "stream_wall8": p["stream"]["walls"][8],
             "alu_wall8": p["alu"]["walls"][8]}
            for p in probes
        ],
    }
    if "n_unique_blocks" in base:
        out["n_unique_blocks"] = base["n_unique_blocks"]
    if failures:
        out["failed_runs"] = failures
    return out


SUFFIX_DOCS = int(os.environ.get("SPARK_GRAFT_SUFFIX_DOCS", "240000"))  # ~120M chars:
# legs must be long enough that per-stage scheduling overhead (~3-5 s across
# the ~30 stages) stays under ~5% of the 4N-side wall — the first 30M-char
# cut gave 12 s 8-core legs where that overhead alone depressed the ratio.
SUFFIX_DOC_LEN = (300, 700)  # uniform char lengths
SUFFIX_L = 20


def ensure_suffix_corpus() -> tuple[str, int]:
    """Deterministic documents table for the suffix-pass scaling legs:
    lowercase+space text, 5% of docs carry one of 50 shared 120-char planted
    snippets (cross-doc substring dups), 2% are full-doc copies.  Cached;
    written with small row groups so the scan splits."""
    # _v2: full-doc copies resample the source while it equals the target
    # (ADVICE r4 — the planted 2% rate was slightly deflated by self-copies)
    out = os.path.join(CACHE_DIR, f"suffixdocs_{SUFFIX_DOCS}_seed42_v2")
    path = os.path.join(out, "documents.parquet")
    if not os.path.exists(path):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(42)
        lens = rng.integers(SUFFIX_DOC_LEN[0], SUFFIX_DOC_LEN[1] + 1, size=SUFFIX_DOCS)
        total = int(lens.sum())
        alpha = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz      ", dtype=np.uint8)
        buf = alpha[rng.integers(0, alpha.size, size=total)]
        bounds = np.zeros(SUFFIX_DOCS + 1, dtype=np.int64)
        np.cumsum(lens, out=bounds[1:])
        pool = [buf[s : s + 120].copy() for s in rng.integers(0, total - 120, size=50)]
        for i in rng.choice(SUFFIX_DOCS, size=SUFFIX_DOCS // 20, replace=False):
            snip = pool[int(rng.integers(0, 50))]
            off = int(rng.integers(0, lens[i] - 120))
            buf[bounds[i] + off : bounds[i] + off + 120] = snip
        texts = [buf[bounds[i] : bounds[i + 1]].tobytes().decode() for i in range(SUFFIX_DOCS)]
        for i in rng.choice(SUFFIX_DOCS, size=SUFFIX_DOCS // 50, replace=False):
            j = int(rng.integers(0, SUFFIX_DOCS))
            while j == int(i):
                j = int(rng.integers(0, SUFFIX_DOCS))
            texts[int(i)] = texts[j]
        os.makedirs(out, exist_ok=True)
        table = pa.table({"doc_id": pa.array(range(SUFFIX_DOCS), type=pa.int64()),
                          "text": pa.array(texts, type=pa.string())})
        pq.write_table(table, path, row_group_size=4000)
    # n_chars from the cached table (cheap single-column scan)
    import duckdb

    n_chars = duckdb.sql(f"select sum(length(text)) from read_parquet('{path}')").fetchone()[0]
    return path, int(n_chars)


def run_suffix_leg(cpus: int) -> dict:
    """One suffix-pass scaling leg: duplicated_spans (rolling, L=20) over the
    planted corpus, warm + best-of-2 in-JVM, chars/sec reported."""
    from deduputil_spark.operators.suffixarray import duplicated_spans
    from deduputil_spark.session import get_spark

    path, n_chars = ensure_suffix_corpus()
    spark = get_spark(
        "suffix-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus * 2, 16),
        extra_conf=BENCH_CONF,
    )
    docs = spark.read.parquet(path).repartition(spark.sparkContext.defaultParallelism)

    def once() -> tuple[float, int]:
        t0 = time.monotonic()
        n_spans = duplicated_spans(docs, SUFFIX_L, "rolling").count()
        return time.monotonic() - t0, n_spans

    once()  # warm (JIT + shuffle service)
    # SPARK_GRAFT_LEG_RUNS trims the in-JVM best-of-N on hosts where a 2-core
    # leg alone runs ~15 min (r5's VM is ~3x slower per core than r3/r4's):
    # warm + 1 measured still excludes cold-JIT noise, and the probe bracket
    # plus interleaving carry the window evidence.
    best, n_spans = None, 0
    for _ in range(int(os.environ.get("SPARK_GRAFT_LEG_RUNS", "2"))):
        el, n_spans = once()
        best = el if best is None or el < best else best
    spark.stop()
    return {
        "metric": "suffix_dup_spans",
        "value": round(best, 3),
        "unit": "sec",
        "cpus": cpus,
        "n_chars": n_chars,
        "n_spans": n_spans,
        "chars_per_sec": round(n_chars / best, 1),
    }


#: per-leg subprocess timeout.  3600 s ate a whole scaling session when the
#: host hit a ~4x-degraded window (r5): the first 2-core leg timed out and
#: the unhandled TimeoutExpired aborted every remaining pair.  Legs now get
#: longer rope and a lost leg skips ONLY its pair (recorded in the report).
LEG_TIMEOUT_S = int(os.environ.get("SPARK_GRAFT_LEG_TIMEOUT", "5400"))


def _run_leg(env: dict, what: str, failures: list[str]) -> dict | None:
    """One fresh-JVM bench leg.  Returns its JSON dict, or None (appending
    the reason to `failures`) on timeout / crash / missing output — a
    degraded host window must cost one pair, not the whole session."""
    try:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__)], env=env,
            capture_output=True, text=True, timeout=LEG_TIMEOUT_S,
        )
    except subprocess.TimeoutExpired:
        failures.append(f"{what}: timed out after {LEG_TIMEOUT_S}s")
        return None
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        failures.append(
            f"{what}: no JSON (exit {out.returncode}); stderr tail: "
            + out.stderr[-500:].replace("\n", " | ")
        )
        return None
    return json.loads(lines[-1])


def run_scaling_suffix() -> None:
    """Second-workload scaling evidence (north rule): the suffix-pass rolling
    path at local[2] vs local[8], interleaved pairs bracketed by the same
    Spark-free hardware probe as the pipeline legs."""
    lo = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
    hi = 4 * lo
    n_pairs = int(os.environ.get("SPARK_GRAFT_SCALE_PAIRS", "2"))
    probes = [hardware_probe(workers=(lo, hi))]
    runs: dict[int, list[dict]] = {lo: [], hi: []}
    leg_failures: list[str] = []
    pair_windows: list[int] = []
    root = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.join(root, "BENCH"), exist_ok=True)
    # _last: raw per-run output; BENCH/SCALING_suffix.md is the curated
    # rolling record across runs and must not be clobbered by a new run.
    md = os.path.join(root, "BENCH", "SCALING_suffix_last.md")

    def _summary() -> dict | None:
        """Everything derivable from the pairs completed SO FAR."""
        if not runs[lo]:
            return None
        pair_effs = [
            round((h["chars_per_sec"] / l["chars_per_sec"]) / 4.0, 3)
            for l, h in zip(runs[lo], runs[hi])
        ]
        pair_clean = [
            all(
                p[k]["per_vcpu_eff"] >= 0.9
                for p in (probes[w], probes[w + 1])
                for k in ("stream", "alu")
            )
            for w in pair_windows
        ]
        return {
            "pair_effs": pair_effs,
            "pair_clean": pair_clean,
            "best_lo": max(r["chars_per_sec"] for r in runs[lo]),
            "best_hi": max(r["chars_per_sec"] for r in runs[hi]),
        }

    def _emit_md(s: dict) -> None:
        """(Re)write the report from current state — called after EVERY pair
        so a session that dies mid-run (driver wall-clock, kill) still leaves
        the completed pairs' evidence on disk."""
        with open(md, "w") as f:
            f.write(f"""# Scaling evidence — suffix-pass rolling path ({runs[hi][0]["n_chars"]:,} chars, seed 42)

Second workload for the north rule's two-cluster-size criterion: the
exact-substring pass (`duplicated_spans`, rolling hash, L={SUFFIX_L}) on the
planted-dup documents corpus, local[{lo}] vs local[{hi}], {len(runs[lo])}
interleaved pairs, warm best-of-N in-JVM legs, Spark-free hardware probe
before/between/after.

| pair | local[{lo}] chars/s | local[{hi}] chars/s | raw eff | window clean? |
|---|---|---|---|---|
""")
            for i, (l, h) in enumerate(zip(runs[lo], runs[hi])):
                f.write(f"| {i} | {l['chars_per_sec']:,.0f} ({l['value']} s) "
                        f"| {h['chars_per_sec']:,.0f} ({h['value']} s) | {s['pair_effs'][i]} "
                        f"| {'yes' if s['pair_clean'][i] else 'no'} |\n")
            f.write(f"""
Best legs: {s['best_lo']:,.0f} @{lo}c · {s['best_hi']:,.0f} @{hi}c → best-legs efficiency
{round(s['best_hi'] / s['best_lo'] / 4, 3)}.  n_spans identical across every leg
({runs[hi][0]['n_spans']:,} — correctness pinned at both widths).
{chr(10).join("Failed leg (pair skipped): " + fl for fl in leg_failures)}

## Hardware probes

```json
{json.dumps(probes, indent=2)}
```

## Full leg outputs

```json
{json.dumps(runs, indent=2)}
```
""")

    for attempt in range(n_pairs):
        pair: dict[int, dict] = {}
        for cpus in (lo, hi):
            env = dict(os.environ, SPARK_GRAFT_SUFFIX_LEG=str(cpus))
            res = _run_leg(env, f"suffix local[{cpus}]", leg_failures)
            if res is None:
                break
            pair[cpus] = res
        if len(pair) == 2:
            runs[lo].append(pair[lo])
            runs[hi].append(pair[hi])
            pair_windows.append(attempt)
        probes.append(hardware_probe(workers=(lo, hi)))
        s = _summary()
        if s:
            _emit_md(s)
    s = _summary()
    if s is None:
        raise RuntimeError(f"every suffix scaling pair lost a leg: {leg_failures}")
    print(json.dumps({
        "suffix_scaling_pairs": s["pair_effs"],
        "pair_clean": s["pair_clean"],
        f"best{lo}": s["best_lo"],
        f"best{hi}": s["best_hi"],
        "best_legs_eff": round(s["best_hi"] / s["best_lo"] / 4, 3),
        "failed_legs": leg_failures,
        "report": md,
    }))


def _probe_task(kind: str, q) -> None:
    """Fixed per-worker work item for the Spark-free hardware probe."""
    import numpy as np

    if kind == "alu":
        x = np.arange(1 << 16, dtype=np.int64)
        t0 = time.monotonic()
        for _ in range(6000):  # L2-resident integer mixing
            np.multiply(x, 31, out=x)
            np.add(x, 7, out=x)
            np.bitwise_and(x, (1 << 62) - 1, out=x)
        q.put(time.monotonic() - t0)
    else:  # "stream": DRAM-bandwidth-bound passes over a 128 MB buffer
        a = np.ones(1 << 24, dtype=np.int64)
        b = np.ones_like(a)  # pre-faulted: page-fault churn is allocator
        np.add(a, b, out=b)  # noise, not memory bandwidth — warm both first
        t0 = time.monotonic()
        for _ in range(40):
            np.multiply(a, 3, out=b)
            np.add(b, 1, out=a)
        q.put(time.monotonic() - t0)


def _disk_probe(mb: int = 256) -> dict:
    """Sequential write+fsync bandwidth of /tmp — where Spark's shuffle files
    and localCheckpoint spill land (spark.local.dir).  Diagnostic-only: NOT
    part of the clean-window criterion (which stays ALU+STREAM so round-3/4
    pairs remain comparable), but recorded per-probe because checkpoint-heavy
    workloads (the suffix pass) can stall on a disk-slow window that the
    CPU/DRAM probes read as clean (r5 suffix pair 1: both legs 3x slow, ALU
    0.95+/stream 0.95+ — invisible to the old probe).  Read-back is skipped
    deliberately: as root the page cache would serve it, measuring memcpy."""
    import tempfile

    chunk = os.urandom(1 << 20)
    fd, p = tempfile.mkstemp(prefix="probe_disk_", dir="/tmp")
    try:
        t0 = time.monotonic()
        with os.fdopen(fd, "wb") as f:
            for _ in range(mb):
                f.write(chunk)
            f.flush()
            os.fsync(f.fileno())
        wall = time.monotonic() - t0
    finally:
        os.unlink(p)
    return {"write_mb": mb, "wall": round(wall, 3),
            "mb_per_sec": round(mb / wall, 1)}


def hardware_probe(workers=(2, 8), reps: int = 3) -> dict:
    """Per-vCPU throughput ceiling of THIS host at each worker count, measured
    with Spark completely out of the picture (multiprocessing + numpy): the
    same fixed work per worker, wall = slowest worker, min over `reps`.
    efficiency(kind) = wall@min(workers) / wall@max(workers) — 1.0 means a
    vCPU loses nothing when 4× more of them run; DRAM-streaming work on one
    box shares one memory system, so its ceiling is what a single-host 2→8
    proxy for N→4N *executors* (each with its own DRAM) must be read against."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    out: dict = {"workers": list(workers)}
    walls: dict = {kind: {w: None for w in workers} for kind in ("alu", "stream")}
    # reps interleave across worker counts AND kinds so the host's
    # minutes-scale throughput drift can't masquerade as a scaling effect;
    # wall = slowest WORKER-INTERNAL duration (spawn/import excluded)
    for _ in range(reps):
        for kind in ("alu", "stream"):
            for w in workers:
                q = ctx.Queue()
                procs = [ctx.Process(target=_probe_task, args=(kind, q)) for _ in range(w)]
                for pr in procs:
                    pr.start()
                durs = [q.get() for _ in procs]
                for pr in procs:
                    pr.join()
                wall = max(durs)
                if walls[kind][w] is None or wall < walls[kind][w]:
                    walls[kind][w] = wall
    lo, hi = min(workers), max(workers)
    for kind in ("alu", "stream"):
        ws = {w: round(v, 3) for w, v in walls[kind].items()}
        out[kind] = {"walls": ws, "per_vcpu_eff": round(min(ws[lo] / ws[hi], 1.0), 3)}
    out["cpu_mhz"] = _cpu_mhz_range()
    out["disk"] = min((_disk_probe() for _ in range(2)),
                      key=lambda d: d["wall"])
    return out


def _cpu_mhz_range() -> list[float] | None:
    """[min, max] of /proc/cpuinfo 'cpu MHz' across cores, or None.  On this
    sandbox the hypervisor reports a static nominal clock (2100.0 on every
    core, under any load), so per-core boost-clock telemetry is unavailable —
    recorded per-probe as evidence that a pinned-frequency measurement of the
    2-worker boost artifact is impossible here and probe-adjacent ALU
    normalization is the only available instrument (VERDICT r3 #4)."""
    try:
        with open("/proc/cpuinfo") as f:
            vals = [float(l.split(":")[1]) for l in f if l.startswith("cpu MHz")]
        return [min(vals), max(vals)] if vals else None
    except (OSError, ValueError, IndexError):
        return None


def run_scaling(sf_dir: str) -> None:
    """North-rule scaling evidence: the SAME pipeline at local[N] and
    local[4N] cores (sandbox proxy for N vs 4N executors), measured as
    INTERLEAVED pairs with the hardware probe run in the SAME session, so the
    raw efficiency and the host's own per-vCPU ceiling are directly
    comparable (this host's throughput drifts ±50% across a session — an
    un-interleaved pair mostly measures that drift)."""
    lo = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
    hi = 4 * lo
    n_pairs = int(os.environ.get("SPARK_GRAFT_SCALE_PAIRS", "2"))

    probes = [hardware_probe(workers=(lo, hi))]
    runs: dict[int, list[dict]] = {lo: [], hi: []}
    leg_failures: list[str] = []
    pair_windows: list[int] = []  # probe-window index of each SUCCESSFUL pair
    for attempt in range(n_pairs):
        pair: dict[int, dict] = {}
        for cpus in (lo, hi):
            env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS=str(cpus),
                       SPARK_GRAFT_PIPELINE_ONLY="1", SPARK_GRAFT_BENCH_ONCE="1")
            res = _run_leg(env, f"pipeline local[{cpus}]", leg_failures)
            if res is None:
                break  # skip the pair; the host window ate a leg
            pair[cpus] = res
        if len(pair) == 2:
            runs[lo].append(pair[lo])
            runs[hi].append(pair[hi])
            pair_windows.append(attempt)
        probes.append(hardware_probe(workers=(lo, hi)))
    n_pairs = len(runs[lo])
    if not n_pairs:
        raise RuntimeError(f"every scaling pair lost a leg: {leg_failures}")

    thr_lo = max(r["turns_per_sec"] for r in runs[lo])
    thr_hi = max(r["turns_per_sec"] for r in runs[hi])
    eff_best = (thr_hi / thr_lo) / 4.0
    pair_effs = [
        round((h["turns_per_sec"] / l["turns_per_sec"]) / 4.0, 3)
        for l, h in zip(runs[lo], runs[hi])
    ]
    # clean-window scoring (VERDICT r3 #4): successful pair i ran between
    # probes[w] and probes[w+1] (w = pair_windows[i] — attempts whose pair
    # lost a leg still appended a probe); score it only if BOTH bracketing
    # probes saw the host's per-vCPU ceiling >= 0.9 for BOTH kinds —
    # streaming (DRAM contention) AND ALU (the 2-worker boost-clock headroom:
    # an ALU ceiling of 0.6 means the host itself runs each of 8 workers at
    # 60% of a 2-worker clock, so a CPU-bound pair in that window CANNOT
    # read 0.8 no matter the code).  Pairs measured in a disturbed window
    # mostly measure the disturbance.
    def _win_ok(i: int) -> bool:
        w = pair_windows[i]
        return all(
            p[k]["per_vcpu_eff"] >= 0.9
            for p in (probes[w], probes[w + 1])
            for k in ("stream", "alu")
        )

    pair_clean = [_win_ok(i) for i in range(n_pairs)]
    clean_effs = [e for e, c in zip(pair_effs, pair_clean) if c]
    # boost-normalized estimator: each pair against ITS OWN window's ALU
    # ceiling (probe-adjacent normalization — the only comparison that means
    # anything on a host whose per-core clock depends on how many run)
    pair_alu_ceil = [
        min(probes[w]["alu"]["per_vcpu_eff"], probes[w + 1]["alu"]["per_vcpu_eff"])
        for w in pair_windows
    ]
    pair_norm = [
        round(e / c, 3) if c else None for e, c in zip(pair_effs, pair_alu_ceil)
    ]
    stream_ceil = min(p["stream"]["per_vcpu_eff"] for p in probes)
    alu_ceil = min(p["alu"]["per_vcpu_eff"] for p in probes)
    # normalized = raw efficiency against what this box's memory system allows
    # a perfectly-parallel DRAM-streaming job (the pipeline's wide stages
    # stream the full corpus text); N→4N executors each bring their own DRAM,
    # so the cross-node expectation is the raw number divided by this ceiling
    norm_stream = round(eff_best / stream_ceil, 3) if stream_ceil else None
    norm_alu = round(eff_best / alu_ceil, 3) if alu_ceil else None

    root = os.path.dirname(os.path.abspath(__file__))
    os.makedirs(os.path.join(root, "BENCH"), exist_ok=True)
    # _last: raw per-run output; the curated rolling record (e.g.
    # BENCH/SCALING_sfbig.md) is maintained by hand across runs.
    md = os.path.join(root, "BENCH", f"SCALING_{_sf_name(sf_dir)}_last.md")
    with open(md, "w") as f:
        f.write(f"""# Scaling evidence — {_sf_name(sf_dir)} ({runs[hi][0]["n_turns"]} turns, seed 42)

Same job (`run_pipeline_lean`, warm, best-of-2 in-JVM runs per leg) at
local[{lo}] (N) and local[{hi}] (4N), {n_pairs} interleaved pairs, hardware
probe run in the SAME session before/between/after the legs.

## Headline

| metric | value |
|---|---|
| clean-window pair efficiencies (bracketing probes >= 0.9 stream AND alu) | **{", ".join(map(str, clean_effs)) or "none this session"}** |
| raw efficiency (best legs) | **{eff_best:.3f}** |
| raw efficiency per interleaved pair | {", ".join(map(str, pair_effs))} |
| per-pair ALU-ceiling-normalized (pair / own window's ALU probe) | {", ".join(map(str, pair_norm))} |
| pair window clean? | {", ".join("yes" if c else "no" for c in pair_clean)} |
| host per-vCPU ceiling @{hi} workers (DRAM-streaming / ALU) | {stream_ceil} / {alu_ceil} |
| normalized vs streaming ceiling | **{norm_stream}** |
| normalized vs ALU ceiling | {norm_alu} |

Raw = (thr@{hi}/thr@{lo})/4 = ({thr_hi}/{thr_lo})/4.  The probe is
Spark-free numpy multiprocessing (fixed per-worker work, min-of-3): on ONE
box all {hi} workers share one memory system, so the streaming ceiling is the
upper bound ANY perfectly-parallel text-streaming job can reach here; on the
north rule's actual N→4N *executor* scale-out every node brings its own DRAM
and the cross-node traffic is O(docs) (signatures/bands/pairs), not O(text).

## Legs (turns/sec)

| pair | local[{lo}] | local[{hi}] | eff |
|---|---|---|---|
""")
        for i, (l, h) in enumerate(zip(runs[lo], runs[hi])):
            f.write(f"| {i} | {l['turns_per_sec']} ({l['queries']['pipeline_cluster']} s) "
                    f"| {h['turns_per_sec']} ({h['queries']['pipeline_cluster']} s) | {pair_effs[i]} |\n")
        if leg_failures:
            f.write("\n## Failed legs (pair skipped, probe window kept)\n\n")
            for fl in leg_failures:
                f.write(f"- {fl}\n")
        f.write("\n## Hardware probes (walls in s; per-vCPU eff = wall@N / wall@4N)\n\n```json\n")
        f.write(json.dumps(probes, indent=2))
        f.write("\n```\n\n## Full leg outputs\n\n```json\n")
        f.write(json.dumps(runs, indent=2))
        f.write("\n```\n")
    print(json.dumps({
        "scaling_efficiency": round(eff_best, 3),
        "pair_efficiencies": pair_effs,
        "clean_pair_efficiencies": clean_effs,
        "pair_alu_normalized": pair_norm,
        f"thr{lo}": thr_lo,
        f"thr{hi}": thr_hi,
        "stream_ceiling": stream_ceil,
        "alu_ceiling": alu_ceil,
        "normalized_vs_stream": norm_stream,
        "failed_legs": leg_failures,
        "report": md,
    }))


if __name__ == "__main__":
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if os.environ.get("SPARK_GRAFT_SUFFIX_LEG"):
        print(json.dumps(run_suffix_leg(int(os.environ["SPARK_GRAFT_SUFFIX_LEG"]))))
    elif "--scaling-suffix" in sys.argv:
        run_scaling_suffix()
    elif "--scaling" in sys.argv:
        run_scaling(sf_dir)
    elif os.environ.get("SPARK_GRAFT_BENCH_ONCE"):
        # one leg of the best-of-N artifact: a single fresh-JVM suite run
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        print(json.dumps(run_bench(sf_dir, cpus)))
    else:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        print(json.dumps(run_bench_bestof(sf_dir, cpus)))
