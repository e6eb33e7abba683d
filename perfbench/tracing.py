"""Spans around the benchmark's calls into each layer, and their stage
metrics from Spark's plain JSON event log.

A span records name, layer, start, end, parent and run id.  Every Spark job
launched inside a span carries the span's job group, which is how the event
log's stages and tasks are attributed back to it.  Spans live in memory and
are written out once, at the end of the traced run.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame

from perfbench.procs import children_cpu_s

LAYERS = (
    "assemble", "minhash", "lsh", "verify", "cluster",
    "chunk", "dedup", "package", "reconstruct", "suffixarray",
)
#: reported for every layer; a layer its workload does not exercise reads 0
COMMON = (
    ("self_s", "s"),
    ("rows_out", "count"),
    ("task_cpu_s", "s"),
    ("slot_idle_frac", "ratio"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("tasks_failed", "count"),
)
SPECIFIC = (
    ("minhash.python_rows", "count"),
    ("chunk.python_rows", "count"),
    ("lsh.candidates", "count"),
    ("lsh.max_task_skew", "ratio"),
    ("verify.pass_ratio", "ratio"),
    ("cluster.edges_in", "count"),
    ("cluster.jobs", "count"),
    ("dedup.unique_block_ratio", "ratio"),
    ("package.bytes_written", "B"),
    ("tracing_overhead_s", "s"),
)


BOOKKEEPING = "bookkeeping"


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in COMMON}
    units.update(dict(SPECIFIC))
    return units


class Tracer:
    def __init__(self, spark, run_id: str, sink):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.sink = sink
        self.spans: list[dict] = []
        self.extra: dict[str, float] = defaultdict(float)
        self._stack: list[dict] = []
        self._rows: dict[int, int] = {}

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        rec = {
            "id": len(self.spans), "name": name, "layer": layer, "run_id": self.run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "group": f"{self.run_id}.{len(self.spans)}", "rows": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        cpu0 = children_cpu_s(os.getpid())
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            rec["cpu_s"] = children_cpu_s(os.getpid()) - cpu0
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def step(self, layer: str, call, rows=None):
        """Time one call into `layer` plus the materialization of what it
        returns.  The row count of its output (or `rows()`, for a call that
        writes instead of returning a frame) is taken afterwards, outside
        the span."""
        with self.span(layer, layer) as rec:
            out = call()
            if isinstance(out, DataFrame):
                self.sink(out)
        if isinstance(out, DataFrame):
            rec["rows"] = self.rows(out)
        elif rows is not None:
            rec["rows"] = self.bookkeeping(rows)
        return out

    def bookkeeping(self, call):
        """Run a benchmark-side action (a count, a checksum) in a span of no
        layer, so it is kept out of every layer's self time."""
        with self.span(BOOKKEEPING):
            return call()

    def rows(self, df: DataFrame) -> int:
        """Row count of `df`, taken once."""
        if id(df) not in self._rows:
            self._rows[id(df)] = self.bookkeeping(df.count)
        return self._rows[id(df)]

    def add(self, layer: str, metric: str, value: float) -> None:
        self.extra[f"{layer}.{metric}"] += value

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, "extra": dict(self.extra)}, f, indent=1)


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """-> (jobs per job group, task records per job group) from the single
    uncompressed, non-rolling event log in `log_dir`."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    stage_group: dict[int, str | None] = {}
    jobs: dict[str | None, int] = defaultdict(int)
    tasks: dict[str | None, list[dict]] = defaultdict(list)
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[group] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks[stage_group.get(ev["Stage ID"])].append({
                    "stage": ev["Stage ID"],
                    "run_ms": m.get("Executor Run Time", 0),
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                    "failed": bool(info.get("Failed")) or ev["Task End Reason"]["Reason"] != "Success",
                })
    return jobs, tasks


def layer_metrics(tracer: Tracer, log_dir: str, cores: int) -> tuple[dict[str, float], dict]:
    """Per-layer metrics of one traced run, plus its reconciliation: the
    layers' self times, the bookkeeping counts and the time no span below
    the root covers, against the root span's wall time."""
    jobs, tasks = read_event_log(log_dir)
    spans = tracer.spans
    child_s: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    out = {name: 0.0 for name in per_layer_units()}
    wall: dict[str, float] = defaultdict(float)
    stage_tasks: dict[str, dict[int, list[dict]]] = defaultdict(lambda: defaultdict(list))
    for s in spans:
        layer = s["layer"]
        if layer is None:
            continue
        out[f"{layer}.self_s"] += (s["end"] - s["start"]) - child_s[s["id"]]
        out[f"{layer}.rows_out"] += s["rows"] or 0
        out[f"{layer}.task_cpu_s"] += s["cpu_s"]
        wall[layer] += s["end"] - s["start"]
        for t in tasks.get(s["group"], ()):
            out[f"{layer}.shuffle_write_bytes"] += t["shuffle_write"]
            out[f"{layer}.spill_bytes"] += t["spill"]
            out[f"{layer}.tasks_failed"] += t["failed"]
            stage_tasks[layer][t["stage"]].append(t)
        if layer == "cluster":
            out["cluster.jobs"] += jobs.get(s["group"], 0)
    for layer, w in wall.items():
        run_s = sum(t["run_ms"] for st in stage_tasks[layer].values() for t in st) / 1000
        out[f"{layer}.slot_idle_frac"] = 1 - run_s / (w * cores)
    if stage_tasks["lsh"]:
        # the self-join stage: the lsh stage with the most task time
        heaviest = max(stage_tasks["lsh"].values(), key=lambda ts: sum(t["run_ms"] for t in ts))
        runs = [t["run_ms"] for t in heaviest]
        out["lsh.max_task_skew"] = max(runs) / max(statistics.median(runs), 1)
    for k, v in tracer.extra.items():
        out[k] += v
    if out["lsh.candidates"]:
        out["verify.pass_ratio"] = out["verify.rows_out"] / out["lsh.candidates"]

    root = spans[0]
    root_wall = root["end"] - root["start"]
    layers_s = sum(out[f"{layer}.self_s"] for layer in LAYERS)
    counts_s = sum(s["end"] - s["start"] for s in spans if s["name"] == BOOKKEEPING)
    recon = {
        "traced_wall_s": round(root_wall, 4),
        "layers_self_s": round(layers_s, 4),
        "bookkeeping_s": round(counts_s, 4),
        "unattributed_s": round(root_wall - layers_s - counts_s, 4),
        "unattributed_jobs": jobs.get(root["group"], 0),
    }
    return out, recon
