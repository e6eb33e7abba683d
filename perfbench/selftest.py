"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the repository root.  It checks that

- every run mode of every workload in BENCHMARK.json prints, as its last
  line, a correct result carrying exactly the metrics BENCHMARK.json names,
  each with its unit, and the traced run gives time and rows to every layer
  its workload exercises; and
- each correctness check passes on the program's real output and fails on
  a deliberately corrupted copy: a dropped turn, a merged collision pair, a
  split planted pair (recall below the floor) and an uncovered planted
  snippet.

Exit code 0 means every check held.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

SCALE = 0.05
SEED = 3


def check_result_lines(spec: dict) -> None:
    from perfbench.workloads import WORKLOADS

    expected = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for w in spec["workloads"]:
        for trace, want in expected.items():
            cmd = [sys.executable, *spec["command"][1:], "--workload", w["name"], "--seed", str(SEED),
                   "--seconds", "1", "--trace", str(trace), "--scale", str(SCALE)]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                raise SystemExit(f"{cmd} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
            res = json.loads(lines[-1])
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                raise SystemExit(f"{w['name']} trace={trace}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                raise SystemExit(f"{w['name']} trace={trace}: {res}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                raise SystemExit(f"{w['name']} trace={trace}: metrics {got} != BENCHMARK.json {want}")
            if trace:
                for layer in WORKLOADS[w["name"]].layers:
                    if not (res["metrics"][f"{layer}.self_s"]["value"] > 0
                            and res["metrics"][f"{layer}.rows_out"]["value"] > 0):
                        raise SystemExit(f"{w['name']}: exercised layer {layer} has no time or rows")
            print(f"ok  {w['name']} trace={trace}: {len(got)} metrics with their units", flush=True)


def expect_failure(name: str, check, out: dict, inp: dict) -> None:
    from perfbench.workloads import CheckFailed

    try:
        check(out, inp)
    except CheckFailed as e:
        print(f"ok  {name} is caught: {e}", flush=True)
        return
    raise SystemExit(f"{name} was NOT caught by the check")


def check_corruptions(root: str) -> None:
    import pandas as pd

    from perfbench.engine import clean_dir, start_session, stop_session
    from perfbench.inputs import JACCARD_GATE, load_inputs
    from perfbench.workloads import WORKLOADS, release

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"selftest-{os.getpid()}")
    clean_dir(work)
    spark = start_session(work, 1)
    try:
        outs = {}
        for wl in WORKLOADS.values():
            inp = {f: load_inputs(os.path.join(base, "inputs"), f, SEED, SCALE) for f in wl.families}
            out = wl.job(spark, wl.tables(spark, inp), work).collect()
            wl.check(out, inp)  # the real output passes
            outs[wl.name] = (wl.check, out, inp)
            release(spark)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    check, out, inp = outs["package_roundtrip"]
    expect_failure("a dropped turn", check, {"turns": out["turns"].iloc[1:]}, inp)
    turns = out["turns"].copy()
    turns.loc[turns.index[0], "text"] += " "
    expect_failure("a changed turn text", check, {"turns": turns}, inp)

    check, out, inp = outs["neardup_substring"]
    truth = pd.read_parquet(inp["transcripts"].path("truth_pairs.parquet"))
    clusters = out["clusters"]

    a, b = truth.loc[truth["kind"] == "collision_nonpair", ["conv_a", "conv_b"]].iloc[0]
    merged = clusters.copy()
    merged.loc[merged["conv_id"] == b, "cluster_id"] = merged.loc[merged["conv_id"] == a, "cluster_id"].iloc[0]
    expect_failure("a merged collision pair", check, {**out, "clusters": merged}, inp)

    gated = truth[(truth["kind"] != "collision_nonpair") & (truth["true_jaccard"] >= JACCARD_GATE)]
    split = clusters.copy()
    split["cluster_id"] = split["conv_id"]  # every planted pair torn apart
    expect_failure("planted pairs split apart (recall 0)", check, {**out, "clusters": split}, inp)
    # at this scale there are far fewer than 100 gated pairs, so a single
    # split pair takes recall below the 0.99 floor
    one = clusters.copy()
    one.loc[one["conv_id"] == gated["conv_b"].iloc[0], "cluster_id"] = "nowhere"
    expect_failure("one planted pair split", check, {**out, "clusters": one}, inp)

    planted = pd.read_parquet(inp["suffixdocs"].path("planted_snippets.parquet"))
    d, off, ln = planted.iloc[0]
    spans = out["spans"]
    covering = (spans["doc_id"] == d) & (spans["span_start"] <= off) & (spans["span_end"] >= off + ln)
    expect_failure("an uncovered planted snippet", check, {**out, "spans": spans[~covering]}, inp)


def main() -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "deduputil_spark", "__init__.py")):
        print("run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_corruptions(root)
    check_result_lines(spec)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
