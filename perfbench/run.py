"""deduputil_spark benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload neardup_substring --seed 1 --seconds 1 --trace 0

Run from the repository root.  Inputs are generated from the seed before any
timing and cached under `.perfbench/inputs/`.  With `--trace 0` the run sets
up the Spark session in a fresh JVM, then repeats the workload's job for
`--seconds` seconds (at least once; the first job is the JVM's cold one),
checks the last job's outputs, and prints the end-to-end metrics.  With
`--trace 1` it warms up, runs the traced layer-by-layer composition once and
prints the per-layer metrics.  perfbench/README.md has the design.

The last stdout line is the result, a JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`; the line before it stamps the host, the
Spark version, the seed and the workload-specific figures.  Any failed
operation or correctness check makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
import uuid

#: the run's deadline: past it, running Spark jobs are cancelled (and count
#: as failed); at HARD_DEADLINE_S the process kills its tree and exits
DEADLINE_S = 150
HARD_DEADLINE_S = 170

E2E_UNITS = {"job_s": "s", "peak_rss_mb": "MB", "setup_s": "s"}


def _median(xs):
    return statistics.median(xs) if xs else None


class Watchdog(threading.Thread):
    def __init__(self, t0: float):
        super().__init__(daemon=True)
        self.t0, self.spark = t0, None
        self.done = threading.Event()

    def run(self) -> None:
        if self.done.wait(max(0.0, self.t0 + DEADLINE_S - time.monotonic())):
            return
        print(f"perfbench: deadline of {DEADLINE_S} s passed, cancelling jobs", file=sys.stderr)
        if self.spark is not None:
            try:
                self.spark.sparkContext.cancelAllJobs()
            except Exception:
                traceback.print_exc()
        if self.done.wait(max(0.0, self.t0 + HARD_DEADLINE_S - time.monotonic())):
            return
        from perfbench.procs import descendants

        print("perfbench: hard deadline passed, killing the process tree", file=sys.stderr)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}), flush=True)
        os._exit(1)


def _probe() -> float:
    """Median time of a fixed single-thread Python loop: a reading of how
    fast the host is, not of the program."""
    def once() -> float:
        t = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x += i * i % 7
        return time.perf_counter() - t
    return statistics.median(once() for _ in range(5))


def stamps(workload: str, seed: int) -> dict:
    import pyspark

    from perfbench.engine import cores, driver_heap_gib, mem_available_bytes

    return {
        "workload": workload,
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_available_mb": mem_available_bytes() >> 20,
        "spark_version": pyspark.__version__,
        "master": f"local[{cores()}]",
        "driver_heap_gib": driver_heap_gib(),  # read once: the session uses this stamp
    }


def run_untraced(wl, inp, work: str, seconds: int, watchdog: Watchdog, info: dict) -> dict:
    from perfbench.engine import start_session, stop_session
    from perfbench.procs import PeakRss, children_cpu_s
    from perfbench.workloads import CheckFailed, release

    attempted = failed = 0
    correct = True
    t0 = time.monotonic()
    spark = start_session(work, info["driver_heap_gib"])
    watchdog.spark = spark
    tables = wl.tables(spark, inp)
    setup_s = time.monotonic() - t0

    jobs = []
    with PeakRss() as rss:
        t_end = time.monotonic() + seconds
        while not jobs or time.monotonic() < t_end:
            release(spark)  # the previous job's persists never serve this one
            attempted += 1
            cpu0 = children_cpu_s(os.getpid())
            try:
                jobs.append(wl.job(spark, tables, work))
                info.setdefault("jobs_cpu_s", []).append(children_cpu_s(os.getpid()) - cpu0)
            except Exception:
                traceback.print_exc()
                failed += 1
                break
    if jobs and not failed:
        attempted += 1
        try:
            info.update(wl.check(jobs[-1].collect(), inp))
        except CheckFailed as e:
            print(f"perfbench: CORRECTNESS CHECK FAILED: {e}", file=sys.stderr)
            failed += 1
            correct = False
        except Exception:
            traceback.print_exc()
            failed += 1
    try:
        release(spark)
        stop_session(spark)
    except Exception:
        traceback.print_exc()
    info["probe_s"] = _probe()

    job_s = _median([j.wall_s for j in jobs])
    info["jobs_s"] = [j.wall_s for j in jobs]
    for phase in jobs[0].phases if jobs else ():
        info[phase] = _median([j.phases[phase] for j in jobs])
    transcripts = inp["transcripts"].meta
    if job_s:
        info["chars_per_s"] = sum(i.meta["chars"] for i in inp.values()) / job_s
        # the transcript part of the job: all of it, or its near-dup phase
        info["turns_per_s"] = transcripts["turns"] / info.get("neardup_s", job_s)
    if jobs and "stored_bytes" in jobs[-1].extra:
        info["stored_bytes_ratio"] = jobs[-1].extra["stored_bytes"] / transcripts["text_utf8_bytes"]
    values = {"job_s": job_s, "peak_rss_mb": rss.peak / 2**20, "setup_s": setup_s}
    return {
        "correct": correct and not failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items() if v is not None},
    }


def run_traced(wl, inp, work: str, watchdog: Watchdog, info: dict) -> dict:
    from perfbench.engine import cores, start_session, stop_session
    from perfbench.tracing import Tracer, layer_metrics, per_layer_units
    from perfbench.workloads import CheckFailed, release, sink, warm_up

    attempted = failed = 0
    log_dir = os.path.join(work, "eventlog")
    spark = start_session(work, info["driver_heap_gib"], event_log_dir=log_dir)
    watchdog.spark = spark
    tables = wl.tables(spark, inp)
    warm_up(spark, wl, tables, work)

    tracer = Tracer(spark, uuid.uuid4().hex[:8], sink)
    try:
        attempted += 1
        untraced_s = wl.job(spark, tables, work).wall_s  # the overhead baseline
        release(spark)
        attempted += 1
        with tracer.span("job"):
            traced = wl.traced(tracer, spark, tables, work)
        release(spark)
        attempted += 1
        production = wl.production(spark, tables, work)
        release(spark)
        if traced != production:
            raise CheckFailed(f"traced composition drifted from production: {traced} != {production}")
        info["crosscheck"] = traced
    except CheckFailed as e:
        print(f"perfbench: CORRECTNESS CHECK FAILED: {e}", file=sys.stderr)
        failed += 1
    except Exception:
        traceback.print_exc()
        failed += 1
    stop_session(spark)  # flushes and closes the event log
    if failed:
        return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}

    values, recon = layer_metrics(tracer, log_dir, cores())
    root = tracer.spans[0]
    values["tracing_overhead_s"] = (root["end"] - root["start"]) - untraced_s
    info["reconcile"] = recon
    info["untraced_job_s"] = untraced_s
    trace_dir = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(trace_dir, exist_ok=True)
    tracer.dump(os.path.join(trace_dir, f"{wl.name}-s{info['seed']}-{tracer.run_id}.json"))
    units = per_layer_units()
    return {
        "correct": True,
        "attempted": attempted,
        "failed": 0,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    from_root = os.getcwd()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (the self-test shrinks it)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(from_root, "deduputil_spark", "__init__.py")):
        print(f"perfbench: no deduputil_spark package in {from_root}; run from the repository root",
              file=sys.stderr)
        return 2
    # the program under test is the checkout's own source, in this process
    # and in the Python workers Spark starts
    sys.path.insert(0, from_root)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (from_root, os.environ.get("PYTHONPATH")) if p)

    from perfbench.engine import clean_dir
    from perfbench.inputs import load_inputs
    from perfbench.procs import reap_children
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    base = os.path.join(from_root, ".perfbench")
    inp = {f: load_inputs(os.path.join(base, "inputs"), f, args.seed, args.scale) for f in wl.families}
    work = os.path.join(base, f"run-{os.getpid()}")
    clean_dir(work)

    t0 = time.monotonic()
    watchdog = Watchdog(t0)
    watchdog.start()
    info = stamps(wl.name, args.seed)
    info["input"] = {f: i.meta for f, i in inp.items()}
    try:
        if args.trace:
            result = run_traced(wl, inp, work, watchdog, info)
        else:
            result = run_untraced(wl, inp, work, args.seconds, watchdog, info)
    except Exception:  # a crashed set-up or session is a failed operation
        traceback.print_exc()
        result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    finally:
        watchdog.done.set()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    info["ops_failed_share"] = result["failed"] / result["attempted"]
    info["run_s"] = round(time.monotonic() - t0, 2)
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] and not result["failed"] else 1


if __name__ == "__main__":
    sys.exit(main())
