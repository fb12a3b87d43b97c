"""Benchmark entry point.

    python3 perfbench/run.py --workload fused_html --seed 1 --seconds 22 --trace 0

Runs one workload on ``local[N]`` (N = usable CPUs, at most 8) in one
driver process with one Spark session, checks the output against an
independent reference, and prints as its last stdout line one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the ``end_to_end`` metrics named in
``BENCHMARK.json``; with ``--trace 1`` the ``per_layer`` ones.  The line
before it is a JSON record of the run's conditions (load average
before and after, the machine's CPU steal share, input generation time,
every job's wall time), which is also appended to
``perfbench/.work/runs.jsonl``.

Exit status: 0 when the output checked out, 1 when it did not, 2 when
the program is not importable next to the benchmark, 3 when another
benchmark session holds the lock."""

from __future__ import annotations

import argparse
import fcntl
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: set-ups per run; setup_s is their median
SETUP_REPS = 3
LOCK_WAIT_S = 90.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _lock(f, wait_s: float) -> bool:
    """Hold an exclusive lock on ``f``; two sessions would share the
    package zip and the work directory."""
    deadline = time.monotonic() + wait_s
    while True:
        try:
            fcntl.flock(f, fcntl.LOCK_EX | fcntl.LOCK_NB)
            return True
        except BlockingIOError:
            if time.monotonic() > deadline:
                return False
            time.sleep(0.5)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def end_to_end(m, setup_recs) -> dict:
    return {
        "setup_s": statistics.median(r["setup_s"] for r in setup_recs),
        "docs_per_s": m.docs_per_s,
        "cpu_s_per_kdoc": m.cpu_s_per_kdoc,
        "worker_rss_mb": m.worker_rss_mb,
    }


def run(args) -> int:
    from perfbench import layers, procstat, session, workloads
    from perfbench.tracing import Tracer

    spec = _spec()
    if args.workload not in workloads.NAMES:
        print(f"unknown workload {args.workload!r}; one of {workloads.NAMES}",
              file=sys.stderr)
        return 2
    session.prepare_env(WORK)
    cache = os.path.join(WORK, "inputs")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{time.time_ns()}"
    tracer = Tracer(run_id, bool(args.trace))
    record = {
        "run_id": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": session.cores(),
        "heap_mb": session.heap_mb(),
        "loadavg_before": procstat.loadavg(),
    }
    steal0, total0 = procstat.cpu_ticks()
    phases = record["phases_s"] = {}
    stream = args.workload == "stream_warc"
    t0 = time.perf_counter()
    with tracer.span("inputs"):
        if args.trace:
            layers.make_inputs(cache, args.seed)
        elif stream:
            entry = workloads.stream_inputs(cache, args.seed, args.seconds)
        else:
            wl = workloads.BATCH[args.workload](cache, args.seed)
    record["gen_s"] = phases["inputs"] = time.perf_counter() - t0

    sampler = procstat.Sampler(os.getpid()).start()
    try:
        t0 = time.perf_counter()
        spark, setup_recs = session.start(WORK, tracer, SETUP_REPS)
        phases["setup"] = time.perf_counter() - t0
        ctx = workloads.Ctx(
            spark, WORK, cache, args.seed, args.seconds, tracer, sampler
        )
        t0 = time.perf_counter()
        if args.trace:
            # the traced run: every layer probe, no end-to-end timing
            layer = layers.sweep(ctx, setup_recs)
        elif stream:
            m = workloads.run_stream(ctx, entry)
        else:
            m = workloads.run_batch(ctx, wl)
        phases["run"] = time.perf_counter() - t0
    finally:
        sampler.stop()
        t0 = time.perf_counter()
        session.shutdown()
        phases["shutdown"] = time.perf_counter() - t0
    record["loadavg_after"] = procstat.loadavg()
    steal1, total1 = procstat.cpu_ticks()
    record["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    record["setup"] = setup_recs

    if args.trace:
        failed_urls, why = layer.pop("_failed"), layer.pop("_why")
        attempted, failed = layer.pop("_attempted"), len(failed_urls)
        layer["bench.trace_overhead_s"] = tracer.overhead_s()
        # how each batch path's wall splits over its layers: the
        # declarative prefixes telescope into the path's wall; the fused
        # stage's executor time splits into in-process kernel time and
        # the Arrow/JVM boundary
        fused = layer.pop("_fused")
        fused["slot_fill"] = fused["executor_run_s"] / (
            session.cores() * fused["stage_s"]
        )
        record["accounting"] = {
            "fused_html": fused,
            "declarative_mixed": layer.pop("_declarative"),
        }
        record["self_s"] = tracer.self_times()
        record["per_layer"] = layer
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        tracer.write(os.path.join(WORK, "spans", f"{run_id}.jsonl"))
        values = layer
    else:
        attempted, failed, why = m.attempted, m.failed_docs, m.why
        values = end_to_end(m, setup_recs)
        record.update(lags=m.lags, docs=m.docs, end_to_end=values, **m.extra)
    record.update(
        attempted=attempted,
        failed=failed,
        failed_frac=failed / attempted,
        why=why[:20],
    )
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {
        d["name"]: {"value": float(values[d["name"]]), "unit": d["unit"]}
        for d in wanted
    }
    correct = failed == 0
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import page_segmentation_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "lock"), "w") as lock:
        if not _lock(lock, LOCK_WAIT_S):
            print("perfbench: another benchmark session holds the lock",
                  file=sys.stderr)
            return 3
        try:
            return run(args)
        except Exception:
            traceback.print_exc()
            return 1


if __name__ == "__main__":
    sys.exit(main())
