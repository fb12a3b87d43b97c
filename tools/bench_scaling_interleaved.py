"""Interleaved two-parallelism scaling measurement.

The serial harness (tools/bench_scaling.py) measures all N-level runs,
then all 4N-level runs.  On this shared VM the baseline machine speed
drifts ~25% between measurement windows minutes apart, and that drift
lands entirely on one side of the ratio — two consecutive serial
invocations of the same 300k-page pair measured efficiency 0.565 and
0.653 with identical code and input.

This harness cancels window drift by keeping BOTH level JVMs alive and
alternating measured runs: N, 4N, N, 4N, ...  Runs are strictly serial
(the parent waits for each run to finish before starting the next; the
idle JVM just holds its heap), so the two levels sample the same noise
windows and each adjacent (N, 4N) pair yields one efficiency sample.
Reported: per-level medians plus the per-adjacent-pair efficiency
samples and their median.

Usage: python tools/bench_scaling_interleaved.py [sf_dir] [N] [4N] [pages] [job] [rounds]
``job``: "extract" (default, full pipeline), "fused" (the
zero-shuffle single-stage plan), "parse" (the Python
mapInArrow stage alone) — comparing the two attributes multi-core
contention between the CPython parse kernel and the JVM agg stages —
or "corpus" (the full fused corpus-construction funnel:
extract -> C4 -> Gopher -> langid/fingerprint -> exact dedup).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_DRIVER_MEM", "48g")
from page_segmentation_spark.session import get_spark
from page_segmentation_spark.plans.extract import extract
from page_segmentation_spark.plans.extract_fused import extract_fused
from page_segmentation_spark.sources.parse import parse_pages

cpus = int(sys.argv[1]); corpus = sys.argv[2]
job = sys.argv[3] if len(sys.argv) > 3 else "extract"
spark = get_spark(app=f"scaling-i{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=4 * cpus)
spark.sparkContext.setLogLevel("ERROR")
pages = spark.read.parquet(corpus)
n = pages.count()
# parse = the Python (mapInArrow) stage alone, no shuffle/agg after it —
# used to attribute multi-core contention between the CPython parse
# kernel and the JVM window/agg stages
from page_segmentation_spark.plans.training_corpus import build_training_corpus
JOBS = {{
    "extract": lambda: extract(pages),
    "fused": lambda: extract_fused(pages),
    "parse": lambda: parse_pages(pages),
    "corpus": lambda: build_training_corpus(pages),
}}
build = JOBS[job]
print(f"READY {{n}}", flush=True)
for line in sys.stdin:
    cmd = line.strip()
    if cmd == "RUN":
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        print(f"T {{round(time.perf_counter() - t0, 3)}}", flush=True)
    elif cmd == "EXIT":
        break
spark.stop()
"""


class Level:
    def __init__(self, cpus: int, corpus: str, job: str = "extract"):
        self.cpus = cpus
        script = _CHILD.format(repo=REPO)
        self.proc = subprocess.Popen(
            [sys.executable, "-u", "-c", script, str(cpus), corpus, job],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.n_pages = int(self._await_prefix("READY").split()[1])

    def _await_prefix(self, prefix: str) -> str:
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"level {self.cpus} died")
            if line.startswith(prefix):
                return line.strip()

    def run_once(self) -> float:
        self.proc.stdin.write("RUN\n")
        self.proc.stdin.flush()
        return float(self._await_prefix("T").split()[1])

    def close(self) -> None:
        try:
            self.proc.stdin.write("EXIT\n")
            self.proc.stdin.flush()
            self.proc.wait(timeout=60)
        except Exception:
            self.proc.kill()


def median(xs):
    return sorted(xs)[len(xs) // 2]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_level = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n4_level = int(sys.argv[3]) if len(sys.argv) > 3 else 4 * n_level
    pages_override = int(sys.argv[4]) if len(sys.argv) > 4 else None
    job = sys.argv[5] if len(sys.argv) > 5 else "extract"
    rounds = int(sys.argv[6]) if len(sys.argv) > 6 else 3
    sys.path.insert(0, REPO)
    from bench import PAGES_PER_SF, corpus_path, sf_of
    from page_segmentation_spark.session import get_spark

    sf = sf_of(sf_dir)
    n_pages = pages_override or 4 * max(1000, int(PAGES_PER_SF * sf))
    spark = get_spark(app="scaling-gen", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = corpus_path(spark, n_pages)
    spark.stop()

    lo = Level(n_level, corpus, job)
    hi = Level(n4_level, corpus, job)
    # JIT warm-up: 3 runs each, alternating (runs strictly serial)
    for _ in range(3):
        lo.run_once()
        hi.run_once()
    lo_runs, hi_runs, eff_samples = [], [], []
    ratio = n4_level / n_level
    for _ in range(rounds):
        t_lo = lo.run_once()
        t_hi = hi.run_once()
        lo_runs.append(t_lo)
        hi_runs.append(t_hi)
        eff_samples.append(round((t_lo / t_hi) / ratio, 3))
    lo.close()
    hi.close()

    med_lo, med_hi = median(lo_runs), median(hi_runs)
    out = {
        "protocol": "interleaved", "job": job,
        "n": {"cpus": n_level, "sec": med_lo, "runs": lo_runs,
              "docs_per_sec": round(n_pages / med_lo, 1)},
        "4n": {"cpus": n4_level, "sec": med_hi, "runs": hi_runs,
               "docs_per_sec": round(n_pages / med_hi, 1)},
        "n_pages": n_pages,
        "speedup": round(med_lo / med_hi, 3),
        "scaling_efficiency": round((med_lo / med_hi) / ratio, 3),
        "per_window_efficiency": eff_samples,
        "per_window_efficiency_median": median(eff_samples),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
