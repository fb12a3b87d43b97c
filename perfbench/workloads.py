"""The four workloads: three closed-loop batch jobs (one job in flight)
and one open-loop stream.

Every workload runs a fixed warm-up that is excluded from timing, then
measures for ``--seconds`` seconds, then checks its output."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from perfbench import checks, inputs, procstat

#: documents per job of each batch workload
FUSED_DOCS = 2000
MIXED_DOCS = 1200
WET_DOCS = 4000
#: the stream's fixed drop rate (landing files per second) and the
#: number of files dropped and committed before timing starts
STREAM_FILES_PER_S = 4.0
STREAM_WARM_FILES = 2
#: url-hash buckets of the declarative workload's Parquet sink
SINK_BUCKETS = 16
#: a batch run times at least this many jobs, however long they take
MIN_JOBS = 3
#: the stream waits at most this long for the last file to commit
DRAIN_TIMEOUT_S = 60.0


@dataclass
class Ctx:
    """What one benchmark run shares between its parts."""

    spark: object
    work: str
    cache: str
    seed: int
    seconds: float
    tracer: object
    sampler: procstat.Sampler
    pid: int = field(default_factory=os.getpid)

    def scratch(self, name: str) -> str:
        """A fresh directory under the run's scratch area."""
        path = os.path.join(self.work, "run", name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        return path


@dataclass
class Measured:
    """One workload run: per-job (or per-file) latencies, documents
    done, CPU over the timed region and per 1000 documents (median job
    of a batch workload), peak Python-worker RSS, failures."""

    lags: list[float]
    docs: int
    docs_per_s: float
    cpu_s: float
    cpu_s_per_kdoc: float
    worker_rss_mb: float
    attempted: int
    failed: set = field(default_factory=set)
    #: failed urls plus every document of a job that raised
    failed_docs: int = 0
    why: list = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (inclusive), defined for 1 sample."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


# ---------------------------------------------------------- batch side


class Batch:
    """A closed-loop batch workload over one cached input entry:
    ``job`` runs the workload's path to its sink, ``warmup`` runs it
    untimed (``warmup_jobs`` times), ``check`` verifies what the warm-up
    (or the last timed job) wrote."""

    name = ""
    n_docs = 0
    #: untimed jobs before timing starts (the first job of a session
    #: pays worker start-up, code generation and JIT)
    warmup_jobs = 1

    def __init__(self, cache: str, seed: int):
        self.entry = self.make_inputs(cache, seed)
        self.data = os.path.join(self.entry, "data")
        self.out = ""

    def make_inputs(self, cache: str, seed: int) -> str:
        raise NotImplementedError

    def job(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def warmup(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def check(self, ctx: Ctx) -> tuple[set, list]:
        raise NotImplementedError


def extraction_check(ctx: Ctx, out, all_urls: list[str], mixed: bool):
    """Oracle check of an extraction output DataFrame: every input url
    exactly once, and a seeded sample byte-identical to the oracle."""
    from pyspark.sql import functions as F

    expected = {}
    for i in checks.sample_ids(len(all_urls), ctx.seed):
        row = inputs.page_row(i, ctx.seed, mixed)
        expected[row["url"]] = row["html"]
    got_urls = [r.url for r in out.select("url").collect()]
    got_rows = {
        r.url: (r.extracted_text, r.spans, r.n_nodes)
        for r in out.where(F.col("url").isin(list(expected))).collect()
    }
    return checks.check_extraction(got_urls, got_rows, expected, all_urls)


def input_urls(ctx: Ctx, pages_data: str) -> list[str]:
    return [
        r.url for r in ctx.spark.read.parquet(pages_data).select("url").collect()
    ]


class FusedHtml(Batch):
    """``extract_fused`` -> noop over datagen HTML pages."""

    name = "fused_html"
    n_docs = FUSED_DOCS
    # cheap, and the second fused job of a session is still faster
    warmup_jobs = 2

    def make_inputs(self, cache, seed):
        return inputs.pages(cache, seed, self.n_docs, mixed=False)

    def frame(self, ctx):
        from page_segmentation_spark.plans.extract_fused import extract_fused

        return extract_fused(ctx.spark.read.parquet(self.data))

    def job(self, ctx):
        noop(self.frame(ctx))

    def warmup(self, ctx):
        self.out = ctx.scratch(self.name)
        self.frame(ctx).write.parquet(self.out)

    def check(self, ctx):
        out = ctx.spark.read.parquet(self.out)
        return extraction_check(ctx, out, input_urls(ctx, self.data), False)


class DeclarativeMixed(Batch):
    """``extract`` -> ``write_results`` (Parquet) over mixed HTML/PDF
    pages; the check reads the last timed job's output."""

    name = "declarative_mixed"
    n_docs = MIXED_DOCS
    # the job wall keeps falling for minutes: every job loads new
    # generated classes and the JIT spends 40-60% of the job's CPU on
    # them; after two jobs the slope is mild enough for the median of
    # the timed jobs, and a slow machine stretches the steep start
    warmup_jobs = 2

    def make_inputs(self, cache, seed):
        return inputs.pages(cache, seed, self.n_docs, mixed=True)

    def job(self, ctx):
        from page_segmentation_spark.plans.extract import extract
        from page_segmentation_spark.sources.sinks import write_results

        pages = ctx.spark.read.parquet(self.data)
        write_results(
            extract(pages), self.out, n_buckets=SINK_BUCKETS, mode="overwrite"
        )

    def warmup(self, ctx):
        self.out = ctx.scratch(self.name)
        self.job(ctx)

    def check(self, ctx):
        from page_segmentation_spark.sources.sinks import read_results

        out = read_results(ctx.spark, self.out)
        return extraction_check(ctx, out, input_urls(ctx, self.data), True)


class WetFunnel(Batch):
    """``read_wet`` -> ``build_training_corpus(from_text=True)`` -> noop."""

    name = "wet_corpus_funnel"
    n_docs = WET_DOCS

    def make_inputs(self, cache, seed):
        return inputs.wet(cache, seed, self.n_docs)

    def frame(self, ctx):
        from page_segmentation_spark.plans.training_corpus import (
            build_training_corpus,
        )
        from page_segmentation_spark.sources.warc import read_wet

        return build_training_corpus(
            read_wet(ctx.spark, self.data), from_text=True
        )

    def job(self, ctx):
        noop(self.frame(ctx))

    def warmup(self, ctx):
        self.out = ctx.scratch(self.name)
        self.frame(ctx).write.parquet(self.out)

    def check(self, ctx):
        rows = ctx.spark.read.parquet(self.out).collect()
        return funnel_check(ctx, rows, self.n_docs)


def funnel_check(ctx: Ctx, rows: list, n: int) -> tuple[set, list]:
    """Check collected funnel output rows against the DuckDB twin."""
    got = {r.url: (r.lang, r.n_tokens, r.content_fp, r.clean_text) for r in rows}
    docs = inputs.wet_docs(n, ctx.seed)
    ids = checks.sample_ids(n, ctx.seed, checks.FUNNEL_SAMPLE)
    return checks.check_funnel(got, checks.funnel_gates([docs[i] for i in ids]))


def run_batch(ctx: Ctx, wl: Batch) -> Measured:
    """Warm-up, then jobs back to back for ``ctx.seconds`` (at least
    ``MIN_JOBS``), then the output check.  A job is started only if at
    least half of it should fall inside the window (judged by the median
    job so far), so the timed region overruns it by about half a job."""
    tr = ctx.tracer
    jobs = 0
    failed_jobs = 0
    with tr.span(f"{wl.name}.warmup"):
        for _ in range(wl.warmup_jobs):
            jobs += 1
            try:
                wl.warmup(ctx)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed_jobs += 1
    walls: list[float] = []
    cpus: list[float] = []
    ctx.sampler.reset()
    cpu_start = procstat.cpu_seconds(ctx.pid)
    t_end = time.perf_counter() + ctx.seconds
    while True:
        cpu0 = procstat.cpu_seconds(ctx.pid)
        t0 = time.perf_counter()
        with tr.span(f"{wl.name}.job"):
            try:
                wl.job(ctx)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed_jobs += 1
        t1 = time.perf_counter()
        cpus.append(procstat.cpu_seconds(ctx.pid) - cpu0)
        walls.append(t1 - t0)
        jobs += 1
        if (
            len(walls) >= MIN_JOBS
            and t1 + statistics.median(walls) / 2 >= t_end
        ):
            break
    cpu = procstat.cpu_seconds(ctx.pid) - cpu_start
    ctx.sampler.sample()
    rss = ctx.sampler.snapshot()
    t_check = time.perf_counter()
    with tr.span(f"{wl.name}.check"):
        try:
            failed, why = wl.check(ctx)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed, why = set(), ["the output check raised"]
            failed_jobs += 1
    check_s = time.perf_counter() - t_check
    n = wl.n_docs
    med = statistics.median(walls)
    return Measured(
        lags=walls,
        docs=n * len(walls),
        docs_per_s=n / med,
        cpu_s=cpu,
        cpu_s_per_kdoc=statistics.median(cpus) / n * 1000,
        worker_rss_mb=rss["python_peak_mb"],
        attempted=n * jobs,
        failed=failed,
        failed_docs=min(n * jobs, len(failed) + n * failed_jobs),
        why=why,
        extra={"check_s": check_s, **rss},
    )


# --------------------------------------------------------- stream side


def _progress(q) -> dict[int, dict]:
    """batchId -> progress for the query's recent micro-batches."""
    return {int(p["batchId"]): p for p in q.recentProgress}


def _files_done(q) -> int:
    """Landing files consumed so far (one binaryFile row per file)."""
    return sum(int(p["numInputRows"]) for p in _progress(q).values())


def stream_files(seconds: float) -> int:
    return STREAM_WARM_FILES + max(4, int(round(seconds * STREAM_FILES_PER_S)))


def stream_inputs(cache: str, seed: int, seconds: float) -> str:
    return inputs.warc(cache, seed, stream_files(seconds))


def run_stream(ctx: Ctx, entry: str) -> Measured:
    """Open loop: one thread drops WARC files into the landing directory
    at ``STREAM_FILES_PER_S``; ``stream_extract_warc`` (fused plan,
    continuous micro-batches) extracts them.  A file's lag runs from its
    scheduled drop time to the commit of the micro-batch holding it."""
    from page_segmentation_spark.streaming.extract_stream import (
        stream_extract_warc,
    )

    tr = ctx.tracer
    files = inputs.data_files(entry)
    n_files = len(files)
    landing = ctx.scratch("stream_landing")
    stage = ctx.scratch("stream_stage")
    out = ctx.scratch("stream_out")
    ckpt = ctx.scratch("stream_ckpt")
    os.makedirs(landing)
    os.makedirs(stage)
    per = inputs.WARC_PER_FILE

    def drop(path: str) -> None:
        # copy beside the landing dir, then rename: the source never
        # lists a half-written file
        tmp = os.path.join(stage, os.path.basename(path))
        shutil.copyfile(path, tmp)
        os.replace(tmp, os.path.join(landing, os.path.basename(path)))

    with tr.span("streaming.extract_stream.start"):
        q = stream_extract_warc(
            ctx.spark, landing, out, ckpt,
            trigger_available_now=False, plan="fused",
        )
    try:
        with tr.span("stream_warc.warmup"):
            for f in files[:STREAM_WARM_FILES]:
                drop(f)
            _wait_files(q, STREAM_WARM_FILES, DRAIN_TIMEOUT_S)
        warm_batches = set(_progress(q))
        sched = files[STREAM_WARM_FILES:]
        interval = 1.0 / STREAM_FILES_PER_S
        late: list[float] = []
        ctx.sampler.reset()
        cpu0 = procstat.cpu_seconds(ctx.pid)

        def dropper(t0: float) -> None:
            for k, f in enumerate(sched):
                due = t0 + k * interval
                pause = due - time.perf_counter()
                if pause > 0:
                    time.sleep(pause)
                drop(f)
                late.append(time.perf_counter() - due)

        t0_wall = time.time() + 0.05
        t0 = time.perf_counter() + 0.05
        with tr.span("stream_warc.timed"):
            th = threading.Thread(target=dropper, args=(t0,))
            th.start()
            th.join()
            end_wall = time.time()
            _wait_files(q, n_files, DRAIN_TIMEOUT_S)
        cpu = procstat.cpu_seconds(ctx.pid) - cpu0
        ctx.sampler.sample()
        rss = ctx.sampler.snapshot()
        progress = _progress(q)
    finally:
        q.stop()

    timed = {
        b: d for b, d in progress.items()
        if b not in warm_batches and int(d.get("numInputRows", 0)) > 0
    }
    with tr.span("stream_warc.check"):
        result = ctx.spark.read.parquet(out)
        batch_of: dict[str, int] = {
            r.url: r.batch_id
            for r in result.select("url", "batch_id").collect()
        }
        all_urls = inputs.warc_urls(entry)
        failed, why = extraction_check(ctx, result, all_urls, True)

    commit = {}
    for name in os.listdir(os.path.join(ckpt, "commits")):
        if name.isdigit():
            commit[int(name)] = os.stat(
                os.path.join(ckpt, "commits", name)
            ).st_mtime
    lags = []
    backlog = 0
    last_commit = t0_wall
    for k in range(len(sched)):
        b = batch_of.get(all_urls[(STREAM_WARM_FILES + k) * per])
        if b is None or b not in commit:
            continue
        lags.append(commit[b] - (t0_wall + k * interval))
        last_commit = max(last_commit, commit[b])
        if commit[b] > end_wall:
            backlog += 1
    docs = len(lags) * per
    durations = [d["durationMs"] for d in timed.values()]
    trig = [float(x.get("triggerExecution", 0)) for x in durations]
    add = [float(x.get("addBatch", 0)) for x in durations]
    return Measured(
        lags=lags or [float("nan")],
        docs=docs,
        docs_per_s=docs / max(last_commit - t0_wall, 1e-9),
        cpu_s=cpu,
        cpu_s_per_kdoc=cpu / max(docs, 1) * 1000,
        worker_rss_mb=rss["python_peak_mb"],
        attempted=n_files * per,
        failed=failed,
        failed_docs=len(failed),
        why=why,
        extra={
            "streaming.batches": len(timed),
            "streaming.batch_s_p50": (
                statistics.median(trig) / 1e3 if trig else 0.0
            ),
            "streaming.add_batch_frac": (
                sum(add) / sum(trig) if sum(trig) else 0.0
            ),
            "streaming.backlog_files_end": backlog,
            "bench.gen_late_s_max": max(late) if late else 0.0,
        },
    )


def _wait_files(q, n: int, timeout_s: float) -> None:
    deadline = time.perf_counter() + timeout_s
    while _files_done(q) < n:
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if time.perf_counter() > deadline:
            raise TimeoutError(f"stream consumed {_files_done(q)}/{n} files")
        time.sleep(0.02)


BATCH = {w.name: w for w in (FusedHtml, DeclarativeMixed, WetFunnel)}
NAMES = tuple(BATCH) + ("stream_warc",)
