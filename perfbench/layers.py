"""Per-layer numbers for a traced run (``--trace 1``).

Every traced run, whatever its workload, measures every layer on the
seed's inputs, so each per-layer metric means the same thing on every
workload:

* in-process layers (``html_parse``, ``pdf_parse``, ``oracle``) are
  timed per document on a seeded sample through their public functions;
* Spark layers are timed as jobs run to the ``noop`` sink, and a layer
  inside a plan is the difference between consecutive prefixes of
  public calls (``featurize`` -> ``score`` -> ``find_postprocessor`` ->
  ``SPAN_FORMERS`` -> ``extract``);
* Exchange and JVM numbers come from Spark's status store, which works
  with the UI disabled.

Each probe job runs ``REPS`` times and keeps its fastest run."""

from __future__ import annotations

import os
import statistics
import time

from perfbench import inputs, workloads
from perfbench.workloads import Ctx, noop

REPS = 2
#: in-process sample sizes
HTML_SAMPLE_EVERY = 10
PDF_SAMPLE = 48
#: length of the sweep's stream run
STREAM_PROBE_S = 3.0


# ------------------------------------------------------ status store


def _stage_list(spark) -> list:
    gw = spark.sparkContext._gateway
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    return [seq.apply(i) for i in range(seq.size())]


def stage_mark(spark) -> int:
    return max((s.stageId() for s in _stage_list(spark)), default=-1)


def stages_after(spark, mark: int) -> list:
    return [
        s for s in _stage_list(spark)
        if s.stageId() > mark and str(s.status()) == "COMPLETE"
    ]


def task_skew(spark, stage) -> float:
    """max / median task run time of one stage."""
    store = spark.sparkContext._jsc.sc().statusStore()
    seq = store.taskList(stage.stageId(), stage.attemptId(), 1 << 20)
    runs = []
    for i in range(seq.size()):
        m = seq.apply(i).taskMetrics()
        if m.isDefined():
            runs.append(m.get().executorRunTime())
    med = statistics.median(runs) if runs else 0
    return max(runs) / med if med else 1.0


def timed_job(ctx: Ctx, name: str, run) -> tuple[float, list]:
    """Fastest of ``REPS`` runs of ``run()``: (wall s, its stages)."""
    best = (float("inf"), [])
    for rep in range(REPS):
        mark = stage_mark(ctx.spark)
        with ctx.tracer.span(name, rep=rep):
            t0 = time.perf_counter()
            run()
            wall = time.perf_counter() - t0
        if wall < best[0]:
            best = (wall, stages_after(ctx.spark, mark))
    return best


# ------------------------------------------------------ in-process


def _per_doc(fn, docs, reps: int = 3) -> float:
    """Fastest total over ``reps`` passes of ``fn`` over ``docs`` (s)."""
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        for d in docs:
            fn(d)
        best = min(best, time.perf_counter() - t0)
    return best


def in_process(ctx: Ctx) -> dict:
    from page_segmentation_spark.config import ExtractSettings
    from page_segmentation_spark.functions.architectures import (
        find_architecture,
    )
    from page_segmentation_spark.oracle import (
        SPAN_CUTTERS,
        cc_majority_vote,
        extract_document,
        score_nodes,
    )
    from page_segmentation_spark.page_parse import parse_page

    seed = ctx.seed
    settings = ExtractSettings()
    arch = find_architecture(settings.architecture)
    cut = SPAN_CUTTERS[settings.span_former]
    # every 10th id of the fused corpus: gcd(10, 17) = 1, so the sample
    # covers the datagen kind schedule evenly
    html_ids = range(0, workloads.FUSED_DOCS, HTML_SAMPLE_EVERY)
    html = [inputs.page_row(i, seed, False)["html"] for i in html_ids]
    pdf = [
        inputs.page_row(i * inputs.PDF_EVERY, seed, True)["html"]
        for i in range(PDF_SAMPLE)
    ]
    out = {}
    with ctx.tracer.span("html_parse.parse_page", docs=len(html)):
        t = _per_doc(parse_page, html)
    nodes = [parse_page(h) for h in html]
    kb = sum(len(h) for h in html) / 1024
    out["html_parse.us_per_doc"] = t / len(html) * 1e6
    out["html_parse.us_per_kb"] = t / kb * 1e6
    out["html_parse.nodes_per_doc"] = sum(map(len, nodes)) / len(html)
    with ctx.tracer.span("pdf_parse.parse_page", docs=len(pdf)):
        t = _per_doc(parse_page, pdf)
    out["pdf_parse.us_per_doc"] = t / len(pdf) * 1e6
    out["pdf_parse.nodes_per_doc"] = (
        sum(len(parse_page(p)) for p in pdf) / len(pdf)
    )
    scored = [score_nodes(n, arch) for n in nodes]
    voted = [cc_majority_vote(n, p) for n, (p, _m) in zip(nodes, scored)]
    with ctx.tracer.span("oracle.score_nodes"):
        t = _per_doc(lambda n: score_nodes(n, arch), nodes)
    out["oracle.score_us_per_doc"] = t / len(nodes) * 1e6
    pairs = list(zip(nodes, [p for p, _m in scored]))
    with ctx.tracer.span("oracle.cc_majority_vote"):
        t = _per_doc(lambda np_: cc_majority_vote(*np_), pairs)
    out["oracle.vote_us_per_doc"] = t / len(nodes) * 1e6
    quads = [
        (n, v, settings, m) for n, v, (_p, m) in zip(nodes, voted, scored)
    ]
    with ctx.tracer.span("oracle.span_cutter"):
        t = _per_doc(lambda q: cut(*q), quads)
    out["oracle.spans_us_per_doc"] = t / len(nodes) * 1e6
    with ctx.tracer.span("oracle.extract_document"):
        t = _per_doc(extract_document, html, reps=1)
    out["_kernel_s_per_doc"] = t / len(html)
    return out


# ------------------------------------------------------ Spark probes


def fused_probe(ctx: Ctx, kernel_s_per_doc: float) -> dict:
    from page_segmentation_spark.plans.extract_fused import extract_fused

    wl = workloads.FusedHtml(ctx.cache, ctx.seed)
    pages = ctx.spark.read.parquet(wl.data)
    wall, stages = timed_job(
        ctx, "plans.extract_fused", lambda: noop(extract_fused(pages))
    )
    run_s = sum(s.executorRunTime() for s in stages) / 1e3
    kernel = kernel_s_per_doc * workloads.FUSED_DOCS
    return {
        "plans.extract_fused.stage_s": wall,
        "plans.extract_fused.overhead_frac": 1 - kernel / run_s,
        "_fused": {"stage_s": wall, "executor_run_s": run_s, "kernel_s": kernel},
    }


def declarative_probe(ctx: Ctx) -> dict:
    from page_segmentation_spark.config import ExtractSettings
    from page_segmentation_spark.functions.architectures import (
        find_architecture,
    )
    from page_segmentation_spark.functions.features import featurize
    from page_segmentation_spark.functions.scorer import score
    from page_segmentation_spark.operators.spans import SPAN_FORMERS
    from page_segmentation_spark.operators.vote import find_postprocessor
    from page_segmentation_spark.plans.extract import extract
    from page_segmentation_spark.sources.parse import parse_pages
    from page_segmentation_spark.sources.sinks import (
        read_results,
        write_results,
    )

    settings = ExtractSettings()
    arch = find_architecture(settings.architecture)
    wl = workloads.DeclarativeMixed(ctx.cache, ctx.seed)
    pages = ctx.spark.read.parquet(wl.data)

    def parsed():
        return parse_pages(pages)

    def scored():
        return score(featurize(parsed(), arch), arch)

    def voted():
        return find_postprocessor("cc_majority")(scored())

    def spanned():
        return SPAN_FORMERS[settings.span_former](voted(), settings)

    p0, _ = timed_job(ctx, "sources.parse", lambda: noop(parsed()))
    p1, st1 = timed_job(
        ctx, "functions.featurize_score", lambda: noop(scored())
    )
    p2, _ = timed_job(ctx, "operators.vote", lambda: noop(voted()))
    p3, _ = timed_job(ctx, "operators.spans", lambda: noop(spanned()))
    p4, _ = timed_job(ctx, "plans.extract", lambda: noop(extract(pages)))
    out_dir = ctx.scratch("sinks_probe")
    p5, st5 = timed_job(
        ctx,
        "sources.sinks.write_results",
        lambda: write_results(
            extract(pages), out_dir,
            n_buckets=workloads.SINK_BUCKETS, mode="overwrite",
        ),
    )
    with ctx.tracer.span("declarative.check"):
        failed, why = workloads.extraction_check(
            ctx, read_results(ctx.spark, out_dir),
            workloads.input_urls(ctx, wl.data), True,
        )
    post = max(st5, key=lambda s: s.shuffleReadRecords(), default=None)
    n_files = sum(
        1 for _r, _d, fs in os.walk(out_dir)
        for f in fs if f.endswith(".parquet")
    )
    return {
        "sources.parse.stage_s": p0,
        # the node rows the parse stage emits are the rows the url
        # Exchange right after it writes
        "sources.parse.rows_out": sum(s.shuffleWriteRecords() for s in st1),
        "functions.featurize_score_s": p1 - p0,
        "operators.vote_s": p2 - p1,
        "operators.spans_s": p3 - p2,
        "plans.extract.concat_s": p4 - p3,
        "sources.sinks.write_s": p5 - p4,
        "sources.sinks.files_written": n_files,
        "sources.sinks.mb_written": inputs.dir_mb(out_dir),
        "exchange.shuffle_write_mb": (
            sum(s.shuffleWriteBytes() for s in st5) / 1e6
        ),
        "exchange.spill_mb": sum(
            s.memoryBytesSpilled() + s.diskBytesSpilled() for s in st5
        ) / 1e6,
        "exchange.task_skew": (
            task_skew(ctx.spark, post) if post is not None else 1.0
        ),
        "jvm.gc_s": sum(s.jvmGcTime() for s in st5) / 1e3,
        "jvm.executor_cpu_s": sum(s.executorCpuTime() for s in st5) / 1e9,
        "_declarative": {
            "sources.parse": p0,
            "functions.featurize_score": p1 - p0,
            "operators.vote": p2 - p1,
            "operators.spans": p3 - p2,
            "plans.extract.concat": p4 - p3,
            "sources.sinks.write_results": p5 - p4,
            "path_s": p5,
        },
        "_failed": failed,
        "_why": why,
        "_attempted": wl.n_docs,
    }


def funnel_probe(ctx: Ctx) -> dict:
    from page_segmentation_spark.functions.text import c4_line_filter
    from page_segmentation_spark.plans.training_corpus import (
        build_training_corpus,
        corpus_features_from_text,
    )
    from page_segmentation_spark.sources.warc import read_wet

    wl = workloads.WetFunnel(ctx.cache, ctx.seed)
    n, data = wl.n_docs, wl.data

    def docs():
        return read_wet(ctx.spark, data)

    r, _ = timed_job(ctx, "sources.warc.read_wet", lambda: noop(docs()))
    c, _ = timed_job(
        ctx,
        "functions.text.c4_line_filter",
        lambda: noop(c4_line_filter(docs(), "url", "text")),
    )
    fe, _ = timed_job(
        ctx,
        "plans.training_corpus.features",
        lambda: noop(corpus_features_from_text(docs())),
    )
    d, _ = timed_job(
        ctx,
        "plans.training_corpus.build",
        lambda: noop(build_training_corpus(docs(), from_text=True)),
    )
    with ctx.tracer.span("funnel.counts"):
        docs_in = docs().count()
        after = corpus_features_from_text(docs()).count()
        corpus = build_training_corpus(docs(), from_text=True).collect()
    with ctx.tracer.span("funnel.check"):
        failed, why = workloads.funnel_check(ctx, corpus, n)
    return {
        "sources.warc.read_s": r,
        "sources.warc.records_per_s": docs_in / r,
        "sources.warc.mb_in": inputs.dir_mb(data),
        "functions.text.c4_s": c - r,
        "plans.training_corpus.features_s": fe - r,
        "plans.training_corpus.dedup_s": d - fe,
        "funnel.docs_in": docs_in,
        "funnel.docs_after_filters": after,
        "funnel.docs_out": len(corpus),
        "funnel.keep_ratio": len(corpus) / docs_in,
        "funnel.docs_per_s": docs_in / d,
        "_failed": failed,
        "_why": why,
        "_attempted": n,
    }


def make_inputs(cache: str, seed: int) -> None:
    """Every input the sweep reads (each is a cache hit afterwards)."""
    workloads.FusedHtml(cache, seed)
    workloads.DeclarativeMixed(cache, seed)
    workloads.WetFunnel(cache, seed)
    workloads.stream_inputs(cache, seed, STREAM_PROBE_S)


def _merge(out: dict, part: dict) -> None:
    """Fold one probe's metrics into ``out``, summing its check results."""
    if "_failed" in part:
        out["_failed"] = out["_failed"] | part.pop("_failed")
        out["_why"] = out["_why"] + part.pop("_why")
        out["_attempted"] = out["_attempted"] + part.pop("_attempted")
    out.update(part)


def sweep(ctx: Ctx, setup_recs: list[dict]) -> dict:
    """Every per-layer metric, plus the sweep's own output checks under
    ``_failed`` / ``_why`` / ``_attempted``."""
    from page_segmentation_spark.packaging import ship_package
    from perfbench import session

    ctx.sampler.reset()
    out = {
        "_failed": set(),
        "_why": [],
        "_attempted": 0,
        "session.get_spark_s": session.median_of(setup_recs, "get_spark_s"),
        "session.first_udf_job_s": session.median_of(
            setup_recs, "first_udf_job_s"
        ),
    }
    with ctx.tracer.span("packaging.ship_package"):
        t0 = time.perf_counter()
        ship_package(ctx.spark)
        out["packaging.ship_package_s"] = time.perf_counter() - t0
    ip = in_process(ctx)
    kernel = ip.pop("_kernel_s_per_doc")
    out.update(ip)
    _merge(out, fused_probe(ctx, kernel))
    _merge(out, declarative_probe(ctx))
    _merge(out, funnel_probe(ctx))
    ctx.sampler.sample()
    rss = ctx.sampler.snapshot()  # run_stream resets the sampler
    m = workloads.run_stream(
        ctx, workloads.stream_inputs(ctx.cache, ctx.seed, STREAM_PROBE_S)
    )
    _merge(out, {
        **m.extra,
        "stream.lag_p50_s": statistics.median(m.lags),
        "stream.lag_p90_s": workloads.quantile(m.lags, 0.9),
        "_failed": m.failed,
        "_why": m.why,
        "_attempted": m.attempted,
    })
    ctx.sampler.sample()
    last = ctx.sampler.snapshot()
    out["python.worker_rss_mb_max"] = max(
        rss["worker_peak_mb"], last["worker_peak_mb"]
    )
    out["jvm.rss_peak_mb"] = max(rss["jvm_peak_mb"], last["jvm_peak_mb"])
    return out
