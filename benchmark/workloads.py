"""The two workloads: a session, an untimed warm-up, timed repetitions
and, in a traced run, the per-layer measurements.

Every timed region holds calls into the program's public functions and
nothing else; checks, crash simulation and status-store reads happen
between timed regions.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time

from benchmark import checks, sparkstats
from benchmark.inputs import QUERIES
from benchmark.spans import Tracer

N_BUCKETS = 16
WARM_PASSES = 2
FIRST_JOB = ("ann_nn_within_bucket", "corpus_curation")

# per-document phases of the extraction kernel (self time per 1k docs)
CORE_PHASES = (
    "decode_html",
    "tokenize_html",
    "extract_main_content",
    "cluster_lines",
    "detect_rotation",
    "unrotate_tokens",
    "reading_order_lines",
    "match_template",
    "extract_scalar_field",
    "extract_table",
    "validate_payload",
)

ERROR_CLASSES = (
    "empty_document",
    "parse_error",
    "no_tokens",
    "no_templates",
    "template_not_matched",
    "table_header_not_found",
    "sum_row_not_found",
    "sum_values_missing",
    "invalid_type",
    "missing_required",
    "constraint",
    "no_content",
    "no_main_content",
)


class Ledger:
    """Operations attempted and failed; a failed check fails its operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems]


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def start_session(work: str, tracer: Tracer):
    """JVM launch through get_spark; returns (spark, seconds)."""
    from doc_ocr_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    with tracer.span("session.start"):
        t0 = time.perf_counter()
        spark = get_spark("benchmark", extra_conf=conf)
        return spark, time.perf_counter() - t0


def _timed(tracer: Tracer, name: str, fn, *args, **kwargs):
    with tracer.span(name):
        t0 = time.perf_counter()
        out = fn(*args, **kwargs)
        return out, time.perf_counter() - t0


def _enough(ctx, reps: int, timed: float) -> bool:
    """Stop once another repetition would overshoot ``ctx.seconds`` of
    timed work by more than half a repetition."""
    return reps > 0 and timed + timed / reps / 2 > ctx.seconds


# ---------------------------------------------------------------------------
# crawl-warc


def crawl_warc(ctx) -> dict:
    from doc_ocr_spark.job import run_extraction

    inp, work, tracer, led = ctx.inputs, ctx.work, ctx.tracer, ctx.ledger
    meta = json.load(open(os.path.join(inp, "meta.json")))
    golden = json.load(open(os.path.join(inp, "golden.json")))
    warc, small = os.path.join(inp, "warc"), os.path.join(inp, "small")
    outs = os.path.join(work, "out")
    shutil.rmtree(outs, ignore_errors=True)
    n = meta["docs"]

    def job(out, resume=False, src=warc, name="job.fresh"):
        return _timed(
            tracer, name, run_extraction, ctx.spark, src, out,
            n_buckets=N_BUCKETS, resume=resume, input_format="warc",
        )

    spark, start_s = start_session(work, tracer)
    ctx.spark = spark
    _, first_s = job(os.path.join(outs, "small"), src=small, name="session.first_job")
    ctx.setup(start_s, first_s)

    # untimed warm-up: one full-size fresh job, then a crash and resume
    # of it, so the timed jobs of both kinds run on a warmed session
    warm_out = os.path.join(outs, "warmup")
    job(warm_out, name="warmup.fresh")
    checks.drop_lineage(warm_out)
    job(warm_out, resume=True, name="warmup.resume")
    shutil.rmtree(warm_out, ignore_errors=True)

    fresh, rerun, rss = [], [], []
    stats = last = resumed = None
    while not _enough(ctx, len(fresh), sum(fresh) + sum(rerun)):
        out = os.path.join(outs, f"rep{len(fresh)}")
        mark = sparkstats.stage_watermark(spark) if ctx.trace else None
        sparkstats.reset_worker_peaks()
        m, wall = job(out)
        peak = sparkstats.worker_peak_rss_mb()
        if ctx.trace:
            stats = sparkstats.stage_stats(spark, mark)
        probs = checks.check_extraction(out, golden)
        if m["docs"] != n:
            probs.append(f"job reported {m['docs']} docs, expected {n}")
        led.record("fresh job", probs)
        fresh.append(wall)
        if ctx.trace:
            last = checks.error_class_counts(out)

        dropped = checks.drop_lineage(out)
        sparkstats.reset_worker_peaks()
        m2, wall2 = job(out, resume=True, name="job.resume")
        peak = max(peak, sparkstats.worker_peak_rss_mb())
        probs = checks.check_extraction(out, golden)
        if m2["buckets_run"] != dropped:
            probs.append(f"resume ran {m2['buckets_run']} buckets, {dropped} were lost")
        led.record("resume", probs)
        rerun.append(wall2)
        rss.append(peak)
        resumed = m2
        shutil.rmtree(out, ignore_errors=True)

    docs_per_s = _median([n / w for w in fresh])
    e2e = {
        "docs_per_s": docs_per_s,
        "rerun_s": _median(rerun),
        "worker_peak_rss_mb": _median(rss),
    }
    if not ctx.trace:
        return e2e

    from doc_ocr_spark.kernel import apply_kernel
    from doc_ocr_spark.sources.warc import read_warc
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    def noop(df, name):
        obs = Observation(name)
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("complete").cast("long")).alias("complete")
            if "complete" in df.columns
            else F.lit(0).alias("complete"),
        )
        with tracer.span(name):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
        return wall, obs.get

    scan = [noop(read_warc(spark, warc), "warc.scan") for _ in range(2)]
    kern = [noop(apply_kernel(read_warc(spark, warc)), "kernel.noop") for _ in range(2)]
    scan_s = _median([w for w, _ in scan])
    kernel_s = _median([w for w, _ in kern])
    fresh_s = _median(fresh)
    core = core_pass(warc, meta, tracer)
    layer = {
        "warc.scan_s": scan_s,
        "warc.records": scan[-1][1]["rows"],
        "warc.mb_per_s": meta["warc_bytes"] / sparkstats.MIB / scan_s,
        "kernel.noop_s": kernel_s,
        "kernel.complete_ratio": kern[-1][1]["complete"] / max(1, kern[-1][1]["rows"]),
        "job.commit_s": fresh_s - kernel_s,
        "job.parallel_eff": docs_per_s / (ctx.cpus * core["core.seq_docs_per_s"])
        if "core.seq_docs_per_s" in core
        else None,
        "resume.docs_rerun": resumed["docs"],
        "resume.buckets_rerun": resumed["buckets_run"],
        "resume.doc_share": resumed["docs"] / n,
        "resume.wall_share": _median(rerun) / fresh_s,
        "trace.docs_per_s": docs_per_s,
    }
    for k in ("tasks", "task_median_ms", "task_max_ms", "shuffle_write_mb", "spill_mb", "failed_tasks"):
        layer[f"job.{k}"] = stats[k]
    for cls in ERROR_CLASSES:
        layer[f"kernel.errors.{cls}"] = last.get(cls, 0)
    layer.update(core)
    return layer


def _warc_pages(warc: str) -> list[tuple[str, bytes]]:
    import gzip
    import io

    from doc_ocr_spark.sources.warc import iter_warc_pages

    pages = []
    for name in sorted(os.listdir(warc)):
        with io.BufferedReader(gzip.open(os.path.join(warc, name), "rb")) as f:
            pages += [(url, html) for url, _, html in iter_warc_pages(f)]
    return pages


def core_pass(warc: str, meta: dict, tracer: Tracer) -> dict:
    """The kernel run sequentially in this process over the same pages:
    once through make_kernel's Arrow loop with only extract_document
    traced, once with every phase traced."""
    import pyarrow as pa

    from doc_ocr_spark import kernel

    pages = _warc_pages(warc)
    n = len(pages)
    batches = [
        pa.RecordBatch.from_pydict(
            {"url": [u for u, _ in pages[i : i + 512]], "html": [h for _, h in pages[i : i + 512]]}
        )
        for i in range(0, n, 512)
    ]
    loop = Tracer(keep_spans=False)
    absent = loop.patch(["extract_document"])
    make_kernel = getattr(kernel, "make_kernel", None)
    loop_s = None
    try:
        if make_kernel is None:
            absent.append("make_kernel")
        else:
            t0 = time.perf_counter()
            for _ in make_kernel(None)(iter(batches)):
                pass
            loop_s = time.perf_counter() - t0
    finally:
        loop.unpatch()
    _, extract_s, _ = loop.stat("extract_document")

    phases = Tracer(keep_spans=False)
    absent += phases.patch(["extract_document", *CORE_PHASES])
    try:
        from doc_ocr_spark.core import extractor

        for url, html in pages:
            extractor.extract_document(url, html)
    finally:
        phases.unpatch()
    _, doc_s, doc_self = phases.stat("extract_document")
    tracer.totals.update({f"core.{k}": v for k, v in phases.totals.items()})
    tracer.absent += absent

    per_1k = 1e6 / n  # seconds -> ms per 1k docs
    out = {
        "core.cluster_lines.calls_per_pdftok_doc": phases.stat("cluster_lines")[0]
        / max(1, meta["pdftok_docs"]),
    }
    if loop_s is not None and extract_s:
        out["core.seq_docs_per_s"] = n / extract_s
        out["core.arrow_ms_per_1k"] = (loop_s - extract_s) * per_1k
    if doc_s:
        out["core.phase_coverage"] = (doc_s - doc_self) / doc_s
    for ph in CORE_PHASES:
        out[f"core.{ph}.self_ms_per_1k"] = phases.stat(ph)[2] * per_1k
    return out


# ---------------------------------------------------------------------------
# text-pairs


class _StagingProbe:
    """Counts builds and hits of staging.ensure_staged and times builds."""

    def __init__(self, tracer: Tracer) -> None:
        self.builds = self.hits = 0
        self.build_s = 0.0
        self.tracer = tracer
        self._orig = None

    def __enter__(self):
        from doc_ocr_spark import staging

        orig = getattr(staging, "ensure_staged", None)
        if orig is None:
            self.tracer.absent.append("ensure_staged")
            return self
        probe = self

        def ensure_staged(group, key, build, suffix=".parquet"):
            hit = os.path.exists(staging.staged_path(group, key, suffix))
            with probe.tracer.span(f"staging.{group}"):
                t0 = time.perf_counter()
                out = orig(group, key, build, suffix)
                dt = time.perf_counter() - t0
            if hit:
                probe.hits += 1
            else:
                probe.builds += 1
                probe.build_s += dt
            return out

        self._orig = orig
        staging.ensure_staged = ensure_staged
        return self

    def __exit__(self, *exc) -> None:
        from doc_ocr_spark import staging

        if self._orig is not None:
            staging.ensure_staged = self._orig


def text_pairs(ctx) -> dict:
    import __spark_entry__ as entry

    inp, work, tracer, led = ctx.inputs, ctx.work, ctx.tracer, ctx.ledger
    meta = json.load(open(os.path.join(inp, "meta.json")))
    oracle = json.load(open(os.path.join(inp, "oracle.json")))
    tables, small = os.path.join(inp, "tables"), os.path.join(inp, "small")
    queries = entry.queries()
    stage_root = os.path.join(work, "stage")
    shutil.rmtree(stage_root, ignore_errors=True)

    def fresh_stage_dir(name: str) -> None:
        d = os.path.join(stage_root, name)
        shutil.rmtree(d, ignore_errors=True)
        os.environ["SPARK_GRAFT_STAGE_DIR"] = d

    def run_pass(sf_dir: str, label: str, stats: dict | None):
        """The queries in order; returns (wall, {q: (frame, seconds)})."""
        got = {}
        t0 = time.perf_counter()
        for q in QUERIES:
            mark = sparkstats.stage_watermark(ctx.spark) if stats is not None else None
            with tracer.span(f"{label}.{q}"):
                t = time.perf_counter()
                pdf = queries[q](ctx.spark, sf_dir).toPandas()
                got[q] = (pdf, time.perf_counter() - t)
            if stats is not None:
                stats[q] = sparkstats.stage_stats(ctx.spark, mark)
        wall = time.perf_counter() - t0
        if stats is not None:
            # status-store reads sit between the queries; keep them out
            wall = sum(s for _, s in got.values())
        return wall, got

    def check(label: str, got: dict) -> None:
        for q, (pdf, _) in got.items():
            led.record(f"{label} {q}", checks.check_query(checks.canon_frame(pdf), oracle[q]))

    fresh_stage_dir("session")
    spark, start_s = start_session(work, tracer)
    ctx.spark = spark
    # the first small job runs the operators over the small tables, cold;
    # it is also the warm-up (corpus_curation runs dedup_clusters inside
    # its signal build, so every timed operation has run once)
    fresh_stage_dir("small")
    with tracer.span("session.first_job"):
        t0 = time.perf_counter()
        for q in FIRST_JOB:
            queries[q](spark, small).toPandas()
        first_s = time.perf_counter() - t0
    ctx.setup(start_s, first_s)

    colds, warms, rss = [], [], []
    cold_stats: dict = {}
    probe = _StagingProbe(tracer)
    per_q: dict[str, dict] = {q: {"cold": [], "warm": []} for q in QUERIES}
    with probe if ctx.trace else contextlib.nullcontext():
        while not _enough(ctx, len(colds), sum(colds) + sum(warms)):
            fresh_stage_dir(f"rep{len(colds)}")
            sparkstats.reset_worker_peaks()
            cold, got = run_pass(tables, "cold", cold_stats if ctx.trace else None)
            check("cold", got)
            colds.append(cold)
            for q in QUERIES:
                per_q[q]["cold"].append(got[q][1])
                per_q[q]["rows"] = len(got[q][0])
            # a warm pass is short, so each rep runs several
            for _ in range(WARM_PASSES):
                warm, got = run_pass(tables, "warm", None)
                check("warm", got)
                warms.append(warm)
                for q in QUERIES:
                    per_q[q]["warm"].append(got[q][1])
            rss.append(sparkstats.worker_peak_rss_mb())

    docs_per_s = _median([(meta["docs"] + meta["vectors"]) / w for w in colds])
    e2e = {
        "docs_per_s": docs_per_s,
        "rerun_s": _median(warms),
        "worker_peak_rss_mb": _median(rss),
    }
    if not ctx.trace:
        return e2e
    layer = {"trace.docs_per_s": docs_per_s}
    for q in QUERIES:
        layer[f"{q}.cold_s"] = _median(per_q[q]["cold"])
        layer[f"{q}.warm_s"] = _median(per_q[q]["warm"])
        layer[f"{q}.rows"] = per_q[q]["rows"]
        for k in ("shuffle_write_mb", "spill_mb", "task_max_ms"):
            layer[f"{q}.{k}"] = cold_stats[q][k]
    layer["staging.builds"] = probe.builds / len(colds)
    layer["staging.build_s"] = probe.build_s / len(colds)
    layer["staging.hits"] = probe.hits / len(colds)
    return layer


WORKLOADS = {"crawl-warc": crawl_warc, "text-pairs": text_pairs}
