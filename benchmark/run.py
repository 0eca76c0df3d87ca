"""Benchmark of doc_ocr_spark: one command, one JSON run record per run.

    python3 benchmark/run.py --workload crawl-warc --seed 1 --seconds 10 --trace 0

Runs one workload (see BENCHMARK.json) on ``local[<cores>]`` in this
process: seeded inputs built in a child process, session start plus a
first small job (``setup_s``), an untimed full-size warm-up, then timed
repetitions until ``--seconds`` of timed work is done.  Outputs are
checked between timed regions; a failed check fails its operation.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer ones.  The last line of stdout is the result object; the
full run record (spans, Spark conf, machine-speed probe, ...) is
written under ``benchmark/.work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
SCHEMA_VERSION = 1
_T0 = time.monotonic()

# knobs of the program that stay set; every other SPARK_GRAFT_* is unset
_KEPT_KNOBS = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_STAGE_DIR")
_PROBE_DOCS = 400
_PROBE_WARMUP_DOCS = 60


def prepare_env(work: str) -> int:
    """Pin the session to this machine's cores and keep every scratch
    file of Spark, the JVM and the Python workers under ``work``."""
    for k in list(os.environ):
        if k.startswith("SPARK_GRAFT_") and k not in _KEPT_KNOBS:
            del os.environ[k]
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_STAGE_DIR": os.path.join(work, "stage", "session"),
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    return cpus


def probe_pages() -> list[dict]:
    """The machine-speed probe's fixed, seed-independent pages."""
    from doc_ocr_spark.datagen import make_page

    return [make_page(i, seed=0) for i in range(_PROBE_DOCS)]


def machine_probe(pages: list[dict]) -> float:
    """Seconds of one sequential kernel pass over ``pages``."""
    from doc_ocr_spark.core.extractor import extract_document

    for p in pages[:_PROBE_WARMUP_DOCS]:  # lazy module set-up stays out
        extract_document(p["url"], p["html"])
    t0 = time.perf_counter()
    for p in pages:
        extract_document(p["url"], p["html"])
    return time.perf_counter() - t0


def git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            return open(os.path.join(ROOT, ".git", ref[5:])).read().strip()
        return ref
    except OSError:
        return None


class Context:
    """What a workload needs: inputs, knobs, the tracer and the ledger."""

    def __init__(self, args, inputs: str, cpus: int, tracer, ledger) -> None:
        self.inputs = inputs
        self.work = WORK
        self.seconds = float(args.seconds)
        self.trace = bool(args.trace)
        self.cpus = cpus
        self.tracer = tracer
        self.ledger = ledger
        self.spark = None
        self.setup_s = {}

    def setup(self, start_s: float, first_job_s: float) -> None:
        self.setup_s = {"session.start_s": start_s, "session.first_job_s": first_job_s}


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    args = ap.parse_args()

    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload}")
    sys.path.insert(0, ROOT)
    cpus = prepare_env(WORK)

    import doc_ocr_spark  # noqa: F401  (fails fast outside a full checkout)

    from benchmark import inputs, sparkstats, workloads
    from benchmark.spans import Tracer

    tracer = Tracer()
    started = time.time()
    with tracer.span("inputs"):
        inp = inputs.ensure(WORK, args.workload, args.seed, args.size)
    ledger = workloads.Ledger()
    ctx = Context(args, inp, cpus, tracer, ledger)
    pages = probe_pages()
    with tracer.span("probe.before"):
        probe_before = machine_probe(pages)
    try:
        measured = workloads.WORKLOADS[args.workload](ctx)
    finally:
        conf = sparkstats.spark_conf(ctx.spark) if ctx.spark else {}
        with tracer.span("teardown"):
            sparkstats.stop_all(ctx.spark)
    with tracer.span("probe.after"):
        probe_after = machine_probe(pages)

    measured.update(ctx.setup_s)
    measured["setup_s"] = sum(ctx.setup_s.values())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics, absent = {}, []
    for m in wanted:
        v = measured.get(m["name"])
        if v is None:
            absent.append(m["name"])
            v = 0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    record = {
        "schema": SCHEMA_VERSION,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "started": started,
        "git_sha": git_sha(),
        "source_digest": inputs.source_digest(),
        "inputs": os.path.relpath(inp, ROOT),
        "cpus": cpus,
        "spark_conf": conf,
        "machine_probe_s": {"before": probe_before, "after": probe_after, "docs": _PROBE_DOCS},
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "problems": ledger.problems,
        "metrics": metrics,
        "absent": absent + tracer.absent,
        "span_totals": {k: {"calls": c, "total_s": t, "self_s": s} for k, (c, t, s) in tracer.totals.items()},
        "spans": tracer.spans,
        "run_wall_s": time.monotonic() - _T0,
    }
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    name = f"{int(started)}-{args.workload}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(rec_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for p in ledger.problems[:20]:
        print("check failed:", p, file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": ledger.failed == 0,
                "attempted": ledger.attempted,
                "failed": ledger.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
