"""The benchmark's own tests.

The check tests tamper with a correct output and assert that the check
fails and that the ledger counts the operation as failed.  The smoke
tests run each workload end to end at the tiny input size (each starts
a JVM; about a minute apiece):

    python3 -m pytest benchmark/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from benchmark import checks
from benchmark.workloads import Ledger

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
N_BUCKETS = 8


def _kernel_rows(n: int) -> list[dict]:
    from doc_ocr_spark.core.extractor import extract_document
    from doc_ocr_spark.datagen import make_page

    rows = []
    for i in range(n):
        p = make_page(i, seed=3)
        r = extract_document(p["url"], p["html"])
        rows.append(
            {
                "url": r.url,
                "extracted_text": r.extracted_text,
                "spans": [{"field": f, "start": s, "end": e} for f, s, e in r.spans],
                "template_name": r.template_name,
                "complete": r.complete,
                "errors": r.errors,
                "fields_json": r.fields_json,
                "part_bucket": i % N_BUCKETS,
            }
        )
    return rows


def _write_output(out: str, rows: list[dict]) -> None:
    """A job output in the job's layout: hive bucket dirs plus _lineage."""
    counts: dict[int, int] = {}
    for b in range(N_BUCKETS):
        part = [{k: v for k, v in r.items() if k != "part_bucket"} for r in rows if r["part_bucket"] == b]
        d = os.path.join(out, f"part_bucket={b}")
        os.makedirs(d)
        pq.write_table(pa.Table.from_pylist(part), os.path.join(d, "part-00000.parquet"))
        counts[b] = len(part)
    os.makedirs(os.path.join(out, "_lineage"))
    pq.write_table(
        pa.table(
            {
                "part_bucket": pa.array(list(counts), pa.int32()),
                "doc_count": pa.array(list(counts.values()), pa.int64()),
            }
        ),
        os.path.join(out, "_lineage", "part-00000.parquet"),
    )


@pytest.fixture(scope="module")
def rows():
    return _kernel_rows(40)


@pytest.fixture()
def output(tmp_path, rows):
    out = str(tmp_path / "out")
    _write_output(out, rows)
    return out


@pytest.fixture(scope="module")
def golden(rows):
    return {r["url"]: checks.row_digest(r) for r in rows}


def _ledger_after(problems: list[str]) -> Ledger:
    led = Ledger()
    led.record("op", problems)
    return led


def test_correct_output_passes(output, golden):
    assert checks.check_extraction(output, golden) == []


def test_altered_row_is_a_failed_operation(tmp_path, rows, golden):
    bad = [dict(r) for r in rows]
    bad[7]["extracted_text"] = (bad[7]["extracted_text"] or "") + "x"
    out = str(tmp_path / "out")
    _write_output(out, bad)
    led = _ledger_after(checks.check_extraction(out, golden))
    assert (led.attempted, led.failed) == (1, 1)
    assert "differ from the kernel" in led.problems[0]


def test_duplicated_bucket_is_a_failed_operation(output, golden):
    d = os.path.join(output, "part_bucket=2")
    shutil.copy(os.path.join(d, "part-00000.parquet"), os.path.join(d, "part-00001.parquet"))
    led = _ledger_after(checks.check_extraction(output, golden))
    assert led.failed == 1
    assert any("duplicated" in p for p in led.problems)


def test_lost_bucket_is_a_failed_operation(output, golden):
    shutil.rmtree(os.path.join(output, "part_bucket=5"))
    problems = checks.check_extraction(output, golden)
    assert any("missing" in p for p in problems)
    assert any("lineage" in p for p in problems)


def test_crash_leaves_lineage_short_of_the_data(output, golden):
    dropped = checks.drop_lineage(output)
    assert dropped == 2  # buckets 3 and 7
    assert any("lineage" in p for p in checks.check_extraction(output, golden))


def test_error_classes_are_counted(output, rows):
    want: dict[str, int] = {}
    for r in rows:
        for e in r["errors"]:
            want[e.split(":")[0]] = want.get(e.split(":")[0], 0) + 1
    assert checks.error_class_counts(output) == want


def test_wrong_oracle_row_is_a_failed_operation():
    frame = pd.DataFrame({"doc_a": [1, 2, 3], "doc_b": [4, 5, 6], "jaccard": [0.5, 0.75, 1.0]})
    want = checks.canon_frame(frame)
    assert checks.check_query(checks.canon_frame(frame.iloc[::-1]), want) == []
    tampered = frame.copy()
    tampered.loc[1, "jaccard"] = 0.7
    led = _ledger_after(checks.check_query(checks.canon_frame(tampered), want))
    assert (led.attempted, led.failed) == (1, 1)
    missing = frame.iloc[:2]
    assert checks.check_query(checks.canon_frame(missing), want)


def test_tracer_self_time_and_absent_names():
    from benchmark.spans import Tracer

    t = Tracer()
    assert t.patch(["no_such_function_anywhere"]) == ["no_such_function_anywhere"]
    with t.span("outer"):
        with t.span("inner"):
            pass
    calls, total, self_s = t.stat("outer")
    assert calls == 1 and 0 <= self_s <= total
    assert t.spans[1]["parent"] == 0


def test_spec_lists_what_the_workloads_emit():
    from benchmark.workloads import CORE_PHASES, ERROR_CLASSES

    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = {m["name"] for m in spec["per_layer"]}
    assert {f"core.{p}.self_ms_per_1k" for p in CORE_PHASES} <= names
    assert {f"kernel.errors.{c}" for c in ERROR_CLASSES} <= names
    assert {m["name"] for m in spec["end_to_end"]} == {
        "docs_per_s",
        "rerun_s",
        "worker_peak_rss_mb",
        "setup_s",
    }


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [
            sys.executable, "benchmark/run.py", "--workload", workload,
            "--seed", "1", "--seconds", "1", "--trace", str(trace), "--size", "tiny",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.slow
@pytest.mark.parametrize("workload,trace", [("crawl-warc", 1), ("text-pairs", 0)])
def test_tiny_smoke_run(workload, trace):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    res = _run(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert [m["name"] for m in wanted] == list(res["metrics"])
    for m in wanted:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
