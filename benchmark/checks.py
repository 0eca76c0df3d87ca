"""Correctness checks, run outside every timed region.

Each check returns a list of problems; an empty list means the output
is correct.  A non-empty list counts the checked operation as failed.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# crawl-warc: extracted rows against the sequential kernel

ROW_COLUMNS = [
    "url",
    "extracted_text",
    "spans",
    "template_name",
    "complete",
    "errors",
    "fields_json",
]


def row_digest(row: dict) -> str:
    """md5 of the canonical form of one extraction result row."""
    from doc_ocr_spark.golden import _canon

    return hashlib.md5(_canon(row).encode("utf-8")).hexdigest()


def read_output_rows(output: str) -> list[dict]:
    """Every data row of a job output directory, with its part_bucket."""
    dataset = ds.dataset(
        output,
        format="parquet",
        partitioning="hive",
        exclude_invalid_files=True,
        ignore_prefixes=["_", "."],
    )
    return dataset.to_table(columns=ROW_COLUMNS + ["part_bucket"]).to_pylist()


def read_lineage(output: str) -> list[dict]:
    path = os.path.join(output, "_lineage")
    if not os.path.isdir(path):
        return []
    return pq.read_table(path).to_pylist()


def check_extraction(output: str, golden: dict[str, str]) -> list[str]:
    """The job output holds every generated url exactly once, each row
    byte-identical to the sequential kernel's, every bucket once, and a
    lineage that covers every bucket with its true row count."""
    rows = read_output_rows(output)
    problems: list[str] = []
    seen: dict[str, int] = {}
    per_bucket: dict[int, int] = {}
    for r in rows:
        seen[r["url"]] = seen.get(r["url"], 0) + 1
        per_bucket[r["part_bucket"]] = per_bucket.get(r["part_bucket"], 0) + 1
    dup = sorted(u for u, n in seen.items() if n > 1)
    missing = sorted(set(golden) - set(seen))
    extra = sorted(set(seen) - set(golden))
    if dup:
        problems.append(f"{len(dup)} urls duplicated, e.g. {dup[0]}")
    if missing:
        problems.append(f"{len(missing)} urls missing, e.g. {missing[0]}")
    if extra:
        problems.append(f"{len(extra)} unexpected urls, e.g. {extra[0]}")
    differ = [
        r["url"]
        for r in rows
        if r["url"] in golden and row_digest(r) != golden[r["url"]]
    ]
    if differ:
        problems.append(f"{len(differ)} rows differ from the kernel, e.g. {differ[0]}")
    lineage = read_lineage(output)
    lin_buckets: dict[int, int] = {}
    for r in lineage:
        b = r["part_bucket"]
        if b in lin_buckets:
            problems.append(f"bucket {b} committed twice in the lineage")
        lin_buckets[b] = r["doc_count"]
    if set(lin_buckets) != set(per_bucket):
        problems.append(
            f"lineage buckets {sorted(set(lin_buckets) ^ set(per_bucket))[:5]} "
            "disagree with the data buckets"
        )
    wrong = [b for b in per_bucket if lin_buckets.get(b, per_bucket[b]) != per_bucket[b]]
    if wrong:
        problems.append(f"lineage doc_count wrong for buckets {sorted(wrong)[:5]}")
    return problems


def drop_lineage(output: str) -> int:
    """Simulate a crash after the data commit: forget the lineage rows
    of every bucket with ``part_bucket % 4 == 3``.  Returns how many
    lineage rows were dropped."""
    path = os.path.join(output, "_lineage")
    table = pq.read_table(path)
    keep = table.filter(
        pc.not_equal(pc.bit_wise_and(table["part_bucket"], 3), 3)
    )
    for name in os.listdir(path):
        full = os.path.join(path, name)
        if os.path.isfile(full):
            os.remove(full)
    pq.write_table(keep, os.path.join(path, "part-00000-crash.parquet"))
    return table.num_rows - keep.num_rows


def error_class_counts(output: str) -> dict[str, int]:
    """Count of each error class (the part before ':') in a job output."""
    counts: dict[str, int] = {}
    for r in read_output_rows(output):
        for e in r["errors"] or []:
            cls = e.split(":", 1)[0]
            counts[cls] = counts.get(cls, 0) + 1
    return counts


# ---------------------------------------------------------------------------
# text-pairs: query rows against the DuckDB oracle, in the canonical form
# of the oracle parity tests (tests/test_entry_parity.py)


def _canon_value(v) -> str:
    if isinstance(v, (list, tuple, dict, set, np.ndarray, bytearray)):
        raise TypeError(f"non-scalar cell {type(v).__name__}")
    if v is None or v is pd.NaT:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "b:" + str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "null" if math.isnan(f) else f"f:{f!r}"
    if isinstance(v, (int, np.integer)):
        return f"i:{int(v)}"
    if isinstance(v, pd.Timestamp):
        return f"t:{v.isoformat()}"
    if isinstance(v, bytes):
        return f"y:{v.hex()}"
    return f"{type(v).__name__[0]}:{v}"


def canon_frame(pdf: pd.DataFrame) -> dict:
    """Order-insensitive canonical form of a result frame: sorted
    column names and the sorted list of row strings."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = sorted(
        "|".join(_canon_value(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    return {"columns": list(pdf.columns), "rows": rows}


def check_query(got: dict, want: dict) -> list[str]:
    """Compare two canonical frames; lists what differs."""
    if got["columns"] != want["columns"]:
        return [f"columns {got['columns']} != oracle {want['columns']}"]
    problems = []
    if len(got["rows"]) != len(want["rows"]):
        problems.append(f"{len(got['rows'])} rows != oracle {len(want['rows'])}")
    extra = Counter(got["rows"]) - Counter(want["rows"])
    if extra:
        problems.append(
            f"{sum(extra.values())} rows not in the oracle, e.g. {next(iter(extra))}"
        )
    return problems
