"""Seeded inputs, golden digests and oracle results for the workloads.

Everything here is a pure function of (workload, seed, size) and of the
program sources.  ``ensure`` builds a missing input set in a child
process (``python3 -m benchmark.inputs``) that has exited, and syncs
the page cache, before any clock starts; later runs with the same seed
reuse the cached set.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SIZES = {
    "crawl-warc": {
        "full": {"docs": 3000, "files": 16, "giants": 2, "small_docs": 48, "small_files": 4},
        "tiny": {"docs": 160, "files": 4, "giants": 1, "small_docs": 24, "small_files": 2},
    },
    "text-pairs": {
        "full": {"docs": 5000, "vectors": 2000, "small_docs": 100, "small_vectors": 40},
        "tiny": {"docs": 300, "vectors": 120, "small_docs": 60, "small_vectors": 40},
    },
}

# the text-pairs operators, in pass order: the three that read a staged
# intermediate (minhash pairs, IVF centroids, curation signals)
QUERIES = ("dedup_clusters", "ann_nn_within_bucket", "corpus_curation")

# html repeat count that takes a giant-blob page above job.GIANT_HTML_BYTES
_GIANT_REPEAT = 800


def source_digest() -> str:
    """md5 over the program sources (the package and the entry module)."""
    h = hashlib.md5()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, names in os.walk(os.path.join(ROOT, "doc_ocr_spark")):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def input_dir(work: str, workload: str, seed: int, size: str) -> str:
    key = hashlib.md5(
        json.dumps([SIZES[workload][size], QUERIES, source_digest()]).encode()
    ).hexdigest()[:10]
    return os.path.join(work, "inputs", f"{workload}-{size}-s{seed}-{key}")


def ensure(work: str, workload: str, seed: int, size: str) -> str:
    """The input set's directory, built first in a child process if absent."""
    out = input_dir(work, workload, seed, size)
    if not os.path.exists(os.path.join(out, "meta.json")):
        subprocess.run(
            [sys.executable, "-m", "benchmark.inputs", workload, str(seed), size, out],
            cwd=ROOT,
            check=True,
        )
        os.sync()
    return out


# ---------------------------------------------------------------------------
# crawl-warc


def crawl_pages(seed: int, start: int, n: int, giants: int) -> list[dict]:
    """datagen pages ``start .. start+n``; the first ``giants`` pages of
    the giant-blob family are grown above job.GIANT_HTML_BYTES."""
    from doc_ocr_spark.datagen import _FAMILY_WHEEL, make_page
    from doc_ocr_spark.job import GIANT_HTML_BYTES

    pages = []
    for seq in range(start, start + n):
        grow = giants > 0 and _FAMILY_WHEEL[seq % len(_FAMILY_WHEEL)] == "giantblob"
        if grow:
            giants -= 1
            repeat = _GIANT_REPEAT
            page = make_page(seq, seed=seed, giant_repeat=repeat)
            while len(page["html"]) <= GIANT_HTML_BYTES:
                repeat += repeat // 4
                page = make_page(seq, seed=seed, giant_repeat=repeat)
        else:
            page = make_page(seq, seed=seed)
        pages.append(page)
    return pages


def _digests(pages: list[dict]) -> list[str]:
    from benchmark.checks import row_digest
    from doc_ocr_spark.core.extractor import extract_document

    out = []
    for p in pages:
        res = extract_document(p["url"], p["html"])
        row = {
            "url": res.url,
            "extracted_text": res.extracted_text,
            "spans": [{"field": f, "start": s, "end": e} for (f, s, e) in res.spans],
            "template_name": res.template_name,
            "complete": res.complete,
            "errors": res.errors,
            "fields_json": res.fields_json,
        }
        out.append(row_digest(row))
    return out


def golden_digests(pages: list[dict]) -> dict[str, str]:
    """{url: digest of the sequential kernel's row}, computed over all cores."""
    import multiprocessing

    cpus = os.cpu_count() or 1
    chunks = [pages[i::cpus] for i in range(cpus)]
    with multiprocessing.get_context("spawn").Pool(cpus) as pool:
        parts = pool.map(_digests, chunks)
    out: dict[str, str] = {}
    for chunk, digests in zip(chunks, parts):
        out.update({p["url"]: d for p, d in zip(chunk, digests)})
    return out


def build_crawl(seed: int, size: str, out: str) -> dict:
    from doc_ocr_spark.sources.warc import write_warc_files

    p = SIZES["crawl-warc"][size]
    pages = crawl_pages(seed, 0, p["docs"], p["giants"])
    small = crawl_pages(seed, p["docs"], p["small_docs"], 0)
    files = write_warc_files(pages, os.path.join(out, "warc"), n_files=p["files"])
    write_warc_files(small, os.path.join(out, "small"), n_files=p["small_files"])
    with open(os.path.join(out, "golden.json"), "w") as f:
        json.dump(golden_digests(pages), f)
    return {
        "docs": len(pages),
        "html_bytes": sum(len(pg["html"]) for pg in pages),
        "warc_bytes": sum(os.path.getsize(f) for f in files),
        "files": len(files),
        "giants": sum(1 for pg in pages if len(pg["html"]) > 1 << 20),
        "pdftok_docs": sum(1 for pg in pages if pg["html"].startswith(b"PDFTOK\n")),
    }


# ---------------------------------------------------------------------------
# text-pairs: documents / embeddings tables shaped like the sf0.1 set

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "en", "en", "en", "de", "de", "es", "es", "fr", "fr", "zh", "zh")
_DIM = 64
_CLUSTERS = 10


def _text(r: random.Random, lo: int = 44, hi: int = 577) -> str:
    target = int(r.triangular(lo, hi, (lo + hi) / 2))
    words: list[str] = []
    n = -1
    while True:
        w = r.choice(_VOCAB)
        if n + 1 + len(w) > target and n >= lo:
            return " ".join(words)
        words.append(w)
        n += 1 + len(w)


def documents_table(seed: int, n: int) -> pa.Table:
    """Documents over 20 sources and 5 languages.  In every block of 20,
    the last document is a near-copy (one word replaced) of the first,
    and every 200th document an exact copy of its block's second: the
    duplicate structure is the same for every seed, only the text is
    seeded."""
    r = random.Random(seed * 7919 + 1)
    texts: list[str] = []
    for i in range(n):
        if i % 200 == 198:
            t = texts[i - 197]
        elif i % 20 == 19:
            words = texts[i - 19].split(" ")
            words[r.randrange(len(words))] = r.choice(_VOCAB)
            t = " ".join(words)
        else:
            t = _text(r)
        texts.append(t)
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([r.choice(_LANGS) for _ in range(n)], pa.string()),
            "source": pa.array([f"src{r.randrange(20)}" for _ in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n: int) -> pa.Table:
    """Unit vectors around 10 weak centroids; cluster sizes follow a
    fixed Zipf split (the same for every seed), membership is seeded."""
    g = np.random.default_rng(seed * 7919 + 2)
    weights = 1.0 / np.arange(1, _CLUSTERS + 1)
    sizes = np.floor(n * weights / weights.sum()).astype(int)
    sizes[0] += n - sizes.sum()
    labels = g.permutation(np.repeat(np.arange(_CLUSTERS), sizes))
    cents = g.standard_normal((_CLUSTERS, _DIM))
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    vecs = 0.2 * cents[labels] + g.standard_normal((n, _DIM)) / np.sqrt(_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * _DIM + 1, _DIM), pa.int32()), flat
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(seed: int, docs: int, vectors: int, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    pq.write_table(documents_table(seed, docs), os.path.join(out, "documents.parquet"))
    pq.write_table(embeddings_table(seed, vectors), os.path.join(out, "embeddings.parquet"))


def query_oracles() -> dict[str, str]:
    """The oracle SQL of the modules that define QUERIES.

    ``oracle_sql()`` also computes the oracles of every other module
    (seconds of image and extraction work unused here); it is the
    fallback when a module does not expose its own ``ORACLES``.
    """
    import importlib

    import __spark_entry__ as entry

    registry = entry.queries()
    out: dict[str, str] = {}
    for mod in {getattr(registry[q], "__module__", None) for q in QUERIES}:
        src = getattr(importlib.import_module(mod), "ORACLES", None) if mod else None
        if src is None:
            return entry.oracle_sql()
        out.update(src() if callable(src) else src)
    return out if all(q in out for q in QUERIES) else entry.oracle_sql()


def oracle_results(tables: str) -> dict:
    """Each query's oracle_sql() run in DuckDB, in canonical form.

    An oracle whose text is embedded whole in one of these (the minhash
    pairs inside the clusters' recursive CTE, which DuckDB would
    re-evaluate on every recursion step) is computed once into a temp
    table that the embedding oracle reads instead; results are the same.
    """
    import duckdb

    from benchmark.checks import canon_frame

    every = query_oracles()
    oracles = {q: every[q] for q in QUERIES}
    con = duckdb.connect()
    con.sql(f"SET temp_directory = '{os.path.join(os.path.dirname(tables), 'duckdb-tmp')}'")
    for t in ("documents", "embeddings"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(tables, t + '.parquet')}')"
        )
    for name, sql in every.items():
        text = sql.strip()
        users = [q for q in QUERIES if q != name and text in oracles[q]]
        if users:
            con.sql(f"CREATE TEMP TABLE oracle_{name} AS {text}")
            for q in users:
                oracles[q] = oracles[q].replace(text, f"SELECT * FROM oracle_{name}")
    return {q: canon_frame(con.sql(oracles[q]).df()) for q in QUERIES}


def build_text(seed: int, size: str, out: str) -> dict:
    p = SIZES["text-pairs"][size]
    write_tables(seed, p["docs"], p["vectors"], os.path.join(out, "tables"))
    write_tables(seed + 1, p["small_docs"], p["small_vectors"], os.path.join(out, "small"))
    with open(os.path.join(out, "oracle.json"), "w") as f:
        json.dump(oracle_results(os.path.join(out, "tables")), f)
    return {"docs": p["docs"], "vectors": p["vectors"]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload", choices=sorted(SIZES))
    ap.add_argument("seed", type=int)
    ap.add_argument("size", choices=["full", "tiny"])
    ap.add_argument("out")
    a = ap.parse_args()
    tmp = a.out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build = build_crawl if a.workload == "crawl-warc" else build_text
    meta = build(a.seed, a.size, tmp)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(a.out, ignore_errors=True)
    os.rename(tmp, a.out)


if __name__ == "__main__":
    main()
