"""Seeded corpora for the benchmark, with the rows each must produce.

The documents come from the program's own bench-corpus generator
(``synthesize_documents``, written as 32 shards by ``write_corpus_dir``), so
the same (workload, seed) gives byte-identical files.

The expected rows come from the Spark-free kernel: each document's HTML,
reassembled by ``doc_spans_to_html``, through ``parse_document`` and
``encode_table_spans``; a document without tables expects one completion
marker (``table_idx = -1``). Against them the check sees what the
distributed job loses or adds: a document missing, duplicated, misrouted or
mis-chunked. ``reference.json`` pins the digest of these rows for a range of
seeds, so a change to the kernel's output also fails the check there.

    python3 perfbench/corpus.py --pin 0-31   # rewrite reference.json
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REFERENCE = os.path.join(HERE, "reference.json")

# Workload shapes, in synthesize_documents' terms. `bulk` is the sf0.1
# bench-corpus mix (1-4 tables per document, 3% junk, 25% media documents,
# a mega tail of a few percent of the tables), cut down so that a run holds
# two or more jobs; `skew` puts most of the tables in mega documents of
# 2,000 tables. perfbench/BASELINE.md records the kernel share and leg
# split measured at these sizes.
SHAPES = {
    "bulk": {"docs": 5000, "mega_docs": 4, "mega_tables": 300},
    "skew": {"docs": 400, "mega_docs": 6, "mega_tables": 2000},
}
# the set-up's warm-up job runs over the first WARM_DOCS normal documents:
# enough to start the session's Python workers, small enough that the three
# set-ups of a run stay cheap
WARM_DOCS = 16
CORPUS_VERSION = 7
NUL = "\x00"


def documents(workload: str, seed: int, shape: dict | None = None) -> list[dict]:
    from html_table_spark.corpus import synthesize_documents

    shape = shape or SHAPES[workload]
    return synthesize_documents(
        shape["docs"], seed=seed, mega_docs=shape["mega_docs"], mega_tables=shape["mega_tables"]
    )


def spans_sha(spans: list[dict]) -> str:
    """SHA-256 of the canonical span string; the check builds the same
    string inside Spark (see check.spans_sha_col)."""
    text = "\x1e".join(
        f"{s['kind']}\x1f{NUL if s['text'] is None else s['text']}"
        f"\x1f{NUL if s['media_ref'] is None else s['media_ref']}\x1f{s['offset']}"
        for s in spans
    )
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def expected_keys(rows: list[dict]) -> dict[str, list[tuple]]:
    """doc_id -> sorted row keys (doc_id, table_idx, status, n_rows,
    n_cells, spans_sha), the form the correctness check compares. Runs on
    one process per core; each document's keys depend on it alone."""
    from concurrent.futures import ProcessPoolExecutor

    workers = min(len(os.sched_getaffinity(0)), 8)
    with ProcessPoolExecutor(workers) as pool:
        parts = list(pool.map(_expected_keys, [rows[i::workers] for i in range(workers)]))
    out = {}
    for part in parts:
        out.update(part)
    return dict(sorted(out.items()))


def _expected_keys(rows: list[dict]) -> dict[str, list[tuple]]:
    from html_table_spark.config import ParserConfig
    from html_table_spark.semantics import parse_document
    from html_table_spark.spans import doc_spans_to_html, encode_table_spans

    config = ParserConfig().all_tables()
    out = {}
    for doc in rows:
        doc_id = doc["doc_id"]
        tables = parse_document(doc_spans_to_html(doc["spans"]), config)
        keys = [
            (doc_id, t.table_idx, t.status, t.n_rows, t.n_cells, spans_sha(encode_table_spans(t)))
            for t in tables
        ]
        out[doc_id] = sorted(keys or [(doc_id, -1, "ok", 0, 0, spans_sha([]))])
    return out


def committed_ids(doc_ids) -> set[str]:
    """Documents the traced run's resume path finds committed: three
    quarters of the normal documents and half the mega documents, by id."""
    out = set()
    for doc_id in doc_ids:
        h = int(hashlib.sha256(doc_id.encode()).hexdigest()[:8], 16)
        if h % (2 if doc_id.startswith("mega") else 4) != 0:
            out.add(doc_id)
    return out


def pinned_digest(workload: str, seed: int) -> str | None:
    with open(REFERENCE) as fh:
        return json.load(fh).get(workload, {}).get(str(seed))


def prepare(cache_dir: str, workload: str, seed: int, shape: dict | None = None) -> dict:
    """Write (or reuse) the workload's documents and their expected rows
    under ``cache_dir``.

    Returns ``corpus`` (documents directory), ``committed`` (doc ids the
    traced run commits before its resume path) and ``committed_corpus`` (a
    directory of those documents alone), ``warm_corpus`` (the set-up's
    warm-up sample),
    and ``expected`` (doc_id -> expected row keys, every document).
    ``shape`` overrides the workload's ``SHAPES`` entry."""
    from html_table_spark.corpus import write_corpus_dir

    base = os.path.join(cache_dir, f"v{CORPUS_VERSION}-{workload}-{seed}")
    corpus = os.path.join(base, "documents")
    committed_corpus = os.path.join(base, "committed")
    warm_corpus = os.path.join(base, "warm")
    done = os.path.join(base, "expected.json")
    if not os.path.exists(done):
        shutil.rmtree(base, ignore_errors=True)
        rows = documents(workload, seed, shape)
        committed = committed_ids(d["doc_id"] for d in rows)
        write_corpus_dir(rows, corpus)
        write_corpus_dir(rows[:WARM_DOCS], warm_corpus, n_shards=4)
        write_corpus_dir([d for d in rows if d["doc_id"] in committed], committed_corpus)
        with open(done + ".tmp", "w") as fh:
            json.dump(expected_keys(rows), fh)
        os.replace(done + ".tmp", done)
    with open(done) as fh:
        expected = {d: [tuple(k) for k in keys] for d, keys in json.load(fh).items()}
    return {
        "corpus": corpus,
        "committed": committed_ids(expected),
        "committed_corpus": committed_corpus,
        "warm_corpus": warm_corpus,
        "expected": expected,
    }


def _pin(seeds: range) -> None:
    import check

    pins = {}
    for workload in SHAPES:
        pins[workload] = {}
        for seed in seeds:
            keys = expected_keys(documents(workload, seed))
            pins[workload][str(seed)] = check.digest(k for rows in keys.values() for k in rows)
            print(workload, seed, pins[workload][str(seed)], flush=True)
    with open(REFERENCE, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "--pin":
        sys.exit("usage: python3 perfbench/corpus.py --pin FIRST-LAST")
    sys.path.insert(0, os.path.dirname(HERE))
    first, last = sys.argv[2].split("-")
    _pin(range(int(first), int(last) + 1))
