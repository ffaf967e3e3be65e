"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the CPUs this
process may run on) and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The extraction corpus (interleaved text+media spans, BASELINE.json input
shape) is synthesized deterministically from seed 42 — sized by sf — and
cached under /tmp so repeated runs measure compute, not corpus generation.

The extraction job's own benchmark, end to end and per layer, is
``perfbench/run.py``.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

# extraction corpus size by sf tier (docs, mega_docs, mega_tables) — sized
# so steady-state kernel work dominates scheduler + Python-worker overheads
# (sf0.1 ≈ 50 s of single-thread parse work)
CORPUS_BY_SF = {
    "0.001": (600, 1, 200),
    "0.01": (8000, 1, 800),
    "0.1": (96000, 4, 2000),
}

HEADLINE = [
    "x_cells",
    "x_header_rows",
    "q1_pricing",
    "q3_shipping",
    "q_top_customers_window",
    "q_events_hourly",
    "q_asof_join",
    "q_sessionize",
    "dd_lsh_pairs",
    "dd_jaccard",
    "dd_simhash",
    "dd_embed_cosine",
    "tx_stats",
    "ann_topk",
    "ann_ivf",
]


def _sf_of(sf_dir: str) -> str:
    base = os.path.basename(sf_dir.rstrip("/"))
    return base[2:] if base.startswith("sf") else base


def _sf_num(sf: str):
    try:
        return float(sf)
    except ValueError:
        return sf  # non-numeric tier names stay strings in the JSON


def corpus_path(sf: str) -> str:
    n_docs, mega, mega_tables = CORPUS_BY_SF.get(sf, CORPUS_BY_SF["0.01"])
    # 256 shards (path-versioned): file count bounds scan parallelism, and
    # at 64 shards a 32-core run did the pass-1 stage in TWO waves — any
    # task-duration variance idled cores for up to half the stage (measured
    # par_eff 0.83). At fleet scale the corpus is inherently many-filed; a
    # benchmark corpus that under-shards would measure the file layout, not
    # the engine.
    n_shards = 256
    path = (
        f"/tmp/spark_graft_bench/corpus_sf{sf}_{n_docs}_{mega}x{mega_tables}"
        f"_s{n_shards}"
    )
    if not os.path.exists(path):
        from html_table_spark.corpus import synthesize_documents, write_corpus_dir

        rows = synthesize_documents(
            n_docs=n_docs, seed=42, mega_docs=mega, mega_tables=mega_tables
        )
        write_corpus_dir(rows, path, n_shards=n_shards)
    return path


def run_extraction_bench(spark, sf: str) -> dict:
    """Steady-state throughput: warm-up runs warm the Python worker pool
    (one pandas import per worker otherwise dominates a small-corpus
    measurement — a one-time per-executor cost that is noise at fleet
    scale), then the best of three runs is timed."""
    from html_table_spark.config import ParserConfig
    from html_table_spark.plans.pipeline import run_extraction_concurrent
    from html_table_spark.sources.documents import read_documents

    path = corpus_path(sf)
    docs = read_documents(spark, path)
    n_docs = docs.count()
    config = ParserConfig().all_tables()

    def extract_once() -> int:
        # the production shape (run_job): the one extraction pass, every
        # document parsed whole
        return run_extraction_concurrent(
            docs,
            config,
            leg_action=lambda _name, df: df.filter("table_idx >= 0").count(),
        )["normal"]

    # Warm until the run wall plateaus, not a fixed once: C2 compile time
    # is WALL-time bound, so after one warm run a short job is still
    # JIT-compiling through its timed runs while a long one is plateaued
    # (observed local[32] iteration walls: 13.0, 6.7, 5.4, then flat). Stop
    # when a run improves <10% over the previous one (or at a 30 s budget);
    # the job is then timed at steady state, which is the regime a
    # fleet-scale hours-long job lives in.
    budget = time.monotonic() + 30.0
    prev = float("inf")
    while True:
        t0 = time.monotonic()
        extract_once()
        w = time.monotonic() - t0
        if w > prev * 0.9 or time.monotonic() > budget:
            break
        prev = w
    # best-of-3 damps scheduler + sandbox noise (observed ±20% wall jitter)
    wall = float("inf")
    for _ in range(3):
        spark.catalog.clearCache()
        started = time.monotonic()
        n_tables = extract_once()
        wall = min(wall, time.monotonic() - started)
    return {
        "docs": n_docs,
        "tables": n_tables,
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(n_docs / wall, 1),
        "tables_per_sec": round(n_tables / wall, 1),
    }


def _get_spark(cores: int):
    from html_table_spark.session import get_spark

    return get_spark("bench", master=f"local[{cores}]")


def _box_quality_probe(window_s: float = 1.5) -> dict:
    """Window-quality marker for the bench JSON (round-4 VERDICT item 5):
    this box's walls are bimodal (±40% under snapshot/background
    interference), so every driver-recorded bench carries the evidence a
    future reader needs to attribute a regression to window noise —
    a single-core numpy memcpy bandwidth sample (GB/s; drops when the
    shared DRAM bus is contended) plus the /proc/stat busy fraction over
    the same window. Quiet window on this box: ~23-25 GB/s single-core,
    busy < 0.1. Costs ~2 s, runs outside any Spark timing."""
    import numpy as np

    n = 32 * 1024 * 1024 // 8  # 32 MiB per array, far beyond one L3 slice
    src = np.random.default_rng(0).random(n)
    dst = np.empty_like(src)

    def busy_snap() -> tuple[int, int]:
        with open("/proc/stat") as fh:
            parts = [int(x) for x in fh.readline().split()[1:]]
        return sum(parts), parts[3] + parts[4]

    np.copyto(dst, src)  # warm the buffers
    t0, i0 = busy_snap()
    start = time.monotonic()
    reps = 0
    while time.monotonic() - start < window_s:
        np.copyto(dst, src)
        reps += 1
    wall = time.monotonic() - start
    t1, i1 = busy_snap()
    gbps = reps * 2 * n * 8 / wall / 1e9  # read + write per element
    total = t1 - t0
    busy = 1.0 - (i1 - i0) / total if total > 0 else 0.0
    return {"membw_1core_gbps": round(gbps, 2), "cpu_busy": round(busy, 3)}


def main_bench() -> None:
    sf = _sf_of(SF_DIR)
    probe_pre = _box_quality_probe()
    spark = _get_spark(CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qfns = entrymod.queries()
    timings: dict[str, float] = {}
    # extraction pipeline first (the flagship metric)
    extraction = run_extraction_bench(spark, sf)
    timings["extraction_pipeline"] = extraction["wall_sec"]
    for name in HEADLINE:
        fn = qfns[name]
        # best-of-3: the sandbox shows ±40% wall jitter under background
        # load, and single spikes hit DIFFERENT queries each run (observed
        # dd_lsh_pairs 1.1s→5.6s on identical code); min-of-three is a far
        # better steady-state estimator and every run still rebuilds the
        # whole plan (no cross-run caching — per-query caches are dropped
        # between runs)
        best = float("inf")
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            df = fn(spark, SF_DIR)
            # noop sink materializes EVERY output column — a count() would
            # let Catalyst prune deterministic projections and time a
            # metadata-only scan for pure-map queries
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.monotonic() - t0)
        timings[name] = round(best, 3)
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": _sf_num(sf),
                "extraction": extraction,
                "cores": CPUS,
                # window-quality markers: pre = before the Spark session,
                # post = after the last timed query. A regression in this
                # file with membw well below ~20 GB/s or busy >> 0.1 on
                # either probe is box-window noise, not a code delta
                # (see BENCH/BASELINE.md bimodal-box notes).
                "box_quality": {
                    "pre": probe_pre,
                    "post": _box_quality_probe(),
                },
                # timing policy version, so rounds compare like-for-like:
                # v2 = best-of-3 wall per headline query (since r02 commit
                # b9de3c2); v1 (r01) was single-shot. Bump on any change.
                "policy": "best-of-3-v2",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main_bench()
