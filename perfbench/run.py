"""End-to-end benchmark of the table-extraction job.

    python3 perfbench/run.py --workload {bulk,skew} --seed N \
        --seconds S --trace {0,1}

Runs from the root of a source checkout, on ``local[<cores>]`` with cores
taken from the process's CPU affinity (what ``nproc`` prints). The loop is
closed: one extraction job at a time, with this process as the only load
generator. Everything it writes goes under ``.bench_cache/`` in the checkout.

Set-up is session start plus a fixed warm-up, one job over a few small
documents of the corpus. It runs ``SETUPS`` times, stopping the session between them;
``setup_s`` is the median, where the first is counted from process start and
the others from the stop of the previous session. Corpus generation comes
before it and is not counted.

Untraced (``--trace 0``): timed jobs back to back for ``--seconds``, and at
least ``MIN_JOBS`` of them. The
action on each leg collects one small key per output row (see check.py);
after the clock stops, every document's rows are compared with the expected
rows (see corpus.py), so each timed job is checked. Prints the end-to-end
metrics
(medians over the timed jobs) and, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

Traced (``--trace 1``): one set-up, then each layer is timed on its own
from the benchmark's side (see layers.py), and the per-layer metrics are
printed the same way. That includes the production write path,
``run_job(resume=True)`` into a ``SnapshotSink`` that already holds three
quarters of the corpus. The spans are written to ``.bench_cache/``.

Workloads (the corpus comes from corpus.py and the seed), each through
``run_extraction_concurrent``:

- ``bulk``: the sf0.1 bench-corpus mix; the Python kernel is the largest
  share of the wall.
- ``skew``: a few normal documents and many mega documents; the mega leg
  (discovery, boundary-scan chunking, the chunk shuffle and pass 2) is most
  of the wall.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache")
WORKLOADS = ("bulk", "skew")
SETUPS = 3
# the first timed job after set-up runs slower than the rest; with three or
# more, the median leaves it out
MIN_JOBS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def units(section: str) -> dict[str, str]:
    """Metric name -> unit, from BENCHMARK.json's ``section``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _environment(cores: int) -> None:
    """Point Spark, the JVM and Python's temp files into the checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(CACHE, sub), exist_ok=True)
    tmp = os.path.join(CACHE, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["SPARK_CONF_DIR"] = os.path.join(HERE, "conf")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"


def say(line: str) -> None:
    print(line, flush=True)


class Job:
    """One workload's extraction job over a prepared corpus, in one session.
    Sinks go under ``sinks``."""

    def __init__(self, spark, workload: str, prep: dict, sinks: str):
        from html_table_spark.config import ParserConfig
        from html_table_spark.sources.documents import read_documents

        self.spark = spark
        self.workload = workload
        self.prep = prep
        self.config = ParserConfig().all_tables()
        self.docs = read_documents(spark, prep["corpus"])
        self.warm_docs = read_documents(spark, prep["warm_corpus"])
        self.expected = prep["expected"]
        self.n_docs = len(self.expected)
        self.n_tables = sum(1 for rows in self.expected.values() for r in rows if r[1] >= 0)
        self.sinks = sinks
        self.base_commits = None

    def commit_base(self) -> None:
        """The resume path's starting state: the committed share of the
        corpus, written and committed by the program into a base sink whose
        ``_commits/`` each ``fresh_sink`` copies (manifests hold absolute
        data paths)."""
        from html_table_spark.plans.pipeline import run_job
        from html_table_spark.sources.documents import read_documents
        from html_table_spark.sources.sinks import SnapshotSink

        base = SnapshotSink(os.path.join(self.sinks, "base"))
        done = read_documents(self.spark, self.prep["committed_corpus"])
        run_job(self.spark, done, base, self.config, resume=False)
        self.base_commits = os.path.join(base.root, "_commits")

    def fresh_sink(self):
        from html_table_spark.sources.sinks import SnapshotSink

        root = os.path.join(self.sinks, uuid.uuid4().hex[:12])
        if self.base_commits:
            shutil.copytree(self.base_commits, os.path.join(root, "_commits"))
        return SnapshotSink(root)

    def run(self, docs=None, leg_action=None):
        """One job over ``docs`` (default: the corpus). ``leg_action(name,
        df)`` is the action on each leg; by default ``check.row_keys``,
        which collects one small key per output row."""
        import check
        from html_table_spark.plans.pipeline import run_extraction_concurrent

        out = run_extraction_concurrent(
            self.docs if docs is None else docs, self.config, leg_action=leg_action or check.row_keys_leg
        )
        return [k for v in out.values() if v is not None for k in v]

    def committed_rows(self, manifest):
        from html_table_spark.sources.documents import EXTRACTED_SCHEMA

        return (
            self.spark.read.schema(EXTRACTED_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(manifest["data_path"])
        )

    def timed(self, rss=None) -> tuple[float, int | None, dict]:
        """Run one job under the clock; return its wall seconds, the peak
        tree RSS in bytes when ``rss`` samples it, and the check of its rows
        (``check.compare``), made after the clock stops."""
        import check

        if rss is not None:
            rss.open()
        start = time.perf_counter()
        keys = self.run()
        wall = time.perf_counter() - start
        peak = rss.close() if rss is not None else None
        return wall, peak, check.compare(self.expected, keys)

    def warm_up(self) -> None:
        """The set-up's fixed warm-up: one job, as timed, over the warm-up
        sample of the corpus."""
        self.run(self.warm_docs)


def set_up(args, prep: dict, cores: int, sinks: str, gen_s: float, n: int):
    """``n`` set-ups, each a session start and the warm-up; returns the last
    session's job, the set-up times and the first session's start time.
    Corpus generation (``gen_s``) is not counted."""
    from html_table_spark.session import get_spark

    setups, job, first_session_s = [], None, None
    for k in range(n):
        start = time.monotonic()
        if job is not None:
            job.spark.stop()
        session_start = time.monotonic()
        spark = get_spark("perfbench", master=f"local[{cores}]")
        if first_session_s is None:
            first_session_s = time.monotonic() - session_start
        job = Job(spark, args.workload, prep, sinks)
        job.warm_up()
        # the first set-up runs from process start
        setups.append(time.monotonic() - (PROCESS_START + gen_s if k == 0 else start))
    return job, setups, first_session_s


def run_untraced(job: Job, args, setup_s: float, pinned_ok: bool) -> dict:
    import check
    from rss import PeakRss

    walls, peaks, checks = [], [], []
    with PeakRss() as rss:
        stop_at = time.monotonic() + args.seconds
        while len(walls) < MIN_JOBS or time.monotonic() < stop_at:
            wall, peak, checked = job.timed(rss)
            walls.append(wall)
            peaks.append(peak / 2**20)
            checks.append(checked)
    say(check.describe(checks[0]))
    attempted = sum(c["attempted"] for c in checks)
    failed = sum(c["failed"] for c in checks)
    say(f"workload={job.workload} seed={args.seed} cores={job.spark.sparkContext.defaultParallelism} "
        f"docs={job.n_docs} tables={job.n_tables} jobs={len(walls)} "
        f"walls_s={[round(w, 3) for w in walls]} peaks_mb={[round(p) for p in peaks]}")
    values = {
        "docs_per_s": statistics.median((c["attempted"] - c["failed"]) / w for c, w in zip(checks, walls)),
        "tables_per_s": statistics.median(c["tables"] / w for c, w in zip(checks, walls)),
        "setup_s": setup_s,
        "peak_rss_mb": statistics.median(peaks),
    }
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in units("end_to_end").items()}
    for name, m in metrics.items():
        say(f"{job.workload} {name} = {m['value']:.4f} {m['unit']}")
    say(f"{job.workload} failed_share = {failed / attempted:.6f} ({failed}/{attempted} docs)")
    return {"correct": pinned_ok and failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    # a termination signal unwinds like an error, so the JVM is still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import html_table_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    _environment(cores)

    import check
    import corpus

    gen_start = time.monotonic()
    prep = corpus.prepare(CACHE, args.workload, args.seed)
    gen_s = time.monotonic() - gen_start
    reference = corpus.pinned_digest(args.workload, args.seed)
    kernel_digest = check.digest(k for rows in prep["expected"].values() for k in rows)
    say(f"expected rows: digest {kernel_digest}, pinned {reference or 'none for this seed'}; "
        f"corpus generation {gen_s:.2f} s, not counted in setup_s")

    job = None
    sinks = os.path.join(CACHE, "sinks", uuid.uuid4().hex[:12])
    try:
        job, setups, session_s = set_up(args, prep, cores, sinks, gen_s, 1 if args.trace else SETUPS)
        setup_s = statistics.median(setups)
        say(f"setup: median {setup_s:.2f} s of {[round(s, 2) for s in setups]}; first session start {session_s:.2f} s")
        pinned_ok = reference is None or reference == kernel_digest
        if not pinned_ok:
            say("check: the kernel's rows differ from the pinned reference")
        if args.trace:
            import layers

            out = layers.run_traced(job, args, session_s, CACHE, pinned_ok, units("per_layer"))
        else:
            out = run_untraced(job, args, setup_s, pinned_ok)
    finally:
        if job is not None:
            job.spark.stop()
        stop_processes()
        shutil.rmtree(sinks, ignore_errors=True)
    print(json.dumps(out), flush=True)
    return 0


def stop_processes(grace: float = 10.0) -> None:
    """End the JVM the session launched and wait until every process this
    one started (the JVM, its Python workers) has ended; workers still
    running after ``grace`` seconds are killed."""
    from pyspark import SparkContext
    from rss import alive, descendants

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + grace
    while any(alive(p) for p in started):
        if time.monotonic() > deadline:
            for pid in filter(alive, started):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
