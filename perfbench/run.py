"""Benchmark of the extraction job users run, ``pipeline.run_job``.

    python3 perfbench/run.py --workload cold_extract --seed 1 --seconds 10 --trace 0

Run from the repository root. One invocation runs one workload in its own
Spark session: it generates the seeded pages input, starts the session,
warms the JVM, then repeats the timed ``run_job`` call until ``--seconds``
have passed, checking every repetition's output outside the timed region.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

DOCS_PER_CORE = 10_000  # input pages per Spark thread of the workload
FILES_PER_CORE = 8  # input parquet files per Spark thread
SMALL_SHARE = 8  # the first warm run reads the first 1/SMALL_SHARE of the files
MIN_REPS = 3  # timed repetitions even when --seconds is short
LAYER_REPS = 2  # repetitions of each traced-run probe (median)
KERNEL_SAMPLE = 2000  # input pages the in-process kernel and wrapper probes run
RESUME_DONE_FRAC = 0.9  # share of input urls done in the resume-layer probe

WORKLOADS = {
    # name: Spark threads as a function of nproc
    "cold_extract": lambda n: n,
    "cold_extract_quarter": lambda n: max(1, n // 4),
}

END_TO_END_UNITS = {
    "docs_per_s": "1/s",
    "job_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "results_bytes_per_doc": "B",
}
PER_LAYER_UNITS = {
    "scan.time_s": "s",
    "ladder.scan_s": "s",
    "exchange.shuffle_bytes_per_doc": "B",
    "exchange.shuffle_write_s": "s",
    "ladder.exchange_s": "s",
    "python.eval_s": "s",
    "python.worker_start_s": "s",
    "ladder.arrow_identity_s": "s",
    "wrapper.us_per_doc": "us",
    "kernel.html_us_per_doc": "us",
    "kernel.layout_us_per_doc": "us",
    "kernel.pool_docs_per_s": "1/s",
    "kernel.failed_docs": "count",
    "ladder.extract_plan_s": "s",
    "sinks.results_write_s": "s",
    "sinks.files_written": "count",
    "resume.done_scan_s": "s",
    "resume.antijoin_s": "s",
    "resume.skipped_frac": "frac",
    "lineage.rows_s": "s",
    "lineage.breaker_gate_s": "s",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
    "job.fixed_s": "s",
}


# --- processes and memory -----------------------------------------------------


def jvm_heap() -> str:
    """JVM heap for the box: an eighth of RAM, at most 1 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{min(1024, total_kb // 8192)}m"


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    parent = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    found, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        kids = [p for p, pp in parent.items() if pp == pid]
        found.extend(kids)
        frontier.extend(kids)
    return found


def tree_rss_mb(root: int) -> float:
    """Resident memory of every process below ``root`` (JVM + Python workers).

    Sums each process's proportional share (Pss), so a page that forked
    Python workers share with their daemon counts once, not once per worker."""
    total_kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total_kb += next(int(line.split()[1]) for line in f
                                 if line.startswith("Pss:"))
        except (OSError, StopIteration):  # the process has just exited
            continue
    return total_kb / 1024


class PeakRss:
    """Samples ``tree_rss_mb`` of this process on a thread while active."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self):
        while True:
            self.peak = max(self.peak, tree_rss_mb(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def start_spark(cores: int, work: str):
    """A ``session.build_session`` session at ``local[cores]`` whose files
    stay under ``work`` and whose Python workers can import the package."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    os.environ.update(
        # every JVM, the launcher too: temp files in ``work``, no /tmp/hsperfdata
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_DRIVER_MEM=jvm_heap(),
        SPARK_LOCAL_DIRS=conf["spark.local.dir"],
        PYSPARK_SUBMIT_ARGS=" ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
        ) + " pyspark-shell",
    )
    from ocr_project_spark.session import build_session

    spark = build_session(
        app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=2 * cores
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until its children have exited."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    children = descendants(proc.pid)  # the Python daemon and its workers
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{pid}") for pid in children):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Spark processes {children} did not exit")
        time.sleep(0.05)


def stop_resource_tracker() -> None:
    """End the helper process a spawn-context pool starts, and wait for it."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()


# --- the workload -------------------------------------------------------------


def files_in(path: str) -> dict[str, int]:
    """Parquet part files of a store directory → size in bytes."""
    if not os.path.isdir(path):
        return {}
    return {
        f: os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    }


class Workload:
    def __init__(self, name: str, seed: int, trace: bool, work: str, tracer):
        self.seed, self.trace, self.work = seed, trace, work
        self.tracer = tracer
        self.cores = WORKLOADS[name](len(os.sched_getaffinity(0)))  # nproc
        self.partitions = 2 * self.cores
        self.pages_dir = os.path.join(work, "pages")
        self.store = os.path.join(work, "store")
        self.results = os.path.join(self.store, "results")
        self.lineage = os.path.join(self.store, "lineage")
        self.spark = None

    # set-up ------------------------------------------------------------------

    def setup(self) -> float:
        """Input, session and warm runs; returns ``setup_s``."""
        from perfbench import gen

        span = self.tracer.span
        base = gen.read_base_documents()
        t0 = time.perf_counter()
        with span("setup.generate"):
            plan = gen.make_plan(
                self.seed, base.num_rows, DOCS_PER_CORE * self.cores,
                FILES_PER_CORE * self.cores, RESUME_DONE_FRAC,
            )
            pages = gen.synthesize(gen.planned_documents(base, plan))
            paths = gen.write_pages(pages, plan, self.pages_dir)
        t1 = time.perf_counter()
        self.small_files = paths[: max(1, len(paths) // SMALL_SHARE)]
        self.n_docs = pages.num_rows
        urls = pages.column("url").to_pylist()
        self.expected = dict(zip(urls, pages.column("doc_id").to_pylist()))
        self.done_urls = {urls[i] for i in plan.done}
        self.truth = dict(zip(base.column("doc_id").to_pylist(),
                              base.column("text").to_pylist()))

        t2 = time.perf_counter()
        with span("setup.session"):
            self.spark = start_spark(self.cores, self.work)
        t3 = time.perf_counter()
        with span("setup.warm"):
            # worker start and JIT on a small input, then one full run: the
            # first full-size run after a small one is still slow
            warm_s = [self.job(self.small_files, restore=True),
                      self.job(restore=True)]
        t4 = time.perf_counter()
        print(f"set-up: generate {t1 - t0:.3f} s, session {t3 - t2:.3f} s, "
              f"warm {t4 - t3:.3f} s (warm run_job {warm_s} s)",
              file=sys.stderr)
        return t1 - t0 + t4 - t2

    # one repetition ------------------------------------------------------------

    def restore(self) -> None:
        """Empty the results and lineage stores: a cold start."""
        shutil.rmtree(self.store, ignore_errors=True)

    def job(self, paths: list[str] | None = None, restore: bool = False) -> float:
        """One ``run_job`` call over ``paths`` (default: the whole input)."""
        from ocr_project_spark.pipeline import run_job

        if restore:
            self.restore()
        pages = self.spark.read.parquet(*(paths or [self.pages_dir]))
        t0 = time.perf_counter()
        run_job(self.spark, pages, self.results, self.lineage,
                num_partitions=self.partitions)
        return time.perf_counter() - t0

    def check(self):
        from perfbench import check

        return check.check_run(
            check.read_store(self.results, check.RESULT_COLUMNS),
            check.read_store(self.lineage),
            self.expected, self.truth, run_id=0,
        )

    def measure(self, seconds: float) -> list[dict]:
        """Timed repetitions until ``seconds`` have passed. In a traced run
        every other repetition is traced and collects Spark's SQL metrics."""
        from perfbench import layers

        span = self.tracer.span
        reps: list[dict] = []
        min_reps = MIN_REPS + 1 if self.trace else MIN_REPS  # traced ones too
        t_end = time.perf_counter() + seconds
        while len(reps) < min_reps or time.perf_counter() < t_end:
            traced = self.trace and len(reps) % 2 == 0
            rep: dict = {"traced": traced}
            with span("rep"):
                with span("rep.restore"):
                    self.restore()
                after_id = layers.last_execution_id(self.spark) if traced else None
                with PeakRss() as rss:
                    if traced:
                        with span("job"):
                            rep["job_s"] = self.job()
                    else:
                        rep["job_s"] = self.job()
                rep["peak_rss_mb"] = rss.peak
                if traced:
                    rep["sql"] = layers.sql_metrics_since(self.spark, after_id)
                with span("rep.check"):
                    verdict = self.check()
                added = files_in(self.results)  # the store was empty
            rep.update(
                ok=verdict.ok,
                docs_per_s=verdict.identical / rep["job_s"],
                results_bytes_per_doc=sum(added.values()) / max(verdict.written, 1),
                files_written=len(added),
            )
            for p in verdict.problems:
                print(f"check failed: {p}", file=sys.stderr)
            reps.append(rep)
        return reps

    # traced-run probes -----------------------------------------------------------

    def probe(self, name: str, action) -> float:
        """Median seconds of ``LAYER_REPS`` runs of ``action`` in a span."""
        times = []
        for _ in range(LAYER_REPS):
            with self.tracer.span(name):
                t0 = time.perf_counter()
                action()
                times.append(time.perf_counter() - t0)
        return statistics.median(times)

    def layer_metrics(self, reps: list[dict]) -> dict[str, float]:
        import pyarrow.parquet as pq

        from ocr_project_spark.contract import BACKEND_HTML, BACKEND_LAYOUT
        from ocr_project_spark.operators import lineage as lineage_op
        from ocr_project_spark.operators.resume import completed_urls, resume_filter
        from ocr_project_spark.pipeline import this_run_results
        from perfbench import layers

        spark, span = self.spark, self.tracer.span
        traced = [r for r in reps if r["traced"]]
        sql = {k: statistics.median(r["sql"][k] for r in traced)
               for k in layers.SQL_METRICS}
        print(f"SQL metrics per traced run_job: {sql}", file=sys.stderr)
        m = {
            "scan.time_s": sql["scan time"],
            "exchange.shuffle_bytes_per_doc": sql["shuffle bytes written"] / self.n_docs,
            "exchange.shuffle_write_s": sql["shuffle write time"],
            "python.eval_s": sql["time to run Python workers"],
            "python.worker_start_s": sql["time to start Python workers"]
            + sql["time to initialize Python workers"],
            "sinks.files_written": statistics.median(r["files_written"] for r in reps),
            "trace.job_s": statistics.median(r["job_s"] for r in traced),
        }
        m["trace.overhead_s"] = m["trace.job_s"] - statistics.median(
            r["job_s"] for r in reps if not r["traced"])

        with span("layers"):
            rungs = layers.ladder(spark, self.pages_dir, self.partitions)
            for name, action in rungs.items():
                m[name] = self.probe(name.removesuffix("_s"), action)

            with span("kernel.in_process"):
                batches = layers.read_batches(self.pages_dir, KERNEL_SAMPLE)
                memo, us_per_doc = layers.kernel_in_process(batches)
            m["kernel.html_us_per_doc"] = us_per_doc[BACKEND_HTML]
            m["kernel.layout_us_per_doc"] = us_per_doc[BACKEND_LAYOUT]
            with span("wrapper"):
                m["wrapper.us_per_doc"] = statistics.median(
                    layers.wrapper_us_per_doc(batches, memo) for _ in range(LAYER_REPS))
            with span("kernel.pool"):
                m["kernel.pool_docs_per_s"], m["kernel.failed_docs"] = (
                    layers.pool_ceiling(self.pages_dir, self.cores))

            # sinks and lineage over the stores the last timed run left
            run_id = 0
            written = this_run_results(spark, self.results, run_id).cache()
            written.count()
            sink_dir = os.path.join(self.work, "sink")

            def write_results():
                shutil.rmtree(sink_dir, ignore_errors=True)
                written.write.mode("append").option(
                    "maxRecordsPerFile", 500_000).parquet(sink_dir)

            m["sinks.results_write_s"] = self.probe("sinks.results_write", write_results)
            written.unpersist()
            m["lineage.rows_s"] = self.probe("lineage.rows", lambda: layers.noop(
                lineage_op.lineage_rows(this_run_results(spark, self.results, run_id))))
            m["lineage.breaker_gate_s"] = self.probe(
                "lineage.breaker_gate",
                lambda: lineage_op.circuit_breaker_gate(spark.read.parquet(self.lineage)))

            # the resume layer over a results store holding the seeded done
            # urls, as a daily rerun would find it
            done_store = os.path.join(self.work, "resume", "results")
            layers.write_done_store(self.results, self.done_urls, done_store)
            pages = spark.read.parquet(self.pages_dir)
            done = completed_urls(spark, done_store)
            m["resume.done_scan_s"] = self.probe(
                "resume.done_scan", lambda: layers.noop(completed_urls(spark, done_store)))
            m["resume.antijoin_s"] = self.probe(
                "resume.antijoin", lambda: layers.noop(resume_filter(pages, done)))
            m["resume.skipped_frac"] = 1 - resume_filter(pages, done).count() / self.n_docs

            # per-job fixed cost: a line through run_job over the small
            # input and the median timed run over all of it
            n_small = sum(pq.ParquetFile(p).metadata.num_rows for p in self.small_files)
            t_small = self.probe("job.small", lambda: self.job(self.small_files, restore=True))
            t_all = statistics.median(r["job_s"] for r in reps)
            per_doc = (t_all - t_small) / (self.n_docs - n_small)
            m["job.fixed_s"] = t_all - per_doc * self.n_docs
            print(f"job_s {t_all:.3f} s over {self.n_docs} docs, {t_small:.3f} s over "
                  f"{n_small}: fixed {m['job.fixed_s']:.3f} s "
                  f"({m['job.fixed_s'] / t_all:.0%} of job_s), "
                  f"{per_doc * 1e6:.1f} us per doc", file=sys.stderr)
        return m


# --- entry point -------------------------------------------------------------


def run(args, work: str, tracer) -> dict:
    wl = Workload(args.workload, args.seed, bool(args.trace), work, tracer)
    try:
        with tracer.span("run"):
            with tracer.span("setup"):
                setup_s = wl.setup()
            with tracer.span("measure"):
                reps = wl.measure(args.seconds)
            print("timed run_job: " + ", ".join(f"{r['job_s']:.3f}" for r in reps)
                  + " s", file=sys.stderr)
            if args.trace:
                values = wl.layer_metrics(reps)
    finally:
        if wl.spark is not None:
            with tracer.span("stop"):
                stop_spark(wl.spark)
        stop_resource_tracker()
    if args.trace:
        units = PER_LAYER_UNITS
    else:
        units = END_TO_END_UNITS
        values = {k: statistics.median(r[k] for r in reps)
                  for k in ("docs_per_s", "job_s", "peak_rss_mb", "results_bytes_per_doc")}
        values["setup_s"] = setup_s
    failed = sum(not r["ok"] for r in reps)
    return {
        "correct": failed == 0,
        "attempted": len(reps),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "ocr_project_spark")):
        print(f"no ocr_project_spark package under {ROOT}", file=sys.stderr)
        return 2
    if sys.path[0] == HERE:  # run as a script: import the package by name
        sys.path[0] = ROOT
    from perfbench.spans import Tracer, self_time_by_name

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tracer = Tracer(enabled=bool(args.trace))
    try:
        result = run(args, work, tracer)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        tracer.write(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
        for name, own in sorted(self_time_by_name(tracer.spans).items()):
            print(f"self time {name}: {own:.3f} s", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
