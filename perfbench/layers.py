"""Per-layer probes of the extraction job, used by the traced run.

Each probe calls one layer's public function the way ``pipeline.run_job``
does and times it with a noop sink or in-process, so the layer's cost shows
apart from the rest of the job. Spark's own SQL metrics for the timed
executions come from the session's SQL status store.
"""

from __future__ import annotations

import collections
import glob
import os
import time
from contextlib import contextmanager
from multiprocessing import get_context
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ocr_project_spark.kernels import registry

EXTRACT_INPUT = ["url", "html", "backend", "doc_id"]  # what extract_documents reads
ARROW_BATCH_ROWS = 2048  # session.build_session's maxRecordsPerBatch

# --- Spark SQL metrics -------------------------------------------------------

_UNIT = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
SQL_METRICS = (
    "scan time",
    "shuffle bytes written",
    "shuffle write time",
    "fetch wait time",
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric value, in bytes or seconds.

    The status store keeps values formatted, either ``"6.7 MiB"`` or
    ``"total (min, med, max (stageId: taskId))\\n6.7 MiB (...)"``."""
    head = text.strip().split("\n")[-1].split(" (")[0].split()
    return float(head[0].replace(",", "")) * (_UNIT[head[1]] if len(head) > 1 else 1)


def last_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    ids = [-1] + [e.executionId() for e in _executions(store)]
    return max(ids)


def _executions(store):
    it = store.executionsList().iterator()
    while it.hasNext():
        yield it.next()


def sql_metrics_since(spark, after_id: int) -> dict[str, float]:
    """``SQL_METRICS`` summed over executions with id > ``after_id``."""
    store = spark._jsparkSession.sharedState().statusStore()
    totals = dict.fromkeys(SQL_METRICS, 0.0)
    for e in _executions(store):
        if e.executionId() <= after_id:
            continue
        values = store.executionMetrics(e.executionId())
        it = e.metrics().iterator()
        while it.hasNext():
            m = it.next()
            v = values.get(m.accumulatorId())
            if m.name() in totals and v.isDefined():
                totals[m.name()] += parse_metric(v.get())
    return totals


# --- ladder rungs: noop-sink actions at the workload's parallelism ------------


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def arrow_identity(batches):
    """mapInArrow body that echoes every batch (the boundary's round trip)."""
    yield from batches


def ladder(spark, pages_dir: str, partitions: int) -> dict[str, Callable[[], None]]:
    """Rung name → action; each rung adds one layer to the previous one."""
    from ocr_project_spark.operators.skew import salted_repartition
    from ocr_project_spark.pipeline import run_extraction

    def scan():
        return spark.read.parquet(pages_dir).select(*EXTRACT_INPUT)

    def exchange():
        return salted_repartition(scan(), partitions)

    return {
        "ladder.scan_s": lambda: noop(scan()),
        "ladder.exchange_s": lambda: noop(exchange()),
        "ladder.arrow_identity_s": lambda: noop(
            exchange().mapInArrow(arrow_identity, exchange().schema)
        ),
        "ladder.extract_plan_s": lambda: noop(
            run_extraction(spark.read.parquet(pages_dir), num_partitions=partitions)
        ),
    }


def write_done_store(results: str, done_urls: set[str], out_dir: str) -> None:
    """Copy the rows of ``done_urls`` from the ``results`` store into a new
    store at ``out_dir``: the results an earlier run left for a resume."""
    table = pq.read_table(results)
    keep = pc.is_in(table["url"], value_set=pa.array(sorted(done_urls)))
    os.makedirs(out_dir)
    pq.write_table(table.filter(keep), os.path.join(out_dir, "part-00000.parquet"))


# --- in-process kernels and per-row wrapper ----------------------------------


def read_batches(pages_dir: str, limit: int) -> list:
    """The first ``limit`` pages, in file order, as Arrow-sized pandas batches."""
    tables = []
    n = 0
    for path in sorted(glob.glob(os.path.join(pages_dir, "*.parquet"))):
        t = pq.read_table(path, columns=EXTRACT_INPUT)
        tables.append(t.slice(0, limit - n))
        n += tables[-1].num_rows
        if n >= limit:
            break
    table = pa.concat_tables(tables)
    return [b.to_pandas() for b in table.to_batches(max_chunksize=ARROW_BATCH_ROWS)]


def kernel_in_process(batches) -> tuple[dict, dict[str, float]]:
    """Run every doc through its ``BACKEND_REGISTRY`` arm once.

    Returns the memo ``(backend, payload) → DocResult`` and µs per doc per
    backend."""
    memo = {}
    spent: dict[str, float] = collections.defaultdict(float)
    count: dict[str, int] = collections.defaultdict(int)
    for pdf in batches:
        for backend, payload in zip(pdf["backend"], pdf["html"]):
            payload = bytes(payload)
            t0 = time.perf_counter()
            memo[(backend, payload)] = registry.BACKEND_REGISTRY[backend](payload, None)
            spent[backend] += time.perf_counter() - t0
            count[backend] += 1
    return memo, {b: spent[b] / count[b] * 1e6 for b in count}


@contextmanager
def memoized_kernels(memo: dict):
    """Swap the registry arms for lookups in ``memo`` (this process only)."""
    saved = dict(registry.BACKEND_REGISTRY)

    def arm(backend):
        return lambda payload, sel=None, *rest: memo[(backend, bytes(payload))]

    try:
        for backend in saved:
            registry.BACKEND_REGISTRY[backend] = arm(backend)
        yield
    finally:
        registry.BACKEND_REGISTRY.update(saved)


def wrapper_us_per_doc(batches, memo: dict) -> float:
    """The mapInPandas body of ``make_extract_fn`` with memoized kernels."""
    from ocr_project_spark.operators.extract import make_extract_fn

    n = sum(len(b) for b in batches)
    with memoized_kernels(memo):
        t0 = time.perf_counter()
        for _ in make_extract_fn()(iter(batches)):
            pass
        elapsed = time.perf_counter() - t0
    return elapsed / n * 1e6


# --- kernel-only ceiling: real dispatch under a process pool ------------------


def dispatch_chunk(rows: list[tuple[str, bytes]]) -> int:
    """Run each (backend, payload) through its registry arm; count failures."""
    arms = registry.BACKEND_REGISTRY
    return sum(not arms[backend](payload, None).success for backend, payload in rows)


def pool_ceiling(pages_dir: str, procs: int) -> tuple[float, int]:
    """docs/s of ``BACKEND_REGISTRY`` dispatch over every input page under
    ``procs`` spawned processes, and the number of failed docs."""
    rows = []
    for path in sorted(glob.glob(os.path.join(pages_dir, "*.parquet"))):
        t = pq.read_table(path, columns=["backend", "html"])
        rows.extend(zip(t.column("backend").to_pylist(), t.column("html").to_pylist()))
    n_chunks = 4 * procs  # several chunks per process, for balance
    chunks = [rows[i::n_chunks] for i in range(n_chunks)]
    pool = get_context("spawn").Pool(procs)
    try:
        pool.map(dispatch_chunk, [c[:8] for c in chunks[:procs]])  # start, import
        t0 = time.perf_counter()
        failed = sum(pool.map(dispatch_chunk, chunks))
        elapsed = time.perf_counter() - t0
    finally:
        pool.close()
        pool.join()
    return len(rows) / elapsed, failed
