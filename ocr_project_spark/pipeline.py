"""End-to-end extraction pipeline (SURVEY §3.1 "Spark rebuild" plan):

    read pages → anti-join resume → mapInArrow extraction → results +
    lineage sinks

A cold start is one stage with no Exchange (scan → MapInArrow → write):
extraction runs in the input's own splits, so no payload is shuffled. What
shuffles remain are the resume anti-join's, when the done set is too large
to broadcast, and the partial-agg-friendly lineage groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocr_project_spark.kernels.registry import BACKEND_REGISTRY
from ocr_project_spark.operators.extract import extract_documents
from ocr_project_spark.operators.lineage import circuit_breaker_gate, lineage_rows
from ocr_project_spark.operators.resume import (
    completed_urls,
    read_parquet_if_exists,
    resume_filter,
)

# Half-open circuit-breaker probe: while a backend's breaker is open, urls
# with crc32(url) % HALF_OPEN_PROBE_MOD == 0 (a deterministic ~1/16 sample,
# a pure function of the url — never rand()) still run its kernel each
# breaker-enabled pass, so recovery evidence can re-enter the lineage and
# close the breaker without an operator manually disabling it.
HALF_OPEN_PROBE_MOD = 16

# Results file-size bound: keeps the results table scan-friendly at 100 TB
# (no multi-GB files from fat partitions, no planner pressure from tiny ones).
MAX_RECORDS_PER_FILE = 500_000


def run_extraction(pages: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """pages → unified results DataFrame (lazy; caller writes/aggregates).
    ``num_partitions`` caps the extraction tasks with a narrow ``coalesce``
    (no shuffle); None extracts in the input's own partitioning."""
    if num_partitions:
        pages = pages.coalesce(num_partitions)
    return extract_documents(pages)


def this_run_results(
    spark: SparkSession, results_path: str, run_id: int
) -> DataFrame:
    """Read back ONLY one run's rows from the results table: the run_id
    equality predicate pushes into the parquet scan, and every file written
    by another run is skipped on its row-group statistics (min = max =
    that run's id) — so the per-run lineage pass costs I/O proportional to
    the RUN, not to the accumulated 100 TB results table
    (plan-asserted in tests/test_plans.py)."""
    return spark.read.parquet(results_path).where(F.col("run_id") == run_id)


def _next_run_id(lineage_prior: DataFrame | None) -> int:
    """Deterministic monotone run counter derived from the (tiny) lineage
    table — never wall-clock or random (resume determinism).

    The counter deliberately reads lineage, not the results table (that
    would re-scan accumulated output): if a run crashes AFTER its results
    append but BEFORE its lineage append, the rerun reuses the same
    run_id and its lineage pass aggregates the crashed run's rows along
    with its own — which is convergent, not double-counted, because the
    crashed run never wrote lineage for those rows and the resume
    anti-join prevents re-extracting them."""
    if lineage_prior is None or "run_id" not in lineage_prior.columns:
        return 0
    prev = lineage_prior.agg(F.max("run_id")).collect()[0][0]
    return 0 if prev is None else int(prev) + 1


def run_job(
    spark: SparkSession,
    pages: DataFrame,
    results_path: str,
    lineage_path: str | None = None,
    num_partitions: int | None = None,
    circuit_breaker: bool = False,
    probe_mod: int = HALF_OPEN_PROBE_MOD,
) -> None:
    """Resumable batch job: skip completed urls, extract, append results and
    lineage. Crash-and-rerun converges to the same result set (see
    tests/test_resume.py). Results files hold at most
    ``MAX_RECORDS_PER_FILE`` rows.

    Lineage is INCREMENTAL: each run stamps its rows with a monotone
    ``run_id``, reads back only its own rows (parquet row-group stats skip
    every other run's files), and APPENDS its per-(url bucket, backend)
    lineage — the accumulated results table is never re-scanned, and
    ``health_rollup`` aggregates the appends (it already partial-aggs).

    ``circuit_breaker=True`` replays the accumulated lineage through the R3
    health state machine (operators/lineage.circuit_breaker_gate) and skips
    a tripped backend's rows before extraction — EXCEPT a deterministic
    ~1/``probe_mod`` url sample (the half-open probe), which still runs so
    the breaker can observe recovery and close itself: probe successes are
    real results (checkpointed + healthy lineage), probe failures are
    treated as infrastructure evidence — lineage only, never checkpointed,
    so the urls retry once the backend recovers. All non-probe rows of a
    tripped backend wait, its invalid-mode and missing-payload rows too:
    they are written as document errors once the breaker closes."""
    lineage_prior = (
        read_parquet_if_exists(spark, lineage_path) if lineage_path else None
    )
    tripped = []
    if circuit_breaker and lineage_prior is not None:
        gate = circuit_breaker_gate(lineage_prior)
        # An unknown backend name fails every check, so its breaker would
        # never close: only registered backends trip, and unknown names
        # always reach the wrapper as "Invalid backend" document errors.
        tripped = [
            b for b, ok in gate.items() if not ok and b in BACKEND_REGISTRY
        ]
    run_id = _next_run_id(lineage_prior)
    todo = resume_filter(pages, completed_urls(spark, results_path))

    probe_results = None
    probe_fail_lineage = None
    parts: list[DataFrame] = []
    if tripped:
        # NULL backends are not tripped either (isin is NULL for them).
        is_tripped = F.coalesce(F.col("backend").isin(tripped), F.lit(False))
        if probe_mod:
            is_probe = is_tripped & (F.crc32(F.col("url")) % probe_mod == 0)
            # the probe set is bounded (~todo/probe_mod of the tripped
            # backend only), so persisting it for the dual success/failure
            # use is cheap. Probe FAILURES are deliberately infra evidence,
            # never checkpointed results: under an open breaker a failure
            # cannot be attributed to the document (the reference's
            # down-backend errors mask document status), so the url stays
            # retryable until the breaker closes — the trade-off is that a
            # genuinely-malformed probe doc re-probes each breaker-open run
            # (bounded by probe_mod) until recovery.
            probe_results = run_extraction(
                todo.where(is_probe), num_partitions=num_partitions
            ).persist()
            parts.append(probe_results.where(F.col("success")))
            probe_fail_lineage = lineage_rows(
                probe_results.where(~F.col("success"))
            )
        # A breaker skip is an *infrastructure* condition, not a property of
        # the document — checkpointing it would permanently exclude the url
        # because completed_urls marks every written url done. Skipped rows
        # are simply never extracted, so the next run with a healthy backend
        # retries exactly those urls and the result set converges
        # (tests/test_pipeline.py breaker recovery tests).
        todo = todo.where(~is_tripped)

    parts.append(run_extraction(todo, num_partitions=num_partitions))
    results = parts[0]
    for extra in parts[1:]:
        results = results.unionByName(extra)
    results = results.withColumn("run_id", F.lit(run_id).cast("long"))

    try:
        results.write.mode("append").option(
            "maxRecordsPerFile", MAX_RECORDS_PER_FILE
        ).parquet(results_path)
        if lineage_path:
            lin = lineage_rows(this_run_results(spark, results_path, run_id))
            if probe_fail_lineage is not None:
                lin = lin.unionByName(probe_fail_lineage)
            lin.withColumn("run_id", F.lit(run_id).cast("long")).write.mode(
                "append"
            ).parquet(lineage_path)
    finally:
        if probe_results is not None:
            probe_results.unpersist()
