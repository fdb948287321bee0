#!/usr/bin/env python
"""Second scaling-evidence leg (beyond the headline extraction pair): the
MinHash-LSH near-dup job — the curation engine's heaviest shuffle-bearing
operator family — run at two parallelism levels (local[2] vs local[8], the
same unsaturated N-vs-4N pair the north-rule criterion uses) over the SAME
materialized input, one fresh warmed JVM per sample, best-of-2 per leg.

Input construction: the natural sf documents table is replicated R times
with every 5th word salted by the replica index. A changed word kills the
three 3-shingles that cross it, so replicas of the same document sit far
below the 0.8 Jaccard threshold (asserted at build time: cross-replica
pairs would otherwise explode the band buckets and turn the job quadratic
in R) — each replica reproduces the natural corpus's planted near-dup
structure independently, and total work scales linearly with R. That is
the shape a 100 TB crawl has: more documents, not more copies of one
document.

Timed job: ``minhash_near_dup_pairs(...).count()`` — fused JVM
hash→sign→band pass, band-bucket self-join, exact-Jaccard verification of
candidates only. The connected-components keep-list closure is deliberately
NOT part of the timed job: its large-star/small-star rounds are
driver-synchronized, so a fixed number of round latencies rides on top of
the parallel work (documented in PLANS.md §6) and would dilute a
thread-scaling measurement with scheduler constants.

The same unconditional bare-kernel calibration brackets as bench.py run
before and after, so a reader can tell a depressed-VM-window invocation
from a plan problem (clean-window reference ~22 000 docs/s at 8 procs).

Usage: python scripts/bench_dedup_scaling.py [sf_dir] [R]
Prints one JSON line; shipping numbers live in BENCH.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def _salted_corpus(spark, sf_dir: str, r: int):
    """R replicas of documents, every 5th word salted with the replica id
    (pure JVM higher-order function — no Python in the build)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    reps = spark.range(r).select(F.col("id").alias("rep"))
    words = F.split(F.col("text"), " ")
    salted = F.transform(
        words,
        lambda x, i: F.when(
            i % 5 == 0, F.concat(x, F.lit("r"), F.col("rep").cast("string"))
        ).otherwise(x),
    )
    return docs.crossJoin(reps).select(
        (F.col("doc_id") + F.col("rep") * 1_000_000).alias("doc_id"),
        F.concat_ws(" ", salted).alias("text"),
    )


def _leg(n_cpus: int, docs_path: str, warm_path: str) -> dict:
    """Child-JVM entrypoint: warmed, timed minhash pair job."""
    from ocr_project_spark.dedup import minhash_near_dup_pairs
    from ocr_project_spark.session import build_session

    spark = build_session(
        app_name="bench-dedup-scaling", master=f"local[{n_cpus}]"
    )
    spark.sparkContext.setLogLevel("ERROR")
    n_docs = spark.read.parquet(docs_path).count()

    def one(path: str) -> tuple[float, int]:
        t0 = time.monotonic()
        n_pairs = minhash_near_dup_pairs(
            spark.read.parquet(path), threshold=0.8
        ).count()
        return time.monotonic() - t0, n_pairs

    one(warm_path)  # untimed: codegen + Python worker spawn
    one(warm_path)  # second warm: JIT ramp (same policy as bench.py)
    best = None
    for _ in range(2):
        seconds, n_pairs = one(docs_path)
        if best is None or seconds < best[0]:
            best = (seconds, n_pairs)
    spark.stop()
    return {
        "cpus": n_cpus,
        "seconds": round(best[0], 3),
        "n_docs": n_docs,
        "n_pairs": best[1],
        "docs_per_sec": round(n_docs / best[0], 1),
    }


def _leg_jvm(n_cpus: int, docs_path: str, warm_path: str) -> dict:
    env = dict(
        os.environ,
        DEDUP_SCALING_LEG=str(n_cpus),
        DEDUP_SCALING_DOCS=docs_path,
        DEDUP_SCALING_WARM=warm_path,
    )
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        env=env,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> None:
    if os.environ.get("DEDUP_SCALING_LEG"):
        print(
            json.dumps(
                _leg(
                    int(os.environ["DEDUP_SCALING_LEG"]),
                    os.environ["DEDUP_SCALING_DOCS"],
                    os.environ["DEDUP_SCALING_WARM"],
                )
            )
        )
        return

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    r = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    import bench  # repo-root bench.py: reuse the calibration probe

    from ocr_project_spark.datagen import synthesize_pages
    from ocr_project_spark.session import build_session

    d = tempfile.mkdtemp(prefix="bench_dedup_")
    docs_path = os.path.join(d, "docs.parquet")
    warm_path = os.path.join(d, "warm.parquet")
    probe_path = os.path.join(d, "pages_probe.parquet")

    prep = build_session(master="local[8]", app_name="bench-dedup-prep")
    prep.sparkContext.setLogLevel("ERROR")
    big = _salted_corpus(prep, sf_dir, r)
    big.repartition(32).write.mode("overwrite").parquet(docs_path)
    _salted_corpus(prep, sf_dir, 1).repartition(4).write.mode(
        "overwrite"
    ).parquet(warm_path)
    synthesize_pages(prep, sf_dir, replicate=4, num_partitions=16).select(
        "backend", "html"
    ).write.mode("overwrite").parquet(probe_path)

    # guard the corpus shape: replicas of one doc must NOT be near-dups of
    # each other, or candidate volume grows with R² and the legs stop
    # measuring the linear pipeline (3-shingle Jaccard between a doc and
    # its salted replica is < 0.5 by construction; spot-check one pair)
    from ocr_project_spark.dedup import minhash_near_dup_pairs

    cross = (
        minhash_near_dup_pairs(
            big.where(F.col("doc_id") % 1_000_000 == 11), threshold=0.8
        ).count()
        if r > 1
        else 0
    )
    assert cross == 0, f"salted replicas leaked {cross} cross-replica pairs"
    prep.stop()

    out: dict = {
        "sf_dir": sf_dir,
        "replicate": r,
        "bare_kernel_calibration": bench._bare_kernel_calibration(probe_path),
    }
    # Same policy as bench.py's scaling legs: every leg is TWO independent
    # fresh JVMs and the better one is the leg's throughput — a VM
    # depression window long enough to swallow one whole JVM (observed:
    # the first sf0.1 run's end bracket read 13.6 k against a 25.1 k
    # start bracket, deflating the 8-core leg) cannot poison a leg unless
    # it swallows both samples, and then the brackets say so in-JSON.
    samples = {
        n: [_leg_jvm(n, docs_path, warm_path) for _ in range(2)] for n in (2, 8)
    }
    legs = [min(samples[n], key=lambda s: s["seconds"]) for n in (2, 8)]
    out["legs"] = legs
    out["docs_per_sec_jvm_samples"] = {
        n: [s["docs_per_sec"] for s in runs] for n, runs in samples.items()
    }
    out["scaling_efficiency_2_to_8"] = round(
        legs[1]["docs_per_sec"] / (4 * legs[0]["docs_per_sec"]), 3
    )
    out["bare_kernel_calibration_end"] = bench._bare_kernel_calibration(
        probe_path
    )
    out["note"] = (
        "minhash near-dup pair job (hash->band->bucket-join->verify) over "
        "a replica-salted corpus; keep-list closure excluded from the "
        "ratio (driver-synchronized rounds, see PLANS.md); brackets "
        "certify or indict the sampled VM window"
    )
    print(json.dumps(out))

    import shutil

    shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
