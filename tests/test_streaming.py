"""Structured Streaming incremental extraction: exactly-once over crawl
segments via the file-source checkpoint, shared code path with batch.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ocr_project_spark.streaming.incremental import extract_stream


def _write_segment(pages, path, lo, hi):
    pages.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
        1
    ).write.mode("append").parquet(path)


def test_incremental_extraction_exactly_once(spark, pages, documents, tmp_path):
    inp = str(tmp_path / "segments")
    out = str(tmp_path / "results")
    ckpt = str(tmp_path / "ckpt")

    # segment 1 lands → drain
    _write_segment(pages, inp, 0, 200)
    q = extract_stream(spark, inp, out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 == pages.where("doc_id < 200").count()

    # segment 2 lands → drain again with the same checkpoint: only new files
    _write_segment(pages, inp, 200, 10_000)
    q = extract_stream(spark, inp, out, ckpt)
    q.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == pages.count()
    # exactly-once: no url processed twice
    assert final.groupBy("url").count().where("count > 1").count() == 0

    # and the streamed results carry the same byte-identity invariant
    joined = final.where("success").join(
        documents.select("doc_id", F.col("text").alias("truth")), "doc_id"
    )
    assert joined.where(F.col("text") != F.col("truth")).count() == 0


def test_incremental_extraction_with_lineage(spark, pages, tmp_path):
    """Streaming lineage: each micro-batch appends per-(partition, backend)
    lineage rows stamped with its batch_id; re-draining with the same
    checkpoint processes nothing new."""
    from ocr_project_spark.streaming.incremental import extract_stream_with_lineage

    inp = str(tmp_path / "segments")
    out = str(tmp_path / "results")
    lin = str(tmp_path / "lineage")
    ckpt = str(tmp_path / "ckpt")

    _write_segment(pages, inp, 0, 200)
    q = extract_stream_with_lineage(spark, inp, out, lin, ckpt)
    q.awaitTermination(120)
    lineage1 = spark.read.parquet(lin)
    batches1 = {r["batch_id"] for r in lineage1.select("batch_id").distinct().collect()}
    n_docs1 = lineage1.agg(F.sum("n_docs")).collect()[0][0]
    assert n_docs1 == pages.where("doc_id < 200").count()

    _write_segment(pages, inp, 200, 10_000)
    q = extract_stream_with_lineage(spark, inp, out, lin, ckpt)
    q.awaitTermination(120)
    lineage2 = spark.read.parquet(lin)
    batches2 = {r["batch_id"] for r in lineage2.select("batch_id").distinct().collect()}
    assert batches2 > batches1  # new batch ids appended, old retained
    assert lineage2.agg(F.sum("n_docs")).collect()[0][0] == pages.count()
    assert spark.read.parquet(out).count() == pages.count()

    # drain again with nothing new: no extra lineage
    q = extract_stream_with_lineage(spark, inp, out, lin, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(lin).count() == lineage2.count()


def test_dedup_stream_drops_recrawls(spark, pages, tmp_path):
    """Watermarked streaming dedup: a second segment recrawling the same
    urls (newer ts, inside the watermark) adds nothing."""
    from ocr_project_spark.streaming.incremental import dedup_stream

    inp = str(tmp_path / "segments")
    out = str(tmp_path / "dedup")
    ckpt = str(tmp_path / "ckpt")

    subset = pages.where("doc_id < 300")
    subset.coalesce(1).write.mode("append").parquet(inp)
    q = dedup_stream(spark, inp, out, ckpt)
    q.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    assert n1 == subset.count()

    # recrawl: same urls, 10 minutes later (inside the 1h watermark)
    recrawl = subset.withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 600 SECONDS")
    )
    recrawl.coalesce(1).write.mode("append").parquet(inp)
    q = dedup_stream(spark, inp, out, ckpt)
    q.awaitTermination(120)
    final = spark.read.parquet(out)
    assert final.count() == n1
    assert final.groupBy("url").count().where("count > 1").count() == 0


def test_host_totals_stateful_stream(spark, pages, tmp_path):
    """applyInPandasWithState: per-host running totals accumulate across
    micro-batches and across RESTARTS (state restored from checkpoint)."""
    inp = str(tmp_path / "segments")
    ckpt = str(tmp_path / "ckpt")
    from ocr_project_spark.streaming.incremental import host_totals_stream

    totals = str(tmp_path / "totals")
    _write_segment(pages, inp, 0, 200)
    q = host_totals_stream(spark, inp, totals, ckpt)
    q.awaitTermination(120)

    _write_segment(pages, inp, 200, 10_000)
    q = host_totals_stream(spark, inp, totals, ckpt)
    q.awaitTermination(120)
    # latest update per host reflects the FULL corpus (state crossed the
    # restart); take the max emitted running total per host
    got = {
        r["host"]: r["n_urls"]
        for r in spark.read.parquet(totals)
        .groupBy("host")
        .agg(F.max("n_urls").alias("n_urls"))
        .collect()
    }
    from ocr_project_spark.operators.skew import with_host

    expected = {
        r["host"]: r["count"]
        for r in with_host(pages).groupBy("host").count().collect()
    }
    assert got == expected


def _drop_index_tables(spark, prefix: str) -> None:
    """Drop the near-dup index tables AND any orphan warehouse directories
    a previously crashed run left behind (the test session's catalog is
    in-memory, so DROP TABLE alone cannot see cross-run leftovers)."""
    import os
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
    for t in (f"{prefix}_bands", f"{prefix}_hashes"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)


def test_near_dup_stream_cross_batch(spark, tmp_path):
    """Incremental near-dup: a copy arriving in a LATER micro-batch must
    pair with its original from an earlier batch via the accumulated band
    index, without re-banding old documents. The index lives in bucketed
    catalog tables probed through the session catalog (portable to
    HDFS/S3 — never a driver-local os.path check)."""
    from ocr_project_spark.streaming.incremental import near_dup_stream

    inp = str(tmp_path / "docs")
    pairs_out = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    idx = "nd_idx_cross"
    _drop_index_tables(spark, idx)

    base = " ".join(f"tok{i}" for i in range(60))
    far = " ".join(f"other{i}" for i in range(60))
    near = "edited " + " ".join(f"tok{i}" for i in range(1, 60))

    # batch 1: two exact copies (1, 2) + an unrelated doc (9)
    spark.createDataFrame(
        [(1, base, "en"), (2, base, "en"), (9, far, "en")],
        "doc_id long, text string, lang string",
    ).coalesce(1).write.mode("append").parquet(inp)
    q = near_dup_stream(spark, inp, idx, pairs_out, ckpt)
    q.awaitTermination(120)
    got1 = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(pairs_out).collect()}
    assert got1 == {(1, 2)}

    # batch 2: a near-dup of doc 1 arrives hours later
    spark.createDataFrame(
        [(101, near, "en")], "doc_id long, text string, lang string"
    ).coalesce(1).write.mode("append").parquet(inp)
    q = near_dup_stream(spark, inp, idx, pairs_out, ckpt)
    q.awaitTermination(120)
    got2 = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(pairs_out).collect()}
    assert (1, 101) in got2 and (2, 101) in got2
    assert (9, 101) not in got2
    # re-running with nothing new emits nothing (checkpoint exactly-once)
    q = near_dup_stream(spark, inp, idx, pairs_out, ckpt)
    q.awaitTermination(120)
    got3 = {(r["id_a"], r["id_b"]) for r in spark.read.parquet(pairs_out).collect()}
    assert got3 == got2
    _drop_index_tables(spark, idx)


def test_near_dup_index_replay_is_idempotent(spark, tmp_path):
    """A foreachBatch replay (at-least-once) must NOT double-append the
    batch's rows into the index: each batch writes its own batch_id
    partition with dynamic partition overwrite, so re-landing the same
    batch leaves the index byte-identical."""
    from ocr_project_spark.streaming.incremental import (
        _BANDS_COLS,
        _BANDS_KEYS,
        _write_index_partition,
    )
    from ocr_project_spark.dedup import hashed_shingles, minhash_band_rows_from_hashes
    from pyspark.sql import functions as F

    idx = "nd_idx_replay"
    _drop_index_tables(spark, idx)
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(20)), "en") for i in range(6)],
        "doc_id long, text string, lang string",
    )
    banded = minhash_band_rows_from_hashes(hashed_shingles(docs, 3), 64, 16)
    rows = banded.withColumn("batch_id", F.lit(0).cast("long")).select(*_BANDS_COLS)
    _write_index_partition(rows, f"{idx}_bands", _BANDS_KEYS, buckets=4)
    n1 = spark.table(f"{idx}_bands").count()
    _write_index_partition(rows, f"{idx}_bands", _BANDS_KEYS, buckets=4)  # replay
    n2 = spark.table(f"{idx}_bands").count()
    assert n1 == n2 == 6 * 16
    _drop_index_tables(spark, idx)


def test_near_dup_index_joins_skip_index_exchange(spark, tmp_path):
    """The verdict contract: the candidate and verify joins must read the
    bucketed index tables WITHOUT a full-index exchange — only the (small)
    batch/candidate side shuffles. With broadcast disabled (the at-scale
    shape), the plan keeps every index FileScan bucketed and exchange-free."""
    from ocr_project_spark.streaming.incremental import (
        _BANDS_COLS,
        _BANDS_KEYS,
        _HASHES_COLS,
        _HASHES_KEYS,
        _write_index_partition,
        near_dup_index_pairs,
    )
    from ocr_project_spark.dedup import hashed_shingles, minhash_band_rows_from_hashes
    from pyspark.sql import functions as F
    from tests.test_plans import n_nodes, plan_of

    idx = "nd_idx_plan"
    _drop_index_tables(spark, idx)
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(20)), "en") for i in range(8)],
        "doc_id long, text string, lang string",
    )
    hashed = hashed_shingles(docs, 3)
    banded = minhash_band_rows_from_hashes(hashed, 64, 16)
    bid = F.lit(0).cast("long")
    _write_index_partition(
        banded.withColumn("batch_id", bid).select(*_BANDS_COLS),
        f"{idx}_bands", _BANDS_KEYS, buckets=4,
    )
    _write_index_partition(
        hashed.withColumn("batch_id", bid).select(*_HASHES_COLS),
        f"{idx}_hashes", _HASHES_KEYS, buckets=4,
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        pairs = near_dup_index_pairs(spark, banded, idx, 0.8)
        plan = plan_of(pairs)
        # three index scans (bands, hashes×2), all bucketed
        assert plan.count("Bucketed: true") == 3, plan
        # exchanges: batch-band side + candidate distinct + candidate side
        # of each verify join = 4; any 5th would be an index-side shuffle
        assert n_nodes(plan, "Exchange") <= 4, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.enabled")
    _drop_index_tables(spark, idx)


def test_near_dup_index_compaction_bounds_files(spark, tmp_path):
    """compact_near_dup_index folds all batch partitions into one
    generation: row set preserved, batch partitions dropped, and the
    per-table parquet file count bounded by the bucket count (small-file
    growth is capped between compactions)."""
    import glob as globmod
    import os

    from ocr_project_spark.streaming.incremental import (
        _BANDS_COLS,
        _BANDS_KEYS,
        _write_index_partition,
        compact_near_dup_index,
    )
    from ocr_project_spark.dedup import hashed_shingles, minhash_band_rows_from_hashes
    from pyspark.sql import functions as F

    idx = "nd_idx_compact"
    _drop_index_tables(spark, idx)
    for b in range(5):
        docs = spark.createDataFrame(
            [
                (100 * b + i, " ".join(f"w{b}x{i}y{j}" for j in range(20)), "en")
                for i in range(4)
            ],
            "doc_id long, text string, lang string",
        )
        banded = minhash_band_rows_from_hashes(hashed_shingles(docs, 3), 64, 16)
        _write_index_partition(
            banded.withColumn("batch_id", F.lit(b).cast("long")).select(*_BANDS_COLS),
            f"{idx}_bands", _BANDS_KEYS, buckets=4,
        )
    before = spark.table(f"{idx}_bands").drop("batch_id").collect()
    compact_near_dup_index(spark, idx, buckets=4)
    after_df = spark.table(f"{idx}_bands")
    after = after_df.drop("batch_id").collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))
    # one consolidated generation partition remains
    assert [r[0] for r in after_df.select("batch_id").distinct().collect()] == [-1]
    # file count bounded by the bucket count (+ the partition dir structure)
    loc = (
        spark.sql(f"DESCRIBE TABLE EXTENDED {idx}_bands")
        .where("col_name = 'Location'")
        .collect()[0]["data_type"]
    ).replace("file:", "")
    files = globmod.glob(os.path.join(loc, "**", "*.parquet"), recursive=True)
    assert 0 < len(files) <= 4, files
    _drop_index_tables(spark, idx)


def test_stateless_curation_ops_compose_with_streams(spark, documents, tmp_path):
    """The shuffle-free curation projections (redact_pii here) are valid
    Structured Streaming transformations as-is: readStream → redact_pii →
    availableNow parquet sink equals the batch result, and a second
    invocation with the same checkpoint reprocesses nothing."""
    from ocr_project_spark.textops import redact_pii

    inp = str(tmp_path / "segments")
    out = str(tmp_path / "redacted")
    ckpt = str(tmp_path / "ckpt")

    docs = documents.select("doc_id", "text").where("doc_id < 200")
    docs.coalesce(1).write.mode("append").parquet(inp)

    stream = spark.readStream.schema("doc_id long, text string").parquet(inp)
    q = (
        redact_pii(stream)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start(out)
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    want = redact_pii(docs)
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0

    # same checkpoint, no new segments -> nothing reprocessed
    q = (
        redact_pii(stream)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start(out)
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == want.count()


def test_streaming_near_dup_query_cleans_up_on_failure(spark, monkeypatch):
    """A failing micro-batch must still drop the query's index tables and
    remove its temp dir; the index name carries the whole temp suffix."""
    import tempfile

    import pytest

    import __spark_entry__ as entry
    from ocr_project_spark.streaming import incremental
    from tests.conftest import SF_DIR

    made = []
    real_mkdtemp = tempfile.mkdtemp

    def mkdtemp(*args, **kwargs):
        made.append(real_mkdtemp(*args, **kwargs))
        return made[-1]

    def failing_stream(spark, inp, idx, *args, **kwargs):
        made.append(idx)
        spark.sql(f"CREATE TABLE {idx}_bands (x INT) USING parquet")
        raise RuntimeError("micro-batch failed")

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    monkeypatch.setattr(incremental, "near_dup_stream", failing_stream)
    with pytest.raises(RuntimeError, match="micro-batch failed"):
        entry.q_streaming_near_dup(spark, SF_DIR)
    work, idx = made
    assert idx == "nd_q_" + os.path.basename(work)[len("stream_nd_"):].lower()
    assert not os.path.exists(work)
    assert not spark.catalog.tableExists(f"{idx}_bands")
