"""Incremental-crawl extraction via Structured Streaming.

The reference is request/response and the north rule is pure batch (SURVEY
§7.4), so streaming is *optional* engine surface: the Spark-idiomatic way to
run the same extraction continuously as new crawl segments land. The file
source tracks processed files in the streaming checkpoint, giving
exactly-once over *segments* — complementary to the batch anti-join resume
(`operators/resume.py`), which dedupes at url granularity.

The transformation is the very same `extract_documents` Arrow-batch
operator — `mapInArrow` is streaming-compatible, so batch and streaming
share one code path (no semantic drift between the two).

`trigger(availableNow=True)` drains everything pending and stops — the
batch-job-shaped way to run an incremental pass (cron-friendly); drop the
trigger for a long-running continuous job on a cluster.
"""

from __future__ import annotations

import threading

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ocr_project_spark.contract import PAGES_SCHEMA
from ocr_project_spark.operators.extract import extract_documents

# input schema: BASELINE.json input_hint columns + the datagen ride-alongs
STREAM_PAGES_SCHEMA = T.StructType(
    list(PAGES_SCHEMA.fields)
    + [
        T.StructField("doc_id", T.LongType()),
        T.StructField("backend", T.StringType()),
    ]
)


def extract_stream(
    spark: SparkSession,
    input_path: str,
    results_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the incremental extraction stream; returns the StreamingQuery.

    New parquet files appearing under ``input_path`` are extracted exactly
    once (file-source checkpoint) and appended to ``results_path``.
    """
    reader = spark.readStream.schema(STREAM_PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_path)
    results = extract_documents(pages)
    writer = (
        results.writeStream.format("parquet")
        .option("path", results_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream(
    spark: SparkSession,
    input_path: str,
    results_path: str,
    checkpoint_path: str,
    watermark: str = "1 hour",
    available_now: bool = True,
):
    """Streaming url-dedup: keep the first capture of each url across
    micro-batches, with state bounded by the event-time watermark
    (``dropDuplicatesWithinWatermark`` — a url recrawled within the
    watermark window is dropped; state for older urls is evicted, so the
    store never grows past one window of distinct urls). The streaming
    counterpart of the batch ``latest_capture``/resume pair for pipelines
    that must dedup before any results table exists."""
    pages = spark.readStream.schema(STREAM_PAGES_SCHEMA).parquet(input_path)
    deduped = pages.withWatermark("warc_ts", watermark).dropDuplicatesWithinWatermark(
        ["url"]
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", results_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def host_totals_stream(
    spark: SparkSession,
    input_path: str,
    totals_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Custom stateful streaming operator (``applyInPandasWithState``):
    per-host running crawl totals that survive across micro-batches AND
    across restarts (state lives in the streaming checkpoint) — the live
    politeness/budget counter a continuous crawl consults. Each update
    emits the host's new running (n_urls, n_bytes), appended with its
    batch_id to ``totals_path`` via foreachBatch (the memory sink cannot
    recover from a checkpoint; a durable sink can)."""
    from typing import Any, Iterator as TIterator, Tuple

    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    pages = spark.readStream.schema(STREAM_PAGES_SCHEMA).parquet(input_path)
    keyed = pages.select(
        F.expr("try_parse_url(url, 'HOST')").alias("host"),
        F.length("html").alias("n_bytes"),
    )

    def _update(
        key: Tuple[Any, ...],
        pdfs: TIterator[pd.DataFrame],
        state: GroupState,
    ) -> TIterator[pd.DataFrame]:
        n = 0
        b = 0
        for pdf in pdfs:
            n += len(pdf)
            b += int(pdf["n_bytes"].sum())
        prev_n, prev_b = state.get if state.exists else (0, 0)
        state.update((prev_n + n, prev_b + b))
        yield pd.DataFrame(
            {"host": [key[0]], "n_urls": [prev_n + n], "n_bytes": [prev_b + b]}
        )

    out = keyed.groupBy("host").applyInPandasWithState(
        _update,
        outputStructType="host string, n_urls long, n_bytes long",
        stateStructType="n_urls long, n_bytes long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

    def _sink(batch_df, batch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "append"
        ).parquet(totals_path)

    writer = (
        out.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _index_tables(index_table: str) -> tuple[str, str]:
    return f"{index_table}_bands", f"{index_table}_hashes"


# (insertInto is positional — creation order and append order must agree)
_BANDS_COLS = ["doc_id", "band_idx", "band_hash", "batch_id"]
_HASHES_COLS = ["doc_id", "hashes", "batch_id"]
_BANDS_KEYS = ["band_idx", "band_hash"]
_HASHES_KEYS = ["doc_id"]


def _write_index_partition(
    df, table: str, keys: list[str], buckets: int
) -> None:
    """Idempotently land one micro-batch's index rows as the table
    partition ``batch_id=<id>``: the table is PARTITIONED by batch_id
    (dynamic partition overwrite makes a foreachBatch replay rewrite its
    own partition instead of double-appending) and BUCKETED+SORTED by the
    join keys (the scan side of every candidate/verify join reports the
    hash partitioning, so the corpus-sized index never shuffles — only the
    small batch side does; plan-asserted in tests/test_streaming.py).
    The pre-write repartition uses the same hash as the bucket-id
    expression, so each batch adds at most ``buckets`` files per table —
    with periodic compaction the file count stays bounded."""
    from pyspark.sql import functions as F

    sess = df.sparkSession
    df = df.repartition(buckets, *[F.col(k) for k in keys])
    if not sess.catalog.tableExists(table):
        (
            df.write.mode("overwrite")
            .partitionBy("batch_id")
            .bucketBy(buckets, *keys)
            .sortBy(*keys)
            .format("parquet")
            .saveAsTable(table)
        )
    else:
        _insert_overwrite_dynamic(df, table)


_OVERWRITE_LOCK = threading.Lock()


def _insert_overwrite_dynamic(df, table: str) -> None:
    """insertInto(mode=overwrite) scoped to the partitions present in
    ``df``. The partitionOverwriteMode DataFrameWriter *option* is not
    honored for insertInto on this Spark line (verified: it silently
    truncates the whole table), so the session conf is set and restored
    around the write — under a process-wide lock, because the conf is
    session-GLOBAL: two concurrent foreachBatch threads interleaving
    set/restore could run one write in static mode, which truncates the
    entire accumulated index."""
    sess = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    with _OVERWRITE_LOCK:
        prev = sess.conf.get(key, None)
        sess.conf.set(key, "dynamic")
        try:
            df.write.mode("overwrite").insertInto(table)
        finally:
            if prev is None:
                sess.conf.unset(key)
            else:
                sess.conf.set(key, prev)


def near_dup_index_pairs(
    spark: SparkSession, banded, index_table: str, threshold: float
):
    """Verified near-dup pairs of one micro-batch against the ACCUMULATED
    index (which already contains the batch itself, so intra-batch pairs
    fall out of the same join): batch band rows ⋈ bucketed bands table →
    (least, greatest)-normalized distinct candidate ids → exact-Jaccard
    verify against the bucketed hashes table. Both index scans join on
    exactly their bucket keys, so the corpus-sized side never exchanges;
    candidates are the only shuffled rows. ``dropDuplicates`` on the pair
    key bounds the output even if the index transiently holds duplicate
    rows (e.g. a compaction interrupted between its write and its drops)."""
    from pyspark.sql import functions as F

    bands_t, hashes_t = _index_tables(index_table)
    cand = (
        spark.table(bands_t)
        .select("band_idx", "band_hash", F.col("doc_id").alias("id_x"))
        .join(
            banded.select("band_idx", "band_hash", F.col("doc_id").alias("id_y")),
            ["band_idx", "band_hash"],
        )
        .where(F.col("id_x") != F.col("id_y"))
        .select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
        )
        .distinct()
    )
    idx_hashes = spark.table(hashes_t)
    ha = idx_hashes.select(
        F.col("doc_id").alias("id_a"), F.array_distinct("hashes").alias("ha")
    )
    hb = idx_hashes.select(
        F.col("doc_id").alias("id_b"), F.array_distinct("hashes").alias("hb")
    )
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("ha", "hb"))
                / F.size(F.array_union("ha", "hb"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def compact_near_dup_index(
    spark: SparkSession, index_table: str, buckets: int = 32
) -> None:
    """Fold every accumulated batch partition of the near-dup index into
    ONE consolidated partition per table (a fresh negative generation id),
    then drop the consumed partitions — bounding small-file growth to
    ~``buckets`` files per table between compactions instead of
    ``buckets × n_batches`` forever. Key-deduped during the fold, so a
    previously interrupted compaction (write done, drops lost) self-heals
    on the next pass. On a transactional table format (Iceberg) this whole
    procedure is a single atomic rewrite; over plain parquet tables the
    write→drop sequence has a benign duplicate window that the pair
    emitter's ``dropDuplicates`` already covers."""
    from pyspark.sql import functions as F

    bands_t, hashes_t = _index_tables(index_table)
    for table, keys, dedup in (
        (bands_t, _BANDS_KEYS, ["doc_id", "band_idx"]),
        (hashes_t, _HASHES_KEYS, ["doc_id"]),
    ):
        if not spark.catalog.tableExists(table):
            continue
        old = [
            r[0]
            for r in spark.table(table).select("batch_id").distinct().collect()
        ]  # bounded: one small int per batch/generation
        if len(old) <= 1:
            continue
        gen = min(old + [0]) - 1
        cols = [c for c in spark.table(table).columns if c != "batch_id"]
        folded = (
            spark.table(table)
            .select(*cols)
            .dropDuplicates(dedup)
            .withColumn("batch_id", F.lit(gen).cast("long"))
            .repartition(buckets, *[F.col(k) for k in keys])
            .localCheckpoint()  # materialize BEFORE dropping source partitions
        )
        try:
            _insert_overwrite_dynamic(folded, table)
            for b in old:
                spark.sql(
                    f"ALTER TABLE {table} DROP IF EXISTS PARTITION (batch_id={b})"
                )
        finally:
            folded.unpersist()


def near_dup_stream(
    spark: SparkSession,
    input_path: str,
    index_table: str,
    pairs_path: str,
    checkpoint_path: str,
    threshold: float = 0.8,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    index_buckets: int = 32,
    compact_every: int = 16,
    available_now: bool = True,
):
    """Incremental cross-batch near-dup detection: as new document files
    land, each micro-batch's MinHash band rows join against the
    ACCUMULATED index of every prior batch (plus the batch itself), verified
    candidates append to ``pairs_path`` — so a near-duplicate of a document
    ingested hours ago surfaces the moment its copy arrives, without
    re-banding the corpus.

    State lives in two catalog parquet tables (``<index_table>_bands``,
    ``<index_table>_hashes``), not executor memory — the index is
    corpus-sized and a stream restart resumes from the file-source
    checkpoint with the index intact. The tables are BUCKETED by their join
    keys (bands by (band_idx, band_hash), hashes by doc_id), so the
    candidate and verify joins scan the index without a full-index
    exchange, and PARTITIONED by batch_id, so a foreachBatch replay
    overwrites its own partition (dynamic partition overwrite) instead of
    double-appending — the index itself is exactly-once. Existence probing
    goes through the session catalog, never a driver-local filesystem
    check, so the module works unchanged on HDFS/S3 deployments. Every
    ``compact_every`` batches the partitions fold into one consolidated
    generation (:func:`compact_near_dup_index`), bounding small-file
    growth.

    Verification uses exact Jaccard over the xxhash64 shingle-hash ARRAYS
    (persisting the hashes instead of the shingle strings keeps the index
    ~10× smaller; a 64-bit hash collision inflating a Jaccard is ~2⁻⁶⁴ —
    negligible against the 0.8 threshold). Pairs delivery is foreachBatch's
    at-least-once: a mid-sink crash after the index write replays the batch
    and re-emits its pairs, so the emitted ``batch_id`` column is the
    downstream dedup key (pairs themselves are idempotent values). Returns
    the StreamingQuery.
    """
    from pyspark.sql import functions as F

    from ocr_project_spark.dedup import (
        hashed_shingles,
        minhash_band_rows_from_hashes,
    )

    reader = spark.readStream.schema("doc_id long, text string, lang string")
    docs = reader.parquet(input_path)
    bands_t, hashes_t = _index_tables(index_table)

    def _sink(batch_df, batch_id: int) -> None:
        sess = batch_df.sparkSession
        hashed = hashed_shingles(batch_df, n).localCheckpoint()
        banded = minhash_band_rows_from_hashes(
            hashed, num_hashes, bands
        ).localCheckpoint()
        try:
            bid = F.lit(batch_id).cast("long")
            _write_index_partition(
                banded.withColumn("batch_id", bid).select(*_BANDS_COLS),
                bands_t,
                _BANDS_KEYS,
                index_buckets,
            )
            _write_index_partition(
                hashed.withColumn("batch_id", bid).select(*_HASHES_COLS),
                hashes_t,
                _HASHES_KEYS,
                index_buckets,
            )
            verified = near_dup_index_pairs(sess, banded, index_table, threshold)
            verified.withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ).write.mode("append").parquet(pairs_path)
            if compact_every and batch_id > 0 and batch_id % compact_every == 0:
                compact_near_dup_index(sess, index_table, index_buckets)
        finally:
            # cached blocks from the per-batch localCheckpoints would
            # otherwise accrue for the lifetime of the stream
            hashed.unpersist()
            banded.unpersist()

    writer = docs.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def extract_stream_with_lineage(
    spark: SparkSession,
    input_path: str,
    results_path: str,
    lineage_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Incremental extraction that also emits per-micro-batch lineage rows
    (the streaming analog of the batch job's lineage sink): each micro-batch
    appends its results AND its per-(partition, backend) lineage rows
    stamped with the ``batch_id`` — the crawl-operations ledger that tells
    an operator which segment batch produced which doc/byte counts.

    Uses ``foreachBatch``: the file-source checkpoint still guarantees each
    segment is *read* once; a crash between the two appends inside one
    micro-batch can replay that batch (at-least-once within the batch),
    which downstream dedup handles by batch_id — the standard Spark
    trade-off for multi-sink streaming, documented rather than hidden.
    BOTH sinks carry the ``batch_id`` column for exactly that reason: a
    replayed batch's duplicate RESULTS rows are identifiable as
    ``(url, batch_id)`` duplicates just like its lineage rows — without
    the stamp on results, the documented mitigation could not be applied
    to the table that matters most.
    """
    from pyspark.sql import functions as F

    from ocr_project_spark.operators.lineage import lineage_rows

    reader = spark.readStream.schema(STREAM_PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_path)
    results = extract_documents(pages)

    def _sink(batch_df, batch_id: int) -> None:
        batch_df.persist()
        try:
            batch_df.withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ).write.mode("append").parquet(results_path)
            lineage_rows(batch_df).withColumn(
                "batch_id", F.lit(batch_id).cast("long")
            ).write.mode("append").parquet(lineage_path)
        finally:
            batch_df.unpersist()

    writer = results.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
