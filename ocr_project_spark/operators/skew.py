"""Url-hash bucketing with salted host-key aggregation (north rule; SURVEY §4.1).

At 10^12 documents, host-level skew is the dominant hazard: one hot domain
can hold millions of pages. Two distinct mechanisms defuse it:

1. **Row placement** (`salted_repartition`): partitions are assigned by
   ``xxhash64(url)`` — urls are unique, so placement is uniform by
   construction and a hot host's pages spread across *all* partitions.
   Extraction no longer uses it: lineage and the breaker bucket by the url
   hash themselves, so extraction runs in the scan's byte-sized splits with
   no payload shuffle (pipeline.run_extraction). It stays for callers that
   must co-locate rows by url; the benchmark's exchange rung times it.
   An earlier design bucketed by ``xxhash64(host)``; with far fewer distinct
   hosts than partitions that *creates* stragglers (measured 4× slowdown at
   local[32] on the synthetic corpus) — keys must outnumber partitions.

2. **Host-keyed aggregation** (`salted_host_agg` / `salted_host_counts`):
   when a downstream stage genuinely groups by host (per-host stats,
   politeness budgets), a plain ``groupBy(host)`` sends every hot-host row
   to one reducer. The classic fix: a deterministic per-url salt for hot
   hosts → partial ``groupBy(host, salt)`` → final ``groupBy(host)``. The
   second stage shuffles one row per (host, salt) — bounded by
   ``salt_buckets``, independent of the hot host's row count. (Catalyst's
   partial aggregation already bounds *count-like* aggs; explicit salting is
   the general pattern that also covers collect/median-style aggs and is
   kept as the documented scale path.)

AQE (``spark.sql.adaptive.enabled`` + skewJoin) stays on as the runtime
backstop for join skew.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_HOT_THRESHOLD = 0.01  # a host holding >1% of all rows is "hot"
DEFAULT_SALT_BUCKETS = 16


def with_host(df: DataFrame, url_col: str = "url") -> DataFrame:
    # try_parse_url: an RFC-invalid crawl url (WARC-Target-URI is untrusted)
    # gets a NULL host group instead of failing the job under ANSI mode
    return df.withColumn(
        "host", F.expr(f"try_parse_url({url_col}, 'HOST')")
    )


def hot_hosts(
    df: DataFrame, url_col: str = "url", threshold: float = DEFAULT_HOT_THRESHOLD
) -> DataFrame:
    """Hosts whose row share exceeds ``threshold`` — a small aggregate meant
    to be collected/broadcast (bounded by the number of distinct hot domains,
    which is tiny by construction of the threshold).

    One pass over the input, fully lazy: the denominator is a re-aggregation
    of the per-host counts (one row per host, never the raw rows) cross-joined
    back as a broadcast 1-row total, so both sides share the same shuffle
    (Catalyst ReusedExchange) instead of the old separate eager ``count()``
    action scanning the input a second time."""
    counts = (
        with_host(df, url_col)
        .groupBy("host")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    total = counts.agg(F.sum("__n").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("__n") > F.col("__total") * threshold)
        .select("host")
    )


def salted_repartition(
    df: DataFrame, num_partitions: int, url_col: str = "url"
) -> DataFrame:
    """Deterministic uniform repartition on the url hash (shuffle-once).

    ``xxhash64(url)`` has ~row-count distinct values, so partitions balance
    to the multinomial limit regardless of host skew, and every url lands on
    the same partition across re-runs (resume determinism)."""
    return df.repartition(num_partitions, F.xxhash64(F.col(url_col)))


def host_salt(
    url_col: str = "url",
    hot_col: str = "__is_hot",
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> Column:
    """Deterministic per-url salt: spreads hot-host rows over
    ``salt_buckets`` partial-aggregation keys, keeps cold hosts on salt 0."""
    return F.when(
        F.col(hot_col), F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_buckets))
    ).otherwise(F.lit(0))


def salted_host_agg(
    df: DataFrame,
    partial_aggs: Sequence[Column],
    final_aggs: Callable[[], Sequence[Column]],
    url_col: str = "url",
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Two-stage host aggregation with hot-host salting.

    ``partial_aggs`` aggregate within (host, salt); ``final_aggs()`` combine
    the ≤ ``salt_buckets`` partials per host. ``hot`` is the broadcastable
    hot-host set from :func:`hot_hosts` (computed inline when omitted)."""
    if hot is None:
        hot = hot_hosts(df, url_col)
    marked = with_host(df, url_col).join(
        F.broadcast(hot.withColumn("__hot", F.lit(True))), "host", "left"
    )
    salted = marked.withColumn("__is_hot", F.col("__hot").isNotNull()).withColumn(
        "__salt", host_salt(url_col, "__is_hot", salt_buckets)
    )
    partial = salted.groupBy("host", "__salt").agg(*partial_aggs)
    return partial.groupBy("host").agg(*final_aggs())


def host_stats(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Per-host crawl stats (url count + first/last capture time) via the
    salted two-stage aggregation — the politeness/recrawl-budget input a
    crawl pipeline derives per domain. Min/max/count all decompose into
    partial + final, so the hot-host reducer key stays bounded."""
    return salted_host_agg(
        df.select(url_col, ts_col),
        partial_aggs=[
            F.count(F.lit(1)).alias("__n"),
            F.min(ts_col).alias("__first"),
            F.max(ts_col).alias("__last"),
        ],
        final_aggs=lambda: [
            F.sum("__n").alias("n_urls"),
            F.min("__first").alias("first_ts"),
            F.max("__last").alias("last_ts"),
        ],
        url_col=url_col,
        salt_buckets=salt_buckets,
        hot=hot,
    )


def host_politeness(
    df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    min_delay_ms: int = 1000,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Per-host politeness budget: observed crawl span, mean inter-request
    gap, and a recommended crawl delay (``max(min_delay_ms, observed
    gap)`` — never recrawl a domain faster than it was crawled, floor at
    the policy minimum). Built on the salted two-stage host aggregation,
    so a hot domain's millions of rows never converge on one reducer;
    outputs are integer-safe for the differential oracle."""
    stats = host_stats(df, url_col, ts_col, salt_buckets, hot)
    span = F.unix_timestamp("last_ts") - F.unix_timestamp("first_ts")
    gap = (
        F.when(
            F.col("n_urls") > 1,
            F.floor(span * 1000 / (F.col("n_urls") - 1)),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    return stats.select(
        "host",
        "n_urls",
        span.cast("long").alias("span_seconds"),
        gap.alias("avg_gap_ms"),
        F.greatest(F.lit(min_delay_ms).cast("long"), gap).alias(
            "recommended_delay_ms"
        ),
    )


def cap_per_host(
    df: DataFrame,
    max_per_host: int = 100,
    url_col: str = "url",
    approximate: bool = False,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
) -> DataFrame:
    """Per-host document cap: keep at most ``max_per_host`` urls per host,
    chosen deterministically by md5(url) order — the anti-SEO-spam
    downsampling a webtext corpus applies so no single domain dominates
    training data. The selection is a pure function of the url set (no
    ``sample``, no row-order dependence), so re-runs and repartitions keep
    identical documents and a SQL oracle replays the cut exactly.

    Exact mode (default): one window over (host) ordered by the hash — the
    shuffle key is host, so a mega-host concentrates on one reducer; AQE's
    skew handling splits the sort, and the window itself is rank-only (no
    payload aggregation). Right for the usual small training caps
    (10²–10³).

    ``approximate=True`` is the constant-memory path for 10^12-row corpora
    with million-page hosts: THRESHOLD SAMPLING — the salted two-stage
    host counts (never one reducer per host) join back and a url is kept
    when its md5-derived uniform draw falls below cap/host_count. No
    host-keyed sort or window anywhere (plan-asserted); each kept set is
    still a pure function of the url set, at the price of a binomial
    (±O(√cap)) rather than exact cap. Hosts at or under the cap keep
    every url in both modes."""
    hosted = with_host(df, url_col)
    if not approximate:
        from pyspark.sql import Window

        w = Window.partitionBy("host").orderBy(
            F.md5(F.col(url_col)), F.col(url_col)
        )
        return (
            hosted.withColumn("__rank", F.row_number().over(w))
            .where(F.col("__rank") <= max_per_host)
            .drop("__rank")
        )
    counts = salted_host_counts(df, url_col, salt_buckets)
    # uniform draw in [0, 2^32) from the url digest; keep when
    # draw < 2^32 · cap / n_urls (exact to double precision: cap·2^32 ≪ 2^52)
    draw = F.conv(F.substring(F.md5(F.col(url_col)), 1, 8), 16, 10).cast("long")
    threshold = F.floor(
        F.lit(float(max_per_host) * 2.0**32) / F.col("n_urls")
    ).cast("long")
    return (
        hosted.join(counts, "host")
        .where(
            (F.col("n_urls") <= max_per_host) | (draw < threshold)
        )
        .drop("n_urls")
    )


def salted_host_counts(
    df: DataFrame,
    url_col: str = "url",
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    hot: DataFrame | None = None,
) -> DataFrame:
    """Per-host url counts via the salted two-stage aggregation."""
    return salted_host_agg(
        df,
        partial_aggs=[F.count(F.lit(1)).alias("__partial")],
        final_aggs=lambda: [F.sum("__partial").alias("n_urls")],
        url_col=url_col,
        salt_buckets=salt_buckets,
        hot=hot,
    )
