"""Crawl statistics — the Stats engine as plain groupBy().agg().

Reproduces the documented statistics surface (``README.textile:56-78``,
``lib/stats.rb:53-156``) from the pages table instead of incremental Redis
counters; every aggregate is a partial-aggregatable JVM expression (one
shuffle for the scalar block, one per map-valued stat).

Statistics cover *permitted* contents only, matching the resque path where
``update_statistics`` runs inside the permitted_type? branch
(``lib/crawl.rb:79-84``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _is_page():
    # page vs asset split (lib/stats.rb:72)
    return F.coalesce(F.col("mime_type"), F.lit("")).rlike(
        "text/html|application/xhtml\\+xml"
    )


def scalar_stats(pages: DataFrame) -> DataFrame:
    """One-row frame of the scalar statistics (lib/stats.rb:57-90)."""
    p = pages.filter("permitted")
    return p.agg(
        F.count(F.lit(1)).alias("crawl_counter"),
        F.avg("response_time").alias("average_response_time"),
        F.min("response_time").alias("minimum_response_time"),
        F.max("response_time").alias("maximum_response_time"),
        F.avg("length").alias("average_length"),
        F.min("length").alias("minimum_length"),
        F.max("length").alias("maximum_length"),
        F.sum(F.when(_is_page(), 1).otherwise(0)).alias("page_count"),
        F.sum(F.when(_is_page(), F.col("length")).otherwise(0)).alias(
            "page_size"
        ),
        F.sum(F.when(~_is_page(), 1).otherwise(0)).alias("asset_count"),
        F.sum(F.when(~_is_page(), F.col("length")).otherwise(0)).alias(
            "asset_size"
        ),
        F.sum(
            F.coalesce(F.size("redirect_through"), F.lit(0))
        ).alias("total_redirects"),
        F.sum("length").alias("total_length"),
    )


def mime_counts(pages: DataFrame) -> DataFrame:
    """lib/stats.rb:92-104."""
    return (
        pages.filter("permitted")
        .groupBy("mime_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def status_counts(pages: DataFrame) -> DataFrame:
    """lib/stats.rb:125-147."""
    return (
        pages.filter("permitted")
        .groupBy("status_code")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def mime_family_counts(pages: DataFrame) -> DataFrame:
    """Top-level mime family tallies (lib/stats.rb:106-123)."""
    family = F.split(F.coalesce(F.col("mime_type"), F.lit("")), "/")[0]
    return (
        pages.filter("permitted")
        .groupBy(family.alias("mime_family"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def status_class_counts(pages: DataFrame) -> DataFrame:
    """2xx/4xx/5xx classes (lib/stats.rb:138-145)."""
    cls = (F.floor(F.col("status_code") / 100) * 100).cast("int")
    return (
        pages.filter("permitted")
        .groupBy(cls.alias("status_class"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _virtual_minute():
    """Deterministic crawl clock: one fetch per second, so minute =
    floor(fetch_order / 60). The reference buckets its time stats by
    wall-clock minute of fetch (lib/stats.rb:194-196); under the
    deterministic-corpus model the virtual clock is the reproducible
    equivalent (same shape: per-minute windows, trivially parallel — no
    global cumulative sum)."""
    return F.floor(F.col("fetch_order") / 60).cast("int")


def mime_family_minute_counts(pages: DataFrame) -> DataFrame:
    """Per-minute per-mime-family time series (lib/stats.rb:106-123)."""
    family = F.split(F.coalesce(F.col("mime_type"), F.lit("")), "/")[0]
    return (
        pages.filter("permitted")
        .groupBy(
            _virtual_minute().alias("minute"),
            family.alias("mime_family"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def status_class_minute_counts(pages: DataFrame) -> DataFrame:
    """Per-minute 2xx/4xx/5xx time series (lib/stats.rb:138-145)."""
    cls = (F.floor(F.col("status_code") / 100) * 100).cast("int")
    return (
        pages.filter("permitted")
        .groupBy(
            _virtual_minute().alias("minute"),
            cls.alias("status_class"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


def minute_retention(
    minute_df: DataFrame,
    retention_minutes: int = 60,
    minute_col: str = "minute",
    now=None,
) -> DataFrame:
    """Retention eviction over a per-minute series (lib/stats.rb:221-227:
    ``increment_time_stat`` deletes keys strictly older than ``duration``
    minutes before now — keep ⇔ minute ≥ now − duration, default 60).

    ``now`` defaults to the series head (max minute) — the deterministic
    stand-in for wall-clock now. A watermark filter: one scalar max agg +
    a broadcast cross join, no shuffle of the series itself. Works on both
    the crawl's integer virtual minutes and real timestamp minutes.
    """
    c = F.col(minute_col)
    is_ts = dict(minute_df.dtypes)[minute_col].startswith("timestamp")

    def cutoff(now_col):
        if is_ts:
            return now_col - F.expr(
                f"INTERVAL {int(retention_minutes)} MINUTES"
            )
        return now_col - F.lit(int(retention_minutes))

    if now is None:
        mx = minute_df.agg(F.max(minute_col).alias("__now"))
        return (
            minute_df.crossJoin(F.broadcast(mx))
            .filter(c >= cutoff(F.col("__now")))
            .drop("__now")
        )
    return minute_df.filter(c >= cutoff(F.lit(now)))


def run_summary(
    pages: DataFrame,
    n_waves: int,
    queue_counter: int = 0,
    status: str = "Crawl Finished",
) -> DataFrame:
    """The finished-sink row (lib/crawl_job.rb:74-84 enqueues final
    statistics exactly once; lifecycle fields per lib/stats.rb:27-41).

    One row: scalar stats + lifecycle counters. Wall-clock lifecycle
    timestamps are attached by the caller at append time (they are not
    part of the deterministic contract)."""
    return (
        scalar_stats(pages)
        .withColumn("queue_counter", F.lit(int(queue_counter)))
        .withColumn("n_waves", F.lit(int(n_waves)))
        .withColumn("current_status", F.lit(status))
    )


def collect_stats(pages: DataFrame) -> dict:
    """Driver-side stats dict in the oracle's shape (small results only)."""
    row = scalar_stats(pages).collect()[0].asDict()
    row["mime_counts"] = {
        r["mime_type"]: r["n"] for r in mime_counts(pages).collect()
    }
    row["status_counts"] = {
        str(r["status_code"]): r["n"]
        for r in status_counts(pages).collect()
    }
    return row

