"""Crawl-frontier scheduling: politeness-aware, host-diverse fetch
ordering over a URL queue.

The companion of ``operators/robots.py``: once robots.txt decides WHAT
may be fetched and ``robots_crawl_meta`` supplies each host's
crawl-delay, the frontier decides WHEN — every host is fetched
serially with its delay between requests (politeness), the global
fetch budget goes to the highest-priority URLs, and no host may
monopolize the budget (host diversity — the classic Mercator/Heritrix
frontier split into per-host queues).

Semantics (engine-exact, integer-only):

1. Per host, URLs rank by ``(priority DESC, id ASC)`` —
   ``rank_in_host`` 1, 2, ….
2. Ranks beyond ``per_host_cap`` are dropped (host diversity).
3. The surviving URLs compete for the global ``budget`` by the same
   ``(priority DESC, id ASC)`` order.
4. ``not_before_ms = (rank_in_host - 1) * delay_ms`` — the earliest
   polite fetch time relative to the host's first fetch.

Scale shape: one window per host (state bounded by the host's own
queue, so the straggler is the longest host queue) and one TakeOrdered
for the budget — never a global sort materialized. A pathological
host queue (link farm emitting 10^9 URLs) is refused LOUDLY before
the window via a map-side-combinable count + in-plan raise
(``max_host_queue``, the semdedup pair-budget discipline) — cap it
upstream with ``per_host_cap``-sized sampling instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = ["frontier_schedule"]


def _ts_us(ts_col: str) -> Column:
    # cast through TIMESTAMP: the parquet column arrives TIMESTAMP_NTZ
    # and unix_micros wants an instant; the session TZ is UTC so the
    # micros equal DuckDB's epoch_us of the same parquet value
    return F.unix_micros(F.col(ts_col).cast("timestamp"))


def frontier_schedule(df: DataFrame, id_col: str = "url_id",
                      host_col: str = "host", prio_col: str = "priority",
                      delay_col: str = "delay_ms",
                      per_host_cap: int = 16, budget: int = 1000,
                      max_host_queue: int = 10_000_000) -> DataFrame:
    """Schedule a frontier frame ``(id, host, priority, delay_ms)``.

    Returns at most ``budget`` rows: ``(url_id, host, priority,
    rank_in_host, not_before_ms)`` — the fetch set, each with its
    polite earliest-start offset. Deterministic for any input order.
    """
    q = df.select(F.col(id_col).alias("url_id"),
                  F.col(host_col).alias("host"),
                  F.col(prio_col).cast("long").alias("priority"),
                  F.col(delay_col).cast("long").alias("delay_ms"))
    counts = q.groupBy("host").agg(F.count("*").alias("_n"))
    # an empty frontier is a drained queue, not an oversized one: max
    # over zero hosts is NULL, which would fall through to raise_error
    guard = counts.select(
        F.coalesce(F.max("_n"), F.lit(0)).alias("_mx")).select(
        F.when(F.col("_mx") <= max_host_queue, F.lit(1))
        .otherwise(F.raise_error(F.lit(
            f"frontier_schedule: a host queue exceeds max_host_queue="
            f"{max_host_queue}; sample or shard the frontier upstream "
            "before scheduling")).cast("int")).alias("_ok"))
    w = Window.partitionBy("host").orderBy(F.desc("priority"),
                                           F.asc("url_id"))
    # the guard column must survive column pruning: referencing it in
    # a FILTER keeps the raise_error branch in the plan
    ranked = (q.crossJoin(F.broadcast(guard))
              .where(F.col("_ok") == 1)
              .withColumn("rank_in_host", F.row_number().over(w))
              .where(F.col("rank_in_host") <= per_host_cap))
    return (ranked.select(
        "url_id", "host", "priority",
        F.col("rank_in_host").cast("long").alias("rank_in_host"),
        ((F.col("rank_in_host") - 1) * F.col("delay_ms"))
        .cast("long").alias("not_before_ms"))
        .orderBy(F.desc("priority"), F.asc("url_id"))
        .limit(budget))


def recrawl_schedule(df: DataFrame, id_col: str = "url_id",
                     ts_col: str = "ts", changed_col: str = "changed",
                     min_interval_s: int = 3600,
                     max_interval_s: int = 30 * 86_400) -> DataFrame:
    """Freshness-aware recrawl intervals from observation history — the
    incremental companion of ``frontier_schedule`` (Cho &
    Garcia-Molina 2003's estimate-and-revisit loop, reduced to the
    integer form both engines replay exactly).

    Input: one row per past fetch ``(id, ts, changed)`` — ``changed``
    true when the fetch observed new content. Per entity the mean
    change interval is ``span_us div n_changed`` (observed span over
    observed changes); entities that never changed, or were seen once,
    sit at ``max_interval_s``; everything clamps into
    ``[min_interval_s, max_interval_s]``. Output ``(url_id, n_obs,
    n_changed, interval_us, next_fetch_us)`` with ``next_fetch_us =
    last fetch + interval``.

    Scale shape: ONE map-side-combinable aggregate keyed on the entity
    (count/sum/min/max) and a closed-form projection — no windows, no
    joins, no per-entity history buffering; a URL fetched 10^6 times
    still costs one partial-agg row per task.
    """
    lo = int(min_interval_s) * 1_000_000
    hi = int(max_interval_s) * 1_000_000
    per = (df.select(F.col(id_col).alias("url_id"),
                     _ts_us(ts_col).alias("_us"),
                     F.col(changed_col).cast("long").alias("_ch"))
           .groupBy("url_id")
           .agg(F.count("*").alias("n_obs"),
                F.sum("_ch").alias("n_changed"),
                F.min("_us").alias("_first"),
                F.max("_us").alias("_last")))
    raw = F.expr("(_last - _first) div nullif(n_changed, 0)")
    interval = F.when(
        (F.col("n_obs") < 2) | (F.col("n_changed") == 0), F.lit(hi)
    ).otherwise(F.least(F.greatest(raw, F.lit(lo)), F.lit(hi)))
    return per.select("url_id",
                      F.col("n_obs").cast("long").alias("n_obs"),
                      F.col("n_changed").cast("long").alias("n_changed"),
                      interval.cast("long").alias("interval_us"),
                      (F.col("_last") + interval).cast("long")
                      .alias("next_fetch_us"))
