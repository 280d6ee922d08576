"""Exact dequeue band pruning (plans/round.py): pruned == unpruned bit-for-bit,
the budget-starved fallback engages, and the band histogram every round
commits matches the real frontier band counts."""

from __future__ import annotations

from pyspark.sql import functions as F

from bravewebcrawler_spark.plans import checkpoint as ckpt
from bravewebcrawler_spark.plans.crawl import crawl
from bravewebcrawler_spark.plans.policy import CrawlPolicy
from bravewebcrawler_spark.plans.round import FRONTIER_SCHEMA, band_col, dequeue
from bravewebcrawler_spark.sources.synthweb import SynthWeb


def _frontier(spark, n=60000, hosts=40):
    """Synthetic frontier with several priority bands and messy tie shapes."""
    return (
        spark.range(n)
        .select(
            F.concat(F.lit("http://h"), (F.col("id") % hosts).cast("string"),
                     F.lit(".example.ch/p/"), F.col("id").cast("string")).alias("url_canon"),
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10)
            .cast("long").alias("url_hash"),
            F.concat(F.lit("h"), (F.col("id") % hosts).cast("string"), F.lit(".example.ch")).alias("host"),
            F.concat(F.lit("/p/"), F.col("id").cast("string")).alias("path"),
            (F.lit(2.0) - F.lit(0.25) * (F.col("id") % 9).cast("double")).alias("priority"),
            (F.col("id") % 9).cast("int").alias("depth"),
            F.lit(0).alias("round_added"),
            F.lit("t").alias("lineage"),
            F.lit(0).alias("attempts"),
        )
    )


def _hist(df) -> dict[int, int]:
    return {
        int(r["b"]): r["count"]
        for r in df.groupBy(band_col(F.col("priority")).alias("b")).count().collect()
    }


def _rows(df):
    return sorted((r["url_hash"], r["seq"]) for r in df.collect())


def test_pruned_dequeue_equals_unpruned(spark):
    fr = _frontier(spark).persist()
    hs = spark.createDataFrame([], "host string, tokens double")
    # generous budget: the top bands alone can satisfy the cap -> prune sticks
    policy = CrawlPolicy(capacity=4000.0, rate=4000.0, max_urls_per_round=21000)
    base = _rows(dequeue(fr, hs, policy, refill=False))
    pruned = _rows(dequeue(fr, hs, policy, refill=False, band_hist=_hist(fr)))
    assert pruned == base and len(base) == 21000
    fr.unpersist()


def test_budget_starved_prune_falls_back(spark):
    # top band: 50k rows concentrated on 5 hosts (politeness-starved);
    # tail: 10k rows spread over 40 hosts. The histogram threshold selects
    # the top band alone (50k >= 2x cap), but its post-politeness survivors
    # (5 hosts x 1000 budget = 5000) undershoot the cap -> the exactness
    # check must reject the prune and rerun unpruned.
    base_df = _frontier(spark, n=60000, hosts=40)
    top = F.col("url_hash") % 6 != 0  # deterministic-ish 5/6 split
    fr = (
        base_df.withColumn("priority", F.when(top, F.lit(2.0)).otherwise(F.lit(1.0)))
        .withColumn(
            "host",
            F.when(top, F.concat(F.lit("hot"), (F.col("url_hash") % 5).cast("string"), F.lit(".example.ch")))
            .otherwise(F.col("host")),
        )
        .persist()
    )
    hist = _hist(fr)
    hs = spark.createDataFrame([], "host string, tokens double")
    policy = CrawlPolicy(capacity=1000.0, rate=1000.0, max_urls_per_round=21000)
    assert hist[8] >= 2 * policy.max_urls_per_round  # the prune WILL trigger
    base = _rows(dequeue(fr, hs, policy, refill=False))
    pruned = _rows(dequeue(fr, hs, policy, refill=False, band_hist=hist))
    assert pruned == base
    # survivors: 5 hot hosts x 1000 + ~10k tail rows over 40 hosts (< 1000
    # budget each) — well under the cap, so every survivor is selected
    assert 5000 < len(base) < 21000
    fr.unpersist()


def test_crawl_band_hist_matches_frontier(spark, tmp_path_factory):
    """End-to-end: the histogram committed with every round (compaction and
    delta rounds alike) equals the reconstructed frontier's band counts, and
    the manifest's frontier_size is its sum."""
    web = SynthWeb(seed=99, n_hosts=15, pages_per_host=10, hot_hosts=2)
    policy = CrawlPolicy(capacity=4.0, rate=2.0, max_urls_per_round=50, max_rounds=3, max_depth=5)
    seeds = spark.createDataFrame(web.seed_urls(8), "seed_id string, url string")
    d = str(tmp_path_factory.mktemp("hist"))
    crawl(spark, web, seeds, policy, d)
    last = ckpt.latest_round(d)
    assert last is not None and last >= 1  # a compaction round and a delta round
    for r in range(last + 1):
        saved = ckpt.load_band_hist(d, r)
        base = ckpt.load_base_round(d, r)
        actual = _hist(ckpt.load_frontier(spark, d, base, r))
        assert saved == actual, (r, saved, actual)
        assert sum(saved.values()) == ckpt.load_metrics(d, r)["frontier_size"], r


def test_rank_cache_scope_releases_on_exit(spark):
    """Registry-less dequeue callers inside rank_cache_scope() get their
    placement-freezing caches released at scope exit (VERDICT r2 #6) — and
    the results stay correct while the scope is open."""
    from bravewebcrawler_spark.plans.round import rank_cache_scope

    jsc = spark.sparkContext._jsc.sc()

    def storage_ids():
        return {info.id() for info in jsc.getRDDStorageInfo()}

    fr = _frontier(spark).persist()
    fr.count()  # materialize fr's own cache so `before` includes it
    hs = spark.createDataFrame([], "host string, tokens double")
    policy = CrawlPolicy(capacity=4000.0, rate=4000.0, max_urls_per_round=21000)
    before = storage_ids()
    with rank_cache_scope():
        rows = _rows(dequeue(fr, hs, policy, refill=False))
        assert len(rows) == 21000
        assert storage_ids() - before, "large-cap dequeue should have pinned caches"
    assert not (storage_ids() - before), "scope exit must unpersist the pinned caches"
    fr.unpersist()
