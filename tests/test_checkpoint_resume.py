"""Resume-equivalence property (SURVEY.md §5.4, north rule T3): a crawl
killed after round k and resumed equals the uninterrupted crawl bit-for-bit."""

from __future__ import annotations

import dataclasses
import json
import os

import pytest
from pyspark.sql import functions as F

from bravewebcrawler_spark.plans import checkpoint as ckpt
from bravewebcrawler_spark.plans.crawl import crawl, read_outputs
from bravewebcrawler_spark.plans.policy import CrawlPolicy
from bravewebcrawler_spark.plans.round import band_col
from bravewebcrawler_spark.sources.synthweb import SynthWeb

POLICY = CrawlPolicy(capacity=4.0, rate=2.0, max_urls_per_round=50, max_rounds=3, max_depth=5)
WEB = SynthWeb(seed=99, n_hosts=15, pages_per_host=10, hot_hosts=2)


def _log(spark, state_dir):
    out = read_outputs(spark, state_dir)
    return sorted(
        (r["round"], r["seq"], r["url_canon"], r["status"], r["error"])
        for r in out["crawl_log"].collect()
    )


def _frontier_bands(spark, state_dir, r):
    fr = ckpt.load_frontier(spark, state_dir, ckpt.load_base_round(state_dir, r), r)
    return {
        int(row["b"]): row["count"]
        for row in fr.groupBy(band_col(F.col("priority")).alias("b")).count().collect()
    }


def _assert_hists_match_frontier(spark, state_dir):
    for r in range(ckpt.latest_round(state_dir) + 1):
        saved = ckpt.load_band_hist(state_dir, r)
        actual = _frontier_bands(spark, state_dir, r)
        assert saved == actual, (r, saved, actual)
        assert sum(saved.values()) == ckpt.load_metrics(state_dir, r)["frontier_size"], r


@pytest.fixture(scope="module")
def full_dir(spark, tmp_path_factory):
    """The uninterrupted crawl every resumed crawl is compared against."""
    seeds = spark.createDataFrame(WEB.seed_urls(8), "seed_id string, url string")
    d = str(tmp_path_factory.mktemp("full"))
    crawl(spark, WEB, seeds, POLICY, d)
    return d


def test_kill_resume_equals_uninterrupted(spark, tmp_path_factory, full_dir):
    seeds = spark.createDataFrame(WEB.seed_urls(8), "seed_id string, url string")
    full = _log(spark, full_dir)

    kill_dir = str(tmp_path_factory.mktemp("killed"))
    crawl(spark, WEB, seeds, POLICY, kill_dir, stop_after_round=0)
    assert ckpt.latest_round(kill_dir) == 0  # committed exactly one round
    crawl(spark, WEB, seeds, POLICY, kill_dir, resume=True)
    assert _log(spark, kill_dir) == full


def test_frontier_size_arithmetic_matches_reconstruction(spark, full_dir):
    """frontier_size is the sum of the band histogram, which non-compaction
    rounds update arithmetically (- selected - touched old + delta new per
    band) instead of scanning the frontier; the number must equal the actual
    reconstructed frontier's cardinality."""
    d = full_dir
    last = ckpt.latest_round(d)
    assert last is not None and last >= 1  # at least one delta round
    for r in range(last + 1):
        m = ckpt.load_metrics(d, r)
        base = ckpt.load_base_round(d, r)
        actual = ckpt.load_frontier(spark, d, base, r).count()
        assert m["frontier_size"] == actual, (r, m["frontier_size"], actual)


def test_manifest_is_the_commit_point(spark, tmp_path_factory, full_dir):
    """A round directory without a manifest is invisible to resume."""
    seeds = spark.createDataFrame(WEB.seed_urls(8), "seed_id string, url string")
    d = str(tmp_path_factory.mktemp("manifesto"))
    crawl(spark, WEB, seeds, POLICY, d, stop_after_round=1)
    assert ckpt.latest_round(d) == 1
    # simulate a kill between write_tables and publish_manifest of round 2:
    # the directory may exist, but resume must restart from round 1's state
    os.makedirs(os.path.join(d, "round-000002", "frontier"), exist_ok=True)
    assert ckpt.latest_round(d) == 1
    crawl(spark, WEB, seeds, POLICY, d, resume=True)
    assert _log(spark, d) == _log(spark, full_dir)


def test_resume_under_lower_max_depth_keeps_every_band(spark, tmp_path_factory):
    """A crawl resumed under a lower max_depth still holds rows admitted
    deeper: their bands lie outside the new policy's band range, and the
    committed histogram must keep counting them."""
    seeds = spark.createDataFrame(WEB.seed_urls(8), "seed_id string, url string")
    d = str(tmp_path_factory.mktemp("shallower"))
    crawl(spark, WEB, seeds, POLICY, d, stop_after_round=0)
    shallow = dataclasses.replace(POLICY, max_depth=0)
    # the round-0 frontier holds depth-1 rows below band 4 - max_depth
    assert min(ckpt.load_band_hist(d, 0)) < 4 - shallow.max_depth
    crawl(spark, WEB, seeds, shallow, d, resume=True)
    assert ckpt.latest_round(d) >= 1
    _assert_hists_match_frontier(spark, d)


def test_resume_from_manifest_without_band_hist(spark, tmp_path_factory, full_dir):
    """Manifests written before every round committed a band histogram are
    resumed by rebuilding it from the loaded frontier once."""
    seeds = spark.createDataFrame(WEB.seed_urls(8), "seed_id string, url string")
    d = str(tmp_path_factory.mktemp("oldmanifest"))
    crawl(spark, WEB, seeds, POLICY, d, stop_after_round=0)
    path = os.path.join(d, "_MANIFEST-000000.json")
    with open(path) as f:
        manifest = json.load(f)
    del manifest["band_hist"]
    with open(path, "w") as f:
        json.dump(manifest, f)
    assert ckpt.load_band_hist(d, 0) is None
    crawl(spark, WEB, seeds, POLICY, d, resume=True)
    assert _log(spark, d) == _log(spark, full_dir)
    # round 1's histogram is the rebuilt one plus round 1's band deltas
    for r in range(1, ckpt.latest_round(d) + 1):
        assert ckpt.load_band_hist(d, r) == ckpt.load_band_hist(full_dir, r), r
        assert ckpt.load_band_hist(d, r) == _frontier_bands(spark, d, r), r
