"""Driver loop: crawl a SynthWeb from a seed list, round by round (T1/T3).

Equivalent of the reference's batch entry points
(brave_parallel_processing.py:327-396 and brave_processor.py:211-323) lifted
to DataFrame micro-batches. Each round is one job (plans/round.py); state is
committed atomically per round (plans/checkpoint.py) and a killed crawl
resumes exactly from the last committed round.

Seed ingestion mirrors the reference's input-CSV validation (P7,
brave_processor.py:249-261): malformed rows become dead-letter rows with a
status and are never silently dropped (K3).
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from bravewebcrawler_spark.plans import checkpoint as ckpt
from bravewebcrawler_spark.plans.policy import CrawlPolicy
from bravewebcrawler_spark.plans.round import (
    HOST_STATE_SCHEMA,
    SEEN_SCHEMA,
    admit_candidates,
    band_col,
    band_counts,
    merge_frontier,
    observe_bands,
    robots_df,
    run_round,
)
from bravewebcrawler_spark.sources.synthweb import SynthWeb

INVALID_ROW = "INVALID_INPUT_ROW_STRUCTURE"  # analog of brave_processor.py:253
EMPTY_URL = "EMPTY_URL_IN_INPUT"  # analog of EMPTY_COMPANY_NAME_IN_INPUT (:259)


def validate_seeds(seeds: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split seed rows into (valid, dead_letter) — dead letters keep a status."""
    tagged = seeds.withColumn(
        "status",
        F.when(F.col("url").isNull(), F.lit(INVALID_ROW))
        .when(F.trim(F.col("url")) == "", F.lit(EMPTY_URL))
        .otherwise(F.lit(None)),
    )
    valid = tagged.where(F.col("status").isNull()).drop("status")
    dead = tagged.where(F.col("status").isNotNull())
    return valid, dead


def initial_state(
    spark: SparkSession, web: SynthWeb, seeds: DataFrame, policy: CrawlPolicy
) -> dict[str, DataFrame]:
    robots = robots_df(spark, web)
    valid, dead = validate_seeds(seeds)
    frontier = admit_candidates(
        valid.select("url", F.lit(0).alias("d0")), "d0", 0, robots, policy
    )
    # distinct canonical seeds (messy duplicates collapse); min-depth merge is
    # a no-op at depth 0 but reuses the shared rule
    return {
        "frontier": merge_frontier(frontier),
        "seen": spark.createDataFrame([], SEEN_SCHEMA),
        "host_state": spark.createDataFrame([], HOST_STATE_SCHEMA),
        "dead_letter": dead,
        "robots": robots,
    }


def crawl(
    spark: SparkSession,
    web: SynthWeb,
    seeds: DataFrame,
    policy: CrawlPolicy,
    state_dir: str,
    resume: bool = False,
    stop_after_round: int | None = None,
) -> dict:
    """Run (or resume) a crawl; returns summary metrics.

    ``stop_after_round`` simulates a kill for resume tests.
    """
    if not resume and os.path.isdir(state_dir):
        shutil.rmtree(state_dir)
    os.makedirs(state_dir, exist_ok=True)

    from bravewebcrawler_spark.operators.seen import empty_bloom

    robots = robots_df(spark, web)
    start_round = 0
    seen_size = 0
    base_round = 0
    init_frontier = None  # fresh-start-only persist, released after round 0
    # band -> frontier row count; a fresh crawl starts empty because round 0
    # is a compaction round, whose snapshot write bases the histogram
    band_hist: dict[int, int] = {}
    last = ckpt.latest_round(state_dir) if resume else None
    if last is not None:
        state = ckpt.load_state(spark, state_dir, last)
        frontier, seen, host_state = state["frontier"], state["seen"], state["host_state"]
        bloom = state["bloom"]
        seen_size = ckpt.load_metrics(state_dir, last)["seen_size"]
        base_round = ckpt.load_base_round(state_dir, last)
        start_round = last + 1
        band_hist = ckpt.load_band_hist(state_dir, last)
        if band_hist is None:  # a manifest written before every round committed one
            band_hist = {
                int(r["b"]): r["count"]
                for r in frontier.groupBy(band_col(F.col("priority")).alias("b")).count().collect()
            }
    else:
        st = initial_state(spark, web, seeds, policy)
        frontier, seen, host_state = st["frontier"], st["seen"], st["host_state"]
        # Round 0 consumes the initial frontier several times (the dequeue
        # ranking scan in jobA, then the selected/touched/untouched split in
        # jobB) — without a persist each consumer re-runs the 1.6M-row seed
        # canonicalize+merge chain (phase-log finding, round 3). jobA's full
        # ranking scan warms the cache before jobB's joins read it, so the
        # in-flight-recompute trap (BENCH item 2) does not apply; released
        # after round 0 commits.
        from pyspark.storagelevel import StorageLevel

        frontier = frontier.persist(StorageLevel.MEMORY_AND_DISK)
        init_frontier = frontier
        bloom = empty_bloom(spark, policy.bloom_buckets)
        # K3: dead-letter rows are kept with their status, never dropped
        st["dead_letter"].write.mode("overwrite").parquet(os.path.join(state_dir, "dead_letter"))

    total_fetched = 0
    from concurrent.futures import ThreadPoolExecutor

    write_pool = ThreadPoolExecutor(max_workers=4, thread_name_prefix="bwc-write")
    for rnd in range(start_round, policy.max_rounds):
        t0 = time.time()
        out = run_round(
            spark, web, frontier, seen, host_state, robots, policy, rnd, bloom,
            band_hist=band_hist,
        )
        domain = out["band_domain"]
        # Bookkeeping rides on the writes (zero extra jobs): the crawl_log
        # write IS the warm+count job — an Observation on it yields
        # (dequeued, fetched_ok) while materializing the selected+fetched
        # caches (and with them run_round's per-band selected counts) — and
        # the frontier_delta or frontier snapshot write carries the band
        # counts the same way. Ordering is still serial on purpose where
        # caches are cold: Spark does not dedupe in-flight computation of a
        # persisted partition, so parallel jobs over a cold cache would each
        # recompute the dequeue+fetch chain (measured: 3x CPU + GC storm at
        # local[32]).
        obs_a = Observation()
        log_obs = out["crawl_log"].observe(
            obs_a,
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("status") == "FETCHED_OK").alias("ok"),
        )
        ckpt.write_tables(state_dir, rnd, {"crawl_log": log_obs})
        counts = obs_a.get
        dequeued, fetched_ok = counts["n"], counts["ok"]
        # remaining fetched-derived outputs need only warm caches — write
        # them WHILE the discover→dedup→merge chain computes; pure overlap
        early_futs = ckpt.start_writes(
            state_dir, rnd,
            {
                "seen": out["seen_delta"],
                "host_state": out["host_state"],
                "documents": out["documents"],
            },
            write_pool,
        )
        # Commit O(delta): seen/bloom/frontier deltas every round; a full
        # frontier+bloom snapshot every compact_every rounds bounds both the
        # reconstruction read fan-in and the lazy cross-round plan depth.
        # Each table below is written alone: the first one materializes the
        # COLD discovery chain (additions, fdelta_tagged, bloom probe incl.
        # bloom_delta) in dependency order, and the bloom write after it is a
        # warm scan — concurrent writes would duplicate the chain in flight.
        is_compaction = rnd % max(policy.compact_every, 1) == 0
        if is_compaction:
            base_round = rnd
            snapshot, obs_f = observe_bands(out["frontier"], domain, band=band_col(F.col("priority")))
            rd = ckpt.write_tables(state_dir, rnd, {"frontier": snapshot})
            ckpt.write_tables(
                state_dir, rnd, {"bloom": out["bloom"].withColumn("round", F.lit(rnd))}
            )
            # exact re-base from the snapshot (zeroes any drift)
            band_hist = band_counts(obs_f, "band", domain)
        else:
            touched = F.col("__touched")
            fdelta, obs_b = observe_bands(
                out["fdelta_tagged"], domain,
                old=F.when(touched > -1000, touched), new=band_col(F.col("priority")),
            )
            rd = ckpt.write_tables(state_dir, rnd, {"frontier_delta": fdelta.drop("__touched")})
            ckpt.write_tables(
                state_dir, rnd, {"bloom_delta": out["bloom_delta"].withColumn("round", F.lit(rnd))}
            )
            # selected rows leave their band, touched rows leave their OLD
            # band, every delta row enters its (new) band
            sel = band_counts(out["selected_bands"], "band", domain)
            old = band_counts(obs_b, "old", domain)
            new = band_counts(obs_b, "new", domain)
            band_hist = {b: band_hist.get(b, 0) - sel[b] - old[b] + new[b] for b in domain}
        band_hist = {b: c for b, c in band_hist.items() if c}
        for f in early_futs:  # all tables durable before the manifest commit
            f.result()

        frontier_size = sum(band_hist.values())
        seen_size += dequeued
        metrics = ckpt.RoundMetrics(
            round_no=rnd,
            dequeued=dequeued,
            fetched_ok=fetched_ok,
            frontier_size=frontier_size,
            seen_size=seen_size,
            wall_s=time.time() - t0,
        )
        # tables already written: publish manifest atomically (commit point)
        ckpt.publish_manifest(state_dir, rnd, metrics, base_round, band_hist=band_hist)
        for df in out["_cached"]:
            df.unpersist()
        if init_frontier is not None:
            init_frontier.unpersist()
            init_frontier = None
        total_fetched += dequeued
        # Next-round state from COMMITTED parquet (bounded lineage, O(delta)
        # reads): the frontier chains one broadcast-filtered delta per round
        # onto the last full snapshot — identical to load_frontier's
        # reconstruction, applied incrementally.
        seen = ckpt.load_seen(spark, state_dir, rnd)
        host_state = spark.read.parquet(os.path.join(rd, "host_state"))
        if is_compaction:
            frontier = spark.read.parquet(os.path.join(rd, "frontier"))
            bloom = spark.read.parquet(os.path.join(rd, "bloom")).select("bucket", "filter")
        else:
            fdelta = spark.read.parquet(os.path.join(rd, "frontier_delta"))
            removed = spark.read.parquet(os.path.join(rd, "seen")).select("url_hash")
            # no broadcast hints: AQE picks broadcast only when the delta is
            # genuinely small (see the matching note in plans/round.py)
            frontier = (
                frontier.join(removed, "url_hash", "left_anti")
                .join(fdelta.select("url_hash"), "url_hash", "left_anti")
                .unionByName(fdelta)
            )
            bloom = ckpt.load_bloom(spark, state_dir, base_round, rnd)
        if dequeued == 0:
            break
        if stop_after_round is not None and rnd >= stop_after_round:
            break

    write_pool.shutdown(wait=True)
    return {
        "last_round": ckpt.latest_round(state_dir),
        "total_dequeued": total_fetched,
        "state_dir": state_dir,
    }


def read_outputs(spark: SparkSession, state_dir: str) -> dict[str, DataFrame]:
    """Union of per-round outputs + final state of the newest committed round."""
    last = ckpt.latest_round(state_dir)
    assert last is not None, "no committed rounds"
    doc_paths = [os.path.join(ckpt.round_dir(state_dir, r), "documents") for r in range(last + 1)]
    log_paths = [os.path.join(ckpt.round_dir(state_dir, r), "crawl_log") for r in range(last + 1)]
    docs = spark.read.parquet(*doc_paths)
    log = spark.read.parquet(*log_paths)
    st = ckpt.load_state(spark, state_dir, last)
    return {"documents": docs, "crawl_log": log, **st}
