"""Smoke test: both workload shapes at toy size in one Spark session.

Checks that every metric named in BENCHMARK.json is emitted with its unit in
the matching trace mode, that the correctness gate runs, and that the exact
counters of a traced run repeat between two runs of the same code and seed.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)
sys.path.insert(0, ROOT)

import run  # noqa: E402

SEED = 3
SHUFFLE_TOLERANCE = 0.10  # shuffle bytes may differ by compression, not by work
# These queries materialize cached relations from concurrent jobs; which job
# computes a shared stage (and so the job and task counts) varies run to run
# in the program itself, for identical input, by one or two, and with them
# the shuffle bytes those jobs write.
RACY_SPANS = ("query.corpus_prep.", "query.dedup_components.", "query.dedup_keep_one.")
RACY_SLACK = 2


@pytest.fixture(scope="module")
def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def results():
    spark = run.start_session(heap_mb=2048)  # work files under run.WORK
    out = {}
    for workload in sorted(run.WORKLOADS):
        out[workload] = {
            "untraced": run.run(workload, SEED, 0, trace=False, size="toy", spark=spark),
            "traced": [run.run(workload, SEED, 0, trace=True, size="toy", spark=spark)
                       for _ in range(2)],
        }
    yield out
    spark.stop()


def test_workloads_match_spec(spec):
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_every_metric_emitted_with_its_unit(spec, results, workload):
    untraced = results[workload]["untraced"]["result"]["metrics"]
    traced = results[workload]["traced"][0]["result"]["metrics"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        {k: v["unit"] for k, v in untraced.items()}
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        {k: v["unit"] for k, v in traced.items()}
    for v in untraced.values():
        assert v["value"] > 0  # end-to-end metrics never read 0


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_correctness_gate_runs(results, workload):
    for out in [results[workload]["untraced"], *results[workload]["traced"]]:
        res = out["result"]
        assert res["attempted"] >= 1
        assert res["correct"] == (res["failed"] == 0)
    # the toy crawl must match the oracle; the registry gate must check all 12
    assert results["crawl_backlog"]["untraced"]["result"]["correct"]
    assert results["corpus_registry"]["untraced"]["result"]["attempted"] == len(run.QUERIES)


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_exact_counts_repeat(results, workload):
    first, second = (r["result"]["metrics"] for r in results[workload]["traced"])
    counts = [k for k in first
              if k.endswith((".jobs", ".tasks")) or k.startswith("crawl.") and not k.endswith("_s")]
    exact = [k for k in counts if not k.startswith(RACY_SPANS)]
    assert exact
    assert {k: first[k]["value"] for k in exact} == {k: second[k]["value"] for k in exact}
    for k in set(counts) - set(exact):
        assert abs(first[k]["value"] - second[k]["value"]) <= RACY_SLACK, k
    for k in first:
        if k.endswith(".shuffle_write_mb") and not k.startswith(RACY_SPANS):
            a, b = first[k]["value"], second[k]["value"]
            assert abs(a - b) <= SHUFFLE_TOLERANCE * max(a, b), k
    active = [k for k in exact if k.endswith(".jobs") and first[k]["value"] > 0]
    assert active  # the workload's own layers did run


def test_crawl_round_walls_are_accounted(results):
    """The serial round spans plus the loop's self time cover every round's
    manifest wall and fit inside the pass."""
    out = results["crawl_backlog"]["traced"][0]
    metrics = out["result"]["metrics"]
    serial = [
        "round.run_round_s", "checkpoint.write_crawl_log_s", "checkpoint.write_frontier_delta_s",
        "checkpoint.write_bloom_delta_s", "checkpoint.write_frontier_s", "checkpoint.write_bloom_s",
        "checkpoint.publish_manifest_s", "checkpoint.load_round_s", "crawl.loop_self_s",
    ]
    rounds_s = sum(metrics[k]["value"] for k in serial)
    (one_pass,) = out["passes"]
    assert all(metrics[k]["value"] >= 0 for k in serial)
    assert sum(one_pass["ops_s"]) <= rounds_s <= one_pass["wall_s"]
