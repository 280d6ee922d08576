"""Repository benchmark: end-to-end and per-layer numbers for the engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl_backlog --seed 1 --seconds 20 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
passes with the span wrappers of ``perfbench/spans.py`` installed and reports
the per-layer metrics instead. The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. The line before it
records the host (cores, memory, heap, versions). Workloads, metrics and the
layer-to-metric map are described in ``perfbench/README.md``.

Everything the run writes (Spark shuffle and spill files, crawl state, the
generated corpus) goes under ``.bench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import threading
import time
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
CORES = 4

QUERIES = (
    "dedup_exact", "dedup_minhash_lsh", "dedup_lsh_refined", "dedup_components",
    "dedup_keep_one", "corpus_prep", "text_metrics", "text_fingerprint",
    "decontam_overlap", "ann_brute_topk", "ann_lsh_topk", "ann_lsh_multiprobe",
)

# name -> unit; the same names and units as BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "1/s",
    "op_p50_s": "s",
    "op_max_s": "s",
    "first_commit_s": "s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}
SPAN_UNITS = {"_s": "s", ".jobs": "count", ".tasks": "count",
              ".executor_run_s": "s", ".jvm_gc_s": "s", ".shuffle_write_mb": "MB"}
COUNTED_CRAWL_SPANS = (
    "round.run_round", "checkpoint.write_crawl_log", "checkpoint.write_frontier_delta",
    "checkpoint.write_frontier", "checkpoint.write_bloom", "checkpoint.overlap_writes",
    "crawl.loop_self",
)
TIMED_CRAWL_SPANS = (
    "checkpoint.write_bloom_delta", "checkpoint.publish_manifest",
    "checkpoint.load_round", "checkpoint.load_state",
)


def _per_layer_units() -> dict[str, str]:
    units = {}
    for span in COUNTED_CRAWL_SPANS + tuple(f"query.{q}" for q in QUERIES):
        for suffix, unit in SPAN_UNITS.items():
            units[span + suffix] = unit
    for span in TIMED_CRAWL_SPANS:
        units[span + "_s"] = "s"
    units.update({
        "crawl.dequeued": "count", "crawl.fetched_ok": "count",
        "crawl.frontier_size_final": "count", "crawl.seen_size_final": "count",
        "extract.parse_ms_per_page": "ms", "synthweb.fetch_ms_per_page": "ms",
        "spark.core_busy_ratio": "ratio", "trace_overhead_ratio": "ratio",
    })
    return units


PER_LAYER = _per_layer_units()

# Workload sizes. "toy" is the smoke-test shape: same code paths, seconds.
SIZES = {
    "full": {
        "crawl": {"web": {"weight": 4, "n_hosts": 2000, "pages_per_host": 100, "hot_hosts": 10},
                  "seeds": 2000, "cap": 200, "rounds": 2, "kill_after": 0},
        "corpus": {"docs": 600, "embeddings": 400},
    },
    "toy": {
        "crawl": {"web": {"weight": 2, "n_hosts": 60, "pages_per_host": 10, "hot_hosts": 4},
                  "seeds": 60, "cap": 30, "rounds": 2, "kill_after": 0},
        "corpus": {"docs": 300, "embeddings": 200},
    },
}
SETUP_REPS = 3
PARSE_SAMPLE = 200


def _tool(name: str):
    """Import a script from tools/, which is not a package."""
    path = os.path.join(ROOT, "tools")
    if path not in sys.path:
        sys.path.insert(0, path)
    return importlib.import_module(name)


# ---------------------------------------------------------------- host
def host_facts() -> dict:
    """Cores, memory and the heap the session gets: a quarter of MemTotal,
    between 1 and 8 GiB, so the JVM fits hosts without swap."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    heap_mb = min(max(mem_kb // 4 // 1024 // 256 * 256, 1024), 8192)
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024,
            "heap_mb": heap_mb, "master": f"local[{CORES}]"}


def versions(spark) -> dict:
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    return {"java": jvm.System.getProperty("java.version"),
            "pyspark": pyspark.__version__, "pyarrow": pyarrow.__version__}


def start_session(heap_mb: int):
    """Local session sized from outside: heap from /proc/meminfo, shuffle and
    spill files on disk under .bench_work, the package on the workers' path."""
    local, tmp = os.path.join(WORK, "spark-local"), os.path.join(WORK, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # keep the JVM's own temp files (native-library extraction, perf data)
    # inside the work dir too, without touching the engine's JVM options
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData") if p
    )
    from bravewebcrawler_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{CORES}]",
                     extra_conf={"spark.driver.memory": f"{heap_mb}m"})


def start_python_workers(spark) -> None:
    """Start one Python worker per core, with the engine imported, so the
    first pass does not pay interpreter start-up (Spark reuses the workers)."""

    def import_engine(batches):  # nested: pickled by value, not by module path
        import bravewebcrawler_spark.plans.round  # noqa: F401

        yield from batches

    spark.range(0, CORES, 1, CORES).mapInPandas(import_engine, "id long").collect()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


class RssSampler:
    """Peak resident memory of this process's descendants: the Spark driver JVM
    and the Python workers it forks."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _descendants_rss_kb(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/status") as f:
                    fields = dict(line.split(":", 1) for line in f if ":" in line)
            except OSError:  # the process ended while we read it
                continue
            children.setdefault(int(fields["PPid"]), []).append(int(d))
            rss[int(d)] = int(fields.get("VmRSS", "0 kB").split()[0])
        total, todo = 0, list(children.get(os.getpid(), []))
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.peak_kb = max(self.peak_kb, self._descendants_rss_kb())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# ------------------------------------------------------------ workloads
class CrawlWorkload:
    """A crawl of a SynthWeb whose frontier is many times the round cap,
    killed after ``kill_after`` rounds and finished with ``resume=True``."""

    def __init__(self, spark, seed: int, size: dict):
        self.spark, self.seed, self.size = spark, seed, size

    @staticmethod
    def _policy(size: dict):
        from bravewebcrawler_spark.plans.policy import CrawlPolicy

        return CrawlPolicy(capacity=50.0, rate=50.0, max_urls_per_round=size["cap"],
                           max_rounds=size["rounds"], max_depth=8, use_bloom=True,
                           bloom_buckets=32, bloom_m_bits=1 << 18)

    def generate(self) -> None:
        """The web and its seed list; the seeds are ingested as Parquet."""
        from bravewebcrawler_spark.sources.synthweb import SynthWeb

        self.web = SynthWeb(seed=self.seed, **self.size["web"])
        self.seeds = self.web.seed_urls(self.size["seeds"])
        self.policy = self._policy(self.size)
        path = os.path.join(WORK, "seeds.parquet")
        self.spark.createDataFrame(self.seeds, "seed_id string, url string") \
            .write.mode("overwrite").parquet(path)
        self.seeds_df = self.spark.read.parquet(path)
        self.seeds_df.count()

    def run_pass(self, k: int) -> dict:
        from bravewebcrawler_spark.plans import checkpoint as ckpt
        from bravewebcrawler_spark.plans import crawl as crawl_mod

        state_dir = os.path.join(WORK, f"crawl-{k}")
        args = (self.spark, self.web, self.seeds_df, self.policy, state_dir)
        gc = self.spark.sparkContext._jvm.System.gc
        # untimed full GC before each start, as a restarted process would begin
        gc()
        t0 = time.perf_counter()
        crawl_mod.crawl(*args, stop_after_round=self.size["kill_after"])
        wall = time.perf_counter() - t0
        gc()
        t_resume = time.time()
        t0 = time.perf_counter()
        crawl_mod.crawl(*args, resume=True)
        wall += time.perf_counter() - t0
        last = ckpt.latest_round(state_dir)
        manifests = [ckpt._manifest(state_dir, r) for r in range(last + 1)]
        first = manifests[self.size["kill_after"] + 1]
        return {
            "wall_s": wall,
            "ops_s": [m["metrics"]["wall_s"] for m in manifests],
            "first_commit_s": first["committed_at"] - t_resume,
            "rows": sum(m["metrics"]["dequeued"] for m in manifests),
            "metrics": [m["metrics"] for m in manifests],
            "state_dir": state_dir,
        }

    def check(self, passes: list[dict]) -> tuple[int, int, list[str]]:
        """Every pass's crawl log and seen set against the sequential oracle
        run uninterrupted on the same web, policy and seeds. One operation is
        one round commit; a wrong seen set fails the last round."""
        from bravewebcrawler_spark.oracle.refcrawler import crawl_oracle
        from bravewebcrawler_spark.plans.crawl import read_outputs

        oracle = crawl_oracle(self.web, [u for _, u in self.seeds], self.policy)
        want: dict[int, list] = {}
        for row in oracle.crawl_log:
            want.setdefault(row[0], []).append(row)
        attempted = failed = 0
        problems = []
        for p in passes:
            out = read_outputs(self.spark, p["state_dir"])
            got: dict[int, list] = {}
            for r in out["crawl_log"].select("round", "seq", "url_canon", "status", "error").collect():
                got.setdefault(r[0], []).append(tuple(r))
            seen = {r[0] for r in out["seen"].select("url_canon").collect()}
            rounds = sorted(set(want) | set(got))
            bad = {r for r in rounds if sorted(want.get(r, [])) != sorted(got.get(r, []))}
            if seen != oracle.seen and rounds:
                bad.add(rounds[-1])
            attempted += len(rounds)
            failed += len(bad)
            problems += [f"crawl round {r} differs from the oracle" for r in sorted(bad)]
        return attempted, failed, problems

    def layer_samples(self) -> dict:
        """Per-page fetch and parse cost, timed in this process, over a fixed
        sample of the workload's pages."""
        import pandas as pd

        from bravewebcrawler_spark.functions import extract
        from bravewebcrawler_spark.functions.canon import canonicalize_url_py

        urls = [canonicalize_url_py(u) for _, u in self.seeds[:PARSE_SAMPLE]]
        fetch_ms, parse_ms = [], []
        for _ in range(5):
            t = time.perf_counter()
            html = pd.Series([self.web.fetch_outcome(u, 1)[1] for u in urls], dtype=object)
            fetch_ms.append((time.perf_counter() - t) * 1000 / len(urls))
            t = time.perf_counter()
            extract.parse_spans_pd(html)
            extract.parse_outlinks_pd(html)
            parse_ms.append((time.perf_counter() - t) * 1000 / len(urls))
        return {"synthweb.fetch_ms_per_page": statistics.median(fetch_ms),
                "extract.parse_ms_per_page": statistics.median(parse_ms)}

    def counts(self, last_pass: dict) -> dict:
        ms = last_pass["metrics"]
        return {"crawl.dequeued": sum(m["dequeued"] for m in ms),
                "crawl.fetched_ok": sum(m["fetched_ok"] for m in ms),
                "crawl.frontier_size_final": ms[-1]["frontier_size"],
                "crawl.seen_size_final": ms[-1]["seen_size"]}


class _Collected:
    """Rows already collected in the timed region, in the shape
    ``tools/check_queries.compare`` reads (``collect()`` and ``columns``)."""

    def __init__(self, rows, columns):
        self._rows, self.columns = rows, columns

    def collect(self):
        return self._rows


class CorpusWorkload:
    """The twelve shingle / Arrow-text / ANN registry queries over a corpus
    generated in the ``tools/make_sf.py`` documents/embeddings shape."""

    def __init__(self, spark, seed: int, size: dict):
        self.spark, self.seed, self.size = spark, seed, size
        self.sf_dir = os.path.join(WORK, "corpus")
        self.tracer = None

    def generate(self) -> None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        make_sf = _tool("make_sf")
        rng = np.random.default_rng(self.seed)
        n_doc, n_emb = self.size["docs"], self.size["embeddings"]
        os.makedirs(self.sf_dir, exist_ok=True)
        wcs = rng.integers(10, 101, n_doc)
        words = np.array(make_sf.VOCAB)
        texts = [" ".join(words[rng.integers(0, len(words), wc)]) for wc in wcs]
        docs = pa.table({
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": pa.array(np.array(make_sf.LANGS)[rng.choice(5, n_doc, p=make_sf.LANG_P)]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_doc)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
        vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        embs = pa.table({
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        })
        # one row group per table: the single-split layout tools/make_sf.py writes
        for name, table in (("documents", docs), ("embeddings", embs)):
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            pq.write_table(table, path, row_group_size=table.num_rows)
            self.spark.read.parquet(path).count()  # ingest check: Spark reads it

    def run_pass(self, k: int) -> dict:
        import __spark_entry__ as entry

        qs = entry.queries()
        ops, results = [], {}
        for name in QUERIES:
            # untimed full GC between queries, as bench.py does: heap residue
            # of one query otherwise lands in the next one's time
            self.spark.sparkContext._jvm.System.gc()
            t = time.perf_counter()
            try:
                with self.tracer.span(f"query.{name}") if self.tracer else nullcontext():
                    df = qs[name](self.spark, self.sf_dir)
                    results[name] = _Collected(df.collect(), df.columns)
            except Exception as e:  # noqa: BLE001 — a failing query is a failed op
                results[name] = e
            ops.append(time.perf_counter() - t)
        rows = sum(len(r.collect()) for r in results.values() if isinstance(r, _Collected))
        return {"wall_s": sum(ops), "ops_s": ops, "first_commit_s": ops[0], "rows": rows,
                "results": results}

    def check(self, passes: list[dict]) -> tuple[int, int, list[str]]:
        """Each query's rows against its DuckDB twin, compared by
        ``tools/check_queries.compare``. One operation is one query. The twins
        run concurrently, one DuckDB cursor each: the Spark work is done."""
        from concurrent.futures import ThreadPoolExecutor

        import duckdb

        import __spark_entry__ as entry

        compare = _tool("check_queries").compare
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.sql(f"create view {t} as select * from '{self.sf_dir}/{t}.parquet'")

        def check_one(item) -> list[str]:
            name, res = item
            if isinstance(res, Exception):
                return [f"{name}: {type(res).__name__}: {res}"]
            cur = con.cursor()
            try:
                return compare(name, res, oracles[name], cur)
            finally:
                cur.close()

        items = [item for p in passes for item in p["results"].items()]
        with ThreadPoolExecutor(max_workers=CORES) as pool:
            outcomes = list(pool.map(check_one, items))
        con.close()
        problems = [msg for probs in outcomes for msg in probs]
        attempted, failed = len(items), sum(1 for probs in outcomes if probs)
        return attempted, failed, problems


WORKLOADS = {"crawl_backlog": "crawl", "corpus_registry": "corpus"}


# ------------------------------------------------------------------ run
def _median_by(passes: list[dict], fn) -> float:
    return statistics.median(fn(p) for p in passes)


def run(workload: str, seed: int, seconds: float, trace: bool, size: str = "full",
        spark=None) -> dict:
    """Set up, run whole passes for at least ``seconds``, check, report.

    With ``spark`` given (tests), that session is reused and not stopped."""
    sizes = SIZES[size]
    host = host_facts()
    own_session = spark is None
    with RssSampler() as rss:
        t0 = time.perf_counter()
        if own_session:
            spark = start_session(host["heap_mb"])
        session_s = time.perf_counter() - t0
        if WORKLOADS[workload] == "crawl":
            wl = CrawlWorkload(spark, seed, sizes["crawl"])
        else:
            wl = CorpusWorkload(spark, seed, sizes["corpus"])
        gen_s = []
        for _ in range(SETUP_REPS):  # the cheap part of set-up, repeated
            t = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        start_python_workers(spark)
        setup_s = session_s + statistics.median(gen_s) + (time.perf_counter() - t)

        tracer = None
        if trace:
            from spans import Tracer

            tracer = wl.tracer = Tracer(spark)
        passes = []
        deadline = time.perf_counter() + seconds
        with tracer.installed() if tracer else nullcontext():
            while not passes or time.perf_counter() < deadline:
                passes.append(wl.run_pass(len(passes)))
    t = time.perf_counter()
    attempted, failed, problems = wl.check(passes)
    check_s = time.perf_counter() - t
    for p in problems:
        print("MISMATCH", p, file=sys.stderr)

    if not trace:
        metrics = {
            "setup_s": setup_s,
            "pass_s": _median_by(passes, lambda p: p["wall_s"]),
            "rows_per_s": _median_by(passes, lambda p: p["rows"] / p["wall_s"]),
            "op_p50_s": statistics.median(o for p in passes for o in p["ops_s"]),
            "op_max_s": _median_by(passes, lambda p: max(p["ops_s"])),
            "first_commit_s": _median_by(passes, lambda p: p["first_commit_s"]),
            "peak_rss_mb": rss.peak_kb / 1024,
            "ok_ratio": (attempted - failed) / attempted,
        }
        units = END_TO_END
    else:
        metrics = layer_metrics(wl, tracer, passes)
        units = PER_LAYER
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    host.update(versions(spark))
    t = time.perf_counter()
    if own_session:
        stop_session(spark)
    print(f"perfbench: setup {setup_s:.1f}s, {len(passes)} pass(es) "
          f"{sum(p['wall_s'] for p in passes):.1f}s, check {check_s:.1f}s, "
          f"stop {time.perf_counter() - t:.1f}s", file=sys.stderr)
    return {"host": host, "result": result, "passes": passes}


def layer_metrics(wl, tracer, passes: list[dict]) -> dict:
    """Per-pass span totals; layers a workload does not run read 0."""
    from spans import COUNTERS

    n = len(passes)
    metrics = {k: 0.0 for k in PER_LAYER}
    for name, acc in tracer.spans.items():
        if name + "_s" in metrics:
            metrics[name + "_s"] = acc.wall_s / n
        for c in COUNTERS:
            if f"{name}.{c}" in metrics:
                metrics[f"{name}.{c}"] = getattr(acc, c) / n
    if isinstance(wl, CrawlWorkload):
        metrics.update(wl.counts(passes[-1]))
        metrics.update(wl.layer_samples())
    wall = sum(p["wall_s"] for p in passes)
    metrics["spark.core_busy_ratio"] = tracer.total().executor_run_s / (wall * CORES)
    metrics["trace_overhead_ratio"] = wall / (wall - tracer.self_s)
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bravewebcrawler_spark")):
        print(f"perfbench: no bravewebcrawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    shutil.rmtree(WORK, ignore_errors=True)
    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"host": out["host"]}))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
