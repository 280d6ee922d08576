"""Spans around the engine's public crawl entry points, measured from outside.

The benchmark never edits ``bravewebcrawler_spark``. A traced pass instead
swaps ``plans.crawl.crawl``, the ``run_round`` it calls and the
``plans.checkpoint`` writers and loaders for thin wrappers, and the registry runner opens one span per query. At the end of
each span the Spark counters of that span's work are read from the live
status store, which works with the UI disabled.

Attribution rules (Spark job and stage ids only grow):

* A serial span runs on the calling thread. Its jobs are the jobs without a
  job group whose id is above the newest such id seen at span start and that
  no earlier span claimed. This also catches the jobs ``write_tables`` runs
  on its own worker thread while the caller waits.
* ``start_writes`` runs its writes on the crawl's thread pool concurrently
  with later spans. The wrapper tags those writes with a job group of their
  own, so the serial spans never see them; they are read when the round's
  manifest is published, after the crawl has waited for them.
* A stage counts once, for the first span whose window it was submitted in.
  A stage reused from an earlier job (skipped) is not counted again.
* Per crawl round, the loop's own time (``crawl.loop_self``) is the round's
  wall minus its serial child spans, so children plus self add up to the
  round's wall by construction.
"""

from __future__ import annotations

import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError

COUNTERS = ("jobs", "tasks", "executor_run_s", "jvm_gc_s", "shuffle_write_mb")


@dataclass
class Acc:
    wall_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_write_mb: float = 0.0

    def add(self, other: "Acc") -> None:
        for k in ("wall_s", *COUNTERS):
            setattr(self, k, getattr(self, k) + getattr(other, k))


class Tracer:
    """Per-span wall time and Spark counters for one traced pass."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: dict[str, Acc] = {}
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._counted_stages: set[int] = set()
        self._claimed_jobs: set[int] = set()
        self._depth = 0
        self._segment = None  # open crawl segment: (name, t0, job0, stage_t0_ms)
        self._segment_child_s = 0.0
        self._overlaps: list[tuple[str, tuple[float, float], list]] = []

    # ----------------------------------------------------------- counters
    def _newest_untagged_job(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def _counters(self, job_ids: list[int], since_ms: float) -> Acc:
        acc = Acc(jobs=len(job_ids))
        tracker = self.sc.statusTracker()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for sid in info.stageIds if info is not None else ():
                if sid in self._counted_stages:
                    continue
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted, or never submitted
                    continue
                sub = st.submissionTime()
                if not sub.isDefined() or sub.get().getTime() < since_ms:
                    continue  # skipped here: ran (and was counted) earlier
                self._counted_stages.add(sid)
                acc.tasks += st.numCompleteTasks()
                acc.executor_run_s += st.executorRunTime() / 1000.0
                acc.jvm_gc_s += st.jvmGcTime() / 1000.0
                acc.shuffle_write_mb += st.shuffleWriteBytes() / 2**20
        return acc

    def _claim_untagged(self, job0: int, since_ms: float) -> Acc:
        ids = [
            j for j in self.sc.statusTracker().getJobIdsForGroup(None)
            if j > job0 and j not in self._claimed_jobs
        ]
        self._claimed_jobs.update(ids)
        return self._counters(ids, since_ms)

    def _record(self, name: str, acc: Acc) -> None:
        self.spans.setdefault(name, Acc()).add(acc)

    # -------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str):
        """Serial span on the calling thread; nested spans pass through."""
        if self._depth:
            yield
            return
        b0 = time.perf_counter()
        job0, since_ms = self._newest_untagged_job(), time.time() * 1000.0
        self._depth += 1
        self.self_s += time.perf_counter() - b0
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self._depth -= 1
            b0 = time.perf_counter()
            acc = self._claim_untagged(job0, since_ms)
            acc.wall_s = wall
            self._record(name, acc)
            self._segment_child_s += wall
            self.self_s += time.perf_counter() - b0

    def _open_segment(self, name: str) -> None:
        b0 = time.perf_counter()
        self._segment = (name, time.perf_counter(), self._newest_untagged_job(), time.time() * 1000.0)
        self._segment_child_s = 0.0
        self.self_s += time.perf_counter() - b0

    def _close_segment(self) -> None:
        if self._segment is None:
            return
        name, t0, job0, since_ms = self._segment
        wall = time.perf_counter() - t0
        b0 = time.perf_counter()
        acc = self._claim_untagged(job0, since_ms)  # what no child span claimed
        acc.wall_s = wall - self._segment_child_s
        self._record(name, acc)
        self._segment = None
        self.self_s += time.perf_counter() - b0

    # ------------------------------------------------ overlapped writes
    def _wrap_pool(self, pool, tag: str, done: list):
        sc = self.sc

        class TaggedPool:
            def submit(_self, fn, *args, **kwargs):
                def tagged():
                    sc.setJobGroup(tag, "perfbench overlapped writes")
                    try:
                        return fn(*args, **kwargs)
                    finally:
                        done.append(time.perf_counter())

                return pool.submit(tagged)

        return TaggedPool()

    def _collect_overlaps(self) -> None:
        b0 = time.perf_counter()
        for tag, t0, done in self._overlaps:
            ids = self.sc.statusTracker().getJobIdsForGroup(tag)
            acc = self._counters(list(ids), t0[1])
            acc.wall_s = (max(done) if done else t0[0]) - t0[0]
            self._record("checkpoint.overlap_writes", acc)
        self._overlaps = []
        self.self_s += time.perf_counter() - b0

    # ---------------------------------------------------------- install
    @contextmanager
    def installed(self):
        """Swap the wrappers into the engine's modules for the ``with`` body."""
        from bravewebcrawler_spark.plans import checkpoint as ckpt
        from bravewebcrawler_spark.plans import crawl as crawl_mod

        tracer = self
        orig = {
            (crawl_mod, "crawl"): crawl_mod.crawl,
            (crawl_mod, "run_round"): crawl_mod.run_round,
            (ckpt, "write_tables"): ckpt.write_tables,
            (ckpt, "start_writes"): ckpt.start_writes,
            (ckpt, "publish_manifest"): ckpt.publish_manifest,
            (ckpt, "load_seen"): ckpt.load_seen,
            (ckpt, "load_bloom"): ckpt.load_bloom,
            (ckpt, "load_state"): ckpt.load_state,
        }

        def spanned(span_name: str, fn):
            def wrapper(*args, **kwargs):
                with tracer.span(span_name):
                    return fn(*args, **kwargs)

            return wrapper

        def crawl(*args, **kwargs):
            tracer._open_segment("crawl.prelude")
            try:
                return orig[(crawl_mod, "crawl")](*args, **kwargs)
            finally:
                tracer._close_segment()

        def run_round(*args, **kwargs):
            tracer._close_segment()
            tracer._open_segment("crawl.loop_self")
            return spanned("round.run_round", orig[(crawl_mod, "run_round")])(*args, **kwargs)

        def write_tables(state_dir, round_no, tables):
            name = "checkpoint.write_" + "+".join(tables)
            return spanned(name, orig[(ckpt, "write_tables")])(state_dir, round_no, tables)

        def start_writes(state_dir, round_no, tables, pool):
            tag = f"perfbench-overlap-{uuid.uuid4().hex}"
            done: list[float] = []
            tracer._overlaps.append((tag, (time.perf_counter(), time.time() * 1000.0), done))
            return orig[(ckpt, "start_writes")](
                state_dir, round_no, tables, tracer._wrap_pool(pool, tag, done)
            )

        def publish_manifest(*args, **kwargs):
            tracer._collect_overlaps()  # the crawl waited for them already
            return spanned("checkpoint.publish_manifest", orig[(ckpt, "publish_manifest")])(
                *args, **kwargs
            )

        wrappers = {
            "crawl": crawl, "run_round": run_round, "write_tables": write_tables,
            "start_writes": start_writes, "publish_manifest": publish_manifest,
            "load_seen": spanned("checkpoint.load_round", orig[(ckpt, "load_seen")]),
            "load_bloom": spanned("checkpoint.load_round", orig[(ckpt, "load_bloom")]),
            "load_state": spanned("checkpoint.load_state", orig[(ckpt, "load_state")]),
        }
        for mod, name in orig:
            setattr(mod, name, wrappers[name])
        try:
            yield self
        finally:
            for (mod, name), fn in orig.items():
                setattr(mod, name, fn)

    def total(self) -> Acc:
        acc = Acc()
        for a in self.spans.values():
            acc.add(a)
        return acc
