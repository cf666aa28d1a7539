"""Layer spans recorded from outside the program, plus the Spark work
each span caused.

The traced run replaces the public functions that ``plans/rounds.py``
calls (and two I/O entry points) with wrappers that

* open a span (name, start, end, thread) around the call and give it its
  own Spark job group, set in the thread that runs the call, so every job
  the call submits is attributed to it;
* persist and count the layer's lazy output inside the span, so the span
  is the layer's self time (the inline fetch/extraction and next-frontier
  merge steps are timed by counting the persisted input of the layer that
  consumes them);
* record row counts at the same boundary.

After each round (or query) :class:`SparkWork` reads the finished jobs
and their stages' task metrics from Spark's status store. Wrappers are
installed only for the traced run and removed afterwards; when no round
is being traced they call straight through.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

MB = 1 << 20
#: span names of the benchmark's own probes (bloom statistics, Arrow
#: share); they cover round time but belong to no program layer
PROBE = "perfbench.probe"


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


@dataclass
class Work:
    """Task metrics of the stages one set of jobs ran."""

    jobs: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    task_skew: float = 0.0

    def add(self, o: "Work") -> None:
        self.jobs += o.jobs
        self.run_s += o.run_s
        self.cpu_s += o.cpu_s
        self.shuffle_write_mb += o.shuffle_write_mb
        self.spill_mb += o.spill_mb
        self.task_skew = max(self.task_skew, o.task_skew)


class SparkWork:
    """Finished jobs and their stages, read from Spark's status store
    (works with ``spark.ui.enabled=false``)."""

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.last_job = self._newest_job_id()
        self.stages_done: set[int] = set()

    def _newest_job_id(self) -> int:
        seq = self.store.jobsList(None)
        return max((seq.apply(i).jobId() for i in range(seq.size())), default=-1)

    def collect(self, skew_groups=()) -> dict[str | None, Work]:
        """Work of every job finished since the last call, keyed by job
        group. A stage shared by several jobs counts once, for the first
        job that ran it. ``task_skew`` (slowest task / median task of a
        stage, max over the group's multi-task stages) is read only for
        the groups in ``skew_groups``: it needs one call per task."""
        seq = self.store.jobsList(None)  # newest job first
        jobs = []
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() <= self.last_job:
                break
            jobs.append(j)
        jobs.sort(key=lambda j: j.jobId())
        if jobs:
            self.last_job = jobs[-1].jobId()
        out: dict[str | None, Work] = {}
        for j in jobs:
            g = j.jobGroup()
            group = g.get() if g.isDefined() else None
            w = out.setdefault(group, Work())
            w.jobs += 1
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in self.stages_done:
                    continue
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage never got an attempt
                    continue
                if sd.status().toString() not in ("COMPLETE", "FAILED"):
                    continue
                self.stages_done.add(sid)
                w.run_s += sd.executorRunTime() / 1e3
                w.cpu_s += sd.executorCpuTime() / 1e9
                w.shuffle_write_mb += sd.shuffleWriteBytes() / MB
                w.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
                if group in skew_groups and sd.numTasks() > 1:
                    w.task_skew = max(w.task_skew, self._skew(sid, sd.attemptId()))
        return out

    def _skew(self, sid: int, attempt: int) -> float:
        tasks = self.store.taskList(sid, attempt, 1 << 20)
        d = []
        for i in range(tasks.size()):
            t = tasks.apply(i).duration()
            if t.isDefined():
                d.append(float(t.get()))
        med = statistics.median(d) if d else 0.0
        return max(d) / med if med > 0 else 0.0


class Tracer:
    """Span recorder and the wrappers that feed it."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = SparkWork(spark)
        self.spans: list[Span] = []
        self.active = False
        self._ids = itertools.count()
        self._lock = threading.Lock()
        self._kept: list = []
        self._calls: dict[str, int] = {}
        self._undo: list = []

    # -- spans --------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.sc
        prev = (sc.getLocalProperty("spark.jobGroup.id"),
                sc.getLocalProperty("spark.job.description"))
        group = f"perfbench-{next(self._ids)}"
        sc.setJobGroup(group, name)
        s = Span(name, group, time.time())
        try:
            yield s
        finally:
            s.end = time.time()
            sc.setLocalProperty("spark.jobGroup.id", prev[0])
            sc.setLocalProperty("spark.job.description", prev[1])
            with self._lock:
                self.spans.append(s)

    def keep(self, df):
        """Persist a layer output for the rest of the round."""
        df = df.persist()
        self._kept.append(df)
        return df

    def begin(self) -> None:
        self.spans = []
        self._calls = {}
        self.active = True

    def end(self) -> None:
        self.active = False
        for df in self._kept:
            df.unpersist()
        self._kept = []

    def _nth(self, key: str) -> int:
        with self._lock:
            self._calls[key] = self._calls.get(key, 0) + 1
            return self._calls[key]

    # -- wrappers -----------------------------------------------------------

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo = []

    def install(self) -> None:
        import numpy as np
        from pyspark.sql import DataFrameWriter
        from pyspark.sql import functions as F

        from xrpl_rich_list_py_crawler_spark.functions import udfs
        from xrpl_rich_list_py_crawler_spark.operators import seen as seen_mod
        from xrpl_rich_list_py_crawler_spark.plans import rounds
        from xrpl_rich_list_py_crawler_spark.sources.catalog import SnapshotCatalog

        tr = self

        def seen_check(orig):
            # first seen check of a round = the frontier check (step 1);
            # a later one = the next-frontier check (step 8), whose input
            # is the persisted merge of deferred rows and new links
            def w(spark, candidates, seen, shards=None, *a, **kw):
                if not tr.active:
                    return orig(spark, candidates, seen, shards, *a, **kw)
                first = tr._nth("seen_check") == 1
                if not first:
                    with tr.span("plans.rounds.merge"):
                        candidates.count()
                name = "operators.seen." + ("frontier_check" if first else "merge_check")
                with tr.span(name) as s:
                    rows_in = candidates.count()
                    out = tr.keep(orig(spark, candidates, seen, shards, *a, **kw))
                    s.counts.update(rows_in=rows_in, rows_out=out.count())
                if shards is not None and seen is not None and rows_in:
                    with tr.span(PROBE) as p:
                        h = np.array([r[0] for r in candidates.select("url_hash").collect()],
                                     dtype=np.int64)
                        maybe = shards.maybe_contains(h)
                        kept = {r[0] for r in out.select("url_hash").collect()}
                        p.counts.update(
                            bloom_rows=len(h),
                            bloom_maybe=int(maybe.sum()),
                            bloom_fp=sum(1 for x in h[maybe] if int(x) in kept),
                        )
                return out
            return w

        def exact_check(orig):
            # step 8's exact anti-join against this round's seen increment,
            # the second half of the next-frontier check
            def w(candidates, seen):
                if not tr.active:
                    return orig(candidates, seen)
                with tr.span("operators.seen.merge_check") as s:
                    out = tr.keep(orig(candidates, seen))
                    s.counts["rows_out"] = out.count()
                return out
            return w

        def politeness(orig):
            def w(gated):
                if not tr.active:
                    return orig(gated)
                with tr.span("operators.politeness") as s:
                    rows_in = gated.count()
                    out = tr.keep(orig(gated))
                    s.counts.update(rows_in=rows_in,
                                    selected=out.filter(F.col("selected")).count())
                return out
            return w

        def rank(orig):
            def w(df, *a, **kw):
                if not tr.active:
                    return orig(df, *a, **kw)
                with tr.span("plans.rounds.fetch_extract") as s:
                    s.counts["pages"] = df.count()
                with tr.span("operators.frontier.global_rank"):
                    out = tr.keep(orig(df, *a, **kw))
                    out.count()
                return out
            return w

        def canonicalize(orig):
            def w(df, url_col, *a, **kw):
                if not tr.active:
                    return orig(df, url_col, *a, **kw)
                u = F.col(url_col)
                with tr.span(PROBE) as p:
                    # the split predicate of canonicalize_urls_split: rows
                    # failing it cross the Arrow channel to Python
                    fast = u.rlike(udfs._FAST_CANON) & ~u.rlike(udfs._FAST_CANON_BAD)
                    p.counts["arrow_rows"] = df.filter(~fast | u.isNull()).count()
                with tr.span("functions.udfs.canonicalize_urls_split") as s:
                    s.counts["rows_in"] = df.count()
                    out = tr.keep(orig(df, url_col, *a, **kw))
                    out.count()
                s.counts["arrow_rows"] = p.counts["arrow_rows"]
                return out
            return w

        def bloom(orig):
            def w(seen, *a, **kw):
                if not tr.active:
                    return orig(seen, *a, **kw)
                inc = kw.get("n_bits_override") is not None
                with tr.span("operators.seen." + ("bloom_build" if inc else "bloom_rebuild")) as s:
                    out = orig(seen, *a, **kw)
                s.counts["keys"] = out.n_keys
                return out
            return w

        def commit(orig):
            def w(cat, round_n, tables):
                if not tr.active:
                    return orig(cat, round_n, tables)
                with tr.span("sources.catalog.commit_round") as s:
                    orig(cat, round_n, tables)
                files = nbytes = 0
                for name in tables:
                    for dirpath, _, names in os.walk(cat._table_dir(name, round_n)):
                        for n in names:
                            files += 1
                            nbytes += os.path.getsize(os.path.join(dirpath, n))
                s.counts.update(files=files, bytes=nbytes)
            return w

        def parquet(orig):
            def w(writer, path, *a, **kw):
                if not (tr.active and str(path).endswith(".tmp")):
                    return orig(writer, path, *a, **kw)
                table = os.path.basename(os.path.dirname(str(path)))
                with tr.span(f"sources.catalog.write.{table}"):
                    return orig(writer, path, *a, **kw)
            return w

        self._patch(rounds, "anti_join_seen_bloom", seen_check)
        self._patch(rounds, "anti_join_seen", exact_check)
        self._patch(rounds, "assign_politeness_gated", politeness)
        self._patch(rounds, "global_rank", rank)
        self._patch(rounds, "canonicalize_urls_split", canonicalize)
        self._patch(seen_mod, "build_bloom_shards", bloom)
        self._patch(SnapshotCatalog, "commit_round", commit)
        self._patch(DataFrameWriter, "parquet", parquet)


def covered_share(spans: list[Span], start: float, end: float) -> float:
    """Share of [start, end] covered by the union of the spans."""
    iv = sorted((max(s.start, start), min(s.end, end)) for s in spans)
    total = 0.0
    cur_s = cur_e = None
    for a, b in iv:
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / (end - start) if end > start else 0.0
