"""crawl_polite: politeness-bound crawl rounds in a closed loop.

Inputs: ``generate_pages(N_PAGES, seed)``, the fixture robots (1,000 Zipf
hosts, 16 fetches per host per round) and ``generate_seeds`` (N_SEEDS).
Most of each round's frontier is deferred by the per-host budget, so the
seen check, the politeness window, the frontier snapshot write and the
fixed per-round cost dominate; extraction is small.

One run:

1. generate the inputs; warm the JVM up with a 1-round crawl of a small
   corpus made from another seed, then drop every cache;
2. set up N_SETUPS times: write the inputs to a fresh directory, read
   them, construct ``CrawlRun`` and ``bootstrap`` a fresh catalog (nothing
   is forced to materialize early);
3. timed closed loop, one client: ``run_round`` back to back on the first
   set-up's crawl (moving to the next set-up after MAX_ROUNDS): at least
   MIN_ROUNDS rounds, and more while another round should end within
   ``seconds``;
4. with ``trace``: the first TRACED_ROUNDS rounds again on a fresh set-up
   with layer spans (spans.py), then a resume: a fresh ``CrawlRun`` over the
   committed catalog plus one round (full bloom rebuild from the ledger,
   corpus re-keyed);
5. outside the timed window, check every round against
   ``plans.simulator.ReferenceSimulator`` on the same inputs, and the
   ``metrics`` conservation law on every host row of every round.
"""

from __future__ import annotations

import os
import time

from inputs import crawl_frames, write_crawl_tables
from results import OpLog, live_heap_mb, median, peak_rss_mb, result, stall_result, zero_fill

N_PAGES = 20_000
N_SEEDS = 4_000
WARM_PAGES = 1_000
WARM_SEEDS = 200
#: the warm-up corpus comes from seed + WARM_SEED_SHIFT, never the measured one
WARM_SEED_SHIFT = 1_000_003
N_SETUPS = 3
MIN_ROUNDS = 3
MAX_ROUNDS = 6
#: rounds repeated with spans (keeps a traced run inside the deadline)
TRACED_ROUNDS = 2
ROUND_TIMEOUT_S = 60.0
SETUP_TIMEOUT_S = 45.0
WARMUP_TIMEOUT_S = 90.0
CHECK_TIMEOUT_S = 60.0

TABLES = ("pages", "robots", "seeds")


class Crawl:
    """One set-up: its input directory, catalog and ``CrawlRun``."""

    def __init__(self, spark, frames: dict, in_dir: str, cat_dir: str):
        from xrpl_rich_list_py_crawler_spark.plans.rounds import CrawlRun
        from xrpl_rich_list_py_crawler_spark.sources.catalog import SnapshotCatalog

        write_crawl_tables(frames, in_dir)
        self.in_dir = in_dir
        self.spark = spark
        pages, robots, seeds = self._read()
        self.run = CrawlRun(spark, SnapshotCatalog(cat_dir), pages, robots)
        self.run.bootstrap(seeds)
        self.last = 0
        self.op_names: dict[int, str] = {}

    def _read(self):
        return [self.spark.read.parquet(os.path.join(self.in_dir, f"{t}.parquet"))
                for t in TABLES]

    def can_continue(self) -> bool:
        return self.last < MAX_ROUNDS and bool(
            self.run.catalog.row_count("frontier", self.last)
        )

    def round(self) -> None:
        self.run.run_round(self.last + 1)
        self.last += 1

    def drop_cache(self) -> None:
        self.run.pages_idx.unpersist()

    def resume(self) -> None:
        """A fresh ``CrawlRun`` over the committed catalog, plus one round."""
        from xrpl_rich_list_py_crawler_spark.plans.rounds import CrawlRun

        pages, robots, _ = self._read()
        self.run = CrawlRun(self.spark, self.run.catalog, pages, robots)
        self.round()


def _table(crawl: Crawl, table: str, n: int, columns: list[str]):
    """One committed round of a catalog table, read with pyarrow (no
    Spark job, so checks add no work to the JVM they measure)."""
    import pyarrow.parquet as pq

    return pq.read_table(crawl.run.catalog._table_dir(table, n), columns=columns)


def _round_totals(crawl: Crawl, n: int) -> dict:
    cols = ["candidates", "budget_deferred", "fetched", "fetch_missing"]
    t = _table(crawl, "metrics", n, cols)
    return {c: int(sum(t.column(c).to_pylist())) for c in cols}


def check(frames: dict, crawls: list[Crawl], log: OpLog) -> list[str]:
    """Compare every committed round of every crawl with the reference
    simulator; mark the operation of a mismatching round failed."""
    from xrpl_rich_list_py_crawler_spark.functions.hashing import spark_xxhash64_str
    from xrpl_rich_list_py_crawler_spark.plans.simulator import ReferenceSimulator

    sim = ReferenceSimulator(frames["pages"], frames["robots"])
    sim.bootstrap(frames["seeds"])
    logs, seen_after = {}, {}
    for r in range(1, max(c.last for c in crawls) + 1):
        if not sim.frontier:
            break
        logs[r] = sim.run_round(r)
        seen_after[r] = set(sim.seen)
    terms = ["seen_dups", "robots_denied", "budget_deferred", "fetched", "fetch_missing"]
    problems = []
    for k, c in enumerate(crawls):
        ledger: set[int] = set()
        for r in range(1, c.last + 1):
            why = []
            ref = logs.get(r)
            res = _table(c, "results", r, ["rank", "url", "url_hash"]).to_pydict()
            urls = [u for _, u in sorted(zip(res["rank"], res["url"]))]
            if ref is None or urls != ref.fetched_urls:
                why.append("fetch order differs from the reference")
            inc = set(_table(c, "seen", r, ["url_hash"]).column("url_hash").to_pylist())
            ledger |= inc
            denied = inc - set(res["url_hash"])
            if ref is None or denied != {spark_xxhash64_str(u) for u in ref.robots_denied}:
                why.append("robots-denied set differs from the reference")
            m = _table(c, "metrics", r, ["candidates"] + terms).to_pydict()
            broken = sum(
                m["candidates"][i] != sum(m[t][i] for t in terms)
                for i in range(len(m["candidates"]))
            )
            if broken:
                why.append(f"conservation law broken on {broken} host rows")
            if why:
                problems.append(f"crawl {k} round {r}: " + "; ".join(why))
                log.fail(c.op_names.get(r, ""), "; ".join(why))
        if ledger != seen_after.get(c.last):
            problems.append(f"crawl {k}: final seen set differs from the reference")
            log.fail(c.op_names.get(c.last, ""), "final seen set differs")
    return problems


def _layer_record(tr, rs, work, cores: int, cached: int) -> dict:
    """Per-layer values of one traced round."""
    from spans import PROBE, Work, covered_share

    spans = [s for s in tr.spans if s is not rs]
    wall = rs.end - rs.start
    by_name: dict[str, list] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)

    def dur(name):
        return sum(s.end - s.start for s in by_name.get(name, []))

    def wk(*names):
        w = Work()
        for n in names:
            for s in by_name.get(n, []):
                w.add(work.get(s.group, Work()))
        return w

    def cnt(name, key, which=0):
        ss = [s for s in by_name.get(name, []) if key in s.counts]
        return ss[which].counts[key] if ss else 0

    total = Work()
    for g in [rs.group] + [s.group for s in spans]:
        total.add(work.get(g, Work()))
    seen_names = [n for n in by_name if n.startswith("operators.seen.")]
    f_in, f_out = cnt("operators.seen.frontier_check", "rows_in"), cnt(
        "operators.seen.frontier_check", "rows_out", -1)
    m_in, m_out = cnt("operators.seen.merge_check", "rows_in"), cnt(
        "operators.seen.merge_check", "rows_out", -1)
    pol_in = cnt("operators.politeness", "rows_in")
    canon_in = cnt("functions.udfs.canonicalize_urls_split", "rows_in")
    commit = by_name.get("sources.catalog.commit_round", [])
    probes = by_name.get(PROBE, [])
    rec = {
        "plans.rounds.round.s": wall,
        "plans.rounds.round.spark_jobs": total.jobs,
        "plans.rounds.round.task_cpu_s": total.cpu_s,
        "plans.rounds.round.core_busy_share": total.run_s / (wall * cores),
        "plans.rounds.round.cached_rdds": cached,
        "plans.rounds.round.uncovered_share": 1.0 - covered_share(spans, rs.start, rs.end),
        "plans.rounds.fetch_extract.s": dur("plans.rounds.fetch_extract"),
        "plans.rounds.fetch_extract.task_cpu_s": wk("plans.rounds.fetch_extract").cpu_s,
        "plans.rounds.fetch_extract.pages": cnt("plans.rounds.fetch_extract", "pages"),
        "plans.rounds.merge.s": dur("plans.rounds.merge"),
        "plans.rounds.merge.shuffle_write_mb": wk("plans.rounds.merge").shuffle_write_mb,
        "operators.seen.frontier_check.s": dur("operators.seen.frontier_check"),
        "operators.seen.frontier_check.rows_in": f_in,
        "operators.seen.frontier_check.useful_ratio": f_out / f_in if f_in else 0.0,
        "operators.seen.merge_check.s": dur("operators.seen.merge_check"),
        "operators.seen.merge_check.rows_in": m_in,
        "operators.seen.merge_check.useful_ratio": m_out / m_in if m_in else 0.0,
        "operators.seen.bloom_build.s": dur("operators.seen.bloom_build"),
        "operators.seen.python_rows": f_in + m_in + cnt("operators.seen.bloom_build", "keys"),
        "operators.seen.task_cpu_s": wk(*seen_names).cpu_s,
        "operators.politeness.s": dur("operators.politeness"),
        "operators.politeness.rows_in": pol_in,
        "operators.politeness.selected_ratio":
            cnt("operators.politeness", "selected") / pol_in if pol_in else 0.0,
        "operators.politeness.task_skew": wk("operators.politeness").task_skew,
        "operators.politeness.shuffle_write_mb": wk("operators.politeness").shuffle_write_mb,
        "operators.frontier.global_rank.s": dur("operators.frontier.global_rank"),
        "operators.frontier.global_rank.shuffle_write_mb":
            wk("operators.frontier.global_rank").shuffle_write_mb,
        "functions.udfs.canonicalize_urls_split.s": dur("functions.udfs.canonicalize_urls_split"),
        "functions.udfs.canonicalize_urls_split.rows_in": canon_in,
        "functions.udfs.canonicalize_urls_split.arrow_share":
            cnt("functions.udfs.canonicalize_urls_split", "arrow_rows") / canon_in
            if canon_in else 0.0,
        "sources.catalog.commit_round.s": dur("sources.catalog.commit_round"),
        "sources.catalog.bytes_written_mb": sum(s.counts.get("bytes", 0) for s in commit) / (1 << 20),
        "sources.catalog.files_written": sum(s.counts.get("files", 0) for s in commit),
        "spark.spill_mb": total.spill_mb,
        # pooled over rounds below
        "_bloom_rows": sum(p.counts.get("bloom_rows", 0) for p in probes),
        "_bloom_maybe": sum(p.counts.get("bloom_maybe", 0) for p in probes),
        "_bloom_fp": sum(p.counts.get("bloom_fp", 0) for p in probes),
    }
    for t in ("results", "metrics", "seen", "frontier"):
        rec[f"sources.catalog.write.{t}.s"] = dur(f"sources.catalog.write.{t}")
    return rec


def _traced(spark, frames, work_dir, dog, log: OpLog, n_rounds: int, cores: int):
    """The traced repeat: n_rounds rounds and a resume on a fresh set-up.
    Returns (crawl, per-layer values, traced round seconds)."""
    from spans import Tracer

    spark.catalog.clearCache()
    with dog.guard("traced setup", SETUP_TIMEOUT_S):
        c = Crawl(spark, frames, os.path.join(work_dir, "in_traced"),
                  os.path.join(work_dir, "cat_traced"))
    sc = spark.sparkContext
    tr = Tracer(spark)
    tr.install()
    recs, secs = [], []
    try:
        for n in range(1, n_rounds + 1):
            name = f"traced.{n}"
            log.planned.append(name)
            tr.work.collect()
            tr.begin()
            with tr.span("plans.rounds.round") as rs:
                log.run(dog, name, ROUND_TIMEOUT_S, c.round)
            tr.end()
            c.op_names[c.last] = name
            if not log.ops[-1].ok:
                return c, None, secs
            secs.append(rs.end - rs.start)
            pol = {s.group for s in tr.spans if s.name == "operators.politeness"}
            work = tr.work.collect(skew_groups=pol)
            recs.append(_layer_record(tr, rs, work, cores, len(sc._jsc.getPersistentRDDs())))
        c.drop_cache()
        spark.catalog.clearCache()
        tr.work.collect()
        tr.begin()
        with tr.span("plans.rounds.resume") as rs:
            log.run(dog, "traced.resume", ROUND_TIMEOUT_S, c.resume)
        tr.end()
        c.op_names[c.last] = "traced.resume"
        rebuild = sum(s.end - s.start for s in tr.spans
                      if s.name == "operators.seen.bloom_rebuild")
        c.drop_cache()
    finally:
        tr.uninstall()
    values = {k: median(r[k] for r in recs) for k in recs[0] if not k.startswith("_")}
    rows = sum(r["_bloom_rows"] for r in recs)
    maybe = sum(r["_bloom_maybe"] for r in recs)
    values["operators.seen.bloom_maybe_ratio"] = maybe / rows if rows else 0.0
    values["operators.seen.bloom_fp_ratio"] = (
        sum(r["_bloom_fp"] for r in recs) / maybe if maybe else 0.0)
    values["plans.rounds.resume.s"] = rs.end - rs.start
    values["operators.seen.bloom_rebuild.s"] = rebuild
    return c, values, secs


def run(spark, work_dir, seed, seconds, trace, dog, cores, session_s, jvm_pid):
    # a traced run reports no end-to-end metric: its untraced window is only
    # the reference for the rounds it repeats with spans
    min_rounds = TRACED_ROUNDS if trace else MIN_ROUNDS
    log = OpLog(planned=[f"round0.{n}" for n in range(1, min_rounds + 1)])
    values: dict[str, float] = {}
    lines = [
        f"workload crawl_polite seed {seed}: {N_PAGES} pages, {N_SEEDS} seeds, fixture "
        f"robots (16 fetches/host/round); local[{cores}]; closed loop, 1 client"
    ]
    dog.describe = lambda name, info: (
        {"lines": lines}, stall_result(log, name, values, trace))

    t0 = time.perf_counter()
    frames = crawl_frames(N_PAGES, N_SEEDS, seed)
    inputs_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    with dog.guard("warmup", WARMUP_TIMEOUT_S):
        warm = Crawl(spark, crawl_frames(WARM_PAGES, WARM_SEEDS, seed + WARM_SEED_SHIFT),
                     os.path.join(work_dir, "in_warm"), os.path.join(work_dir, "cat_warm"))
        warm.round()
        warm.drop_cache()
        spark.catalog.clearCache()
    warmup_s = time.perf_counter() - t0

    crawls, setup_times = [], []
    for i in range(N_SETUPS):
        with dog.guard(f"setup{i}", SETUP_TIMEOUT_S):
            t0 = time.perf_counter()
            crawls.append(Crawl(spark, frames, os.path.join(work_dir, f"in{i}"),
                                os.path.join(work_dir, f"cat{i}")))
            setup_times.append(time.perf_counter() - t0)
    values["setup_s"] = median(setup_times)

    timed: list[tuple[Crawl, int, float]] = []
    k = 0
    t_window = time.perf_counter()
    while k < len(crawls):
        c = crawls[k]
        if not c.can_continue():
            c.drop_cache()
            k += 1
            continue
        name = f"round{k}.{c.last + 1}"
        log.run(dog, name, ROUND_TIMEOUT_S, c.round)
        c.op_names[c.last] = name
        if not log.ops[-1].ok:
            break
        timed.append((c, c.last, log.ops[-1].seconds))
        # another round only if it should end inside the window
        if (len(timed) >= min_rounds
                and time.perf_counter() - t_window + timed[-1][2] > seconds):
            break
    wall_s = time.perf_counter() - t_window
    used = crawls[: k + 1]

    rss_mb = peak_rss_mb(jvm_pid)

    round_secs = [s for _, _, s in timed]
    totals = [_round_totals(c, n) for c, n, _ in timed]
    values["op_s_p50"] = median(round_secs)
    # median of per-round rates: one slow round does not move it
    values["throughput_per_s"] = median(
        (t["candidates"] - t["budget_deferred"]) / s for t, s in zip(totals, round_secs))
    pages_per_s = median(
        (t["fetched"] + t["fetch_missing"]) / s for t, s in zip(totals, round_secs))

    checked = log.failed == 0
    if trace and checked:
        n0 = min(TRACED_ROUNDS, sum(1 for c, _, _ in timed if c is crawls[0]))
        tc, layer, tsecs = _traced(spark, frames, work_dir, dog, log, n0, cores)
        used.append(tc)
        if layer is None:
            checked = False
        else:
            base = sum(s for c, n, s in timed if c is crawls[0] and n <= n0)
            layer["perfbench.trace_overhead_ratio"] = sum(tsecs) / base
            values.update(layer)

    problems = []
    if checked:
        with dog.guard("check", CHECK_TIMEOUT_S):
            problems = check(frames, [c for c in used if c.last], log)
    # after the check, which runs no Spark job: the JVM has had time to
    # finish removing the blocks the last round unpersisted
    values["driver_heap_live_mb"] = live_heap_mb(spark)
    if trace:
        zero_fill(values, trace, lambda name: name.startswith("q."))

    n_ops = len(log.ops)
    lines += [
        f"  session_s          {session_s:9.3f} s    Spark driver start (one sample)",
        f"  inputs_s           {inputs_s:9.3f} s    input generation (pandas)",
        f"  warmup_s           {warmup_s:9.3f} s    {WARM_PAGES}-page crawl, seed {seed + WARM_SEED_SHIFT}, 1 round",
        f"  setup_s            {values['setup_s']:9.3f} s    median of {N_SETUPS}: write inputs, read, CrawlRun, bootstrap",
        f"  wall_s             {wall_s:9.3f} s    timed window, {len(timed)} rounds",
        f"  round_s_p50        {values['op_s_p50']:9.3f} s    n={len(timed)} rounds: "
        + " ".join(f"{s:.2f}" for s in round_secs),
        f"  urls_per_s         {values['throughput_per_s']:9.1f} 1/s  median per round: "
        "(candidates - budget_deferred) / round time",
        f"  pages_per_s        {pages_per_s:9.1f} 1/s  median per round: "
        "(fetched + fetch_missing) / round time",
        "  resume_s           "
        + (f"{values['plans.rounds.resume.s']:9.3f} s    traced: fresh CrawlRun over the "
           "catalog + 1 round" if "plans.rounds.resume.s" in values else
           "      n/a      measured by the traced run (--trace 1)"),
        "  query_s_p50              n/a      no query runs on this workload",
        f"  driver_peak_rss_mb {rss_mb:9.1f} MB   VmHWM of the driver JVM (one sample)",
        f"  driver_heap_live_mb {values['driver_heap_live_mb']:8.1f} MB   driver heap in use after a full GC",
        f"  failed_ops_ratio   {log.failed / n_ops if n_ops else 0.0:9.3f}      {log.failed}/{n_ops} rounds",
    ]
    if trace and "perfbench.trace_overhead_ratio" in values:
        lines.append(f"  trace overhead     {values['perfbench.trace_overhead_ratio']:9.3f} x    "
                     "traced / untraced round time")
        lines.append(f"  uncovered share    {values['plans.rounds.round.uncovered_share']:9.3f}      "
                     "median share of a traced round outside every layer span")
    lines += [f"  FAIL {p}" for p in problems]
    lines += [f"  FAILED OP {op.name}: {op.note}" for op in log.ops if not op.ok]
    return {"lines": lines}, result(log, checked and not problems, values, trace)
