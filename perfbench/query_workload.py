"""corpus_queries: the read side, a suite of registered corpus queries.

No crawl layer runs. The suite is QUERIES, run in ``queries()`` registry
order; each operation builds the query's DataFrame and collects its whole
result to the driver. Inputs: ``documents`` (N_DOCS, inputs.py) and a
``generate_pages(N_PAGES, seed)`` corpus for the three page-reading
queries, all from ``--seed``.

One run:

1. generate the inputs; warm up on a small corpus from another seed (every
   query once, the two oracle-less ones twice), then ``clearCache()``;
2. set up N_SETUPS times: write the inputs to a fresh directory and read
   them;
3. timed closed loop, one client: whole passes over the suite, one per
   set-up directory, ``clearCache()`` between passes (untimed): at least
   MIN_PASSES, and more while another pass should end within ``seconds``;
4. with ``trace``: one more pass on a fresh set-up, each query in its own
   span and Spark job group;
5. outside the timed window, check results: queries with a DuckDB twin in
   ``oracle_sql()`` that runs in well under a second at this size are
   compared with it on the measured input; ``minhash_neardups`` (an
   all-pairs oracle) on the warm-up input; ``bpe_encode_counts`` and
   ``unigram_encode`` (no oracle) must give the same result fingerprint
   twice on the warm-up input. Every repeated execution of a query within
   the run (extra passes, the traced pass) must reproduce its fingerprint.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import time

from inputs import query_frames, write_query_tables
from results import OpLog, live_heap_mb, median, peak_rss_mb, result, stall_result, zero_fill

#: one query per operator module the read side exercises (dedup,
#: textstats, unigram, similarity, curation, frontier, graph); the rest of
#: the 16-query read-side list does not fit the run-time budget
QUERIES = (
    "minhash_neardups",
    "bpe_encode_counts",
    "unigram_encode",
    "chunk_retrieval",
    "weighted_sample",
    "url_templates",
    "host_quality_rank",
    "mirror_hosts",
)
#: checked against oracle_sql() on the measured input
ORACLE_MEASURED = (
    "chunk_retrieval", "weighted_sample", "url_templates", "host_quality_rank",
    "mirror_hosts",
)
#: checked against oracle_sql() on the warm-up input (all-pairs oracle)
ORACLE_WARMUP = ("minhash_neardups",)
#: no oracle: executed twice on the warm-up input, fingerprints must match
REPEAT_WARMUP = ("bpe_encode_counts", "unigram_encode")

N_DOCS = 1_000
N_PAGES = 10_000
WARM_DOCS = 100
WARM_PAGES = 1_000
WARM_SEED_SHIFT = 1_000_003
N_SETUPS = 3
MIN_PASSES = 1
QUERY_TIMEOUT_S = 40.0
WARMUP_TIMEOUT_S = 120.0
SETUP_TIMEOUT_S = 30.0
CHECK_TIMEOUT_S = 40.0


def _norm(v):
    """Engine-neutral value form (as scripts/check_correctness.py)."""
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_norm(k)}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def rowset(cols, rows) -> list:
    """Order-insensitive multiset of normalized rows, columns by name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def fingerprint(cols, rows) -> str:
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for r in rowset(cols, rows):
        h.update(repr(r).encode())
    return h.hexdigest()


class Suite:
    def __init__(self, spark):
        import __spark_entry__ as entry

        self.spark = spark
        self.entry = entry
        registry = entry.queries()
        missing = [q for q in QUERIES if q not in registry]
        if missing:
            raise KeyError(f"queries not registered: {missing}")
        self.fns = {q: registry[q] for q in registry if q in QUERIES}

    def execute(self, name: str, sf_dir: str):
        df = self.fns[name](self.spark, sf_dir)
        return df.columns, df.collect()

    def oracle(self, name: str, sf_dir: str, fix_dir: str):
        import duckdb

        sql = self.entry.oracle_sql()[name].replace(
            f"{self.entry.REPO}/data/crawl_sf0.01/", fix_dir.rstrip("/") + "/"
        )
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                        f"'{os.path.join(sf_dir, 'documents.parquet')}')")
            cur = con.execute(sql)
            return [d[0] for d in cur.description], cur.fetchall()
        finally:
            con.close()


def run(spark, work_dir, seed, seconds, trace, dog, cores, session_s, jvm_pid):
    log = OpLog(planned=[q if p == 0 else f"{q}#{p}" for p in range(MIN_PASSES) for q in QUERIES])
    values: dict[str, float] = {}
    lines = [
        f"workload corpus_queries seed {seed}: {len(QUERIES)} queries, {N_DOCS} documents, "
        f"{N_PAGES} pages; local[{cores}]; closed loop, 1 client"
    ]
    dog.describe = lambda name, info: (
        {"lines": lines}, stall_result(log, name, values, trace))
    fix_root = os.environ["SPARK_GRAFT_FIXTURES"]
    problems: list[str] = []

    t0 = time.perf_counter()
    frames = query_frames(N_DOCS, N_PAGES, seed)
    inputs_s = time.perf_counter() - t0

    suite = Suite(spark)
    order = list(suite.fns)
    t0 = time.perf_counter()
    warm_dir = os.path.join(work_dir, "sf_warm")
    warm_fix = write_query_tables(
        query_frames(WARM_DOCS, WARM_PAGES, seed + WARM_SEED_SHIFT), warm_dir, fix_root)
    warm_out = {}
    with dog.guard("warmup", WARMUP_TIMEOUT_S):
        for q in order:
            warm_out[q] = suite.execute(q, warm_dir)
        for q in REPEAT_WARMUP:
            if fingerprint(*suite.execute(q, warm_dir)) != fingerprint(*warm_out[q]):
                problems.append(f"{q}: two executions on the warm-up input differ")
        spark.catalog.clearCache()
    warmup_s = time.perf_counter() - t0

    setups, setup_times = [], []
    for i in range(N_SETUPS):
        with dog.guard(f"setup{i}", SETUP_TIMEOUT_S):
            t0 = time.perf_counter()
            sf = os.path.join(work_dir, f"sf_bench{i}")
            fix = write_query_tables(frames, sf, fix_root)
            for p in (os.path.join(sf, "documents.parquet"), os.path.join(fix, "pages.parquet")):
                spark.read.parquet(p).schema
            setups.append((sf, fix))
            setup_times.append(time.perf_counter() - t0)
    values["setup_s"] = median(setup_times)

    first: dict[str, tuple] = {}
    prints: dict[str, str] = {}
    secs: dict[str, list[float]] = {q: [] for q in order}
    passes = 0
    t_window = time.perf_counter()
    pass_s = 0.0
    # another pass only if it should end inside the window
    while passes < MIN_PASSES or time.perf_counter() - t_window + pass_s <= seconds:
        sf, _ = setups[passes % len(setups)]
        if passes:
            spark.catalog.clearCache()
        t_pass = time.perf_counter()
        for q in order:
            name = q if passes == 0 else f"{q}#{passes}"
            out = log.run(dog, name, QUERY_TIMEOUT_S, suite.execute, q, sf)
            if out is None:
                break
            secs[q].append(log.ops[-1].seconds)
            fp = fingerprint(*out)
            if q not in first:
                first[q], prints[q] = out, fp
            elif fp != prints[q]:
                log.fail(name, "fingerprint differs from the first pass")
        passes += 1
        pass_s = time.perf_counter() - t_pass
        if log.failed:
            break
    wall_s = time.perf_counter() - t_window
    rss_mb = peak_rss_mb(jvm_pid)
    all_secs = [s for q in order for s in secs[q]]
    values["op_s_p50"] = median(all_secs)
    values["throughput_per_s"] = len(all_secs) / sum(all_secs) if all_secs else 0.0
    checked = log.failed == 0

    if trace and checked:
        values.update(_traced(spark, suite, order, frames, work_dir, fix_root, dog, log,
                              prints, secs))
        checked = log.failed == 0

    if checked:
        with dog.guard("check", CHECK_TIMEOUT_S):
            sf, fix = setups[0]
            for q in ORACLE_MEASURED:
                if rowset(*suite.oracle(q, sf, fix)) != rowset(*first[q]):
                    problems.append(f"{q}: result differs from oracle_sql() on the measured input")
                    log.fail(q, "differs from oracle_sql()")
            for q in ORACLE_WARMUP:
                if rowset(*suite.oracle(q, warm_dir, warm_fix)) != rowset(*warm_out[q]):
                    problems.append(f"{q}: result differs from oracle_sql() on the warm-up input")
                    log.fail(q, "differs from oracle_sql() on the warm-up input")
    # after the DuckDB checks: the JVM has had time to finish removing
    # unpersisted blocks
    values["driver_heap_live_mb"] = live_heap_mb(spark)
    if trace:
        zero_fill(values, trace, lambda name: not name.startswith(("q.", "perfbench.")))

    n_ops = len(log.ops)
    lines += [
        f"  session_s          {session_s:9.3f} s    Spark driver start (one sample)",
        f"  inputs_s           {inputs_s:9.3f} s    input generation (pandas)",
        f"  warmup_s           {warmup_s:9.3f} s    suite on {WARM_DOCS} docs / {WARM_PAGES} pages, "
        f"seed {seed + WARM_SEED_SHIFT}",
        f"  setup_s            {values['setup_s']:9.3f} s    median of {N_SETUPS}: write inputs, read",
        f"  wall_s             {wall_s:9.3f} s    timed window, {passes} pass(es)",
        "  round_s_p50              n/a      no crawl round runs on this workload",
        "  urls_per_s               n/a",
        "  pages_per_s              n/a",
        "  resume_s                 n/a",
        f"  query_s_p50        {values['op_s_p50']:9.3f} s    n={len(all_secs)} queries",
        f"  queries_per_s      {values['throughput_per_s']:9.3f} 1/s",
        f"  driver_peak_rss_mb {rss_mb:9.1f} MB   VmHWM of the driver JVM (one sample)",
        f"  driver_heap_live_mb {values['driver_heap_live_mb']:8.1f} MB   driver heap in use after a full GC",
        f"  failed_ops_ratio   {log.failed / n_ops if n_ops else 0.0:9.3f}      {log.failed}/{n_ops} queries",
    ]
    lines += [f"    {q:22s} {median(secs[q]):7.3f} s" for q in order]
    if trace and "perfbench.trace_overhead_ratio" in values:
        lines.append(f"  trace overhead     {values['perfbench.trace_overhead_ratio']:9.3f} x    "
                     "traced / untraced pass time")
    lines += [f"  FAIL {p}" for p in problems]
    lines += [f"  FAILED OP {op.name}: {op.note}" for op in log.ops if not op.ok]
    return {"lines": lines}, result(log, checked and not problems, values, trace)


def _traced(spark, suite, order, frames, work_dir, fix_root, dog, log, prints, secs) -> dict:
    """One more pass on a fresh set-up, each query in its own span."""
    from spans import Tracer

    sf = os.path.join(work_dir, "sf_traced")
    write_query_tables(frames, sf, fix_root)
    spark.catalog.clearCache()
    tr = Tracer(spark)
    values = {}
    traced_total = 0.0
    for q in order:
        name = f"{q}#traced"
        log.planned.append(name)
        tr.work.collect()
        with tr.span(f"q.{q}") as s:
            out = log.run(dog, name, QUERY_TIMEOUT_S, suite.execute, q, sf)
        if out is None:
            return values
        if fingerprint(*out) != prints[q]:
            log.fail(name, "fingerprint differs from the untraced pass")
        w = tr.work.collect().get(s.group)
        traced_total += s.end - s.start
        values[f"q.{q}.s"] = s.end - s.start
        values[f"q.{q}.task_cpu_s"] = w.cpu_s if w else 0.0
        values[f"q.{q}.shuffle_write_mb"] = w.shuffle_write_mb if w else 0.0
        values[f"q.{q}.cached_rdds"] = len(spark.sparkContext._jsc.getPersistentRDDs())
    values["perfbench.trace_overhead_ratio"] = traced_total / sum(secs[q][0] for q in order)
    return values
