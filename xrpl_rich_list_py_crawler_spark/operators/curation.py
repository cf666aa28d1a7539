"""End-to-end corpus curation: the composition a training-data pipeline
actually runs per document batch.

One pass over a ``documents``-shaped table produces, per doc: language
guess, token/quality features, exact-duplicate and near-duplicate verdicts,
and the final ``keep`` decision. Every stage is one of the engine's
oracle-checked operators (textstats Column ops, md5 exact dedup,
MinHash-LSH + exact char-gram verification), composed so the whole output
is still exactly reproducible in SQL.

Scale shape: two key-partitioned shuffles (md5 groups for exact dedup, the
LSH band buckets for near-dup candidates) plus broadcast-size semi joins of
the near-dup id set — no all-pairs work anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import dedup as dd
from . import textstats as ts


def curate_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 10,
    max_punct_ratio: float = 0.3,
    near_dup_threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Per-document curation verdicts.

    * ``is_exact_dup``: not the lowest-id representative of its exact
      content hash (≅ the reference's UNIQUE-key dedup, ``table.sql:13``).
    * ``is_near_dup``: the higher-id member of a verified near-dup pair
      (MinHash-LSH candidates → exact strided char-9-gram Jaccard ≥
      threshold) — the lower id stays canonical.
    * ``keep``: neither duplicate, ≥ ``min_tokens`` tokens, and punctuation
      ratio ≤ ``max_punct_ratio``.

    ``max_bucket_size`` (recommended at corpus scale, e.g. 500) bounds
    LSH bucket pair generation against boilerplate clusters — see
    :func:`..operators.dedup.minhash_lsh_candidates`. Identical docs are
    star-collapsed, which preserves the ``is_near_dup`` flag set exactly:
    star pairs flag every group member above the group min (as the full
    within-group pair set would), and an outsider's pair with the group
    rep flags the same larger side every within-group pairing would have
    flagged. Only residual salt-splits can drop flags, and their mass is
    logged. Default ``None`` = exact, SQL-oracle-identical behavior.
    """
    t = F.col(text_col)
    w = Window.partitionBy(F.md5(t))
    base = df.select(
        id_col,
        ts.lang_id_col(t).alias("lang_pred"),
        ts.token_count_col(t).alias("n_tokens"),
        F.round(ts.punct_ratio_col(t), 6).alias("punct_ratio"),
        (F.col(id_col) != F.min(id_col).over(w)).alias("is_exact_dup"),
    )
    pairs = dd.chargram_jaccard_pairs(
        df,
        dd.minhash_lsh_candidates(
            df, text_col=text_col, id_col=id_col,
            max_bucket_size=max_bucket_size,
        ),
        text_col=text_col, id_col=id_col, n=9, stride=3,
    ).filter(F.col("jaccard") >= near_dup_threshold)
    near_ids = pairs.select(F.col("id_b").alias(id_col)).distinct()
    flagged = base.join(
        near_ids.withColumn("_nd", F.lit(True)), id_col, "left"
    ).withColumn("is_near_dup", F.coalesce(F.col("_nd"), F.lit(False))).drop("_nd")
    return flagged.withColumn(
        "keep",
        ~F.col("is_exact_dup")
        & ~F.col("is_near_dup")
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("punct_ratio") <= max_punct_ratio),
    )


def cap_per_key(
    df: DataFrame,
    key_col: str = "source",
    order_cols: tuple = ("n_chars", "doc_id"),
    k: int = 100,
) -> DataFrame:
    """Domain balancing (r04): keep at most ``k`` rows per ``key_col``,
    best-first — the standard web-corpus guard against a handful of hosts
    dominating the training mix (the crawl-side analog is the politeness
    budget; this is the curation-side quota).

    Deterministic total order: first ``order_cols`` entry DESC (the
    quality proxy), remaining ASC (tie-breaks). One shuffle on the key;
    the per-key sort is window-local. At 10^8 keys the key cardinality
    dwarfs executor count, so the shuffle is well spread; a single
    pathological key is bounded by the same skew tooling as hot hosts
    (AQE skew handling — the window itself is O(rows-per-key log k) per
    partition, never global).
    """
    first, *rest = order_cols
    w = Window.partitionBy(key_col).orderBy(
        F.col(first).desc(), *[F.col(c).asc() for c in rest]
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .withColumn("keep_rank", F.col("_rk").cast("int"))
        .drop("_rk")
    )


def training_mix(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    quality_col: str = "n_chars",
    per_source_cap: int = 50,
    max_dup_line_ratio: float = 0.3,
    max_top_token_ratio: float = 0.2,
    min_tokens: int = 10,
    max_punct_ratio: float = 0.3,
    near_dup_threshold: float = 0.5,
    contamination_n: int = 13,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The COMPLETE per-batch training-data decision (r05): every quality
    stage the engine ships, composed into one per-document verdict —
    what a pretraining pipeline actually runs before a doc reaches the
    tokenizer.

    Stages (each independently oracle-checked on its own query):

    1. :func:`curate_corpus` — language/token/punct features, exact-dup
       (md5 keep-lowest), verified MinHash-LSH near-dup → ``keep``;
    2. :func:`~.textstats.repetition_stats` — Gopher/C4 gates:
       duplicate-line fraction + top-token mass;
    3. :func:`ngram_contamination` vs the held-out ``benchmark``;
    4. per-source quota (:func:`cap_per_key` semantics inline): among
       quality survivors, keep the best ``per_source_cap`` docs per
       source by ``quality_col`` — ``selected`` is the final verdict.

    Scale shape: unions of the stages' own shapes (all key-partitioned —
    md5 groups, LSH buckets, (doc,term) pairs, gram keys, source
    windows); the final joins are doc-id equi joins. No new shuffle
    class is introduced by the composition.
    """
    from . import textstats as tstats

    cur = curate_corpus(
        docs, text_col=text_col, id_col=id_col, min_tokens=min_tokens,
        max_punct_ratio=max_punct_ratio,
        near_dup_threshold=near_dup_threshold,
        max_bucket_size=max_bucket_size,
    ).select(id_col, "is_exact_dup", "is_near_dup", "keep")
    rep = tstats.repetition_stats(docs, text_col=text_col, id_col=id_col).select(
        id_col, "dup_line_ratio", "top_token_ratio"
    )
    cont = ngram_contamination(
        docs, benchmark, text_col=text_col, id_col=id_col, n=contamination_n
    ).select(id_col, "contaminated")
    meta = docs.select(id_col, source_col, quality_col)
    j = (
        cur.join(rep, id_col)
        .join(cont, id_col, "left")
        .join(meta, id_col)
        .withColumn("contaminated", F.coalesce("contaminated", F.lit(False)))
    )
    q = j.withColumn(
        "quality_ok",
        F.col("keep")
        & ~F.col("contaminated")
        & (F.col("dup_line_ratio") <= max_dup_line_ratio)
        & (F.col("top_token_ratio") <= max_top_token_ratio),
    )
    w = Window.partitionBy(source_col).orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    ranked = (
        q.filter(F.col("quality_ok"))
        .withColumn("cap_rank", F.row_number().over(w).cast("int"))
        .select(id_col, "cap_rank")
    )
    return (
        q.join(ranked, id_col, "left")
        .select(
            id_col,
            source_col,
            "is_exact_dup",
            "is_near_dup",
            "contaminated",
            "dup_line_ratio",
            "top_token_ratio",
            "quality_ok",
            "cap_rank",
            F.coalesce(
                F.col("cap_rank") <= per_source_cap, F.lit(False)
            ).alias("selected"),
        )
    )


def token_ngrams_col(text, n: int = 13):
    """Distinct token ``n``-grams of a text column, pure JVM — the
    decontamination unit (13-token grams are the de-facto standard for
    benchmark-overlap checks in pretraining pipelines). A doc shorter
    than ``n`` tokens contributes its whole token run as one gram (same
    floor idiom as dedup.char_ngrams_col, and the same in the DuckDB
    twin, so the sets match exactly)."""
    t = text if not isinstance(text, str) else F.col(text)
    toks = F.split(F.lower(F.trim(t)), ts.WS)
    # bind_once: the gram lambda slices back into the token array —
    # without the binding the split re-ran once per gram position (r06)
    return ts.bind_once(
        toks,
        lambda tk: F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.size(tk) - (n - 1), F.lit(1))
                ),
                lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
            )
        ),
    )


def ngram_contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    hashed: bool = False,
    bloom_prefilter: bool = False,
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any token
    ``n``-gram with a held-out benchmark corpus.

    Shape: distinct grams explode on both sides → equi join keyed by the
    gram → one groupBy(doc). The shuffle is linear in total gram count
    (map-side distinct per doc first); the benchmark side is typically
    tiny relative to the corpus, so AQE picks a broadcast join.

    ``hashed=True`` is the 10^10-doc path (r05, VERDICT r04 #5): both
    sides join on ``xxhash64(gram)`` instead of the ~90-byte gram string,
    cutting the corpus-side shuffle ~10× (8-byte keys — the same reason
    the URL seen-set keys on url_hash). A 64-bit collision falsely flags
    one gram pair in ~2^64/|grams|² — at even 10^12 distinct grams that
    is ~0.03 expected false gram hits corpus-wide, and decontamination
    errs conservative (over-flagging), so this is the standard trade.

    ``bloom_prefilter=True`` (requires ``hashed``) additionally builds
    the benchmark gram-hash set into broadcast Bloom shards
    (:func:`..seen.build_bloom_shards` — the URL-seen machinery reused
    verbatim): corpus grams the bloom rejects are DEFINITELY clean and
    never enter the semi-join shuffle at all. Since contaminated grams
    are a vanishing fraction of a real corpus, the exact join then
    touches only the maybe-hit slice — the decontamination analog of
    ``anti_join_seen_bloom``. False bloom positives only cost a wasted
    exact-join probe, never a wrong answer.

    Output per corpus doc: (id, n_grams, n_contaminated, contamination
    ratio, contaminated flag) — IDENTICAL (same rows, same values) for
    all three variants; the hashed paths are oracle-checked against the
    string path's SQL twin. Ratios are exact-integer divisions — no
    float accumulation — so the DuckDB twin is bit-identical.
    """
    doc_grams = docs.select(
        F.col(id_col), F.explode(token_ngrams_col(text_col, n)).alias("gram")
    )
    bench_grams = benchmark.select(
        F.explode(token_ngrams_col(text_col, n)).alias("gram")
    ).distinct()
    if hashed:
        doc_grams = doc_grams.select(
            id_col, F.xxhash64("gram").alias("gram_h")
        )
        # persist (r06): the benchmark gram-hash set feeds the bloom
        # sizing count, the shard build, and the exact semi join — three
        # replays of the benchmark n-gram fan-out without the barrier.
        # Benchmark-sized (small by definition), so scale-safe to cache;
        # the corpus side is deliberately NOT cached (it is bigger than
        # the corpus itself at scale) — its second consumer was the
        # totals groupBy, now computed per-row instead (below).
        bench_h = bench_grams.select(
            F.xxhash64("gram").alias("gram_h")
        ).persist()
        probe = doc_grams
        if bloom_prefilter:
            import pandas as pd  # noqa: F401 (pandas_udf resolution)

            from .seen import build_bloom_shards

            spark = docs.sparkSession
            shards = build_bloom_shards(
                bench_h.withColumnRenamed("gram_h", "url_hash")
            )
            bc = spark.sparkContext.broadcast(shards)

            @F.pandas_udf("boolean")
            def _maybe_hit(h):
                import pandas as _pd

                return _pd.Series(bc.value.maybe_contains(h.to_numpy()))

            probe = doc_grams.filter(_maybe_hit("gram_h"))
        hits = (
            probe.join(bench_h, "gram_h", "left_semi")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_contaminated"))
        )
    else:
        hits = (
            doc_grams.join(bench_grams, "gram", "left_semi")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_contaminated"))
        )
    # totals per ROW (r06): n_grams is the size of the doc's distinct-gram
    # array — identical to counting the exploded rows (the array is never
    # empty: short docs contribute their whole run as one gram), but it
    # skips a second corpus-wide gram explode plus a groupBy shuffle
    totals = docs.select(
        F.col(id_col),
        # cast: COUNT(*) was bigint; size() is int — keep the schema
        F.size(token_ngrams_col(text_col, n)).cast("long").alias("n_grams"),
    )
    return (
        totals.join(hits, id_col, "left")
        .select(
            id_col,
            "n_grams",
            F.coalesce("n_contaminated", F.lit(0)).cast("int").alias(
                "n_contaminated"
            ),
            F.round(
                F.coalesce("n_contaminated", F.lit(0)).cast("double")
                / F.col("n_grams"),
                6,
            ).alias("contamination"),
            (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_freq: int = 1,
    min_line_chars: int = 1,
) -> DataFrame:
    """Cross-document line deduplication (r05): CCNet/RefinedWeb-style
    boilerplate removal. A line that occurs in more than ``max_doc_freq``
    DISTINCT documents is corpus boilerplate (nav bars, cookie banners,
    footers) and is struck from EVERY document that carries it; surviving
    lines are reassembled in their original order.

    This is the cross-corpus complement of
    :func:`~.textstats.repetition_stats` (which measures repetition
    WITHIN one document): the reference validates per-round row dedup
    (validator.py:137-158 upsert-by-key); this extends the idea to line
    granularity across the whole corpus, the standard webtext cleaning
    step before tokenization.

    Matching is byte-exact on the raw line (no normalization), so the
    result is bit-identical across engines and reruns. Lines shorter
    than ``min_line_chars`` (e.g. the empty line, with the default 1)
    are never counted and never removed; since eligibility is a function
    of the line string alone, one left-anti join on the line suffices —
    an ineligible occurrence can never match a boilerplate key.

    Output per input doc: ``id_col``, ``n_lines``, ``n_removed``,
    ``text_clean`` (empty string when every line was boilerplate).

    Scale shape: ``posexplode`` is linear in corpus bytes; doc-frequency
    is DISTINCT (doc, line) → groupBy(line) with map-side partial
    aggregation, so the heavy boilerplate keys collapse per partition
    before the shuffle; removal is a left-anti join keyed by the line —
    key-partitioned, never all-pairs; reassembly is one groupBy(doc).
    At web scale, key the anti join on ``xxhash64(line)`` to shrink the
    shuffle to 8-byte keys — the same disclosed trade as
    :func:`ngram_contamination` ``hashed=True``.
    """
    t = F.col(text_col)
    split_arr = F.split(t, "\n")
    base = df.select(
        F.col(id_col), F.size(split_arr).cast("int").alias("n_lines")
    )
    lines = df.select(
        F.col(id_col), F.posexplode(split_arr).alias("pos", "line")
    )
    boiler = (
        lines.filter(F.length("line") >= min_line_chars)
        .select(id_col, "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("df_docs"))
        .filter(F.col("df_docs") > max_doc_freq)
        .select("line")
    )
    kept = lines.join(boiler, "line", "left_anti")
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            "\n",
        ).alias("text_clean"),
    )
    return base.join(agg, id_col, "left").select(
        id_col,
        "n_lines",
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0)))
        .cast("int")
        .alias("n_removed"),
        F.coalesce("text_clean", F.lit("")).alias("text_clean"),
    )


def hash_sample(
    df: DataFrame,
    fractions,
    strata_col: str | None = None,
    id_col: str = "doc_id",
    seed: int = 42,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic hash-based (stratified) sampling (r05): the way a
    100 TB pipeline actually downsamples to hit training-mix weights.
    ``DataFrame.sample()`` draws from partition-local RNG streams, so its
    selection changes with partitioning, retries, and engine — useless
    for a reproducible corpus spec. Here each row's uniform is derived
    from a cryptographic hash of its id and the seed:

        u = int(md5(id || ':' || seed)[:8 hex], 16) / 2^32

    so the decision is a pure per-row function — stateless, shuffle-free
    whole-stage-codegen, identical on any cluster size, restart, or
    engine (md5 is engine-portable where xxhash64 is not), and a new
    ``seed`` gives an independent draw. The division is by a power of
    two, so ``u`` is exact in binary floating point — the oracle twin is
    bit-identical.

    ``fractions`` is either one float (uniform sampling) or a
    ``{stratum: fraction}`` dict keyed by ``strata_col`` values
    (per-source mix weights; unlisted strata fall back to
    ``default_fraction``). Output: the input columns plus ``u`` and the
    boolean ``sampled``.
    """
    key = F.concat_ws(
        ":", F.col(id_col).cast("string"), F.lit(str(int(seed)))
    )
    u = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(float(2**32))
    )
    if isinstance(fractions, dict):
        if strata_col is None:
            raise ValueError("per-stratum fractions require strata_col")
        frac = F.lit(float(default_fraction))
        for k, v in sorted(fractions.items()):
            frac = F.when(
                F.col(strata_col) == F.lit(k), F.lit(float(v))
            ).otherwise(frac)
    else:
        frac = F.lit(float(fractions))
    return df.select(
        "*", u.alias("u"), (u < frac).alias("sampled")
    )


def host_suffixes_col(host: Column) -> Column:
    """All dot-suffixes of a hostname as an array column, longest first —
    ``a.b.example.com`` → [a.b.example.com, b.example.com, example.com,
    com]. Pure JVM (split + sequence + slice), bounded by the label
    count (practically ≤ ~8), so the downstream explode is a small
    constant fan-out, never quadratic.

    DuckDB twin: ``list_transform(range(1, len(l)+1),
    i -> array_to_string(list_slice(l, i, len(l)), '.'))``.
    """
    labels = F.split(host, r"\.")
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
    )


def blocklist_filter(
    df: DataFrame,
    blocklist: DataFrame,
    host_col: str = "host",
    id_col: str = "doc_id",
    broadcast_blocklist: bool = True,
) -> DataFrame:
    """UT1-style domain-blocklist verdict: a doc is blocked when its host
    equals a blocklisted domain OR sits under one (any parent-domain
    suffix matches) — the standard adult/spam/tracker domain strike a
    CCNet/RefinedWeb-class pipeline applies before content filters.

    ``blocklist`` is a one-column ``domain`` frame (the dim table — UT1
    ships ~4M entries). Matching explodes each host into its ≤ ~8 dot
    suffixes and equi-joins on the domain key: linear in corpus size with
    a small constant fan-out, never a per-row scan of the blocklist and
    never a LIKE-join (which would be a cartesian filter). With
    ``broadcast_blocklist`` (default) the dim broadcasts — right up to
    UT1 scale, a few-million-row string table is ~100 MB and still the
    cheapest plan; set it False on a truly oversized list to shuffle
    both sides on the domain key instead.

    Output: input columns + ``blocked`` boolean + ``matched_domain``
    (the alphabetically-first matching domain, for reproducibility; null
    when clean).

    Reference parity: generalizes the reference's per-source allowlist
    gating (validator.py:94-123 only fetches configured sources) to the
    corpus-hygiene direction, per SURVEY.md §2's training-data mandate.
    """
    bl = blocklist.select(F.col("domain").cast("string").alias("domain"))
    if broadcast_blocklist:
        bl = F.broadcast(bl)
    sfx = df.select(
        F.col(id_col),
        F.explode(host_suffixes_col(F.col(host_col))).alias("domain"),
    )
    hits = (
        sfx.join(bl, "domain")
        .groupBy(id_col)
        .agg(F.min("domain").alias("matched_domain"))
    )
    return df.join(hits, id_col, "left").select(
        *df.columns,
        F.col("matched_domain").isNotNull().alias("blocked"),
        F.col("matched_domain"),
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    domain_col: str = "source",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Static training-mixture sampling (late r05): downsample each
    domain so the KEPT token mass follows the target proportions
    ``weights`` — the DoReMi/Pile-style "domain weights" step that turns
    a curated corpus into a training mix.

    Feasibility math: with ``avail_d`` tokens available per listed
    domain, the largest total token budget reachable WITHOUT upsampling
    any domain is ``T = min_d avail_d / w_d``; the binding domain keeps
    everything (rate exactly 1) and every other listed domain keeps
    ``rate_d = w_d * T / avail_d``. Unlisted domains are dropped
    (rate 0). Keep decisions reuse :func:`hash_sample`'s engine-portable
    md5 uniform, so the realized mix is reproducible on any cluster
    size, restart, or engine, and E[kept tokens_d] = w_d * T exactly.

    100 TB shape: one map-side-combined groupBy over ``domain_col``
    (a |domains|-row dim — domains number in the hundreds, never
    data-scale), a 1-row min aggregate, and one broadcast join back;
    the keep decision itself is per-row whole-stage codegen. Output:
    input columns + ``rate``, ``u``, ``sampled``.
    """
    spark = df.sparkSession
    wdim = spark.createDataFrame(
        [(k, float(v)) for k, v in sorted(weights.items())],
        f"{domain_col} string, w double",
    )
    avail = (
        df.groupBy(domain_col)
        .agg(F.sum(tokens_col).alias("avail"))
        .join(F.broadcast(wdim), domain_col)
    )
    tmin = avail.agg(
        F.min(F.col("avail") / F.col("w")).alias("T")
    )
    rates = avail.crossJoin(F.broadcast(tmin)).select(
        domain_col,
        F.least(
            F.lit(1.0), F.col("w") * F.col("T") / F.col("avail")
        ).alias("rate"),
    )
    key = F.concat_ws(
        ":", F.col(id_col).cast("string"), F.lit(str(int(seed)))
    )
    u = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(float(2**32))
    )
    rate = F.coalesce(F.col("rate"), F.lit(0.0))
    return df.join(F.broadcast(rates), domain_col, "left").select(
        *df.columns,
        rate.alias("rate"),
        u.alias("u"),
        (u < rate).alias("sampled"),
    )


def c4_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 3,
    min_sentences: int = 5,
) -> DataFrame:
    """C4-style page cleaning (Raffel et al. 2020 §2.2) — the canonical
    public recipe every webtext pipeline (C4, RefinedWeb, FineWeb)
    starts from. Line rules: keep only lines that end in a terminal
    punctuation mark (``. ! ? "`` or a closing curly quote), carry at
    least ``min_words_per_line`` words, and do not mention
    ``javascript``. Page rules: drop pages whose CLEANED text has fewer
    than ``min_sentences`` sentence terminators, and pages whose RAW
    text contains ``lorem ipsum`` or ``{`` (the C4 code-page
    heuristic — the paper applies these to the page, pre-cleaning). The
    blocklist-word rule from the paper is the engine's separate
    :func:`blocklist_filter`; 3-sentence-span dedup is
    :func:`substring_dedup`.

    Everything is per-row whole-stage codegen (split → higher-order
    filter → array_join): zero shuffles, zero Python, scan-speed at any
    corpus size. Word counts split on the portable whitespace class
    (the BPE_UNIT engine-margin lesson: Java ``\\s`` includes U+000B,
    RE2 does not). Output: ``id_col``, ``n_lines``, ``n_lines_kept``,
    ``n_sentences``, ``clean_text``, ``keep``.
    """
    t = F.col(text_col)

    def _line_ok(line):
        trimmed = F.trim(line)
        words = F.size(
            F.filter(
                F.split(trimmed, "[ \t\f\x0b]+"), lambda w: w != ""
            )
        )
        return (
            trimmed.rlike('[.!?"”]$')
            & (words >= int(min_words_per_line))
            & ~F.lower(trimmed).contains("javascript")
        )

    lines = F.split(t, "\n")
    kept = F.filter(lines, _line_ok)
    clean = F.array_join(kept, "\n")
    n_sent = F.size(F.regexp_extract_all(clean, F.lit(r"[.!?]"), 0))
    return df.select(
        id_col,
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_lines_kept"),
        n_sent.alias("n_sentences"),
        clean.alias("clean_text"),
        (
            (n_sent >= int(min_sentences))
            & ~F.lower(t).contains("lorem ipsum")
            & ~t.contains("{")
        ).alias("keep"),
    )


#: block boundaries for :func:`boilerplate_clean` — closing block-level
#: tags plus <br>; literal alternation with an inline (?i), identical in
#: Java regex and RE2
_BLOCK_SPLIT = r"(?i)</(?:p|div|li|td|h[1-6])>|<br[ /]*>"

#: anchor element with a tag-free body (nested markup inside <a> is a
#: documented non-match — identical in both engines)
_ANCHOR_ELEM = r"(?i)<a[^>]*>[^<]*</a>"

_TAG = r"<[^>]*>"


def boilerplate_clean(
    df: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    min_block_chars: int = 20,
    max_link_density_pct: int = 33,
) -> DataFrame:
    """Link-density boilerplate removal (the jusText / boilerpipe family
    heuristic, Kohlschütter et al. 2010): navigation, footers, and
    sidebars are link-dominated; article prose is not. Complements
    :func:`c4_clean`, which rules on PLAIN-TEXT lines — this pass rules
    on HTML blocks BEFORE tag stripping, using the markup itself as the
    signal.

    Per block (split on closing block-level tags / ``<br>``):

    * ``text``          — the block with all tags stripped
    * ``anchor_chars``  — characters of tag-free ``<a>…</a>`` bodies
                          (length delta after deleting anchor elements)
    * keep iff ``len(trim(text)) >= min_block_chars`` AND
      ``anchor_chars * 100 <= max_link_density_pct * len(text)``
      (exact integer comparison — no float ratio, engine-portable)

    Everything is per-row whole-stage codegen (split → transform →
    filter → array_join): zero shuffles, zero Python — scan-speed over
    a 100 TB WARC extraction. Output: ``id_col``, ``n_blocks``,
    ``n_blocks_kept``, ``anchor_chars``, ``clean_text``, ``keep``
    (any prose survived).
    """
    h = F.col(html_col)
    blocks = F.split(h, _BLOCK_SPLIT)

    def _text(b):
        return F.regexp_replace(b, _TAG, "")

    def _anchor_chars(b):
        return F.length(_text(b)) - F.length(
            _text(F.regexp_replace(b, _ANCHOR_ELEM, ""))
        )

    def _keep(b):
        return (
            F.length(F.trim(_text(b))) >= int(min_block_chars)
        ) & (
            _anchor_chars(b) * 100
            <= int(max_link_density_pct) * F.length(_text(b))
        )

    kept = F.filter(blocks, _keep)
    clean = F.array_join(F.transform(kept, lambda b: F.trim(_text(b))), "\n")
    total_anchor = F.aggregate(
        F.transform(blocks, _anchor_chars),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return df.select(
        id_col,
        F.size(blocks).alias("n_blocks"),
        F.size(kept).alias("n_blocks_kept"),
        total_anchor.alias("anchor_chars"),
        clean.alias("clean_text"),
        (F.length(clean) > 0).alias("keep"),
    )


def soft_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """SoftDeDup: keep each exact duplicate with probability 1/n where n
    is its duplicate-group size, so every distinct document contributes
    ~1 expected copy to the training mix — the soft alternative to
    keep-one exact dedup (down-weights boilerplate without erasing the
    natural frequency signal entirely, cf. D4/SoftDeDup-style corpus
    reweighting).

    The keep decision is the :func:`hash_sample` trick made INTEGER-
    exact: with k = int(md5(id || ':' || seed)[:8 hex], 16) a per-row
    uniform over [0, 2^32), keep iff ``k * n < 2^32`` — equivalent to
    u < 1/n but compared in exact bigint arithmetic (no float division
    at all), so Spark and DuckDB agree bit-for-bit and the decision is
    independent of partitioning, retries, and engine.

    Output: ``id_col``, ``n_dups`` (group size), ``weight``
    (round(1/n, 9) — the alternative consumers that importance-weight
    instead of drop), ``keep``.

    Scale shape: one md5-keyed groupBy for group sizes (map-side
    partial counts) + one join back on the same key — two shuffles on
    the same hash key, no window. Skew: a pathological 10^8-copy group
    is one counter on the agg side, but the join back would land all
    its rows in one partition — every engine session enables AQE
    (spark.sql.adaptive.enabled, which includes skewJoin), so that hot
    partition splits and replicates the matching one-row sizes side:
    the worst case degrades to a parallel scan, not a straggler.
    """
    g = F.md5(F.col(text_col)).alias("dup_key")
    keyed = df.select(F.col(id_col), g)
    sizes = keyed.groupBy("dup_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dups")
    )
    k = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col(id_col).cast("string"),
                        F.lit(str(int(seed))),
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("bigint")
    )
    return (
        keyed.join(sizes, "dup_key")
        .select(
            id_col,
            F.col("n_dups"),
            F.round(F.lit(1.0) / F.col("n_dups").cast("double"), 9).alias(
                "weight"
            ),
            ((k * F.col("n_dups")) < F.lit(2**32)).alias("keep"),
        )
    )


def leakage_safe_split(
    components: DataFrame,
    weights=(("train", 0.9), ("val", 0.05), ("test", 0.05)),
    id_col: str = "doc_id",
    comp_col: str = "component",
    seed: int = 42,
) -> DataFrame:
    """Train/val/test assignment that can never leak near-duplicates
    across splits: the split is a function of the doc's near-dup
    COMPONENT id (from :func:`~..dedup.connected_components`), not the
    doc id, so an entire duplicate class lands in one split — the guard
    against the classic eval contamination where a paraphrase of a
    test document sits in train.

    ``weights`` is an ordered (name, weight) sequence; assignment uses
    the :func:`hash_sample` md5 uniform over the component key with
    INTEGER thresholds: k = int(md5(component || ':' || seed)[:8], 16),
    split = first name whose cumulative weight w satisfies
    ``k < round(w * 2^32)`` — exact bigint compares, engine-portable,
    independent of partitioning. Weights must sum to ~1 (the final
    band absorbs rounding).

    Output: ``id_col``, ``comp_col``, ``split``.

    Scale shape: a pure per-row projection over the components frame —
    the expensive part (components) is upstream and shared with dedup;
    the split itself adds no shuffle.
    """
    names = [n for n, _ in weights]
    cums = []
    acc = 0.0
    for _, w in weights:
        acc += float(w)
        cums.append(int(round(acc * 2**32)))
    cums[-1] = 2**32  # final band absorbs float rounding
    k = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col(comp_col).cast("string"),
                        F.lit(str(int(seed))),
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("bigint")
    )
    split = None
    for name, cum in zip(names, cums):
        cond = k < F.lit(cum)
        split = (
            F.when(cond, F.lit(name))
            if split is None
            else split.when(cond, F.lit(name))
        )
    split = split.otherwise(F.lit(names[-1]))
    return components.select(id_col, comp_col, split.alias("split"))


def epoch_expand(
    df: DataFrame,
    epochs,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: int = 42,
    default_epochs: float = 1.0,
) -> DataFrame:
    """Fractional-epoch upsampling for training mixes: replicate each
    document ``floor(f)`` or ``floor(f)+1`` times so the expected copy
    count is EXACTLY the per-source epoch factor ``f`` — how a
    pretraining run gives its high-quality sources >1 epoch (and its
    bulk web slice <1) without a random sampler.

    The extra-copy decision reuses the :func:`hash_sample` integer
    uniform: copy count k = floor(f) + [u < frac(f)], with u derived
    from md5(id:seed) — stateless, engine-portable, independent of
    partitioning; a whole-number f replicates exactly f times, an
    f < 1 becomes plain deterministic sampling. Copies materialize via
    ``explode(sequence(...))``; ``epoch_ix`` (0-based) disambiguates
    them downstream (e.g. for per-copy sequence packing offsets).

    ``epochs`` is one float or a {source: f} dict (unlisted sources
    fall back to ``default_epochs``). Output: the input columns plus
    ``n_copies`` and ``epoch_ix``.

    Scale shape: a pure per-row projection + constant-bounded explode
    (fan-out = ceil(max f)); no shuffle, no state — fuses into the
    scan like the other per-row gates.
    """
    if isinstance(epochs, dict):
        f = F.lit(float(default_epochs))
        for k, v in sorted(epochs.items()):
            f = F.when(F.col(source_col) == F.lit(k), F.lit(float(v))).otherwise(f)
    else:
        f = F.lit(float(epochs))
    base = F.floor(f).cast("bigint")
    frac = f - F.floor(f)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col(id_col).cast("string"),
                        F.lit(str(int(seed))),
                    )
                ),
                1, 8,
            ),
            16, 10,
        ).cast("bigint").cast("double")
        / F.lit(float(2**32))
    )
    n = (base + F.when(u < frac, 1).otherwise(0)).alias("n_copies")
    expanded = df.select("*", n).filter(F.col("n_copies") > 0)
    return expanded.select(
        "*",
        F.explode(
            F.sequence(F.lit(0), F.col("n_copies").cast("int") - 1)
        ).alias("epoch_ix"),
    )


def corpus_report(
    verdicts: DataFrame, source_col: str = "source"
) -> DataFrame:
    """Per-source rollup of :func:`training_mix` verdicts — the one-page
    corpus report a data team reads before a training run: volumes,
    dup/contamination pressure, quality pass rate, final selection
    rate. One map-side-combined groupBy over the verdict table; rates
    are exact integer counts divided once (the engine's ratio
    discipline).

    Output: (source, n_docs, n_exact_dup, n_near_dup, n_contaminated,
    n_quality_ok, n_selected, quality_rate, selection_rate).
    """
    c = F.count(F.lit(1)).cast("bigint")

    def cnt(col):
        return F.sum(F.when(F.col(col), 1).otherwise(0)).cast("bigint")

    g = verdicts.groupBy(source_col).agg(
        c.alias("n_docs"),
        cnt("is_exact_dup").alias("n_exact_dup"),
        cnt("is_near_dup").alias("n_near_dup"),
        cnt("contaminated").alias("n_contaminated"),
        cnt("quality_ok").alias("n_quality_ok"),
        cnt("selected").alias("n_selected"),
    )
    return g.select(
        source_col,
        "n_docs", "n_exact_dup", "n_near_dup", "n_contaminated",
        "n_quality_ok", "n_selected",
        F.round(
            F.col("n_quality_ok").cast("double") / F.col("n_docs"), 6
        ).alias("quality_rate"),
        F.round(
            F.col("n_selected").cast("double") / F.col("n_docs"), 6
        ).alias("selection_rate"),
    )


def _isqrt_col(m: Column) -> Column:
    """Exact integer sqrt (floor) of a long column, engine-portable.

    ``floor(sqrt(double))`` alone can be off by one near perfect
    squares once libm/IEEE rounding enters; the two integer correction
    terms pin it exactly (the same trick both engines can evaluate in
    codegen, no loops). Valid for m < 2^53, far beyond any token mass.
    """
    s0 = F.floor(F.sqrt(m.cast("double"))).cast("long")
    s1 = s0 - F.when(s0 * s0 > m, F.lit(1)).otherwise(F.lit(0)).cast("long")
    return s1 + F.when(
        (s1 + 1) * (s1 + 1) <= m, F.lit(1)
    ).otherwise(F.lit(0)).cast("long")


def temperature_sample(
    df: DataFrame,
    domain_col: str = "source",
    tokens_col: str = "n_tokens",
    id_col: str = "doc_id",
    seed: int = 42,
    scale: int = 10**9,
) -> DataFrame:
    """Temperature-scaled mixture sampling at α = 1/2 (the XLM-R §5.1 /
    mT5 language-balancing rule): target domain share ∝ ``mass_d^α``,
    so low-resource domains are UPSAMPLED relative to their raw share —
    the standard fix for a web corpus where the head language/domain
    otherwise drowns the tail.

    α = 1/2 is implemented EXACTLY: ``sqrt_mass = isqrt(mass)`` (integer,
    corrected floor-sqrt — no libm margin), shares as scaled integral
    ``div``, and only then two float divisions mirroring
    :func:`mixture_sample`'s feasibility math: the binding domain (the
    SMALLEST, under sqrt weights) keeps rate 1 and every other domain
    downsamples to ``w_d·T/avail_d``; zero-mass domains drop to rate 0.
    Keep decisions reuse the engine-portable md5 uniform, so the
    realized mix is reproducible across cluster sizes and engines.

    100 TB shape: one map-side-combined groupBy over ``domain_col``
    (|domains|-row dim), two 1-row aggregates on the broadcast path,
    one broadcast join back; the keep verdict is per-row codegen.
    Output: input columns + ``w`` (double share), ``rate``, ``u``,
    ``sampled``.
    """
    avail = df.groupBy(domain_col).agg(
        F.sum(tokens_col).cast("long").alias("avail")
    )
    sq = avail.select(
        domain_col, "avail", _isqrt_col(F.col("avail")).alias("sqrt_mass")
    )
    tot = sq.agg(F.sum("sqrt_mass").cast("long").alias("tot"))
    wts = sq.crossJoin(F.broadcast(tot)).select(
        domain_col,
        "avail",
        F.expr(f"(sqrt_mass * {int(scale)}) div tot")
        .cast("long")
        .alias("w_scaled"),
    )
    wdbl = F.col("w_scaled").cast("double") / F.lit(float(scale))
    tmin = (
        wts.filter(F.col("w_scaled") > 0)
        .agg(F.min(F.col("avail").cast("double") / wdbl).alias("T"))
    )
    rates = wts.crossJoin(F.broadcast(tmin)).select(
        domain_col,
        wdbl.alias("w"),
        # avail=0 guard: ANSI mode (Spark 4 default) raises on the 0/0,
        # and a zero-mass domain's rate is 0 by definition anyway
        F.when(
            F.col("avail") > 0,
            F.least(
                F.lit(1.0),
                wdbl * F.col("T") / F.col("avail").cast("double"),
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("rate"),
    )
    key = F.concat_ws(
        ":", F.col(id_col).cast("string"), F.lit(str(int(seed)))
    )
    u = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10)
        .cast("bigint")
        .cast("double")
        / F.lit(float(2**32))
    )
    rate = F.coalesce(F.col("rate"), F.lit(0.0))
    return df.join(F.broadcast(rates), domain_col, "left").select(
        *df.columns,
        F.coalesce(F.col("w"), F.lit(0.0)).alias("w"),
        rate.alias("rate"),
        u.alias("u"),
        (u < rate).alias("sampled"),
    )


def badwords_filter(
    df: DataFrame,
    badwords: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_list: bool = True,
) -> DataFrame:
    """C4 §2.2's remaining page rule: drop any page containing a word
    from a blocklist (Raffel et al. use the public "LDNOOBW" list; the
    engine ships no list — ``badwords`` is a one-column ``word`` dim the
    deployment supplies, the ``blocklist_filter`` stance).

    Matching is on LETTER/DIGIT RUNS of the lowercased text (so
    "word," and "Word." both match "word") — exact word-boundary
    semantics, never substring (a substring scan would block "class"
    for "ass", the classic blocklist false positive). Multi-word
    phrase entries are out of scope and rejected loudly rather than
    silently never matching.

    Scale shape: one distinct-token explode per doc (array_distinct
    first, so a 1000-repetition page contributes each word once), one
    equi join against the broadcast word dim, one map-side-combined
    groupBy(doc); the verdict join back is id-keyed. Output: input
    columns + ``n_bad_types``, ``first_bad``, ``blocked``.
    """
    bad = badwords.select(F.lower(F.col("word")).alias("_bad"))
    n_phrases = bad.filter(F.col("_bad").rlike("[^a-z0-9]")).count()
    if n_phrases:
        raise ValueError(
            f"badwords_filter matches single words only; {n_phrases} "
            "entries contain non-alphanumeric chars (phrases?)"
        )
    if broadcast_list:
        bad = F.broadcast(bad)
    toks = df.select(
        id_col,
        F.explode(
            F.array_distinct(
                F.expr(
                    f"regexp_extract_all(lower({text_col}), "
                    "'[a-z0-9]+', 0)"
                )
            )
        ).alias("_tok"),
    )
    hits = (
        toks.join(bad, toks["_tok"] == bad["_bad"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bad_types"),
            F.min("_tok").alias("first_bad"),
        )
    )
    return df.join(hits, id_col, "left").select(
        *df.columns,
        F.coalesce("n_bad_types", F.lit(0).cast("long")).alias(
            "n_bad_types"
        ),
        "first_bad",
        (F.coalesce("n_bad_types", F.lit(0)) > 0).alias("blocked"),
    )


def phrase_blocklist_filter(
    df: DataFrame,
    phrases: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multi-word companion of :func:`badwords_filter` (which rejects
    phrase entries by contract): pages containing any listed PHRASE —
    matched on word boundaries over the normalized token stream — are
    blocked. C4's public blocklist mixes words and phrases; the two
    operators together cover it.

    Matching: the text collapses to lowercase letter/digit-run tokens
    joined by single spaces with sentinel spaces at both ends; phrase
    ``p`` (normalized the same way) matches iff ``" p "`` occurs —
    word-boundary-exact for any phrase length, punctuation- and
    case-insensitive, never substring-of-a-word.

    The phrase list is inlined as codegen literals (the centroid-
    literal stance — blocklists are ~10^3 entries; beyond expression
    limits the pivot is a token-n-gram explode joined against a phrase
    dim). ``first_phrase`` reports the FIRST match in LIST order (the
    caller's priority order), so audits are deterministic. Scale: one
    per-row codegen pass, zero shuffle, zero Python.
    """
    clean = [" ".join(p.lower().split()) for p in phrases]
    if any(not p for p in clean):
        raise ValueError("empty phrase in blocklist")
    norm = F.concat(
        F.lit(" "),
        F.array_join(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"),
            " ",
        ),
        F.lit(" "),
    )
    first = F.coalesce(
        *[
            F.when(F.contains(norm, F.lit(f" {p} ")), F.lit(p))
            for p in clean
        ],
        F.lit(None).cast("string"),
    )
    return df.select(
        *df.columns,
        first.alias("first_phrase"),
        first.isNotNull().alias("blocked"),
    )


def stratified_sample(
    df: DataFrame,
    quota: int,
    strata_col: str = "lang",
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Exact per-stratum QUOTA sampling (vs :func:`hash_sample`'s
    per-row Bernoulli): keep exactly ``min(quota, |stratum|)`` rows per
    stratum, selected as the quota smallest values of the same
    engine-portable md5 uniform that hash_sample draws — the way a
    balanced eval set ("10k docs per language") or a per-source audit
    sample is actually specified. Bernoulli cannot hit an exact count;
    ORDER BY random() is neither reproducible nor stratified.

    Scale shape: the ranking window is PARTITIONED BY the stratum — the
    stratum-keyed shuffle is the plan's only exchange and each stratum
    ranks independently in parallel (never the single-partition global
    window). Skew bound: a stratum's rank state is one partition's rows;
    for web-scale strata (e.g. "en" = half the corpus) compose with a
    pre-cut — ``hash_sample`` at a fraction that overshoots the quota by
    a safe margin, then this exact cut — so the window only ever sees
    quota·(1+margin) rows per stratum. Selection is a pure function of
    (id, seed), so re-runs, retries, and engines agree row-for-row.

    Output: the input columns plus the 1-based ``rn`` within-stratum
    pick order (callers keep it for reservoir-style top-ups: growing the
    quota later ADDS rows without changing earlier picks).
    """
    key = F.concat_ws(
        ":", F.col(id_col).cast("string"), F.lit(str(int(seed)))
    )
    u = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")
    w = Window.partitionBy(strata_col).orderBy(
        u.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= int(quota))
    )


def threshold_sweep(
    scored: DataFrame,
    score_col: str,
    weight_col: str,
    id_col: str = "doc_id",
    n_tiles: int = 10,
) -> DataFrame:
    """Quality-threshold calibration curve: what fraction of documents
    and of token mass survives each candidate cutoff? The pipeline
    decision this serves is the classic one — a quality classifier
    (:func:`..textstats.hashed_bow_score`) emits scores, and someone
    must pick the threshold; this computes the whole retention curve in
    one pass instead of re-running the filter per candidate value.

    Each document is assigned an exact score-order tile
    ``floor((rank-1)·n_tiles/n) + 1`` (integer arithmetic — NOT the
    engine-private NTILE remainder rule) where rank comes from the
    engine's two-phase :func:`..frontier.global_rank` (score desc, id
    tiebreak) — the corpus-sized frame never collapses into a
    single-partition window. Per tile: the cutoff (min score in tile),
    cumulative docs and cumulative weight retained if one kept tiles
    1..t, and their fractions of the corpus.

    Scale shape: one range-repartition (global_rank) + one n_tiles-row
    groupBy; the cumulative window runs over the n_tiles-row aggregate
    only (the bounded-frame window pattern, like the HDR quantile cut).
    Fractions are exact-integer ratios divided once at the end, rounded
    to 6 — portable across engines.
    """
    from .frontier import global_rank

    ranked = global_rank(
        scored.select(
            F.col(id_col),
            F.col(score_col).alias("_score"),
            F.col(weight_col).alias("_weight"),
        ),
        rank_col="_rank",
        order_by=[F.col("_score").desc(), F.col(id_col).asc()],
    )
    totals = ranked.agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_weight").alias("_total_weight"),
    )
    # floor() on BOTH engines (CAST of a double rounds in DuckDB but
    # truncates in Spark — an engine margin); the double quotient is
    # exact while (rank-1)·n_tiles < 2^53, i.e. far past any corpus.
    tiled = ranked.crossJoin(F.broadcast(totals)).withColumn(
        "tile",
        F.floor(
            (F.col("_rank") - 1) * F.lit(int(n_tiles)) / F.col("_n")
        )
        + 1,
    )
    per_tile = tiled.groupBy("tile").agg(
        F.min("_score").alias("cut_score"),
        F.count(F.lit(1)).alias("tile_docs"),
        F.sum("_weight").alias("tile_weight"),
        F.first("_n").alias("_n"),
        F.first("_total_weight").alias("_total_weight"),
    )
    cum = Window.orderBy("tile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_tile.select(
        F.col("tile").cast("int").alias("tile"),
        "cut_score",
        F.sum("tile_docs").over(cum).alias("docs_retained"),
        F.sum("tile_weight").over(cum).alias("weight_retained"),
        F.round(
            F.sum("tile_docs").over(cum) / F.col("_n"), 6
        ).alias("pct_docs"),
        F.round(
            F.sum("tile_weight").over(cum) / F.col("_total_weight"), 6
        ).alias("pct_weight"),
    )


def weighted_sample(
    df: DataFrame,
    k: int,
    weight_col: str,
    strata_col: str | None = None,
    id_col: str = "doc_id",
    seed: int = 42,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spiliopoulos
    A-ES): keep ``k`` rows where each row's inclusion odds are
    proportional to ``weight_col`` — the curation primitive behind
    "sample eval docs proportional to token count" and importance-
    weighted corpus draws (the selection step :func:`..textstats.
    dsir_weights` needs once weights exist). :func:`hash_sample` can't
    express per-row weights and ``ORDER BY random()`` is neither
    reproducible nor weighted; A-ES is the one-pass, merge-friendly
    answer: key each row with ``ln(u) / w`` (u uniform, w weight) and
    keep the k LARGEST keys — provably the exact weighted-without-
    replacement distribution over the randomness of u.

    Determinism and portability: u is the same engine-portable md5
    uniform every sampler here draws (exact power-of-two division, so u
    is bit-identical across engines); ``ln`` follows the BM25/HLL
    precedent — both engines evaluate IEEE-double ``ln`` on identical
    inputs, the emitted key is rounded to 9, and a last-ulp rank flip
    would need two keys within 1e-15 of each other (u is cryptographic:
    that is a measure-zero tie, and the id tiebreak pins exact ties).
    Rows with weight <= 0 or NaN are excluded up front — A-ES keys are
    undefined there, and silently keeping them would over-sample (a NaN
    weight passes ``w > 0`` because Spark orders NaN above every double,
    and its NaN key then sorts first under ``desc``).

    Scale shape: when ``strata_col`` is given the ranking window is
    PARTITIONED BY the stratum (one stratum-keyed shuffle, parallel
    across strata); un-stratified, the cut is the k smallest of a pure
    per-row key — expressed as ``orderBy(...).limit(k)`` which compiles
    to TakeOrderedAndProject (parallel partial top-k on every partition,
    a k-row driver merge, NO global sort and NO single-partition
    window — the unigram_vocab lesson from the r04 verdict). Selection
    is a pure function of (id, seed, weight), so re-runs, retries,
    cluster sizes, and engines agree row-for-row; growing ``k`` later
    only ADDS rows (reservoir top-up property, same as
    :func:`stratified_sample`).

    Output: the input columns plus ``aes_key`` (rounded, descending
    pick order) and the 1-based ``rn`` pick index.
    """
    key = F.concat_ws(
        ":", F.col(id_col).cast("string"), F.lit(str(int(seed)))
    )
    u = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(2**32))
    w = F.col(weight_col).cast("double")
    aes = F.log(u) / w
    pos = df.filter((w > 0) & ~F.isnan(w)).withColumn("_aes", aes)
    if strata_col is not None:
        win = Window.partitionBy(strata_col).orderBy(
            F.col("_aes").desc(), F.col(id_col).asc()
        )
        picked = (
            pos.withColumn("rn", F.row_number().over(win).cast("int"))
            .filter(F.col("rn") <= int(k))
        )
    else:
        topk = (
            pos.orderBy(F.col("_aes").desc(), F.col(id_col).asc())
            .limit(int(k))
        )
        win = Window.orderBy(F.col("_aes").desc(), F.col(id_col).asc())
        picked = topk.withColumn(
            "rn", F.row_number().over(win).cast("int")
        )
    return picked.withColumn(
        "aes_key", F.round(F.col("_aes"), 9)
    ).drop("_aes")
