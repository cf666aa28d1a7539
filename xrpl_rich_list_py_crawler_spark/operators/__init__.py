"""Reusable dataflow operators (SURVEY.md §2 mappings + §4.2 custom ops)."""

from .asof import latest_per_key  # noqa: F401
from .curation import (  # noqa: F401
    boilerplate_clean,
    cap_per_key,
    curate_corpus,
    hash_sample,
    line_dedup,
    mixture_sample,
    ngram_contamination,
    training_mix,
)
from .frontier import (  # noqa: F401
    filter_traps,
    global_rank,
    recrawl_schedule,
    salted_repartition,
    snapshot_diff,
    trap_features,
)
from .graph import (  # noqa: F401
    edges_from_pages,
    host_pagerank,
    resolve_redirects,
)
from .packing import global_cumsum, pack_sequences  # noqa: F401
from .sessions import session_stats, sessionize  # noqa: F401
from .politeness import apply_robots, parse_robots_txt  # noqa: F401
from .similarity import (  # noqa: F401
    brute_force_topk,
    cosine_near_dup_pairs,
    ivf_topk,
    lsh_topk,
    semdedup,
)
from .sitemap import child_sitemaps, parse_sitemap, sitemap_seeds  # noqa: F401
from .seen import (  # noqa: F401
    BloomShards,
    anti_join_seen,
    anti_join_seen_bloom,
    build_bloom_shards,
)
