"""Seeded input generation for the benchmark workloads.

Everything the program reads is produced here from ``--seed`` and written
as parquet under the run's temporary directory: the same seed gives the
same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

#: the corpus vocabulary of the query-suite input (uniform draws, no Zipf)
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
#: share of documents that are a copy of another document plus " dup"
DUP_SHARE = 0.05
N_SOURCES = 20


def generate_documents(n: int, seed: int) -> pd.DataFrame:
    """The ``documents`` table the corpus queries read: ``doc_id, text,
    lang, source, n_chars``. Texts are 10-100 uniform words; 5% of the
    documents are an exact copy of another document with `` dup``
    appended, which gives the near-duplicate queries their pairs."""
    rng = np.random.RandomState(seed)
    lengths = rng.randint(10, 101, size=n)
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.randint(0, len(WORDS), size=k)]) for k in lengths]
    dup = rng.rand(n) < DUP_SHARE
    originals = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):
        texts[i] = texts[int(originals[rng.randint(len(originals))])] + " dup"
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def crawl_frames(n_pages: int, n_seeds: int, seed: int) -> dict:
    """pages/robots/seeds from the program's fixture generators (pandas;
    the reference simulator reads these frames directly)."""
    from xrpl_rich_list_py_crawler_spark.sources.fixtures import (
        generate_pages,
        generate_robots,
        generate_seeds,
    )

    pages = generate_pages(n_pages, seed)
    return {
        "pages": pages,
        "robots": generate_robots(),
        "seeds": generate_seeds(pages, n_seeds),
    }


def write_crawl_tables(frames: dict, out_dir: str) -> None:
    """Write the crawl inputs as the parquet files the program reads."""
    os.makedirs(out_dir, exist_ok=True)
    frames["pages"][["url", "warc_ts", "html", "text", "lang"]].to_parquet(
        os.path.join(out_dir, "pages.parquet"), index=False
    )
    for t in ("robots", "seeds"):
        frames[t].to_parquet(os.path.join(out_dir, f"{t}.parquet"), index=False)


def query_frames(n_docs: int, n_pages: int, seed: int) -> dict:
    """The corpus-query inputs: ``documents`` plus the crawl fixture
    tables that ``ensure_crawl_fixtures`` requires to exist (only
    ``pages`` is read by the measured queries)."""
    from xrpl_rich_list_py_crawler_spark.sources.fixtures import (
        generate_amounts,
        generate_pages,
        generate_richlist,
        generate_robots,
        generate_seeds,
        generate_trustlines,
    )

    pages = generate_pages(n_pages, seed)
    richlist, categories = generate_richlist()
    return {
        "documents": generate_documents(n_docs, seed),
        "pages": pages[["url", "warc_ts", "html", "text", "lang"]],
        "seeds": generate_seeds(pages),
        "robots": generate_robots(),
        "richlist": richlist,
        "categories": categories,
        "amounts": generate_amounts(),
        "trustlines": generate_trustlines(),
    }


def write_query_tables(frames: dict, sf_dir: str, fixture_root: str) -> str:
    """Write ``documents`` under ``sf_dir`` and the crawl fixture tables
    under ``fixture_root/crawl_<basename of sf_dir>``, where the
    page-reading queries look them up. Returns the fixture dir."""
    fix = os.path.join(fixture_root, "crawl_" + os.path.basename(sf_dir))
    for d in (sf_dir, fix):
        os.makedirs(d, exist_ok=True)
    for name, df in frames.items():
        out = sf_dir if name == "documents" else fix
        df.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)
    return fix
