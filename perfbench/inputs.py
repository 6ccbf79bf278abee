"""Seeded inputs for the perfbench workloads.

Everything here is a pure function of the seed: the same seed gives the
same site, the same documents and the same configuration.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq

from crawlspark.scheduler import CrawlConfig
from crawlspark.synth import SiteSpec

# crawl_polite: two hosts with one list page of 36 detail pages each; host 0
# has crawl delay 3 s and a robots-denied /private/ area, host 1 crawl delay
# 1 s. A cap of 3 URLs per host per round makes it a 13-round crawl: round 0
# fetches the two list pages and discovers every detail page, rounds 1-12
# fetch 6 pages each, whatever the seed (the seed moves URL surface forms and
# cross links, not the site's shape). Set-up seeds the store and crawls
# round 0, then stops (``stop_after_round``, the kill); each measured op
# reopens the store with a new ``CrawlRunner``, resumes and crawls one round,
# and ``vacuum_every=1`` vacuums after it.
POLITE_SITE = dict(n_hosts=2, zipf_s=0.0, lists_per_host=1, per_list=36,
                   slow_hosts=1, private_hosts=1, dead_links_per_host=0)
POLITE_CFG = dict(round_wall=24.0, per_host_cap=3, max_depth=1, vacuum_every=1)
POLITE_URLS_PER_ROUND = 6
POLITE_ROUNDS = 13

# traced runs also time the extract kernel alone on a bulk-shaped corpus
# (the bench.py site shape, pages padded to about 2000 words)
BULK_SITE = dict(n_hosts=8, lists_per_host=2, per_list=25, slow_hosts=1,
                 private_hosts=1, dead_links_per_host=0)
BULK_PAD_WORDS = 2000

# dedup_corpus: synthetic documents shaped like the sf* `documents` table.
# Measured on the sf0.001, sf0.01 (500 rows each) and sf0.1 (5000 rows)
# tables: texts of 10-100 words (median 54-56) drawn uniformly from the 30
# words below, 5.0% of the texts are another text + " dup" (250 of 5000;
# chains occur), `lang` is en 39-44% and zh/es/fr/de 13-16% each, `source`
# takes 20 values of equal count, and `n_chars` is the text's length. 1500
# documents (3x the sf0.01 gate scale) is where Spark jobs cover more than
# half of the wall time of each query kept (see README); at 500 driver
# planning and job scheduling take about half of it.
N_DOCS = 1500
_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_WEIGHTS = (0.41, 0.15, 0.15, 0.15, 0.14)
_DUP_SHARE = 0.05


def polite_site(seed: int) -> SiteSpec:
    return SiteSpec(seed=seed, **POLITE_SITE)


def polite_cfg() -> CrawlConfig:
    return CrawlConfig(**POLITE_CFG)


def bulk_site(seed: int) -> SiteSpec:
    return SiteSpec(seed=seed, **BULK_SITE)


def write_pages(pages: list[dict], path: str) -> None:
    """The site's pages as one parquet file in the ``schema.PAGES`` layout
    (a UTC timestamp, so Spark reads ``warc_ts`` as TimestampType)."""
    cols = ("url", "warc_ts", "html", "text", "lang")
    types = (pa.string(), pa.timestamp("us", tz="UTC"), pa.binary(), pa.string(),
             pa.string())
    pq.write_table(pa.table({c: pa.array([p[c] for p in pages], t)
                             for c, t in zip(cols, types)}), path)


def documents(seed: int, n_docs: int = N_DOCS) -> pa.Table:
    """``documents(doc_id, text, lang, source, n_chars)`` with the measured
    structure of the sf* tables above: 10-100 words from the 30-word
    vocabulary, and 5% near-duplicates made by appending " dup" to another
    document's text (chains allowed)."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 100)))
             for _ in range(n_docs)]
    for i in rng.sample(range(n_docs), int(n_docs * _DUP_SHARE)):
        j = rng.randrange(n_docs - 1)
        texts[i] = texts[j if j < i else j + 1] + " dup"
    langs = rng.choices(_LANGS, weights=_LANG_WEIGHTS, k=n_docs)
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(seed: int, sf_dir: str) -> str:
    path = f"{sf_dir}/documents.parquet"
    pq.write_table(documents(seed), path)
    return path
