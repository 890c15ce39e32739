"""Seeded synthetic-web inputs for the crawl benchmark.

A workload's web is ``sources/synth_web.synth_pages`` over a generated
``documents`` table (the same shape as the test data's documents table:
doc_id, text, lang). The document texts are fixed; the workload seed picks
the seed-URL set, a seeded sample of doc ids. Politeness budget, host count
and partition count follow ``bench.run_crawl``'s formulas, so a workload is
the repository's headline crawl at a stated size.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import asdict, dataclass

VOCAB = (
    "a agg batch big column data fast filter group hash key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
TEXT_SEED = 42          # document texts do not depend on the workload seed
MEGA_MOD = 5            # synth_web.MEGA_MOD: host 0 holds ~1/5 of the pages
TARGET_ROUNDS = 2       # bench.run_crawl's mega-host drain target


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int                  # base documents; pages = n_docs * mult
    mult: int
    bloom_min_seen: int | None = None   # None = CrawlConfig default
    kill_after: int | None = None       # rounds before the kill, then resume

    @property
    def n_pages(self) -> int:
        return self.n_docs * self.mult

    @property
    def n_seeds(self) -> int:
        return max(4, self.n_pages // 3)

    @property
    def n_hosts(self) -> int:
        return max(32, self.n_pages // 250)

    @property
    def budget(self) -> int:
        return max(8, self.n_pages // MEGA_MOD // TARGET_ROUNDS)

    @property
    def num_partitions(self) -> int:
        return min(64, max(8, self.n_pages // 2500))

    @property
    def bloom_bits(self) -> int:
        return 1 << max(17, (self.n_pages * 16 // 32).bit_length())

    def config(self):
        from webcrawl_spark.sources import synth_web as SW

        extra = {}
        if self.bloom_min_seen is not None:
            extra["bloom_min_seen"] = self.bloom_min_seen
        return SW.crawl_config(
            num_partitions=self.num_partitions,
            max_connections_per_server=self.budget,
            bloom_bits=self.bloom_bits,
            **extra,
        )


WORKLOADS = {
    w.name: w
    for w in (
        # 8k thin pages, default config: the Bloom check stage is bypassed
        # (seen stays below bloom_min_seen), rounds are small, so Spark jobs
        # per round x job latency dominate
        Workload("crawl_small_rounds", n_docs=1000, mult=8),
        # 16k thin pages with the Bloom check + seen anti-join every round;
        # killed after 2 rounds and resumed by a fresh crawler
        Workload("crawl_dedup_resume", n_docs=1000, mult=16,
                 bloom_min_seen=0, kill_after=2),
    )
}


def documents(n_docs: int):
    """documents table (doc_id, text, lang): 8-100 vocabulary words each."""
    import pandas as pd

    rng = random.Random(TEXT_SEED)
    texts = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 100)))
        for _ in range(n_docs)
    ]
    return pd.DataFrame({
        "doc_id": pd.Series(range(n_docs), dtype="int64"),
        "text": texts,
        "lang": [LANGS[rng.randrange(len(LANGS))] for _ in range(n_docs)],
    })


def seed_doc_ids(w: Workload, seed: int) -> list[int]:
    """The workload seed's seed-URL set: a seeded sample of doc ids."""
    return sorted(random.Random(seed).sample(range(w.n_pages), w.n_seeds))


def doc_url(d: int, n_hosts: int) -> str:
    host = 0 if d % MEGA_MOD == 0 else d % n_hosts
    return f"http://site{host}.test/doc{d}.html"


def input_sha(w: Workload, seed_ids: list[int], docs) -> str:
    """Digest of everything the crawl reads: workload shape, seeds, texts."""
    h = hashlib.sha256(json.dumps([asdict(w), seed_ids]).encode())
    for col in ("doc_id", "text", "lang"):
        h.update("\x00".join(map(str, docs[col])).encode())
    return h.hexdigest()


@dataclass
class Inputs:
    pages_path: str
    docs: object          # pandas documents table (the oracle's input)
    seed_ids: list
    seeds: list
    sha: str


def prepare(spark, w: Workload, seed: int, work_dir: str) -> Inputs:
    """Write the workload's pages to parquet, before any timing."""
    from webcrawl_spark.sources import synth_web as SW

    docs = documents(w.n_docs)
    seed_ids = seed_doc_ids(w, seed)
    sf_dir = os.path.join(work_dir, "sf")
    pages_path = os.path.join(work_dir, "pages.parquet")
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        os.path.join(sf_dir, "documents.parquet")
    )
    SW.synth_pages(
        spark, sf_dir, None, mult=w.mult, n_hosts=w.n_hosts,
    ).write.mode("overwrite").parquet(pages_path)
    return Inputs(
        pages_path=pages_path,
        docs=docs,
        seed_ids=seed_ids,
        seeds=[doc_url(d, w.n_hosts) for d in seed_ids],
        sha=input_sha(w, seed_ids, docs),
    )
