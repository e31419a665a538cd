"""Benchmark workloads and their seeded, cached inputs.

Each workload is a site set from ``webgen.bench_sites`` (80% of the
sections on host ``bench0.local``), a ``CorpusSpec`` whose ``seed`` is the
benchmark's ``--seed``, and the crawl options the workload needs. The
engine only ever receives the generated pages table, the site configs,
the robots rules and, for ``recrawl_durable``, a prepared store.

Inputs are generated once per (workload, seed, size) and cached under
``.perfbench/cache/<key>`` in the checkout, where ``<key>`` is a hash of
everything that produced them (``input_key``): the source of the
``crawler_spark`` package, the ``CrawlParams()`` defaults and this file.
A checkout that moves to another commit therefore never reuses inputs,
digests or a store that another version of the program made:

- ``corpus.parquet``: the pages table, the rows ``webgen.rows_for_key``
  renders (as ``webgen.corpus_pandas`` and ``webgen.corpus_df`` do),
  rendered by a few spawned Python processes and written with pyarrow,
  so generation never starts or warms the JVM that is measured
  afterwards;
- ``expected.json``: digests of the oracle's items, error rows and seen
  set (``corpus/oracle.py``), plus the input properties the benchmark
  reports.

The recrawl store does not depend on the seed (detail URLs are functions
of site/section/page/slot only), so it is cached once per size under
``store-<size>`` and built through the engine's public APIs inside a
Spark session (``prepare_store``). ``store-<size>.json`` beside it
records the Bloom geometry and seen-set size it was built with.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import time
from dataclasses import asdict, dataclass

import pandas as pd

from crawler_spark.canonical import canonicalize_url
from crawler_spark.config import SiteConfig
from crawler_spark.corpus import oracle as orc
from crawler_spark.corpus import webgen as wg

HOT_HOST = "bench0.local"
WAVE_SECONDS = 8.0  # CrawlParams default, stated so the oracle uses the same

# Robots rules for the recrawl: deny one section of the hot host and
# slow one small host down. The override stays non-binding (budget 400
# per wave against at most ~40 pending rows of that host per wave in the
# oracle's crawl), because the recrawl's expected output is only exact
# while no budget binds.
ROBOTS_RULES = [
    {"host": HOT_HOST, "path_prefix": "/s1/", "allow": False, "crawl_delay": None},
    {"host": HOT_HOST, "path_prefix": "/", "allow": True, "crawl_delay": None},
    {"host": "bench1.local", "path_prefix": "/", "allow": True, "crawl_delay": 0.02},
]

# canon prefix of the pre-seeded URLs that no page links to
FILLER_PREFIX = "https://filler.local/u/"


@dataclass(frozen=True)
class Size:
    sections: int
    pages: int          # list pages per section (= max_page)
    items: int          # items per list page
    chunks_min: int     # detail page size in text chunks: min + h % span
    chunks_span: int
    filler: int = 0     # pre-seeded unknown URLs (recrawl only)


@dataclass(frozen=True)
class Workload:
    name: str
    sizes: dict
    robots: bool = False
    store: bool = False
    miss_every: int = 50

    def sites(self, size: Size) -> tuple[SiteConfig, ...]:
        # crawl_delay 0.001 => budget 8000 per host per wave: never binds
        return wg.bench_sites(
            n_hosts=8, sections=size.sections, skew=0.8,
            crawl_delay=0.001, max_page=size.pages,
        )

    def spec(self, seed: int, size: Size) -> wg.CorpusSpec:
        return wg.CorpusSpec(
            seed=seed, items_per_page=size.items, default_pages=size.pages,
            empty_last_page_sources=(), miss_every=self.miss_every,
            detail_chunks_min=size.chunks_min, detail_chunks_span=size.chunks_span,
        )


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="fat_wave",
            sizes={
                "full": Size(sections=40, pages=1, items=20, chunks_min=384, chunks_span=192),
                "toy": Size(sections=8, pages=1, items=6, chunks_min=16, chunks_span=8),
            },
        ),
        Workload(
            name="recrawl_durable",
            sizes={
                "full": Size(sections=40, pages=1, items=20, chunks_min=3,
                             chunks_span=5, filler=1_000_000),
                "toy": Size(sections=16, pages=1, items=6, chunks_min=3,
                            chunks_span=5, filler=20_000),
            },
            robots=True,
            store=True,
            miss_every=17,
        ),
    )
}


def digest(rows) -> str:
    """Order-independent digest of rows (tuples of JSON scalars)."""
    h = hashlib.sha256()
    for line in sorted(json.dumps(list(r), ensure_ascii=False) for r in rows):
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


ITEM_COLS = ("url", "source", "title", "publish_time", "origin_url", "province",
             "city", "county", "site_name", "text", "wave")
ERROR_COLS = ("url", "kind", "wave", "status")


def known_urls(spec: wg.CorpusSpec, sites, oracle_seen: set[str]) -> set[str]:
    """Canonical detail URLs the recrawl store already knows: every item
    of every list page the oracle scheduled, except slot 0, so each list
    page keeps one unknown item and paginates exactly as in the oracle."""
    known, keep = set(), set()
    for source, sec, page in wg.section_keys(spec, sites):
        site = next(s for s in sites if s.source == source)
        if canonicalize_url(wg.list_page_url(site, sec, page)) not in oracle_seen:
            continue
        items = wg.list_items(spec, site, sec, page)
        keep.add(canonicalize_url(items[0].url))
        # items of a robots-denied list page were never discovered
        known.update(c for c in (canonicalize_url(it.url) for it in items[1:]) if c in oracle_seen)
    if known & keep:
        raise ValueError("a slot-0 item is also a known URL; the expected output would not be exact")
    return known


GEN_PROCS = max(2, min(4, os.cpu_count() or 1))


def input_key(root: str) -> str:
    """Hash of what the cached inputs depend on: every source file of the
    ``crawler_spark`` package (webgen, the oracle, dedup, the store, the
    driver's ``seed_frontier``, ...), the ``CrawlParams()`` defaults and
    this file (the workload sizes)."""
    from crawler_spark.engine.driver import CrawlParams

    h = hashlib.sha256()
    h.update(json.dumps(asdict(CrawlParams()), sort_keys=True).encode())
    files = [os.path.abspath(__file__)]
    for d, dirs, names in os.walk(os.path.join(root, "crawler_spark")):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        files.extend(os.path.join(d, n) for n in sorted(names) if n.endswith(".py"))
    for path in files:
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _render(args) -> list[dict]:
    """Pages rows of some (source, section, page) keys: the rows
    ``webgen.corpus_pandas`` builds, for one generation process."""
    name, seed, size_name, keys = args
    w = WORKLOADS[name]
    size = w.sizes[size_name]
    spec, sites = w.spec(seed, size), {s.source: s for s in w.sites(size)}
    return [r for source, sec, page in keys for r in wg.rows_for_key(spec, sites[source], sec, page)]


def _oracle(name: str, seed: int, size_name: str) -> orc.OracleResult:
    w = WORKLOADS[name]
    size = w.sizes[size_name]
    return orc.oracle_crawl(
        w.spec(seed, size), w.sites(size), wave_seconds=WAVE_SECONDS,
        obey_robots=w.robots, robots_rules=ROBOTS_RULES if w.robots else None,
    )


class Inputs:
    """The cached inputs of one (workload, seed, size)."""

    def __init__(self, root: str, workload: Workload, seed: int, size_name: str) -> None:
        self.workload, self.seed, self.size_name = workload, seed, size_name
        self.size: Size = workload.sizes[size_name]
        self.sites = workload.sites(self.size)
        self.spec = workload.spec(seed, self.size)
        cache = os.path.join(root, ".perfbench", "cache", input_key(root))
        self.dir = os.path.join(cache, f"{workload.name}-s{seed}-{size_name}")
        self.corpus_path = os.path.join(self.dir, "corpus.parquet")
        self.store_path = os.path.join(cache, f"store-{size_name}")
        self.store_meta_path = self.store_path + ".json"
        self.gen_s = 0.0
        self.expected: dict = {}

    # -- corpus + oracle (pure Python, before any Spark session) ----------

    def ensure(self) -> None:
        exp_path = os.path.join(self.dir, "expected.json")
        if os.path.exists(exp_path) and os.path.exists(self.corpus_path):
            with open(exp_path) as f:
                self.expected = json.load(f)
            return
        t0 = time.perf_counter()
        os.makedirs(self.dir, exist_ok=True)
        # render the pages on GEN_PROCS - 1 processes while one more runs
        # the oracle; spawned, so no JVM or thread state is inherited
        w, keys = self.workload, wg.section_keys(self.spec, self.sites)
        n = GEN_PROCS - 1
        with multiprocessing.get_context("spawn").Pool(GEN_PROCS) as pool:
            oracle = pool.apply_async(_oracle, (w.name, self.seed, self.size_name))
            parts = pool.map(_render, [(w.name, self.seed, self.size_name, keys[i::n])
                                       for i in range(n)])
            res = oracle.get()
        # the pool's semaphores started multiprocessing's resource tracker
        # process; stop it (and wait for it) now rather than at exit
        from multiprocessing import resource_tracker
        resource_tracker._resource_tracker._stop()
        rows: dict[str, dict] = {}
        for part in parts:
            for r in part:
                rows.setdefault(r["url"], r)  # shared items render identically
        pdf = pd.DataFrame(list(rows.values()), columns=["url", "warc_ts", "html", "text", "lang"])
        pdf = pdf.sort_values("url").reset_index(drop=True)
        self._write_corpus(pdf)
        self.expected = self._expected(pdf, res)
        tmp = exp_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.expected, f)
        os.replace(tmp, exp_path)
        self.gen_s = time.perf_counter() - t0

    def _write_corpus(self, pdf) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        schema = pa.schema([
            ("url", pa.string()), ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
        ])
        tmp = self.corpus_path + ".tmp"
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), tmp)
        os.replace(tmp, self.corpus_path)

    def _write_candidates(self, canon: list[str]) -> None:
        """The oracle's discovered URLs, probed by the traced run's Bloom
        measurement."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.table({"canon": canon}), os.path.join(self.dir, "candidates.parquet"))

    def _expected(self, pdf, res: orc.OracleResult) -> dict:
        w = self.workload
        known: set[str] = set()
        if w.store:
            known = known_urls(self.spec, self.sites, res.seen)
        items = [tuple(it[c] for c in ITEM_COLS) for it in res.items
                 if canonicalize_url(it["url"]) not in known]
        errors = [tuple(e[c] for c in ERROR_COLS) for e in res.errors
                  if canonicalize_url(e["url"]) not in known]
        details = pdf["text"].notna()
        hot = pdf["url"].str.startswith(f"https://{HOT_HOST}/")
        seeds = {canonicalize_url(t.format(page=1)) for s in self.sites for t in s.seed_templates}
        candidates = sorted(res.seen - seeds)
        self._write_candidates(candidates)
        return {
            "items": digest(items),
            "errors": digest(errors),
            "seen": digest((c,) for c in res.seen),
            "n_items": len(items),
            "n_errors": len(errors),
            "n_seen": len(res.seen),
            "known": sorted(known),
            "props": {
                "pages": int(len(pdf)),
                "detail_page_bytes_mean": float(pdf.loc[details, "html"].map(len).mean()),
                "oracle_waves": res.waves,
                "hot_host_share": float(hot.mean()),
                "known_candidate_share": len(known) / max(1, len(candidates)),
            },
        }

    # -- recrawl store (Spark, public engine APIs) -------------------------

    def store_ready(self) -> bool:
        return os.path.exists(self.store_meta_path)

    def prepare_store(self, spark) -> None:
        """Build the pre-seeded store: the seed frontier, a seen set of the
        frontier + known detail URLs + ``filler`` URLs no page links to,
        and the Bloom shards over all of them, committed as wave 0."""
        from pyspark.sql import functions as F

        from crawler_spark.engine.driver import CrawlParams, seed_frontier
        from crawler_spark.operators import dedup as dd
        from crawler_spark.state.lakestore import LakeStore

        t0 = time.perf_counter()
        tmp = self.store_path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        store = LakeStore(tmp)
        params = CrawlParams()
        frontier = seed_frontier(spark, self.sites)
        known = spark.createDataFrame([(c,) for c in self.expected["known"]], "canon string")
        filler = spark.range(self.size.filler).select(
            F.concat(F.lit(FILLER_PREFIX), F.col("id").cast("string")).alias("canon")
        )
        seen = (
            frontier.select("canon").unionByName(known).unionByName(filler)
            .withColumn("url_hash", F.xxhash64("canon"))
        )
        shards = dd.update_shards(
            dd.empty_shards(spark, params.n_shards, params.bloom_bits_per_shard),
            seen.select("url_hash"), params.n_shards, params.bloom_bits_per_shard,
        )
        store.stage_snapshot(frontier, "frontier", "w0")
        store.stage_snapshot(seen, "seen", "w0")
        store.stage_snapshot(shards, "shards", "w0")
        store.save_checkpoint({"wave": 0, "pop_base": 0, "snapshots": {
            "frontier": "w0", "seen": "w0", "shards": "w0"}})
        meta = {"n_shards": params.n_shards,
                "bloom_bits_per_shard": params.bloom_bits_per_shard,
                "seen_rows": store.read_snapshot(spark, "seen", "w0").count()}
        shutil.rmtree(self.store_path, ignore_errors=True)
        os.replace(tmp, self.store_path)
        with open(self.store_meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(self.store_meta_path + ".tmp", self.store_meta_path)
        self.gen_s += time.perf_counter() - t0

    def store_copy(self, dest: str) -> str:
        shutil.rmtree(dest, ignore_errors=True)
        shutil.copytree(self.store_path, dest)
        return dest

    def bloom_bits_per_key(self) -> float:
        """Bloom bits per seen key at crawl start: the geometry the store's
        shards were built with, or, without a store, the ``CrawlParams()``
        defaults the crawl builds its shards with."""
        if self.workload.store:
            with open(self.store_meta_path) as f:
                meta = json.load(f)
            return meta["n_shards"] * meta["bloom_bits_per_shard"] / meta["seen_rows"]
        from crawler_spark.engine.driver import CrawlParams

        p = CrawlParams()
        return p.n_shards * p.bloom_bits_per_shard / self.seen_at_start()

    def seen_at_start(self) -> int:
        if not self.workload.store:
            return sum(len(s.seed_templates) for s in self.sites)
        with open(self.store_meta_path) as f:
            return json.load(f)["seen_rows"]
