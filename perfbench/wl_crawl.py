"""Workload ``crawl``: discovery crawl over a seeded synthetic web graph.

An op is one ``Crawler.run(max_batches=1)`` micro-batch through the
default ``CorpusFetcher``.  The bloom filters are sized the way a
deployment sizes them for an expected frontier (1% FPP at
``EXPECTED_FRONTIER`` URLs); the seen set passes that early in the run
and ends near twice it, so early batches fit the filter and late ones
saturate it.  After the timed phase the visit log and seen set are
compared with ``SequentialCrawler`` run for the same number of batches.
Set-up runs the seed commit and two warm-up batches; a run times whole
multiples of three batches, so its median and tail are never one sample.
"""

from __future__ import annotations

import os

import gen
from common import Ctx, OpResult, functions_probe, tree_size

N_PAGES = 8000
N_SEEDS = 1000
BATCH_SIZE = 1000
PER_HOST_LIMIT = 80
BUCKETS = 16
EXPECTED_FRONTIER = 4500
#: batch times still fall over the first batches of a process (a second
#: warm-up batch took the 5-seed quartile spread of a timed batch from
#: 13% to 4%)
WARMUP_BATCHES = 2
SUB_TABLES = ("pages", "records", "frontier", "seen", "sketches")


class Crawl:
    name = "crawl"
    unit = "pages"
    layer = "crawl"
    #: a run times at least this many batches (and whole multiples of it)
    cycle = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def config(self):
        from scrapelect_spark.streaming.crawl import CrawlConfig
        from scrapelect_spark.streaming.urlseen import BloomFilter

        bloom = BloomFilter.for_capacity(EXPECTED_FRONTIER // BUCKETS, fpp=0.01)
        return CrawlConfig(
            batch_size=BATCH_SIZE, per_host_limit=PER_HOST_LIMIT, max_depth=10,
            buckets=BUCKETS, bloom_bits_per_bucket=bloom.m, bloom_hashes=bloom.k,
            fetch_partitions=self.ctx.cpus,
        )

    def setup(self) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from scrapelect_spark.streaming.crawl import Crawler
        from scrapelect_spark.streaming.robots import RobotsPolicy

        with self.ctx.phase("generate"):
            g = self.graph = gen.web_graph(self.ctx.seed, N_PAGES, n_seeds=N_SEEDS)
        spark = self.ctx.spark
        with self.ctx.phase("corpus_df"):
            path = os.path.join(self.ctx.workdir, "corpus.parquet")
            pq.write_table(pa.table({"url": list(g.corpus), "html": list(g.corpus.values())}), path)
            corpus_df = spark.read.parquet(path)
        self.robots = RobotsPolicy.from_pairs(g.robots)
        self.cfg = self.config()
        self.crawl_dir = os.path.join(self.ctx.workdir, "crawl")
        c = self.crawler = Crawler(spark, self.crawl_dir, corpus_df, g.seeds, program=gen.CRAWL_PROGRAM,
                                   robots=self.robots, config=self.cfg)
        if self.ctx.tracer:
            for name, table in c.tables.items():
                self.ctx.tracer.wrap(table, "commit", f"checkpoint.commit.{name}", "checkpoint")
            self.ctx.tracer.wrap(c.root, "commit", "checkpoint.commit.root", "checkpoint")
        self.batches = 0
        with self.ctx.phase("seed_commit"):
            c.run(max_batches=0)
        with self.ctx.phase("warmup"):
            for _ in range(WARMUP_BATCHES):
                self.op(-1)
        self.disk = [tree_size(self.crawl_dir)]
        return {
            "pages": len(g.corpus),
            "links": sum(g.outlinks.values()),
            "seeds": len(g.seeds),
            "robots_hosts": len(g.robots),
            "batch_size": BATCH_SIZE,
            "bloom_bits_per_bucket": self.cfg.bloom_bits_per_bucket,
            "bloom_hashes": self.cfg.bloom_hashes,
            "expected_frontier": EXPECTED_FRONTIER,
            "input_digest": g.digest,
        }

    def op(self, i: int) -> OpResult:
        snap = self.crawler.run(max_batches=1)
        self.batches += 1
        m = snap["metrics"]
        if self.ctx.tracer and i >= 0:
            self.disk.append(tree_size(self.crawl_dir))
        return OpResult(units=int(m["pages_fetched"]), info={
            "batch": m["batch"], "new_urls": m.get("new_urls", 0),
            "next_page_seq": m["next_page_seq"],
            "partition_rows": list((snap.get("lineage") or {}).get("fetch_partition_rows", {}).values()),
        })

    def check(self, results: list[OpResult]) -> int:
        from scrapelect_spark.streaming.reference_sim import SequentialCrawler

        seq = SequentialCrawler(self.graph.corpus, self.graph.seeds, program=gen.CRAWL_PROGRAM,
                                robots=self.robots, config=self.cfg)
        seq.run(max_batches=self.batches)
        got = self.crawler.visit_log()
        bad = sum(a != b for a, b in zip(got, seq.visit_log)) + abs(len(got) - len(seq.visit_log))
        return bad + len(self.crawler.seen_set() ^ seq.seen)

    def layers(self, results, op_walls) -> dict:
        import statistics

        from pyspark.sql import functions as F

        from scrapelect_spark.functions.dom import parse_html
        from scrapelect_spark.streaming.crawl import extract_links
        from scrapelect_spark.streaming.urlseen import BloomFilter, maybe_seen_cogrouped

        import time

        spark, tracer, c = self.ctx.spark, self.ctx.tracer, self.crawler
        urls = sorted(self.graph.corpus)[:: max(1, len(self.graph.corpus) // 200)]
        sample = [(u, self.graph.corpus[u]) for u in urls]
        out = functions_probe(sample, gen.CRAWL_PROGRAM)
        roots = [(u, parse_html(h)) for u, h in sample]
        t = time.perf_counter()
        for u, r in roots:
            extract_links(r, u)
        out["crawl.links_us_per_page"] = (time.perf_counter() - t) / len(roots) * 1e6

        # URL-seen filter health at the end of the run
        fills = []
        for row in c.sketch_df.collect():
            f = BloomFilter.from_bytes(bytes(row["sketch"]))
            fills.append(float(sum(bin(b).count("1") for b in f.bits.tobytes())) / f.m)
        out["urlseen.bit_fill"] = statistics.mean(fills)
        never = spark.createDataFrame([(u,) for u in self.graph.never_linked], "url string")
        never = never.withColumn("bucket", F.pmod(F.hash("url"), F.lit(self.cfg.buckets)))
        flagged = maybe_seen_cogrouped(never, c.sketch_df)
        out["urlseen.observed_fpp"] = flagged.filter(F.col("maybe_seen") == "y").count() / len(self.graph.never_linked)
        out["urlseen.seen_urls"] = float(len(c.seen_set()))

        # per batch: claim fill, fetch skew, discovery, commits, disk
        n = len(results)
        fetched = sum(r.units for r in results)
        visit = c.visit_log()
        batch_of = {}
        for r in results:
            hi = r.info["next_page_seq"]
            for s in range(hi - r.units, hi):
                batch_of[s] = r.info["batch"]
        links = {}
        for url, seq, _depth in visit:
            b = batch_of.get(seq)
            if b is not None:
                links[b] = links.get(b, 0) + self.graph.outlinks.get(url, 0)
        out["politeness.batch_fill"] = fetched / (n * BATCH_SIZE)
        skews = [max(p) / (sum(p) / len(p)) for p in (r.info["partition_rows"] for r in results) if p]
        out["politeness.fetch_partition_skew"] = statistics.mean(skews)
        out["crawl.new_url_share"] = sum(r.info["new_urls"] for r in results) / max(1, sum(links.values()))
        for name in SUB_TABLES + ("root",):
            spans = [s for i in range(n) for s in tracer.op_spans(i, f"checkpoint.commit.{name}")]
            out[f"checkpoint.commit_s.{name}"] = sum(s.end - s.start for s in spans) / n
        d_bytes = self.disk[-1][0] - self.disk[0][0]
        d_files = self.disk[-1][1] - self.disk[0][1]
        out["checkpoint.bytes_per_page"] = d_bytes / fetched
        out["checkpoint.files_per_batch"] = d_files / n
        return out

    def log_layers(self, out, results, op_stats, op_walls) -> dict:
        from spans import union_len

        tracer, n = self.ctx.tracer, len(results)
        unatt = 0.0
        for i, ((a, b), o) in enumerate(zip(op_walls, op_stats)):
            covered = [(s.start, s.end) for s in tracer.op_spans(i) if s.layer == "checkpoint"]
            unatt += (b - a) - union_len(covered + o.job_intervals, a, b)
        out["crawl.unattributed_s"] = unatt / n
        return out
