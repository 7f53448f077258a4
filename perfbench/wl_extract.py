"""Workload ``extract``: scrp extraction over a stored corpus.

Setup writes a seeded image+caption corpus to parquet, one directory per
shard and one file per core in each, so a shard scans as ``cpus`` tasks.
An op runs ``extract()`` over one shard into a digest aggregate
(pages, error rows, sum of 48-bit row digests) and compares it with the
digest the generator predicted.
"""

from __future__ import annotations

import os

import gen
from common import Ctx, OpResult, functions_probe

N_SHARDS = 20
PAGES_PER_SHARD = 100
#: op times still fall over the first few ops of a process
WARMUP_OPS = 8


class Extract:
    name = "extract"
    unit = "pages"
    layer = "extract"
    cycle = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        with self.ctx.phase("generate"):
            c = self.corpus = gen.extract_corpus(self.ctx.seed, N_SHARDS, PAGES_PER_SHARD)
        self.paths = []
        for s, rows in enumerate(c.shards):
            d = os.path.join(self.ctx.workdir, "pages", f"shard-{s:02d}")
            os.makedirs(d)
            for f in range(self.ctx.cpus):
                part = rows[f:: self.ctx.cpus]
                pq.write_table(
                    pa.table({"url": [u for u, _ in part], "html": [h for _, h in part]}),
                    os.path.join(d, f"part-{f:03d}.parquet"),
                )
            self.paths.append(d)
        with self.ctx.phase("warmup"):
            for i in range(WARMUP_OPS):  # Python workers, JIT, codegen, selector caches
                self.op(i)
        return {
            "pages": N_SHARDS * PAGES_PER_SHARD,
            "shards": N_SHARDS,
            "html_mb": round(sum(len(h) for r in c.shards for _, h in r) / 1e6, 1),
            "fallback_pages": c.fallback_pages,
            "input_digest": c.digest,
        }

    def op(self, i: int) -> OpResult:
        from pyspark.sql import functions as F

        from scrapelect_spark.operators.extract import extract

        s = i % N_SHARDS
        out = extract(self.ctx.spark.read.parquet(self.paths[s]), gen.EXTRACT_PROGRAM)
        row_digest = F.conv(
            F.substring(F.md5(F.concat(F.col("url"), F.lit("\t"), F.col("result"))), 1, 12), 16, 10
        ).cast("long")
        r = out.agg(
            F.count("*").alias("n"),
            F.count("error").alias("errors"),
            F.sum(row_digest).alias("dsum"),
        ).collect()[0]
        want_n, want_sum = self.corpus.expected[s]
        ok = r["n"] == want_n and r["errors"] == 0 and r["dsum"] == want_sum
        return OpResult(units=int(r["n"]), failed=0 if ok else want_n, info={"shard": s})

    def check(self, results: list[OpResult]) -> int:
        return 0  # every op checks its own digest

    def layers(self, results, op_walls) -> dict:
        sample = [row for shard in self.corpus.shards for row in shard[:10]]
        return functions_probe(sample, gen.EXTRACT_PROGRAM)

    def log_layers(self, probe, results, op_stats, op_walls) -> dict:
        pages = sum(r.units for r in results)
        task_s = sum(o.task_run_s for o in op_stats)
        engine_us = (probe["functions.parse_us_per_page"] + probe["functions.interpret_us_per_page"]
                     + probe["functions.json_us_per_page"])
        probe["extract.task_s_per_kpage"] = task_s / pages * 1000 if pages else 0.0
        probe["extract.engine_share"] = engine_us * 1e-6 * pages / task_s if task_s else 0.0
        return probe
