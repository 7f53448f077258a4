"""Workload ``recrawl``: chained freshness passes over a validator store.

Setup writes a seeded store of 10^5 URLs on 64 hosts to parquet.  An op
is one ``RecrawlPass.run`` with a 20k budget; it writes the pass's
records and the new store to parquet, and the next op reads that store.
The revalidation answers are a per-URL 85% 304 / 10% changed / 5% gone
mix; a changed URL serves a body that differs on every pass.  The
expected per-pass outcome counts and record digests come from an
independent model of the pass (``gen.recrawl_model``); store row counts
must be conserved.
"""

from __future__ import annotations

import os

import gen
from common import Ctx, OpResult, functions_probe

N_URLS = 100_000
BUDGET = 20_000
NOW0 = 10_000
STEP = 1000


class _StubFetcher:
    """Corpus-join stand-in for ``HttpFetcher(revalidate=True)``: answers
    each claimed URL from the precomputed response table.  A changed
    URL's body carries the pass number, so it differs on every pass."""

    def __init__(self, responses):
        self.responses = responses
        self.pass_no = 0

    def fetch(self, claimed):
        from pyspark.sql import functions as F

        body = F.concat(F.lit("<html><body><h1>changed "), F.col("url"),
                        F.lit(f" v{self.pass_no}</h1></body></html>"))
        return claimed.drop("etag", "last_modified").join(self.responses, on="url", how="left").select(
            "url",
            F.when(F.col("status") == 200, body).alias("html"),
            "status",
            F.when(F.col("status") != 404, F.col("etag")).alias("etag"),
            F.lit(None).cast("string").alias("last_modified"),
        )


class Recrawl:
    name = "recrawl"
    unit = "urls"
    layer = "recrawl"
    #: a run times at least this many passes (and whole multiples of it)
    cycle = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from scrapelect_spark.streaming.recrawl import RecrawlPass

        spark = self.ctx.spark
        st = self.store = gen.validator_store(self.ctx.seed, N_URLS)
        self.dir = os.path.join(self.ctx.workdir, "recrawl")
        os.makedirs(os.path.join(self.dir, "store-000"))
        cols = dict(st.columns)
        cols["last_modified"] = pa.array(cols["last_modified"].tolist(), type=pa.string())
        pq.write_table(pa.table(cols), os.path.join(self.dir, "store-000", "part-0.parquet"))
        import pandas as pd

        responses = spark.createDataFrame(
            pd.DataFrame({"url": st.columns["url"], "status": st.status, "etag": st.columns["etag"]}),
            "url string, status int, etag string",
        ).repartition(max(self.ctx.cpus, 8), "url").cache()
        responses.count()
        self.fetcher = _StubFetcher(responses)
        self.rp = RecrawlPass(spark, self.fetcher, program=gen.RECRAWL_PROGRAM, budget=BUDGET,
                              fetch_partitions=self.ctx.cpus)
        self.passes = []  # (pass_no, outcomes DataFrame)
        self.n_pass = 0
        self.op(-1)  # warm-up pass (pass 0 of the chain)
        return {"store_urls": N_URLS, "hosts": 64, "budget": BUDGET, "input_digest": st.digest}

    def _path(self, kind: str, p: int) -> str:
        return os.path.join(self.dir, f"{kind}-{p:03d}")

    def op(self, i: int) -> OpResult:
        p = self.n_pass
        self.fetcher.pass_no = p
        spark, span = self.ctx.spark, self.ctx.span
        store = spark.read.parquet(self._path("store", p))
        with span("recrawl.run", "recrawl"):
            new_store, outcomes, records = self.rp.run(store, now_s=NOW0 + p * STEP, store_rows=N_URLS)
        with span("recrawl.records_write", "recrawl"):
            records.write.parquet(self._path("records", p))
        with span("recrawl.store_write", "recrawl"):
            new_store.write.parquet(self._path("store", p + 1))
        self.passes.append((p, outcomes))
        self.n_pass += 1
        return OpResult(units=BUDGET, info={"pass": p})

    def log_layers(self, probe, results, op_stats, op_walls) -> dict:
        return probe

    def check(self, results: list[OpResult]) -> int:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        model = gen.recrawl_model(self.store, BUDGET, self.n_pass, NOW0, STEP)
        failed = 0
        self.changed = []
        for (p, outcomes), r in zip(self.passes[1:], results):
            counts = {row["outcome"]: row["count"] for row in outcomes.groupBy("outcome").count().collect()}
            rec = spark.read.parquet(self._path("records", p))
            d = F.conv(F.substring(F.md5(F.concat("url", F.lit("\t"), "value")), 1, 12), 16, 10).cast("long")
            got = rec.agg(F.count("*").alias("n"), F.sum(d).alias("dsum"),
                          F.sum((F.col("kind") != "record").cast("int")).alias("errors")).collect()[0]
            rows = sum(pq.ParquetFile(os.path.join(self._path("store", p + 1), f)).metadata.num_rows
                       for f in os.listdir(self._path("store", p + 1)) if f.endswith(".parquet"))
            unchanged, changed, dead, dsum = model[p]
            self.changed.append(changed)
            ok = (
                counts == {k: v for k, v in (("unchanged", unchanged), ("changed", changed), ("dead", dead)) if v}
                and got["n"] == changed and got["errors"] == 0 and (got["dsum"] or 0) == dsum
                and rows == N_URLS
            )
            failed += 0 if ok else r.units
        return failed

    def layers(self, results, op_walls) -> dict:
        tracer = self.ctx.tracer
        pages = [(u, gen.changed_html(u, 1)) for u in self.store.columns["url"][:200]]
        out = functions_probe(pages, gen.RECRAWL_PROGRAM)
        n = len(results)
        for name in ("run", "store_write", "records_write"):
            spans = [s for i in range(n) for s in tracer.op_spans(i, f"recrawl.{name}")]
            out[f"recrawl.{name}_s"] = sum(s.end - s.start for s in spans) / n
        out["recrawl.changed_share"] = sum(self.changed) / (BUDGET * n)
        return out
