"""Workload ``gates``: a fixed subset of the gate catalog, one gate per op.

Setup generates the tables the subset reads (drawn from the laws the
sf0.1 testdata follows; ``tablecheck.py`` compares the two) into the
run's work directory, then runs every gate once, collecting its rows and
comparing them with the gate's DuckDB ``oracle_sql()`` on the same
files — this is both the correctness check and the warm-up.  Timed ops
write one gate each to the noop sink; the seed sets the gate order
within each cycle and the run measures whole pairs of cycles.  No
``audio_*``/``video_*`` gate is in the subset.
"""

from __future__ import annotations

import datetime
import decimal
import math
import os
import random

import gen
from common import Ctx, OpResult, force, functions_probe

GATES = (
    "scrp_extract_over_table",
    "crawl_image_refs",
    "image_phash_neardup",
    "dedup_minhash_lsh",
    "corpus_line_dedup",
    "q1_pricing_summary",
    "crawl_recrawl_priority",
    "crawl_revalidate_classify",
)

#: float cells match within this relative error, or within one unit of
#: the 12th decimal, the finest rounding any gate applies (``round(x, 12)``)
REL_TOL = 1e-9
ABS_TOL = 1e-12


def plain(v):
    """One result value as plain Python: Spark rows, DuckDB structs and
    lists become tuples, so both engines' rows compare alike."""
    if isinstance(v, dict):
        return tuple(plain(x) for x in v.values())
    if isinstance(v, (list, tuple)):  # includes pyspark Row
        return tuple(plain(x) for x in v)
    if isinstance(v, (bytearray, memoryview)):
        return bytes(v)
    return v


def sort_key(v):
    """Total order over plain values: NULL sorts first, values group by
    type, floats order by 9 significant digits so both sides' rows line
    up even where they differ in the last bits."""
    if v is None:
        return (0,)
    if isinstance(v, float):
        return (3, 0.0 if math.isnan(v) else float(f"{v:.9g}"), math.isnan(v))
    if isinstance(v, tuple):
        return (9, tuple(sort_key(x) for x in v))
    if isinstance(v, (bool, int)):
        return (2, v)
    if isinstance(v, decimal.Decimal):
        return (4, v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return (7, v.isoformat())
    return (5, type(v).__name__, v)


def compare(a, b, ulps: list) -> bool:
    """Values equal, floats within the tolerance above; floats that agree
    only within the tolerance are appended to ``ulps``."""
    if isinstance(a, float) and isinstance(b, float):
        if a == b or (math.isnan(a) and math.isnan(b)):
            return True
        if abs(a - b) <= max(REL_TOL * max(abs(a), abs(b)), ABS_TOL * (1 + 1e-6)):
            ulps.append((a, b))
            return True
        return False
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all([compare(x, y, ulps) for x, y in zip(a, b)])
    return type(a) is type(b) and a == b


def check_rows(got: list, want: list) -> tuple[bool, list]:
    """Compare two unordered result sets; returns (ok, inexact floats)."""
    g = sorted((plain(r) for r in got), key=sort_key)
    w = sorted((plain(r) for r in want), key=sort_key)
    ulps: list = []
    ok = len(g) == len(w) and all([compare(a, b, ulps) for a, b in zip(g, w)])
    return ok, ulps


class Gates:
    name = "gates"
    unit = "gates"
    layer = "gates"
    #: a run times whole pairs of cycles: one warm cycle (4-9 s on the host
    #: measured) falls either side of the run length, and runs that timed
    #: one cycle or two spread by ~30%
    cycle = 2 * len(GATES)

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self) -> dict:
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        from scrapelect_spark.operators.catalog import ORACLE_SQL, QUERIES

        self.sf = os.path.join(self.ctx.workdir, "sf")
        os.makedirs(self.sf)
        with self.ctx.phase("generate"):
            tables = gen.gate_tables(self.ctx.seed)
        con = duckdb.connect()
        con.execute(f"SET threads TO {min(2, self.ctx.cpus)}")
        for name, cols in tables.items():
            path = os.path.join(self.sf, f"{name}.parquet")
            pq.write_table(pa.table(cols), path)
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        self.order = list(GATES)
        random.Random(self.ctx.seed).shuffle(self.order)
        self.failed_gates: dict[str, str] = {}
        spark = self.ctx.spark
        self.inexact: dict[str, int] = {}
        for g in self.order:  # check + warm-up, outside the timed region
            with self.ctx.phase(f"check.{g}"):
                got = QUERIES[g](spark, self.sf).collect()
            with self.ctx.phase(f"oracle.{g}"):
                want = con.execute(ORACLE_SQL[g]).fetchall()
            ok, ulps = check_rows(got, want)
            if not ok:
                self.failed_gates[g] = f"{len(got)} rows vs oracle {len(want)}"
            if ulps:
                self.inexact[g] = len(ulps)
        con.close()
        return {
            "gates": self.order,
            "documents": len(tables["documents"]["doc_id"]),
            "lineitem": len(tables["lineitem"]["l_orderkey"]),
            "oracle_failures": self.failed_gates,
            "oracle_inexact_floats": self.inexact,
            "input_digest": gen.tables_digest(tables),
        }

    def op(self, i: int) -> OpResult:
        from scrapelect_spark.operators.catalog import QUERIES

        g = self.order[i % len(self.order)]
        force(QUERIES[g](self.ctx.spark, self.sf))
        return OpResult(units=1, failed=int(g in self.failed_gates), info={"gate": g})

    def log_layers(self, probe, results, op_stats, op_walls) -> dict:
        return probe

    def check(self, results: list[OpResult]) -> int:
        return 0  # checked once per gate in setup; failures count per run

    def layers(self, results, op_walls) -> dict:
        import statistics

        from pyspark.sql import functions as F

        from scrapelect_spark.operators import scrp_queries

        spark = self.ctx.spark
        docs = spark.read.parquet(os.path.join(self.sf, "documents.parquet")).filter(F.col("doc_id") < 200)
        pages = [(f"http://docs.test/{r['doc_id']}", r["html"]) for r in
                 docs.select("doc_id", F.expr(scrp_queries._HTML_EXPR).alias("html")).collect()]
        out = functions_probe(pages, scrp_queries._PROGRAM)
        for g in GATES:
            times = [b - a for (a, b), r in zip(op_walls, results) if r.info["gate"] == g]
            out[f"gates.{g}_s"] = statistics.median(times)
        return out
