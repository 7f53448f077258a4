"""Shared pieces of the workloads: the run context, op results, and the
single-thread probe of the per-page engine (the ``functions`` layer)."""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from spans import Tracer


@dataclass
class Ctx:
    spark: Any
    seed: int
    cpus: int
    workdir: str  # this run's working directory, inside the checkout
    tracer: Tracer | None
    phases: dict = field(default_factory=dict)  # setup phase -> seconds

    @contextmanager
    def phase(self, name: str):
        t = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = round(time.perf_counter() - t, 3)

    def span(self, name: str, layer: str):
        from contextlib import nullcontext

        return self.tracer.span(name, layer) if self.tracer else nullcontext()


@dataclass
class OpResult:
    units: int  # pages / pages fetched / URLs attempted / gate runs
    failed: int = 0  # units that errored or failed the check
    info: dict = field(default_factory=dict)


def force(df) -> None:
    """Materialize a plan without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(root, f))
    return n_bytes, n_files


class _NoopBuilder:
    """Tokenizer sink: receives the event stream and drops it, so the
    probe times ``tokenize_into`` alone."""

    def handle_starttag(self, tag, attrs):
        pass

    def handle_startendtag(self, tag, attrs):
        pass

    def handle_endtag(self, tag):
        pass

    def handle_data(self, data):
        pass


def functions_probe(pages: list[tuple[str, str]], program: str, reps: int = 3) -> dict[str, float]:
    """Per-page cost of the engine stages on ``pages``, single thread in
    this process: tokenize (no-op builder), parse, interpret, JSON.
    Each figure is the median over ``reps`` passes of the per-page mean."""
    from scrapelect_spark.functions.dom import parse_html
    from scrapelect_spark.functions.fast_html import FallbackNeeded, tokenize_into
    from scrapelect_spark.functions.interpreter import Interpreter
    from scrapelect_spark.functions.value import to_json
    from scrapelect_spark.operators.extract import compile_scrp

    pc = time.perf_counter
    compile_ms = []
    for _ in range(20):
        t = pc()
        statements = compile_scrp(program)
        compile_ms.append((pc() - t) * 1e3)
    interp = Interpreter()
    tok, parse, interp_t, js = [], [], [], []
    fallbacks = 0
    for _ in range(reps):
        a = b = c = d = 0.0
        fallbacks = 0
        for url, html in pages:
            t0 = pc()
            try:
                tokenize_into(_NoopBuilder(), html)
            except FallbackNeeded:
                fallbacks += 1
            t1 = pc()
            root = parse_html(html)
            t2 = pc()
            try:
                out = interp.interpret_document(statements, root, url)
            except Exception:
                out = None
            t3 = pc()
            to_json(out)
            t4 = pc()
            a += t1 - t0
            b += t2 - t1
            c += t3 - t2
            d += t4 - t3
        n = len(pages)
        tok.append(a / n * 1e6)
        parse.append(b / n * 1e6)
        interp_t.append(c / n * 1e6)
        js.append(d / n * 1e6)
    med = statistics.median
    engine_us = med(parse) + med(interp_t) + med(js)
    return {
        "plans.compile_ms": med(compile_ms),
        "functions.tokenize_us_per_page": med(tok),
        "functions.fallback_share": fallbacks / len(pages),
        "functions.parse_us_per_page": med(parse),
        "functions.interpret_us_per_page": med(interp_t),
        "functions.json_us_per_page": med(js),
        "functions.pages_per_s_1core": 1e6 / engine_us,
    }
