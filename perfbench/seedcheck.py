"""Seed test for the input generators: the same seed gives an identical
input digest, a different seed a different one.  Pure Python, no Spark.

    python3 perfbench/seedcheck.py
"""

from __future__ import annotations

import sys

import gen

GENERATORS = {
    "extract": lambda s: gen.extract_corpus(s, 2, 50).digest,
    "crawl": lambda s: gen.web_graph(s, 2000, n_seeds=100).digest,
    "recrawl": lambda s: gen.validator_store(s, 5000).digest,
    "gates": lambda s: gen.tables_digest(gen.gate_tables(s)),
}


def main() -> int:
    bad = 0
    for name, digest in GENERATORS.items():
        a, b, c = digest(7), digest(7), digest(8)
        ok = a == b and a != c
        bad += not ok
        print(f"{name:8s} same-seed {'equal' if a == b else 'DIFFERENT'}, "
              f"other-seed {'different' if a != c else 'EQUAL'}: {'ok' if ok else 'FAIL'}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
