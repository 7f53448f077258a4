"""Compare the ``gates`` workload's generated tables with a reference
table directory (the sf0.1 testdata): the laws the generator copies,
and the row counts every subset gate's DuckDB oracle returns on each.
No Spark.

    python3 perfbench/tablecheck.py --sf <dir with documents.parquet and lineitem.parquet> --seeds 1 2 3
"""

from __future__ import annotations

import argparse
import os
import sys
import tempfile
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import gen  # noqa: E402
from wl_gates import GATES  # noqa: E402

TABLES = ("documents", "lineitem")


def doc_stats(texts: list[str]) -> dict:
    words = [t.split() for t in texts]
    lens = sorted(len(w) for w in words)
    shingles = [set(zip(w, w[1:], w[2:])) for w in words]
    return {
        "docs": len(texts),
        "words/doc min": lens[0],
        "words/doc median": lens[len(lens) // 2],
        "words/doc max": lens[-1],
        "vocabulary": len({x for w in words for x in w}),
        "near-dup share (ends ' dup')": round(sum(w[-1] == "dup" for w in words) / len(words), 4),
        "exact duplicate texts": len(texts) - len(set(texts)),
        "distinct 3-shingles/doc mean": round(sum(map(len, shingles)) / len(shingles), 2),
    }


def table_stats(con) -> dict:
    texts = [r[0] for r in con.execute("SELECT text FROM documents").fetchall()]
    out = doc_stats(texts)
    langs = Counter(r[0] for r in con.execute("SELECT lang FROM documents").fetchall())
    out.update({f"lang {k} share": round(v / len(texts), 3) for k, v in sorted(langs.items())})
    row = con.execute(
        "SELECT count(*), min(l_extendedprice), avg(l_extendedprice), max(l_extendedprice), "
        "avg(l_quantity), avg(l_discount), avg(l_tax), min(l_shipdate)::DATE, max(l_shipdate)::DATE, "
        "count(DISTINCT (l_returnflag, l_linestatus)) FROM lineitem"
    ).fetchone()
    names = ("lineitem rows", "price min", "price mean", "price max", "quantity mean", "discount mean",
             "tax mean", "ship day min", "ship day max", "flag groups")
    out.update({k: round(v, 2) if isinstance(v, float) else v for k, v in zip(names, row)})
    return out


def gate_rows(con) -> dict:
    from scrapelect_spark.operators.catalog import ORACLE_SQL

    return {f"oracle rows {g}": len(con.execute(ORACLE_SQL[g]).fetchall()) for g in GATES}


def connect(sf: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf, t + '.parquet')}')")
    return con


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf", required=True, help="reference table directory")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    args = ap.parse_args()
    cols = {"reference": {}}
    con = connect(args.sf)
    cols["reference"] = {**table_stats(con), **gate_rows(con)}
    with tempfile.TemporaryDirectory() as tmp:
        for s in args.seeds:
            d = os.path.join(tmp, str(s))
            os.makedirs(d)
            for name, table in gen.gate_tables(s).items():
                pq.write_table(pa.table(table), os.path.join(d, f"{name}.parquet"))
            con = connect(d)
            cols[f"seed {s}"] = {**table_stats(con), **gate_rows(con)}
    keys = list(cols["reference"])
    width = max(map(len, keys))
    print(f"{'':{width}s}  " + "  ".join(f"{c:>12s}" for c in cols))
    for k in keys:
        print(f"{k:{width}s}  " + "  ".join(f"{str(cols[c][k]):>12s}" for c in cols))
    return 0


if __name__ == "__main__":
    sys.exit(main())
