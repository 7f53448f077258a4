"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs (``input_digest``), a different seed gives
different ones.  Expected outputs are derived here, from the generator's
own knowledge of what it wrote, never from the engine under test.
"""

from __future__ import annotations

import hashlib
import json
import math
import random
import statistics
from dataclasses import dataclass, field

import numpy as np

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def input_digest(*parts) -> str:
    """sha256 over the canonical JSON of the generated inputs."""
    h = hashlib.sha256()
    for p in parts:
        h.update(json.dumps(p, sort_keys=True, separators=(",", ":")).encode())
    return h.hexdigest()


def digest48(key: str, value: str) -> int:
    """Row digest the workloads aggregate: the first 48 bits of
    md5(key TAB value) — Spark computes the same with
    ``conv(substr(md5(concat(key, '\\t', value)), 1, 12), 16, 10)``."""
    return int(hashlib.md5(f"{key}\t{value}".encode()).hexdigest()[:12], 16)


def compact_json(v) -> str:
    return json.dumps(v, sort_keys=True, ensure_ascii=False, separators=(",", ":"))


# --------------------------------------------------------------------- extract

EXTRACT_PROGRAM = (
    "pairs: figure {\n"
    '    src: img { s: $element | attrs() | take(key: "src"); } | take(key: "s");\n'
    '    alt: img { a: $element | attrs() | take(key: "alt"); } | take(key: "a");\n'
    '    caption: figcaption { c: $element | text(); } | take(key: "c");\n'
    "}*;\n"
)


def _sentence(rng: random.Random, n: int) -> str:
    return " ".join(rng.choices(_WORDS, k=n))


def extract_page(rng: random.Random, url: str, n_fig: int, n_para: int,
                 fallback: bool) -> tuple[str, str]:
    """One image+caption page with ``n_fig`` figures among ``n_para``
    filler paragraphs, and its expected result JSON.  ``fallback`` pages
    carry a marked section the fast tokenizer refuses, so they take the
    html.parser path."""
    pairs = []
    body = [f"<h1>Gallery {url.rsplit('/', 1)[-1]}</h1>"]
    body.append(f'<div class="ad"><img src="/ads/{rng.randrange(1000)}.png" alt="ad"></div>')
    if fallback:
        body.append("<div><![CDATA[ raw <b>section</b> ]]></div>")
    for j in range(max(n_fig, n_para)):
        if j < n_para:
            body.append(f"<p class=\"t\">{_sentence(rng, rng.randrange(20, 60))}</p>")
        if j < n_fig:
            src = f"/img/{rng.randrange(1 << 30):x}-{j}.jpg"
            alt = _sentence(rng, rng.randrange(2, 6))
            cap = _sentence(rng, rng.randrange(3, 12))
            if rng.random() < 0.1:
                cap += " &amp; more"
            body.append(
                f'<figure class="f"><img src="{src}" alt="{alt}" width="{rng.randrange(64, 2048)}">'
                f"<figcaption>{cap}</figcaption></figure>"
            )
            pairs.append({"src": src, "alt": alt, "caption": cap.replace("&amp;", "&")})
    html = (
        "<!DOCTYPE html><html><head><title>g</title></head><body>"
        + "".join(body)
        + "</body></html>"
    )
    return html, compact_json({"pairs": pairs})


def _lognormal_quantiles(n: int, mu: float, sigma: float, cap: int) -> list[int]:
    z = statistics.NormalDist()
    return [min(int(math.exp(mu + sigma * z.inv_cdf((i + 0.5) / n))), cap) for i in range(n)]


@dataclass
class ExtractCorpus:
    shards: list[list[tuple[str, str]]]  # (url, html) per shard
    expected: list[tuple[int, int]]  # per shard: (pages, sum of digest48)
    fallback_pages: int
    digest: str


def extract_corpus(seed: int, n_shards: int, pages_per_shard: int) -> ExtractCorpus:
    """Page shapes are lognormal quantiles over the whole corpus (median
    ~3 KB, a tail past 100 KB), dealt to the shards in snake order of
    size, so every shard holds one page of each size band and shards
    cost alike; only the pages' content and order depend on the seed."""
    rng = random.Random(f"extract:{seed}")
    n = n_shards * pages_per_shard
    paras = _lognormal_quantiles(n, 2.3, 1.3, 600)
    figs = [1 + k for k in _lognormal_quantiles(n, 1.0, 0.8, 40)]
    rng.shuffle(figs)
    bands = [list(zip(paras[b: b + n_shards], figs[b: b + n_shards])) for b in range(0, n, n_shards)]
    n_fallback = round(0.03 * pages_per_shard)
    shards, expected, n_fb = [], [], 0
    for s in range(n_shards):
        sizes = [band[s] if k % 2 == 0 else band[-1 - s] for k, band in enumerate(bands)]
        fallback = set(rng.sample(range(pages_per_shard), n_fallback))
        shape = [(p, f, j in fallback) for j, (p, f) in enumerate(sizes)]
        rng.shuffle(shape)
        rows, dsum = [], 0
        for i, (n_para, n_fig, fb) in enumerate(shape):
            url = f"http://img{rng.randrange(64)}.test/g/{s}/{i}"
            n_fb += fb
            html, result = extract_page(rng, url, n_fig, n_para, fb)
            rows.append((url, html))
            dsum += digest48(url, result)
        shards.append(rows)
        expected.append((len(rows), dsum))
    return ExtractCorpus(shards, expected, n_fb, input_digest(shards))


# ----------------------------------------------------------------------- crawl

CRAWL_PROGRAM = 'title: h1 { t: $element | text(); } | take(key: "t");'


@dataclass
class WebGraph:
    corpus: dict[str, str]  # url -> html (the fetchable web)
    outlinks: dict[str, int]  # url -> number of <a href> on the page
    seeds: list[tuple[str, int]]
    robots: list[tuple[str, str]]  # (host, robots.txt)
    never_linked: list[str]  # URLs no page links to (bloom FPP probe)
    digest: str = field(default="")


def web_graph(seed: int, n_pages: int, n_seeds: int) -> WebGraph:
    """32 hosts with Zipf sizes; ~10 links per page mixing same-host, hub
    and cross-host targets; a few percent dead links; a quarter of the
    hosts disallow ``/private/`` in robots.txt."""
    rng = random.Random(f"crawl:{seed}")
    n_hosts = 32
    w = np.array([1.0 / (h + 1) for h in range(n_hosts)])
    sizes = np.maximum(20, np.floor(w / w.sum() * n_pages)).astype(int)
    hosts = [f"h{h}.test" for h in range(n_hosts)]
    urls_by_host = []
    for h, host in enumerate(hosts):
        urls = []
        for p in range(int(sizes[h])):
            sect = "private" if p % 13 == 5 else "p"
            urls.append(f"http://{host}/{sect}/{p}")
        urls_by_host.append(urls)
    hubs = [u for urls in urls_by_host[:4] for u in urls[:8]]
    cum = np.cumsum(w / w.sum())
    corpus, outlinks = {}, {}
    for h, urls in enumerate(urls_by_host):
        for p, url in enumerate(urls):
            links = []
            for _ in range(10 + rng.randrange(-3, 4)):
                r = rng.random()
                if r < 0.55:
                    near = min(len(urls) - 1, max(0, p + rng.randrange(-20, 40)))
                    links.append(urls[near])
                elif r < 0.68:
                    links.append(rng.choice(hubs))
                elif r < 0.96:
                    th = int(np.searchsorted(cum, rng.random()))
                    tu = urls_by_host[min(th, n_hosts - 1)]
                    links.append(tu[rng.randrange(len(tu))])
                else:
                    links.append(f"http://{hosts[h]}/gone/{rng.randrange(1 << 20)}")
            anchors = "".join(f'<a href="{t}">{_sentence(rng, 2)}</a>' for t in links)
            corpus[url] = (
                f"<html><head><title>{h}</title></head><body><h1>{hosts[h]} {p}</h1>"
                f"<p>{_sentence(rng, 12)}</p>{anchors}</body></html>"
            )
            outlinks[url] = len(links)
    seeds = []
    for i in range(n_seeds):
        urls = urls_by_host[i % n_hosts]
        seeds.append((urls[rng.randrange(len(urls))], 1))
    robots = [
        (host, "User-agent: *\nDisallow: /private/\n")
        for h, host in enumerate(hosts)
        if h % 4 == 1
    ]
    never = [f"http://{rng.choice(hosts)}/never/{rng.randrange(1 << 40):x}" for _ in range(20_000)]
    g = WebGraph(corpus, outlinks, seeds, robots, never)
    g.digest = input_digest(sorted(corpus.items()), seeds, robots)
    return g


# --------------------------------------------------------------------- recrawl

RECRAWL_PROGRAM = 't: h1 { x: $element | text(); } | take(key: "x");'


@dataclass
class ValidatorStore:
    columns: dict[str, np.ndarray]  # STORE_COLS -> values
    status: np.ndarray  # per-URL revalidation answer: 304 / 200 / 404
    digest: str


def validator_store(seed: int, n_urls: int) -> ValidatorStore:
    """~85% of URLs answer 304, 10% serve a changed body, 5% are gone."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n_urls)
    tok = rng.integers(0, 1 << 40, n_urls)
    url = np.array([f"http://h{i % 64}.test/d/{t:x}-{i}" for i, t in zip(ids, tok)], dtype=object)
    etag = np.array([f'"e{t:x}"' for t in tok], dtype=object)
    chash = np.array([hashlib.md5(f"v0:{u}".encode()).hexdigest() for u in url], dtype=object)
    cols = {
        "url": url,
        "etag": etag,
        "last_modified": np.array([None] * n_urls, dtype=object),
        "content_hash": chash,
        "change_count": rng.integers(1, 6, n_urls).astype(np.int64),
        "crawl_count": rng.integers(1, 10, n_urls).astype(np.int64),
        "last_fetch_ts": rng.integers(0, 3600, n_urls).astype(np.int64),
    }
    u = rng.random(n_urls)
    status = np.where(u < 0.85, 304, np.where(u < 0.95, 200, 404)).astype(np.int32)
    d = input_digest(url.tolist(), cols["change_count"].tolist(),
                     cols["crawl_count"].tolist(), cols["last_fetch_ts"].tolist(),
                     status.tolist())
    return ValidatorStore(cols, status, d)


def changed_html(url: str, pass_no: int) -> str:
    return f"<html><body><h1>changed {url} v{pass_no}</h1></body></html>"


def recrawl_model(store: ValidatorStore, budget: int, n_passes: int, now0: int, step: int):
    """Independent model of chained freshness passes: per pass, the
    top-``budget`` URLs by ``(age*change_count*1000 div crawl_count)``
    desc, url asc, and the outcome counts their answers give.  Yields
    ``(unchanged, changed, dead, records_digest_sum)`` per pass."""
    url = store.columns["url"]
    order_key = np.argsort(url, kind="stable")
    rank_of = np.empty(len(url), dtype=np.int64)
    rank_of[order_key] = np.arange(len(url))
    cc = store.columns["change_count"].copy()
    kc = store.columns["crawl_count"].copy()
    ts = store.columns["last_fetch_ts"].copy()
    out = []
    for p in range(n_passes):
        now = now0 + p * step
        score = ((now - ts) * cc * 1000) // kc
        # lexsort: last key is primary -> (-score, url rank)
        sel = np.lexsort((rank_of, -score))[:budget]
        st = store.status[sel]
        changed = sel[st == 200]
        dsum = sum(digest48(url[i], compact_json({"t": f"changed {url[i]} v{p}"})) for i in changed)
        out.append((int((st == 304).sum()), int(len(changed)), int((st == 404).sum()), dsum))
        cc[changed] += 1
        kc[sel] += 1
        ts[sel] = now
    return out


# ----------------------------------------------------------------------- gates


def tables_digest(tables: dict[str, dict[str, np.ndarray]]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        for col in sorted(tables[name]):
            v = tables[name][col]
            h.update(f"{name}.{col}".encode())
            h.update("\x1f".join(map(str, v)).encode() if v.dtype == object else v.tobytes())
    return h.hexdigest()


def gate_tables(seed: int) -> dict[str, dict[str, np.ndarray]]:
    """The two tables the gate subset reads, drawn from the laws the
    sf0.1 testdata follows (``perfbench/tablecheck.py`` compares them):

    - documents (5000): 10-99 words drawn uniformly from 30 words; 5% of
      the docs are near-duplicates, another doc's text plus " dup"; lang
      en 41%, zh/es/fr 15% each, de 14%; source ``src<id mod 20>``.
    - lineitem (600k): keys, quantity, discount, tax, flags and ship day
      uniform and independent; extended price uniform in [900, 105000)
      with two decimals.
    """
    rng = np.random.default_rng(seed)
    n_doc = 5000
    vocab = np.array([w for w in _WORDS if w != "dup"], dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in rng.integers(10, 100, n_doc)]
    for d in rng.choice(n_doc, n_doc // 20, replace=False):
        src = (d + 1 + rng.integers(0, n_doc - 1)) % n_doc
        texts[d] = texts[src] + " dup"
    langs = np.array(["en", "zh", "es", "fr", "de"], dtype=object)
    documents = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": langs[rng.choice(5, n_doc, p=[0.41, 0.15, 0.15, 0.15, 0.14])],
        "source": np.array([f"src{i % 20}" for i in range(n_doc)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }
    n_li = 600_000
    lineitem = {
        "l_orderkey": rng.integers(0, 150_000, n_li),
        "l_partkey": rng.integers(0, 20_000, n_li),
        "l_suppkey": rng.integers(0, 1000, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n_li) / 100.0,
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
        "l_shipdate": (np.datetime64("1995-01-02") + rng.integers(0, 2499, n_li).astype("timedelta64[D]"))
        .astype("datetime64[us]"),
    }
    return {"documents": documents, "lineitem": lineitem}
