"""Seeded benchmark inputs.

- ``crawl_corpus``: the bench-style crawl corpus (~7 KB HTML pages with
  30-90 links, 96 hosts plus one mega-host holding ~40% of pages),
  built with the engine's own ``generate_fixtures(seed=...)`` and
  written with ``write_fixtures``.
- ``write_tables``: the star-schema + documents/events/embeddings
  tables the operator queries read, in the shape of the sf test tables
  (same columns, types and value ranges), generated from the seed so the
  benchmark reads nothing outside its checkout.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SHAPE = {
    "pages": 1000,
    "hosts": 96,
    "mega_share": 0.4,
    "body_paragraphs": 8,
    "links_per_page": [30, 90],
}


def crawl_corpus(seed: int, out_dir: str):
    """Generate and write the crawl corpus; returns (fixture set, paths, seeds)
    with one seed URL per host (the lowest URL of each host)."""
    from atra_spark.sources.fixtures import generate_fixtures, write_fixtures

    fx = generate_fixtures(
        n_pages=CORPUS_SHAPE["pages"],
        n_hosts=CORPUS_SHAPE["hosts"],
        seed=seed,
        mega_share=CORPUS_SHAPE["mega_share"],
        body_paragraphs=CORPUS_SHAPE["body_paragraphs"],
        links_range=tuple(CORPUS_SHAPE["links_per_page"]),
    )
    paths = write_fixtures(fx, out_dir)
    first: dict[str, str] = {}
    for url, *_ in fx.pages:
        host = url.split("/")[2]
        if host not in first or url < first[host]:
            first[host] = url
    return fx, paths, sorted(first.values())


def corpus_stats(fx) -> dict:
    hosts: dict[str, int] = {}
    for url, *_ in fx.pages:
        h = url.split("/")[2]
        hosts[h] = hosts.get(h, 0) + 1
    links = [len(v) for v in fx.golden_links.values()]
    return {
        "pages": len(fx.pages),
        "hosts": len(hosts),
        "mega_share": hosts.get("mega.example", 0) / len(fx.pages),
        "html_kb_mean": sum(len(p[2]) for p in fx.pages) / len(fx.pages) / 1024,
        "links_mean": sum(links) / max(1, len(links)),
    }


# ---------------------------------------------------------------- tables
_WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small big filter group query "
    "customer stream vector"
).split()
_LANGS = ["en"] * 4 + ["zh", "es", "de", "fr"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["view", "click", "purchase", "signup", "error"]
_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
_NOUN = ["ring", "widget", "bolt", "rod", "plate", "gear", "gizmo", "anvil"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _ts(base: datetime, offsets_s: np.ndarray) -> pa.Array:
    us = np.datetime64(base, "us") + (offsets_s * 1e6).astype("timedelta64[us]")
    return pa.array(us, pa.timestamp("us"))


def write_tables(seed: int, out_dir: str, sf: float = 0.01) -> str:
    """Write the ten query tables for scale factor ``sf`` (sf0.01 has
    60,000 lineitem rows and 500 documents); returns ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), max(500, int(20_000 * sf))

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * 86400.0),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(datetime(1995, 1, 2), rng.integers(0, 2499, n_line) * 86400.0),
    })
    ev_off = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(datetime(2024, 1, 1), ev_off),
        "user_id": pa.array(rng.integers(0, max(150, n_ev // 66), n_ev), pa.int64()),
        "event_type": [_EVENTS[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    # documents: random bags of words; ~2% near-duplicates (an earlier
    # document plus " dup") and ~0.2% exact duplicates, as in the sf tables
    texts: list[str] = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.022:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), rng.integers(10, 101))))
    put("documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out_dir
