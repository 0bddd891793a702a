"""Seeded inputs for the benchmark workloads.

Every generator takes a ``random.Random`` / numpy seed derived from the
``--seed`` argument, so one seed always yields byte-identical inputs.
The program under test only ever sees the files written here.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# vocabulary for the corpus documents; a few fixed "boilerplate" spans
# are shared between documents so remove_dup_spans has spans to cut
WORDS = ("key agg row scan slow fast table value part hash merge batch "
          "spark line sort window the a order data column join small "
          "customer query big filter group stream vector plan stage task "
          "shuffle spill cache index rule map").split()
_BOILER = [
    "terms of use apply to every page of this site and its mirrors",
    "subscribe to the weekly digest for more articles like this one",
    "all rights reserved no part may be copied without written consent",
]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def lineitem(path: str, seed: int, rows: int) -> None:
    """TPC-H lineitem columns (the typed table the rules read)."""
    g = np.random.default_rng(seed)
    base = np.datetime64("1994-01-01T00:00:00", "us")
    ship = base + (g.integers(0, 2500, rows) * 86_400_000_000
                   + g.integers(0, 86_400, rows) * 1_000_000
                   ).astype("timedelta64[us]")
    qty = g.integers(1, 51, rows).astype("float64")
    price = np.round(qty * g.uniform(900.0, 2100.0, rows), 2)
    table = pa.table({
        "l_orderkey": pa.array(np.sort(g.integers(1, rows // 4 + 2, rows)),
                               pa.int64()),
        "l_partkey": pa.array(g.integers(1, 2001, rows), pa.int64()),
        "l_suppkey": pa.array(g.integers(0, 120, rows), pa.int64()),
        "l_linenumber": pa.array(g.integers(1, 8, rows), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(price, pa.float64()),
        "l_discount": pa.array(np.round(g.integers(0, 11, rows) / 100, 2),
                               pa.float64()),
        "l_tax": pa.array(np.round(g.integers(0, 9, rows) / 100, 2),
                          pa.float64()),
        "l_returnflag": pa.array(g.choice(["A", "N", "R"], rows), pa.string()),
        "l_linestatus": pa.array(g.choice(["F", "O"], rows), pa.string()),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    pq.write_table(table, path)


def documents(path: str, seed: int, rows: int) -> None:
    """Corpus documents: word soup with shared boilerplate spans."""
    r = random.Random(seed)
    ids, texts, langs, sources = [], [], [], []
    for i in range(rows):
        words = [r.choice(WORDS) for _ in range(r.randint(20, 90))]
        if r.random() < 0.4:
            at = r.randint(0, len(words))
            words[at:at] = r.choice(_BOILER).split()
        ids.append(i)
        texts.append(" ".join(words))
        langs.append(r.choice(_LANGS))
        sources.append(f"src{r.randrange(20)}")
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path)


def embeddings(path: str, seed: int, rows: int, dim: int = 64) -> None:
    """Clustered unit-ish vectors with near-duplicates for semdedup."""
    g = np.random.default_rng(seed)
    centers = g.normal(size=(12, dim))
    label = g.integers(0, 12, rows)
    vec = centers[label] + g.normal(scale=0.35, size=(rows, dim))
    dup = g.random(rows) < 0.15
    src = g.integers(0, rows, rows)
    vec[dup] = vec[src[dup]] + g.normal(scale=0.01, size=(dup.sum(), dim))
    vec = np.round(vec, 4).astype("float32")
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(rows), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), path)


def _f5_record(r: random.Random) -> dict:
    """FIXTURES.md section F5 shape with seeded values."""
    d = dt.datetime(2020, 1, 1) + dt.timedelta(seconds=r.randrange(10**8))
    tz = r.choice(["+09:00", "-05:00", "Z", "+00:30"])
    return {
        "text": r.choice(["abc", "xyz"]) + f"-{r.randrange(1000)}-abc",
        "regex_text": "".join(r.choice("abc") + str(r.randrange(10))
                              for _ in range(3)),
        "csv": ",".join(r.choice("abcdef") for _ in range(r.randint(1, 5))),
        "pad": str(r.randrange(100)),
        "num_a": round(r.uniform(-100, 100), 1),
        "num_b": str(round(r.uniform(0, 10), 1)),
        "num_c": r.randint(1, 9),
        "base_value": r.randrange(1, 1 << 20),
        "date_simple": d.strftime("%Y-%m-%d %H:%M:%S"),
        "date_tz": d.strftime("%Y-%m-%dT%H:%M:%S") + tz,
        "unix_s": d.strftime("%Y-%m-%dT%H:%M:%SZ"),
        "unix_ms": d.strftime("%Y-%m-%dT%H:%M:%S.")
        + f"{r.randrange(1000):03d}Z",
    }


def f3_fields(r: random.Random, i: int) -> dict:
    """FIXTURES.md section F3 lookup keys; ~15% miss the context, and
    the keys are sometimes null or absent."""
    rec: dict = {"id": i}
    roll = r.random()
    if roll < 0.05:
        rec["user_id"] = None
    elif roll > 0.1:
        rec["user_id"] = r.randrange(115)
    if r.random() > 0.05:
        rec["tag_id"] = f"t{r.randrange(115)}"
    return rec


def document_record(r: random.Random, i: int) -> dict:
    """One NDJSON record: F5 fields plus F3 lookup keys.  Some F5 keys
    are absent (missing propagates) and `note` is sometimes null (the
    rule coalesces it); an F5 op on a null would be an error."""
    rec = _f5_record(r)
    for key in ("pad", "num_b", "csv"):
        if r.random() < 0.05:
            del rec[key]
    roll = r.random()
    if roll < 0.3:
        rec["note"] = None
    elif roll < 0.6:
        rec["note"] = f"n{r.randrange(50)}"
    rec.update(f3_fields(r, i))
    rec["score"] = r.randrange(1000)
    return rec


def ndjson(path: str, seed: int, rows: int) -> None:
    r = random.Random(seed)
    with open(path, "w", encoding="utf-8") as fh:
        for i in range(rows):
            fh.write(json.dumps(document_record(r, i)) + "\n")


def service_bodies(seed: int, n: int) -> list[dict]:
    """JSON bodies for the service clients: FIXTURES.md section F5
    records."""
    r = random.Random(seed)
    return [_f5_record(r) for _ in range(n)]


def ensure_dir(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path
