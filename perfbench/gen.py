"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed writes
byte-identical files, another seed writes different ones. The program under
test only ever sees the written files.

- ``gen_candy``: the paper's candy-store inputs (``customers.csv``,
  ``products.csv``, one ``transactions_YYYYMMDD.json`` array per day) with
  ~1% null-qty items, a few exact duplicate items and timestamp ties, and
  stock set per product so about a fifth of line items cancel.
- ``gen_documents``: a ``documents.parquet`` table from the engine's corpus
  lexicon with planted near-duplicates and per-source boilerplate.
- ``gen_star``: the TPC-H-ish star schema (+ ``events``) the registry
  queries read, at a small scale factor.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CANDY_START = dt.date(2024, 2, 1)

_FIRST = ["Ava", "Ben", "Cai", "Dee", "Eli", "Fay", "Gus", "Hal", "Ivy", "Jo"]
_LAST = ["Ng", "Ortiz", "Park", "Quinn", "Reyes", "Shah", "Tran", "Udo"]
_CATS = [("Seasonal", "Eggs"), ("Seasonal", "Hearts"), ("Classic", "Bars"),
         ("Classic", "Drops"), ("Novelty", "Gummies")]
_SHAPES = ["Round", "Square", "Star", "Heart", "Egg"]
_WORDS = ["Themed", "Foils", "Sour", "Fizzy", "Choco", "Mint", "Berry", "Crunch"]


def dir_files(path: str, pattern: str = "**/*") -> tuple[int, int]:
    """(file count, total bytes) of the files under ``path`` matching ``pattern``."""
    files = [f for f in glob.glob(os.path.join(path, pattern), recursive=True) if os.path.isfile(f)]
    return len(files), sum(os.path.getsize(f) for f in files)


def _phone(rng: np.random.Generator) -> str:
    d = rng.integers(0, 10, 10).astype(str)
    a, b, c = "".join(d[:3]), "".join(d[3:6]), "".join(d[6:])
    fmt = int(rng.integers(0, 4))
    return [f"{a}{b}{c}", f"({a}){b}-{c}", f"{a}.{b}.{c}", f"001-{a}-{b}-{c}x{d[0]}"][fmt]


def gen_candy(
    out_dir: str,
    seed: int,
    n_tx: int,
    n_days: int = 30,
    n_products: int = 30,
    n_customers: int = 200,
) -> dict:
    """Write the candy inputs under ``out_dir``; return row and byte counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)

    with open(os.path.join(out_dir, "customers.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["customer_id", "first_name", "last_name", "email", "address", "phone"])
        for cid in range(1, n_customers + 1):
            first = _FIRST[int(rng.integers(len(_FIRST)))]
            last = _LAST[int(rng.integers(len(_LAST)))]
            street = int(rng.integers(1, 9999))
            w.writerow([cid, first, last, f"{first}.{last}{cid}@example.org".lower(),
                        f"{street} Main St, Apt {cid}, Springfield", _phone(rng)])

    prices = np.round(rng.uniform(0.87, 9.28, n_products), 2)
    costs = np.round(prices * rng.uniform(0.3, 0.8, n_products), 2)
    names = [
        " ".join(_WORDS[int(i)] for i in rng.integers(0, len(_WORDS), 2))
        + f" {_CATS[p % len(_CATS)][1]} {p + 1}"
        for p in range(n_products)
    ]
    popularity = rng.uniform(0.5, 1.5, n_products)
    popularity /= popularity.sum()

    # per-day transaction counts vary like the reference's (~0.5x..1.5x)
    day_w = rng.uniform(0.5, 1.5, n_days)
    per_day = np.floor(day_w / day_w.sum() * n_tx).astype(int)
    per_day[: n_tx - per_day.sum()] += 1
    tx_ids = rng.choice(np.arange(100_000, 100_000 + 20 * n_tx), n_tx, replace=False)

    demand = np.zeros(n_products)
    days: list[list[dict]] = []
    k = 0
    for day, n in enumerate(per_day):
        date = CANDY_START + dt.timedelta(days=day)
        secs = np.sort(rng.integers(8 * 3600, 22 * 3600, n))
        micros = rng.integers(0, 1_000_000, n)
        ties = rng.random(n) < 0.01  # copy the previous timestamp exactly
        txs = []
        for i in range(n):
            if i and ties[i]:
                secs[i], micros[i] = secs[i - 1], micros[i - 1]
            ts = dt.datetime.combine(date, dt.time()) + dt.timedelta(
                seconds=int(secs[i]), microseconds=int(micros[i])
            )
            n_items = int(rng.integers(1, 6))
            prods = rng.choice(n_products, n_items, replace=False, p=popularity)
            items = []
            for p in prods:
                qty = None if rng.random() < 0.01 else int(rng.integers(1, 6))
                if qty is not None:
                    demand[p] += qty
                items.append({"product_id": int(p) + 1, "product_name": names[p], "qty": qty})
            if rng.random() < 0.005 and items[0]["qty"] is not None:
                items.append(dict(items[0]))  # exact duplicate line item
            txs.append({
                "transaction_id": int(tx_ids[k]),
                "customer_id": int(rng.integers(1, n_customers + 1)),
                "timestamp": ts.isoformat(timespec="microseconds"),
                "items": items,
            })
            k += 1
        order = rng.permutation(n)
        days.append([txs[i] for i in order])

    # stock below demand so the period ends in cancellations (~a fifth of lines)
    stock = np.floor(demand * rng.uniform(0.75, 0.85, n_products)).astype(int)
    with open(os.path.join(out_dir, "products.csv"), "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["product_id", "product_name", "product_category", "product_subcategory",
                    "product_shape", "sales_price", "cost_to_make", "stock"])
        for p in range(n_products):
            cat, sub = _CATS[p % len(_CATS)]
            w.writerow([p + 1, names[p], cat, sub, _SHAPES[p % len(_SHAPES)],
                        f"{prices[p]:.2f}", f"{costs[p]:.2f}", int(stock[p])])

    n_items = 0
    for day, txs in enumerate(days):
        date = CANDY_START + dt.timedelta(days=day)
        with open(os.path.join(out_dir, f"transactions_{date:%Y%m%d}.json"), "w") as f:
            json.dump(txs, f, separators=(",", ":"))
        n_items += sum(len(t["items"]) for t in txs)
    return {"transactions": int(n_tx), "items": n_items, "days": n_days,
            "products": n_products, "customers": n_customers,
            "bytes": dir_files(out_dir)[1]}


def gen_documents(out_dir: str, seed: int, n_docs: int, n_sources: int = 20) -> dict:
    """Write ``documents.parquet`` under ``out_dir``; return row and byte counts.

    ~10% of documents are near-duplicates of an earlier one (a few tokens
    swapped), ~2% exact copies, and each source prepends its own 10-word
    boilerplate segment to ~40% of its documents.
    """
    from candyspark.sources.datagen import VOCAB

    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    vocab = np.array(VOCAB)
    boiler = [" ".join(rng.choice(vocab, 10)) for _ in range(n_sources)]
    langs = ["en", "en", "de", "es", "fr", "zh"]
    texts: list[str] = []
    sources: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.10:  # near-duplicate: swap a few tokens
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 25)):
                toks[j] = str(vocab[int(rng.integers(len(vocab)))])
            text = " ".join(toks)
        elif i > 10 and r < 0.12:  # exact copy
            text = texts[int(rng.integers(0, i))]
        else:
            text = " ".join(rng.choice(vocab, int(rng.integers(20, 120))))
        src = int(rng.integers(n_sources))
        if rng.random() < 0.4:
            text = f"{boiler[src]} {text}"
        texts.append(text)
        sources.append(f"src{src}")
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([langs[int(i)] for i in rng.integers(0, len(langs), n_docs)]),
        "source": pa.array(sources),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path)
    return {"documents": n_docs, "bytes": os.path.getsize(path)}


_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def gen_star(out_dir: str, seed: int, sf: float) -> dict:
    """Write the star-schema tables as ``<table>.parquet`` under ``out_dir``
    (schemas as ``candyspark.schemas``); return row counts and bytes."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    epoch = np.datetime64("1995-01-01", "us")
    day_us = np.int64(86_400_000_000)

    o_days = rng.integers(0, 2405, n_ord)
    n_lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), n_lines)
    n_li = len(l_ord)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10_000, n_cust), 2)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-1000, 10_000, n_supp), 2)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                np.char.add(np.char.add(np.array(_ADJ)[rng.integers(0, 8, n_part)], " "),
                            np.array(_NOUN)[rng.integers(0, 8, n_part)])
            ),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(900.0 + rng.integers(0, 1000, n_part) / 10.0),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
            "o_orderdate": pa.array(epoch + o_days * day_us),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_ord),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
            "l_linenumber": pa.array(
                (np.arange(n_li) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1)
                .astype(np.int32)
            ),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": pa.array(
                epoch + (o_days[l_ord] + rng.integers(1, 96, n_li)) * day_us
            ),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us")
                + rng.integers(0, 30 * day_us, n_ev).astype("timedelta64[us]")
            ),
            "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev).astype(np.int64)),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.uniform(0, 560, n_ev), 2)),
            "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]),
        }),
    }
    rows = {}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return {"rows": rows, "bytes": dir_files(out_dir)[1]}
