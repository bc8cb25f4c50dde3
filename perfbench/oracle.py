"""Output checks that do not use the code under test.

- ``candy_expected``: a plain-Python reading of the candy inputs and the
  reference semantics (null-qty items dropped, exact duplicate items
  collapsed, all-or-nothing allocation per product in ``(timestamp,
  order_id)`` order, the scan continuing after a cancel).
- ``check_candy_outputs``: compares the pipeline's CSV outputs with it under
  the reference CI tolerance (money rtol 1e-2, atol 0.01; counts exact).
- ``frame_digest`` / ``duckdb_digests``: row count + order-insensitive value
  hash of a query result, for the DuckDB re-computation of registry queries.
"""

from __future__ import annotations

import csv
import datetime as dt
import decimal
import glob
import hashlib
import json
import math
import os
from collections import defaultdict

RTOL, ATOL = 1e-2, 0.01


def _round2(x: float) -> float:
    """Half-away-from-zero to cents, as Spark's ``round`` on decimals."""
    return float(decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.01"), decimal.ROUND_HALF_UP))


def allocate(requests: list[tuple], stock: dict[int, float]) -> dict[tuple, float]:
    """All-or-nothing greedy allocation.

    ``requests`` holds ``(product_id, ts, order_id, qty)``; each product's
    requests are scanned in ``(ts, order_id)`` order and a request is filled
    whole iff ``0 < qty <= remaining`` — otherwise it is cancelled and the scan
    goes on, so a smaller later request can still fill. Returns
    ``{(order_id, product_id): fulfilled_qty}``.
    """
    remaining = dict(stock)
    out = {}
    for pid, _ts, oid, qty in sorted(requests):
        if 0 < qty <= remaining.get(pid, 0.0):
            remaining[pid] -= qty
            out[(oid, pid)] = qty
        else:
            out[(oid, pid)] = 0
    return out


def read_candy(data_dir: str, days: int | None = None) -> dict:
    """Line items and products from the generated files (first ``days`` day
    files only, when given)."""
    products = {}
    with open(os.path.join(data_dir, "products.csv"), newline="") as f:
        for r in csv.DictReader(f):
            products[int(r["product_id"])] = {
                "price": float(r["sales_price"]),
                "cost": float(r["cost_to_make"]),
                "stock": int(r["stock"]),
            }
    files = sorted(glob.glob(os.path.join(data_dir, "transactions_*.json")))
    lines = set()
    headers = {}
    for path in files[:days]:
        with open(path) as f:
            for tx in json.load(f):
                oid = tx["transaction_id"]
                headers[oid] = (tx["timestamp"], tx["customer_id"])
                for it in tx["items"]:
                    if it["qty"] is not None:
                        lines.add((oid, it["product_id"], it["qty"]))
    return {"products": products, "lines": sorted(lines), "headers": headers}


def candy_expected(data_dir: str, days: int | None = None) -> dict:
    """Expected contents of the candy outputs, keyed for comparison."""
    src = read_candy(data_dir, days)
    products, headers = src["products"], src["headers"]
    requests = [(pid, headers[oid][0], oid, qty) for oid, pid, qty in src["lines"]]
    filled = allocate(requests, {p: v["stock"] for p, v in products.items()})

    line_items = {}
    orders = defaultdict(lambda: [0.0, 0])
    sold = defaultdict(int)
    daily = defaultdict(lambda: [set(), 0.0, 0.0])
    for (oid, pid), q in filled.items():
        price = products[pid]["price"]
        total = _round2(q * price)
        line_items[(oid, pid)] = (q, price, total)
        orders[oid][0] += total
        orders[oid][1] += 1
        sold[pid] += q
        day = headers[oid][0][:10]
        daily[day][0].add(oid)
        daily[day][1] += total
        daily[day][2] += _round2(total - q * products[pid]["cost"])
    return {
        "order_line_items": line_items,
        "orders": {
            oid: (headers[oid][0], headers[oid][1], _round2(t), n) for oid, (t, n) in orders.items()
        },
        "products_updated": {p: v["stock"] - sold[p] for p, v in products.items()},
        "daily_summary": {
            d: (len(o), _round2(s), _round2(p)) for d, (o, s, p) in sorted(daily.items())
        },
        "requested_lines": len(filled),
        "fulfilled_lines": sum(1 for q in filled.values() if q > 0),
    }


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=RTOL, abs_tol=ATOL)


def _read_csv(path: str) -> list[dict]:
    with open(path, newline="") as f:
        return list(csv.DictReader(f))


def check_candy_outputs(out_dir: str, want: dict) -> list[str]:
    """Compare the five CSV outputs in ``out_dir`` with ``candy_expected``.
    Returns a list of problems (empty when the outputs are correct)."""
    errs: list[str] = []

    rows = _read_csv(os.path.join(out_dir, "order_line_items.csv"))
    got = {(int(r["order_id"]), int(r["product_id"])): r for r in rows}
    if len(rows) != len(want["order_line_items"]) or got.keys() != want["order_line_items"].keys():
        errs.append(f"order_line_items: {len(rows)} rows, want {len(want['order_line_items'])}")
    else:
        for k, (q, price, total) in want["order_line_items"].items():
            r = got[k]
            if int(r["quantity"]) != q or not (
                _close(float(r["unit_price"]), price) and _close(float(r["line_total"]), total)
            ):
                errs.append(f"order_line_items {k}: {dict(r)} != {(q, price, total)}")
                break

    rows = _read_csv(os.path.join(out_dir, "orders.csv"))
    got = {int(r["order_id"]): r for r in rows}
    if len(rows) != len(want["orders"]) or got.keys() != want["orders"].keys():
        errs.append(f"orders: {len(rows)} rows, want {len(want['orders'])}")
    else:
        for oid, (ts, cust, total, n) in want["orders"].items():
            r = got[oid]
            if (r["order_datetime"], int(r["customer_id"]), int(r["num_items"])) != (ts, cust, n) or (
                not _close(float(r["total_amount"]), total)
            ):
                errs.append(f"orders {oid}: {dict(r)} != {(ts, cust, total, n)}")
                break

    rows = _read_csv(os.path.join(out_dir, "products_updated.csv"))
    got = {int(r["product_id"]): int(r["current_stock"]) for r in rows}
    if got != want["products_updated"]:
        errs.append("products_updated: current_stock differs")

    rows = _read_csv(os.path.join(out_dir, "daily_summary.csv"))
    got = {r["date"]: r for r in rows}
    if [r["date"] for r in rows] != list(want["daily_summary"]):
        errs.append("daily_summary: dates differ or are out of order")
    else:
        for d, (n, sales, profit) in want["daily_summary"].items():
            r = got[d]
            if int(r["num_orders"]) != n or not (
                _close(float(r["total_sales"]), sales) and _close(float(r["total_profit"]), profit)
            ):
                errs.append(f"daily_summary {d}: {dict(r)} != {(n, sales, profit)}")
                break

    rows = _read_csv(os.path.join(out_dir, "sales_profit_forecast.csv"))
    last = dt.date.fromisoformat(list(want["daily_summary"])[-1])
    if len(rows) != 1 or rows[0]["date"] != str(last + dt.timedelta(days=1)) or not all(
        math.isfinite(float(rows[0][c])) for c in ("forecasted_sales", "forecasted_profit")
    ):
        errs.append(f"sales_profit_forecast: {rows}")
    return errs


def check_stream_output(rows: list[tuple], want: dict) -> list[str]:
    """``rows`` are ``(order_id, product_id, fulfilled_qty, line_total)`` from
    the streaming allocator's sink; ``want`` is ``candy_expected`` over the
    same days."""
    exp = want["order_line_items"]
    got = {(int(o), int(p)): (q, t) for o, p, q, t in rows}
    if len(rows) != len(exp) or got.keys() != exp.keys():
        return [f"stream: {len(rows)} rows, want {len(exp)}"]
    for k, (q, _price, total) in exp.items():
        gq, gt = got[k]
        if gq != q or not _close(gt, total):
            return [f"stream {k}: {(gq, gt)} != {(q, total)}"]
    return []


def _canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "null"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return repr(int(f)) if f.is_integer() and abs(f) < 2**53 else f"{f:.9g}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep="T", timespec="microseconds")
    if isinstance(v, dt.date):
        return dt.datetime.combine(v, dt.time()).isoformat(sep="T", timespec="microseconds")
    if hasattr(v, "to_pydatetime"):  # pandas Timestamp
        return _canon(v.to_pydatetime())
    if hasattr(v, "item") and not isinstance(v, str):  # numpy scalar
        return _canon(v.item())
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        items = v.tolist() if hasattr(v, "tolist") else v
        return "[" + ",".join(_canon(x) for x in items) + "]"
    return str(v)


def frame_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result. Columns are matched
    by name; floats compare to 9 significant digits, integral floats equal
    their integers, dates equal midnight timestamps."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    names = "|".join(columns[i] for i in order)
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(names.encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def duckdb_digests(sf_dir: str, queries: dict[str, str]) -> dict[str, tuple[int, str]]:
    """Run each oracle SQL in DuckDB over the parquet tables in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            name = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for name, sql in queries.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = frame_digest(cols, cur.fetchall())
        return out
    finally:
        con.close()


def check_corpus_output(out_dir: str, n_expected: int) -> list[str]:
    """The corpus sink wrote ``n_expected`` documents (exact-dedup survivors
    minus near-duplicates dropped), each doc_id once, each in the split DuckDB
    recomputes from its content hash."""
    import duckdb

    con = duckdb.connect()
    try:
        n, n_ids, wrong_split = con.execute(f"""
            SELECT count(*), count(DISTINCT doc_id),
                   count(*) FILTER (WHERE split <> CASE WHEN b < 80 THEN 'train'
                                                        WHEN b < 90 THEN 'val' ELSE 'test' END)
            FROM (SELECT doc_id, split,
                         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
                  FROM read_parquet('{out_dir}/*/*.parquet', hive_partitioning = true))
        """).fetchone()
    finally:
        con.close()
    errs = []
    if n != n_expected or n_ids != n:
        errs.append(f"corpus: {n} rows / {n_ids} ids written, want {n_expected}")
    if wrong_split:
        errs.append(f"corpus: {wrong_split} documents in the wrong split")
    return errs
