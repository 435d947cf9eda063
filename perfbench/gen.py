"""Seeded input generators for the benchmark.

Two families:

* ``gen_tables`` writes the TPC-H-ish star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables that ``SparkEntry.queries`` rows
  read (one parquet file per table, the layout ``graft.model.Tables``
  loads), at a given scale factor.
* ``gen_minute_drop`` writes a Polygon-style minute-aggregate flat-file
  drop (one ``.csv.gz`` per trading day, every ticker in each file) and
  the ``security_master`` / ``splits`` / ``dividends`` refdata parquet,
  with planted split and dividend events. It returns the planted truth
  the correctness check compares against.

Everything is single-threaded numpy and byte-deterministic for a seed
(the gzip header carries no mtime).
"""
import datetime as dt
import gzip
import io
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# ---- TPC-H-ish tables --------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, first, last):
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"),
                    pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), pa.string())


def gen_tables(out_dir: str, sf: float, seed: int = 42) -> dict:
    """Write the ten query tables at scale ``sf``; return their row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_users = int(15000 * sf)
    n_docs, n_vec = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS)})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1), f64)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0), f64),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105000.0), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})

    # events: 30 days of January 2024, strictly increasing µs timestamps
    span_us = 30 * 86400 * 10**6
    offs = np.sort(rng.choice(span_us, n_ev, replace=False))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    words = np.asarray(WORDS, dtype=object)
    texts = []
    for _ in range(n_docs):
        t = " ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 101))])
        if rng.random() < 0.05:
            t += " dup"
        texts.append(t)
    # a few exact duplicates, copied from an earlier document
    for _ in range(n_docs // 625):
        i, j = sorted(rng.choice(n_docs, 2, replace=False))
        texts[j] = texts[i]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    labels = rng.integers(0, 10, n_vec)
    cents = rng.normal(0.0, 0.6 / np.sqrt(EMBED_DIM), (10, EMBED_DIM))
    x = cents[labels] + rng.normal(0.0, 1.0 / np.sqrt(EMBED_DIM), (n_vec, EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})

    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ---- Polygon-style minute drop -----------------------------------------

MINUTES_PER_DAY = 390          # 09:30-16:00 New York, regular session
SESSION_OPEN_UTC = 14 * 60 + 30
FIRST_DAY = "2024-03-04"       # a Monday


def trading_days(n: int):
    out, d = [], dt.date.fromisoformat(FIRST_DAY)
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def _tickers(rng, n):
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    seen, out = set(), []
    while len(out) < n:
        t = "".join(letters[rng.integers(0, 26, rng.integers(2, 5))])
        if t not in seen:
            seen.add(t)
            out.append(t)
    return sorted(out)


def gen_minute_drop(out_dir: str, seed: int, n_days: int,
                    n_tickers: int = 520) -> dict:
    """Write ``out_dir/drop/*.csv.gz`` and ``out_dir/refdata/*.parquet``.

    Returns the planted truth: tickers, days, per-day row count, the
    split and dividend events, and ``truth_close.npy`` (written beside
    the drop) holding every bar's split-free close.
    """
    rng = np.random.default_rng(seed)
    drop, ref = os.path.join(out_dir, "drop"), os.path.join(out_dir, "refdata")
    os.makedirs(drop, exist_ok=True)
    os.makedirs(ref, exist_ok=True)
    tickers = _tickers(rng, n_tickers)
    days = trading_days(n_days)
    nt, nm = n_tickers, MINUTES_PER_DAY

    # planted events, never on the first day (a split there has no
    # earlier bar to adjust); about 6% of tickers split, 10% pay
    split_ix = np.sort(rng.choice(nt, max(1, nt * 6 // 100), replace=False))
    split_day = rng.integers(1, n_days, len(split_ix))
    split_ratio = np.array([2.0, 3.0, 4.0, 0.5])[rng.integers(0, 4, len(split_ix))]
    div_ix = np.sort(rng.choice(nt, max(1, nt // 10), replace=False))
    div_day = rng.integers(1, n_days, len(div_ix))

    # R[t, d]: product of split ratios after day d — raw = adjusted * R
    R = np.ones((nt, n_days))
    for i, d, r in zip(split_ix, split_day, split_ratio):
        R[i, :d] *= r

    base = rng.uniform(10.0, 400.0, nt)
    rets = rng.normal(0.0, 0.0008, (nt, n_days * nm))
    adj_path = base[:, None] * np.exp(np.cumsum(rets, axis=1))
    raw_close = np.round(adj_path * np.repeat(R, nm, axis=1), 4)
    # the exact split-free series the adjusted lake must reproduce
    truth_close = raw_close / np.repeat(R, nm, axis=1)

    minute_ns = 60 * 10**9
    rows = 0
    for di, day in enumerate(days):
        sl = slice(di * nm, (di + 1) * nm)
        close = raw_close[:, sl]
        open_ = np.concatenate([close[:, :1], close[:, :-1]], axis=1)
        wig = rng.uniform(0.0, 0.001, (2, nt, nm))
        high = np.round(np.maximum(open_, close) * (1 + wig[0]), 4)
        low = np.round(np.minimum(open_, close) * (1 - wig[1]), 4)
        vol = rng.integers(100, 50000, (nt, nm))
        trades = np.maximum(1, vol // rng.integers(20, 200, (nt, nm)))
        day_ns = (np.datetime64(day, "D").astype("datetime64[ns]").astype(np.int64)
                  + SESSION_OPEN_UTC * minute_ns)
        ws = day_ns + np.arange(nm, dtype=np.int64) * minute_ns
        t = pa.table({
            "ticker": pa.array(np.repeat(np.asarray(tickers, dtype=object), nm).tolist()),
            "volume": pa.array(vol.ravel(), pa.int64()),
            "open": pa.array(open_.ravel(), pa.float64()),
            "close": pa.array(close.ravel(), pa.float64()),
            "high": pa.array(high.ravel(), pa.float64()),
            "low": pa.array(low.ravel(), pa.float64()),
            "window_start": pa.array(np.tile(ws, nt), pa.int64()),
            "transactions": pa.array(trades.ravel(), pa.int64())})
        buf = io.BytesIO()
        pacsv.write_csv(t, buf, pacsv.WriteOptions(quoting_style="needed"))
        with open(os.path.join(drop, f"{day.isoformat()}.csv.gz"), "wb") as f:
            with gzip.GzipFile(fileobj=f, mode="wb", compresslevel=1, mtime=0) as gz:
                gz.write(buf.getvalue())
        rows += t.num_rows

    figi = rng.random(nt) < 0.9
    date = pa.date32()
    _write(pa.table({
        "ticker": pa.array(tickers),
        "name": pa.array([f"{t} Corp" for t in tickers]),
        "active": pa.array([True] * nt),
        "composite_figi": pa.array(
            [f"BBG{i:09d}" if f else None for i, f in enumerate(figi)], pa.string()),
        "effective_start": pa.array([dt.date(2000, 1, 3)] * nt, date),
        "effective_end": pa.array([None] * nt, date)}),
        os.path.join(ref, "security_master.parquet"))
    _write(pa.table({
        "ticker": pa.array([tickers[i] for i in split_ix]),
        "execution_date": pa.array([days[d] for d in split_day], date),
        "split_from": pa.array(np.where(split_ratio >= 1, 1.0, 1 / split_ratio)),
        "split_to": pa.array(np.where(split_ratio >= 1, split_ratio, 1.0)),
        "ratio": pa.array(split_ratio, pa.float64())}),
        os.path.join(ref, "splits.parquet"))
    last_close = raw_close[div_ix, (div_day - 1) * nm + nm - 1]
    _write(pa.table({
        "ticker": pa.array([tickers[i] for i in div_ix]),
        "ex_date": pa.array([days[d] for d in div_day], date),
        "pay_date": pa.array([days[d] + dt.timedelta(days=14) for d in div_day], date),
        "cash_amount": pa.array(np.round(last_close * 0.005, 4), pa.float64()),
        "frequency": pa.array([4] * len(div_ix), pa.int64())}),
        os.path.join(ref, "dividends.parquet"))

    np.save(os.path.join(out_dir, "truth_close.npy"), truth_close)
    truth = {
        "tickers": tickers,
        "days": [d.isoformat() for d in days],
        "minutes_per_day": nm,
        "rows": rows,
        "session_open_utc_min": SESSION_OPEN_UTC,
        "splits": {tickers[i]: int(d) for i, d in zip(split_ix, split_day)},
        "dividends": {tickers[i]: int(d) for i, d in zip(div_ix, div_day)},
    }
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f)
    for name in ("tickers", "days"):
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write("\n".join(truth[name]) + "\n")
    return truth
