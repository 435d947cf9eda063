"""Correctness checks, run untimed after a workload's passes.

``query_rows``: each row's Spark output (written as parquet by the
benchmark process) is compared with its DuckDB oracle
(``SparkEntry.oracleSql``) over the same generated tables, using the
canonicalisation of ``scripts/selfcheck.py``: columns sorted by name,
rows sorted, and the dtype class (int, float, string, ...) of every
column. Both sides are reduced to a digest; the oracle's digest is
computed once per table set and SQL text, and cached.

``minute_pipeline``: ingested rows equal generated rows, the three lake
reads return the generated slice sizes, ``close_split`` equals the
planted split-free series within ``CLOSE_RTOL``, and the audit summary
and QA joins find exactly the planted split and dividend events.
"""
import glob
import hashlib
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
from selfcheck import canon, dtype_class  # noqa: E402  the correctness gate's rules

CLOSE_RTOL = 1e-6   # close is float32 in the lake: 2^-24 ≈ 6e-8 relative


def digest(df: pd.DataFrame) -> str:
    """Digest of a frame's canonical form: column names, dtype classes
    and exact values (-0.0 and 0.0 hash alike, as they compare equal).
    """
    df = canon(df)
    h = hashlib.sha256(f"rows={len(df)}".encode())
    for c in df.columns:
        s, cls = df[c], dtype_class(df[c].dtype)
        h.update(f"|{c}:{cls}|".encode())
        if cls == "float":
            v = s.to_numpy(np.float64) + 0.0
            v[np.isnan(v)] = np.nan
            h.update(v.tobytes())
        elif cls in ("int", "bool"):
            h.update(s.to_numpy(np.int64).tobytes())
        elif cls in ("ts", "td"):
            h.update(s.to_numpy().astype("int64").tobytes())
        else:
            h.update("\x1f".join("\x00" if x is None else str(x)
                                 for x in s.tolist()).encode())
    return h.hexdigest()


def read_output(path: str) -> pd.DataFrame:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no output under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def oracle_digests(tables_dir: str, oracles: dict, cache_file: str) -> dict:
    """DuckDB oracle digest per row, cached by SQL text in a file kept
    beside the tables."""
    cache = {}
    if os.path.exists(cache_file):
        with open(cache_file) as f:
            cache = json.load(f)
    key = {n: hashlib.sha256(sql.encode()).hexdigest() for n, sql in oracles.items()}
    missing = [n for n in oracles if key[n] not in cache]
    if missing:
        import duckdb
        con = duckdb.connect()
        for p in glob.glob(os.path.join(tables_dir, "*.parquet")):
            t = os.path.basename(p)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        for n in missing:
            cache[key[n]] = digest(con.execute(oracles[n]).fetchdf())
        con.close()
        tmp = cache_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, cache_file)
    return {n: cache[key[n]] for n in oracles}


def check_rows(check_dir: str, expected: dict) -> dict:
    """Per row: None when its output digest matches, else a reason."""
    out = {}
    for name, want in expected.items():
        try:
            got = digest(read_output(os.path.join(check_dir, name)))
            out[name] = None if got == want else "output differs from its DuckDB oracle"
        except Exception as e:   # a missing or unreadable output is a failure
            out[name] = f"{type(e).__name__}: {str(e)[:200]}"
    return out


def check_minute(data_dir: str, checks: dict) -> dict:
    """Per pipeline op: None when its output matches the planted truth."""
    with open(os.path.join(data_dir, "truth.json")) as f:
        truth = json.load(f)
    tickers, days = truth["tickers"], truth["days"]
    nm, nd, nt = truth["minutes_per_day"], len(days), len(tickers)
    out = {op: None for op in
           ("ingest", "manifest", "read_ticker", "read_week", "read_day",
            "adjust", "audit", "qa")}

    def expect(op, got, want):
        if got != want and out[op] is None:
            out[op] = f"got {got}, expected {want}"

    if "error" in checks:
        return {op: checks["error"] for op in out}
    expect("ingest", checks["lake_rows"], truth["rows"])
    reads = checks["read_rows"]
    expect("read_ticker", reads["read_ticker"], nd * nm)
    expect("read_week", reads["read_week"], min(50, nt) * min(5, nd) * nm)
    expect("read_day", reads["read_day"], nt * nm)
    expect("manifest", int(read_output(checks["manifest"])["rows"].sum()), truth["rows"])

    adj = ds.dataset(checks["adjusted"], format="parquet", partitioning="hive") \
        .to_table(columns=["ticker", "datetime", "close_split"])
    expect("adjust", adj.num_rows, truth["rows"])
    if out["adjust"] is None:
        tix = pd.Series(range(nt), index=tickers)[adj["ticker"].to_pylist()].to_numpy()
        # Spark writes INT96 timestamps, which read back as nanoseconds
        t_us = adj["datetime"].cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
        day_us = 86_400_000_000
        day_of = {int(np.datetime64(d, "D").astype("datetime64[us]").astype(np.int64)): i
                  for i, d in enumerate(days)}
        di = np.array([day_of.get(int(v), -1) for v in t_us - t_us % day_us])
        minute = (t_us % day_us) // 60_000_000 - truth["session_open_utc_min"]
        if (di < 0).any() or (minute < 0).any() or (minute >= nm).any():
            out["adjust"] = "adjusted lake holds bars outside the generated sessions"
        else:
            want = np.load(os.path.join(data_dir, "truth_close.npy"))[tix, di * nm + minute]
            rel = np.abs(adj["close_split"].to_numpy() - want) / want
            if not (rel <= CLOSE_RTOL).all():
                out["adjust"] = f"close_split off the split-free truth: max rel {rel.max():.3g}"

    audit = read_output(checks["audit"]).set_index("ticker")
    want_split = pd.Series(0, index=tickers)
    want_split[list(truth["splits"])] = 1
    want_div = pd.Series(0, index=tickers)
    want_div[list(truth["dividends"])] = 1
    if not (audit["split_events_aligned"].reindex(tickers).fillna(-1).astype(int)
            .equals(want_split)
            and audit["dividend_event_days"].reindex(tickers).fillna(-1).astype(int)
            .equals(want_div)):
        out["audit"] = "audit summary does not find exactly the planted events"
    jumps = read_output(checks["jumps"])
    got_jumps = dict(zip(jumps["ticker"], jumps["n_jumps"].astype(int)))
    expect("qa", got_jumps, {t: 1 for t in truth["splits"]})
    return out
