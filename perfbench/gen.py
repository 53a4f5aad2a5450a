"""Seeded input generators for the benchmark workloads.

Everything here is pure NumPy/pyarrow and runs before any timed region.
The program under test only ever sees the files written here.

- ``klines``: random-walk 1-minute klines CSVs (minute gaps, epoch-ms and
  ISO time spellings mixed per row, zero-volume rows): a base batch and a
  revision batch, modelled as the same collection re-run a quarter of the
  span later, that overlaps the base and must win last-write-wins.
- ``trade_tape``: a Zipf-skewed trade tape cut into arrival-ordered files;
  event times run up to ``TAPE_MAX_LAG_MS`` behind the arrival clock,
  inside the 2-minute watermark, so no row may be dropped.
- ``registry_tables``: the ten registry tables in the fixture schema
  (TPC-H-like star plus events, documents and embeddings).

The shape constants below are fixed; callers vary only the sizes
(``minutes``, ``n_files``, ``rows_per_file``, ``sf``).  How the sizes the
benchmark uses are derived is in README.md.
"""

from __future__ import annotations

import os

import numpy as np

# klines: one `collect-klines` run at the program's defaults
# (--pairs BTCUSDT,ETHUSDT --tf 1m --days 1) per batch.
KLINE_SYMBOLS = ["BTCUSDT", "ETHUSDT"]
KLINE_MINUTES = 1440
KLINE_RERUN_SHIFT = 0.25  # the revision run starts this share of the span later
KLINE_GAP_SHARE = 0.02  # minutes missing from a batch
KLINE_ZERO_VOLUME_SHARE = 0.03
KLINE_HEADER = "open_time,open,high,low,close,volume,trades"
KLINE_START_MS = 1_709_251_200_000  # 2024-03-01T00:00:00Z

# Trade tape: 8 symbols, Zipf(1.2) over them, 2 trades/s of arrival clock,
# one hour of arrival clock per file (one micro-batch).  Event times lag
# arrival by under 60 s, half the 2-minute watermark of start_candle_stream.
TAPE_SYMBOLS = 8
TAPE_ZIPF_S = 1.2
TAPE_SECONDS_PER_FILE = 3600
TAPE_TRADES_PER_FILE = 2 * TAPE_SECONDS_PER_FILE
TAPE_MAX_LAG_MS = 60_000
TRADE_START_MS = 1_714_521_600_000  # 2024-05-01T00:00:00Z
TRADE_HEADER = "symbol,trade_id,price,qty,ts_ms"


def _iso(ms: np.ndarray) -> np.ndarray:
    return np.datetime_as_string(ms.astype("datetime64[ms]"), unit="s").astype(object)


def _spell_times(rng: np.random.Generator, ms: np.ndarray) -> np.ndarray:
    """Half the rows as epoch-ms, half as 'YYYY-MM-DD HH:MM:SS'."""
    iso = np.char.replace(_iso(ms).astype(str), "T", " ")
    return np.where(rng.random(len(ms)) < 0.5, ms.astype(str), iso)


def _kline_rows(rng, ms: np.ndarray, start_price: float) -> dict[str, np.ndarray]:
    steps = rng.normal(0.0, 0.0015, len(ms))
    close = np.round(start_price * np.exp(np.cumsum(steps)), 2)
    opn = np.round(np.concatenate([[start_price], close[:-1]]), 2)
    spread = np.abs(rng.normal(0.0, 0.001, len(ms))) * close
    high = np.round(np.maximum(opn, close) + spread, 2)
    low = np.round(np.minimum(opn, close) - spread, 2)
    volume = np.round(rng.gamma(2.0, 5.0, len(ms)), 4)
    volume[rng.random(len(ms)) < KLINE_ZERO_VOLUME_SHARE] = 0.0
    trades = np.where(volume > 0, rng.integers(1, 500, len(ms)), 0)
    return {"ms": ms, "open": opn, "high": high, "low": low,
            "close": close, "volume": volume, "trades": trades}


def _write_klines(rng, path: str, rows: dict[str, np.ndarray]) -> int:
    times = _spell_times(rng, rows["ms"])
    with open(path, "w") as f:
        f.write(KLINE_HEADER + "\n")
        for i in range(len(times)):
            f.write(
                f"{times[i]},{rows['open'][i]:.2f},{rows['high'][i]:.2f},"
                f"{rows['low'][i]:.2f},{rows['close'][i]:.2f},"
                f"{rows['volume'][i]:.4f},{rows['trades'][i]}\n"
            )
    return len(times)


def klines(out_dir: str, seed: int, minutes: int = KLINE_MINUTES) -> dict:
    """Write ``base/klines_<SYM>_1m.csv`` and ``revision/klines_<SYM>_1m.csv``.

    The base covers ``minutes`` from ``KLINE_START_MS``; the revision
    covers as many minutes starting ``KLINE_RERUN_SHIFT`` of them later,
    with restated prices and volumes, so it overlaps the base and extends
    past its end.  Returns the expected final table keyed by
    (symbol, open_time ms) and the keys the revision wrote."""
    rng = np.random.default_rng([seed, 1])
    base_dir, rev_dir = os.path.join(out_dir, "base"), os.path.join(out_dir, "revision")
    os.makedirs(base_dir)
    os.makedirs(rev_dir)
    expected: dict[tuple[str, int], tuple] = {}
    revised: set[tuple[str, int]] = set()
    n_rows = {base_dir: 0, rev_dir: 0}
    shift = int(minutes * KLINE_RERUN_SHIFT)
    for k, sym in enumerate(KLINE_SYMBOLS):
        for out, first in ((base_dir, 0), (rev_dir, shift)):
            keep = rng.random(minutes) > KLINE_GAP_SHARE
            ms = KLINE_START_MS + (first + np.flatnonzero(keep).astype(np.int64)) * 60_000
            rows = _kline_rows(rng, ms, 100.0 * (k + 1))
            n_rows[out] += _write_klines(rng, os.path.join(out, f"klines_{sym}_1m.csv"), rows)
            for i, t in enumerate(ms):
                expected[(sym, int(t))] = (
                    rows["open"][i], rows["high"][i], rows["low"][i],
                    rows["close"][i], rows["volume"][i], int(rows["trades"][i]),
                )
            if out == rev_dir:
                revised.update((sym, int(t)) for t in ms)
    return {"base_glob": os.path.join(base_dir, "klines_*.csv"),
            "revision_glob": os.path.join(rev_dir, "klines_*.csv"),
            "base_rows": n_rows[base_dir], "revision_rows": n_rows[rev_dir],
            "expected": expected, "revised": revised}


def trade_tape(out_dir: str, seed: int, n_files: int,
               rows_per_file: int = TAPE_TRADES_PER_FILE) -> dict:
    """Write ``tape_<k>.csv`` files in arrival order; returns their paths.

    Symbols follow a Zipf(``TAPE_ZIPF_S``) law.  Each file covers
    ``TAPE_SECONDS_PER_FILE`` of arrival clock; a row's event time is its
    arrival time minus under ``TAPE_MAX_LAG_MS``, and rows are shuffled
    inside a file, so arrivals are out of order but never behind the
    2-minute watermark."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir)
    syms = np.array([f"T{i:02d}USDT" for i in range(TAPE_SYMBOLS)])
    weights = 1.0 / np.arange(1, TAPE_SYMBOLS + 1) ** TAPE_ZIPF_S
    weights /= weights.sum()
    price = 50.0 + 25.0 * np.arange(TAPE_SYMBOLS)
    paths, trade_id = [], 0
    for f in range(n_files):
        n = rows_per_file
        sym_ix = rng.choice(TAPE_SYMBOLS, n, p=weights)
        arrive = TRADE_START_MS + f * TAPE_SECONDS_PER_FILE * 1000 + np.sort(
            rng.integers(0, TAPE_SECONDS_PER_FILE * 1000, n))
        event = arrive - rng.integers(0, TAPE_MAX_LAG_MS, n)
        px = np.round(price[sym_ix] * np.exp(rng.normal(0, 0.002, n)), 2)
        qty = np.round(rng.gamma(1.5, 0.4, n) + 0.0001, 4)
        order = rng.permutation(n)
        path = os.path.join(out_dir, f"tape_{f:04d}.csv")
        with open(path, "w") as fh:
            fh.write(TRADE_HEADER + "\n")
            for i in order:
                fh.write(f"{syms[sym_ix[i]]},{trade_id + i},{px[i]:.2f},{qty[i]:.4f},{event[i]}\n")
        trade_id += n
        paths.append(path)
    return {"files": paths, "rows": n_files * rows_per_file}


_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector"
).split()


def registry_tables(out_dir: str, seed: int = 42, sf: float = 0.01) -> None:
    """Write the ten registry tables as parquet in the fixture schema.

    Sizes scale with ``sf`` like the fixtures (lineitem 6M rows per sf)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users, n_docs, n_vec = int(1_000_000 * sf), 150, int(50_000 * sf), 500

    def day_ts(lo: str, n_days: int, n: int) -> pa.Array:
        days = np.datetime64(lo, "D") + rng.integers(0, n_days, n).astype("timedelta64[D]")
        return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))

    def cents(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(vals: list[str], n: int) -> pa.Array:
        return pa.array(np.array(vals, dtype=object)[rng.integers(0, len(vals), n)])

    def i32(a) -> pa.Array:
        return pa.array(np.asarray(a, dtype=np.int32))

    def ids(n: int) -> pa.Array:
        return pa.array(np.arange(n, dtype=np.int64))

    tables = {
        "region": {"r_regionkey": i32(range(5)),
                   "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])},
        "nation": {"n_nationkey": i32(range(25)),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": i32(np.arange(25) % 5)},
        "customer": {"c_custkey": ids(n_cust),
                     "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                     "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                     "c_acctbal": pa.array(cents(-999.99, 9999.99, n_cust)),
                     "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                           "HOUSEHOLD", "MACHINERY"], n_cust)},
        "supplier": {"s_suppkey": ids(n_supp),
                     "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                     "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                     "s_acctbal": pa.array(cents(-999.99, 9999.99, n_supp))},
        "part": {"p_partkey": ids(n_part),
                 "p_name": pick([f"{a} {b}" for a in ("small", "red", "blue", "hot", "old",
                                                      "large", "green", "cold")
                                 for b in ("ring", "widget", "bolt", "gear", "plate",
                                           "rod", "pipe", "nut")], n_part),
                 "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
                 "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                                 "STANDARD"], n_part),
                 "p_size": i32(rng.integers(1, 51, n_part)),
                 "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2))},
        "orders": {"o_orderkey": ids(n_ord),
                   "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                   "o_orderstatus": pick(["F", "O", "P"], n_ord),
                   "o_totalprice": pa.array(cents(1000.0, 500000.0, n_ord)),
                   "o_orderdate": day_ts("1995-01-01", 2405, n_ord),
                   "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"], n_ord)},
    }
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": i32(rng.integers(1, 8, n_li)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_li),
        "l_linestatus": pick(["F", "O"], n_li),
        "l_shipdate": day_ts("1995-01-02", 2499, n_li),
    }
    gaps = rng.exponential(259.0, n_ev)
    ev_us = (np.datetime64("2024-01-01T00:00:00", "us")
             + (np.cumsum(gaps) * 1e6).astype(np.int64).astype("timedelta64[us]"))
    tables["events"] = {
        "event_id": ids(n_ev),
        "ts": pa.array(ev_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(np.clip(rng.exponential(50.0, n_ev), 0.01, None), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }
    words = np.array(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))])
             for _ in range(n_docs)]
    tables["documents"] = {
        "doc_id": ids(n_docs),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "zh", "es", "de", "fr"], dtype=object)[
            rng.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])]),
        "source": pick([f"src{i}" for i in range(20)], n_docs),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }
    vec = rng.normal(0.0, 1.0, (n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": ids(n_vec),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, n_vec)),
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
