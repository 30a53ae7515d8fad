"""Seeded input generators for the benchmark.

Batch tables mirror the schemas and value distributions of the engine's
`events`, `documents` and `embeddings` tables (FIXTURES.md section B); the
live feed is a multi-symbol trade stream cut into one-minute bursts plus a
position-signal feed written beside it. The same seed always gives the
same bytes-for-bytes inputs; the program under test only ever sees the
files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = np.array([0.41, 0.15, 0.14, 0.15, 0.15])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def events_table(rng, n, users, days=30):
    ts = np.sort(rng.integers(0, days * 86_400_000_000, n)) + EPOCH_2024_US
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {x}}}' for x in k]),
    })


def documents_table(rng, n):
    """Random-vocabulary documents; ~5% are an earlier document with a
    trailing ' dup' token (near duplicates) and ~0.2% exact copies, the
    mix the dedup family is built to find."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            words = rng.integers(0, len(VOCAB), rng.integers(8, 100))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(rng, n, dim=64, labels=10):
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, labels, n).astype(np.int32)),
    })


def batch_inputs(seed, out_dir, n_events, n_docs, n_embeddings):
    """The three tables the batch workloads read, from one seeded stream
    per table (so resizing one table leaves the others unchanged)."""
    os.makedirs(out_dir, exist_ok=True)
    ss = np.random.SeedSequence(seed).spawn(3)
    _write(events_table(np.random.default_rng(ss[0]), n_events,
                        users=max(10, n_events // 66)),
           os.path.join(out_dir, "events.parquet"))
    _write(documents_table(np.random.default_rng(ss[1]), n_docs),
           os.path.join(out_dir, "documents.parquet"))
    _write(embeddings_table(np.random.default_rng(ss[2]), n_embeddings),
           os.path.join(out_dir, "embeddings.parquet"))


# ---- live feed ----

FEED_START_MIN = 28_401_120  # 2024-01-01T00:00Z in epoch minutes


def live_feed(seed, stage_dir, rounds, symbols, mean_ticks, history):
    """Round 0 lands `history` minutes at once (the backfill a live app
    starts from, long enough to fill the rolling z-score's 30-bar minimum
    population); every later round is one one-minute burst. Every symbol
    trades at least once a minute; per-symbol activity is uneven (a
    lognormal rate per symbol, Poisson counts per minute), so some keys
    carry many times the ticks of others. Prices follow a per-symbol
    random walk. Beside each trade file goes a signal file: one FsmIn row
    per (symbol, minute) built from that minute's OHLC with a seeded side
    and score, which drives the position machine into entries and exits.

    Writes `trades_<r>.parquet` / `signals_<r>.parquet` per round and
    `ticks.npz` (all ticks, for the check). Returns the tick arrays."""
    os.makedirs(stage_dir, exist_ok=True)
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    names = np.array([f"S{i:03d}" for i in range(symbols)])
    rate = mean_ticks * rng.lognormal(0.0, 0.8, symbols)
    rate *= mean_ticks / rate.mean()
    px = 100.0 * np.exp(rng.normal(0.0, 0.5, symbols))
    all_sym, all_ts, all_px, all_qty, all_maker = [], [], [], [], []
    for r in range(rounds):
        first_min = 0 if r == 0 else history + r - 1
        n_min = history if r == 0 else 1
        trades, signals = [], []
        for m in range(first_min, first_min + n_min):
            t, sg = _minute(rng, m, names, rate, px)
            trades.append(t)
            signals.append(sg)
            all_sym.append(t["sym_idx"]); all_ts.append(t["ts"])
            all_px.append(t["price"]); all_qty.append(t["qty"])
            all_maker.append(t["maker"])
        cat = lambda rows, k: np.concatenate([x[k] for x in rows])
        _write(pa.table({
            "symbol": pa.array(names[cat(trades, "sym_idx")]),
            "ts": pa.array(cat(trades, "ts"), type=pa.timestamp("us", tz="UTC")),
            "price": pa.array(cat(trades, "price")),
            "qty": pa.array(cat(trades, "qty")),
            "isBuyerMaker": pa.array(cat(trades, "maker")),
        }), os.path.join(stage_dir, f"trades_{r:05d}.parquet"))
        _write(pa.table({k: pa.array(cat(signals, k)) for k in signals[0]}),
               os.path.join(stage_dir, f"signals_{r:05d}.parquet"))
    ticks = dict(sym=np.concatenate(all_sym), ts=np.concatenate(all_ts),
                 price=np.concatenate(all_px), qty=np.concatenate(all_qty),
                 maker=np.concatenate(all_maker), names=names)
    np.savez(os.path.join(stage_dir, "ticks.npz"), **ticks)
    return ticks


def _minute(rng, m, names, rate, px):
    """One minute of ticks for every symbol, plus its signal rows."""
    symbols = len(names)
    counts = 1 + rng.poisson(np.maximum(rate - 1.0, 0.0))
    sym_idx = np.repeat(np.arange(symbols), counts)
    n = len(sym_idx)
    # distinct microsecond offsets inside the minute, so "last trade" by
    # (ts, price) is never a tie between two prices
    off = rng.choice(60_000_000, n, replace=False)
    order = np.lexsort((off, sym_idx))
    sym_idx, off = sym_idx[order], off[order]
    steps = rng.normal(0.0, 0.0015, n)
    price = np.empty(n)
    start = 0
    for s, c in enumerate(counts):
        walk = px[s] * np.exp(np.cumsum(steps[start:start + c]))
        price[start:start + c] = np.round(walk, 4)
        px[s] = walk[-1]
        start += c
    qty = np.round(rng.lognormal(0.0, 1.0, n), 3) + 0.001
    maker = rng.random(n) < 0.5
    first = np.concatenate(([0], np.cumsum(counts)[:-1]))
    last = np.cumsum(counts) - 1
    trades = dict(sym_idx=sym_idx, ts=(FEED_START_MIN + m) * 60_000_000 + off,
                  price=price, qty=qty, maker=maker)
    signals = dict(
        bucket=np.full(symbols, FEED_START_MIN + m, dtype=np.int64),
        close=price[last],
        high=np.maximum.reduceat(price, first),
        low=np.minimum.reduceat(price, first),
        side=np.array(["LONG", "SHORT", "NONE"])[
            rng.choice(3, symbols, p=[0.2, 0.2, 0.6])],
        total_long=np.round(rng.random(symbols), 4),
        total_short=np.round(rng.random(symbols), 4),
        trail_arm=rng.random(symbols) < 0.3,
        symbol=names)
    return trades, signals
