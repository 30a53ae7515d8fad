"""Output checks: every function returns a list of problems (empty = pass).

Batch results are compared with DuckDB running the query's own
`SparkEntry.oracleSql` over the same input files. DuckDB results are
cached on disk keyed by the oracle SQL text and a digest of the input
files, so a repeated seed does not re-run the oracle; the program's
outputs are never cached. The live feed is checked against a numpy
recomputation from the generated ticks.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import subprocess

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

RTOL = 1e-6
ATOL = 1e-6  # the oracles round many outputs to 6 decimals on both sides
TABLES = ("events", "documents", "embeddings")


# ---- value canon ----

def _norm(v):
    """A comparable Python value: lists become tuples, timestamps epoch
    microseconds, decimals floats, NaN and NULL both None."""
    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return int((v - datetime.datetime(1970, 1, 1)) / datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, bool):
        return v
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _key(v):
    """Sort key that two engines agree on despite last-digit float drift."""
    if v is None:
        return "~"
    if isinstance(v, tuple):
        return "(" + ",".join(_key(x) for x in v) + ")"
    if isinstance(v, float):
        return "0" if v == 0 else f"{v:.5e}"
    return repr(v)


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=RTOL, abs_tol=ATOL)
    return a == b


def rows_of(table):
    cols = sorted(table.column_names)
    data = [[_norm(v) for v in table.column(c).to_pylist()] for c in cols]
    rows = list(zip(*data)) if data else []
    rows.sort(key=lambda r: tuple(_key(v) for v in r))
    return cols, rows


def compare(mine, ref):
    """First difference between two Arrow tables as rows, or None."""
    mc, mr = rows_of(mine)
    rc, rr = rows_of(ref)
    if mc != rc:
        return f"columns {mc} vs oracle {rc}"
    if len(mr) != len(rr):
        return f"{len(mr)} rows vs oracle {len(rr)}"
    for i, (a, b) in enumerate(zip(mr, rr)):
        for c, x, y in zip(mc, a, b):
            if not _close(x, y):
                return f"row {i} column {c}: {x!r} vs oracle {y!r}"
    return None


# ---- batch ----

def input_digest(data_dir):
    h = hashlib.sha256()
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            h.update(t.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def oracle_sql(classes, jars):
    """`SparkEntry.oracleSql`, dumped once per build by the harness's
    `OracleDump` main and kept beside the classes."""
    path = os.path.join(os.path.dirname(classes), "oracle_sql.json")
    stamp = os.path.join(os.path.dirname(classes), "classes.stamp")
    if not os.path.exists(path) or os.path.getmtime(path) < os.path.getmtime(stamp):
        subprocess.run(["java", "-Xmx1g", "-cp", f"{classes}:{jars}/*",
                        "perfbench.OracleDump", path + ".tmp"], check=True,
                       stdout=subprocess.DEVNULL)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def oracle_table(con, sql, digest, cache_dir):
    key = hashlib.sha256((digest + "\0" + sql).encode()).hexdigest()
    path = os.path.join(cache_dir, key[:2], key + ".parquet")
    if os.path.exists(path):
        return pq.read_table(path)
    t = con.execute(sql).arrow()
    if isinstance(t, pa.RecordBatchReader):
        t = t.read_all()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(t, path + f".{os.getpid()}")
    os.replace(path + f".{os.getpid()}", path)
    return t


def check_batch(data_dir, out_dir, passes, queries, oracles, cache_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    digest = input_digest(data_dir)
    problems = []
    for q in queries:
        if q not in oracles:
            problems.append(f"{q}: no oracle SQL")
            continue
        ref = oracle_table(con, oracles[q], digest, cache_dir)
        for p in passes:
            d = os.path.join(out_dir, f"p{p}", q)
            if not glob.glob(os.path.join(d, "*.parquet")):
                problems.append(f"{q} pass {p}: no output")
                continue
            diff = compare(pq.read_table(d), ref)
            if diff:
                problems.append(f"{q} pass {p}: {diff}")
    return problems


# ---- live feed ----

WATERMARK_US = 120_000_000
ZPOP, ZMIN, SPAN = 3000, 30, 20


def expected_bars(ticks):
    """Per (symbol, minute): close, delta, cvd, ema, z, volume and the
    in-bar path length, recomputed from the ticks; plus the set of minutes
    the 2-minute watermark has finalized."""
    sym, ts = ticks["sym"], ticks["ts"]
    price, qty, maker = ticks["price"], ticks["qty"], ticks["maker"]
    minute = ts // 60_000_000
    wm_ms = int(ts.max()) // 1000 - WATERMARK_US // 1000
    order = np.lexsort((price, ts, minute, sym))
    sym, minute, ts = sym[order], minute[order], ts[order]
    price, qty, maker = price[order], qty[order], maker[order]
    bound = np.flatnonzero((np.diff(sym) != 0) | (np.diff(minute) != 0)) + 1
    starts = np.concatenate(([0], bound))
    ends = np.concatenate((bound, [len(sym)]))
    out = {}
    state = {}
    for s, e in zip(starts, ends):
        k, m = int(sym[s]), int(minute[s])
        if (m + 1) * 60_000 > wm_ms:
            continue  # not finalized
        buy = float(qty[s:e][~maker[s:e]].sum())
        sell = float(qty[s:e][maker[s:e]].sum())
        delta, tot = buy - sell, buy + sell
        close = float(price[e - 1])
        st = state.setdefault(k, {"ring": [], "ema": None, "prev": None})
        st["ring"] = (st["ring"] + [delta])[-ZPOP:]
        ring = np.array(st["ring"])
        mu, sigma = ring.mean(), ring.std()
        z = (delta - mu) / sigma if len(ring) >= ZMIN and sigma > 0 else None
        a = 2.0 / (SPAN + 1.0)
        st["ema"] = close if st["ema"] is None else a * close + (1 - a) * st["ema"]
        dp = float(np.abs(np.diff(price[s:e])).sum())
        if st["prev"] is not None:
            dp += abs(float(price[s]) - st["prev"])
        st["prev"] = close
        out[(k, m)] = dict(close=close, delta=delta,
                           cvd=0.0 if tot == 0 else max(-1.0, min(1.0, delta / tot)),
                           ema=st["ema"], z=z, volume=tot, dp=dp)
    return out


def check_live(ticks, export_dir):
    problems = []
    names = list(ticks["names"])
    exp = expected_bars(ticks)
    minutes = sorted({m for _, m in exp})
    fused_dir = os.path.join(export_dir, "fused")
    if not glob.glob(os.path.join(fused_dir, "*.parquet")):
        return ["fused: no sink output"]
    f = pq.read_table(fused_dir).to_pydict()
    got = {}
    for i in range(len(f["symbol"])):
        k = (names.index(f["symbol"][i]), _norm(f["win_start"][i]) // 60_000_000)
        if k in got:
            problems.append(f"fused: duplicate bar {k}")
        got[k] = {c: f[c][i] for c in ("close", "delta", "cvd", "ema", "z", "lv_1m")}
    n_final = len(names) * len(minutes)
    if len(exp) != n_final:
        problems.append(f"fused: generator gave {len(exp)} bars, expected "
                        f"{n_final} (a symbol missed a minute)")
    if len(got) != n_final:
        problems.append(f"fused: {len(got)} bars vs {len(names)} symbols x "
                        f"{len(minutes)} finalized minutes = {n_final}")
    vol_sink = vol_ticks = 0.0
    for k, e in exp.items():
        g = got.get(k)
        if g is None:
            problems.append(f"fused: bar {names[k[0]]} minute {k[1]} missing")
            continue
        for c in ("close", "delta", "cvd", "ema", "z"):
            if not _close(None if g[c] is None else float(g[c]), e[c]):
                problems.append(f"fused {names[k[0]]} minute {k[1]} {c}: "
                                f"{g[c]!r} vs {e[c]!r}")
        # lv_1m = volume / (path length + 1e-6): recover the bar's volume
        vol_sink += g["lv_1m"] * (e["dp"] + 1e-6)
        vol_ticks += e["volume"]
    if not math.isclose(vol_sink, vol_ticks, rel_tol=1e-6):
        problems.append(f"fused: summed volume {vol_sink} vs ticks {vol_ticks}")
    problems += check_daily_summary(export_dir)
    return problems[:20]


def check_daily_summary(export_dir):
    tdir = os.path.join(export_dir, "trades")
    sdir = os.path.join(export_dir, "daily_summary")
    if not glob.glob(os.path.join(tdir, "*.parquet")):
        return ["trades: no sink output"]
    if not glob.glob(os.path.join(sdir, "*.parquet")):
        return ["daily_summary: no output"]
    t = pq.read_table(tdir).to_pydict()
    days = {}
    for a, b, pnl in zip(t["action"], t["bucket"], t["pnl"]):
        if a != "EXIT":
            continue
        d = days.setdefault(b // 24, dict(n_trades=0, wins=0, losses=0,
                                          total_pnl=0.0, max_pnl=-math.inf,
                                          min_pnl=math.inf))
        d["n_trades"] += 1
        d["wins"] += pnl > 0
        d["losses"] += pnl <= 0
        d["total_pnl"] += pnl
        d["max_pnl"] = max(d["max_pnl"], pnl)
        d["min_pnl"] = min(d["min_pnl"], pnl)
    s = pq.read_table(sdir).to_pydict()
    problems = []
    if not days:
        problems.append("trades: no exits, the summary check is empty")
    if sorted(s["day"]) != sorted(days):
        problems.append(f"daily_summary: days {sorted(s['day'])[:5]}.. vs "
                        f"trades {sorted(days)[:5]}..")
    for i, day in enumerate(s["day"]):
        d = days.get(day)
        if d is None:
            continue
        for c, v in d.items():
            if not _close(float(s[c][i]), float(v)):
                problems.append(f"daily_summary day {day} {c}: {s[c][i]} vs "
                                f"trades {v}")
    return problems
