#!/usr/bin/env python3
"""Shows that every output check of the benchmark can fail.

    python3 perfbench/selftest.py

Runs market_backtest and live_feed once each (seed 1, outputs kept), checks
that their untouched outputs pass, then plants one fault per check in a
copy of the outputs and requires the check to report it:

  - batch: one value of one query's result changed;
  - live: one bar dropped from the fused sink;
  - live: one day's total pnl changed in the Daily Summary.

Exits 0 when every planted fault is caught and every untouched output
passes. The run directories stay under .perfbench/runs/ for inspection.
"""
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import run  # noqa: E402


def rewrite(src, dst, change):
    """Copy the parquet directory `src` to `dst` with `change` applied."""
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    pq.write_table(change(pq.read_table(src)), os.path.join(dst, "part-0.parquet"))


def bump(t, column=None):
    """`t` with the first non-null value of `column` (default: the first
    float column) moved by 50% + 1."""
    i = next(i for i, f in enumerate(t.schema)
             if f.name == column or column is None and pa.types.is_floating(f.type))
    vals = t.column(i).to_pylist()
    j = next(j for j, v in enumerate(vals) if v is not None and v == v)
    vals[j] = vals[j] * 1.5 + 1.0
    return t.set_column(i, t.schema.field(i), pa.array(vals, type=t.schema.field(i).type))


def main():
    results = []

    def expect(name, problems, fail):
        ok = bool(problems) == fail
        results.append(ok)
        print(f"{'ok  ' if ok else 'FAIL'} {name}: "
              f"{problems[0] if problems else 'passes'}")

    # batch: the first query whose cold-pass result has a float value
    _, rd = run.execute("market_backtest", seed=1, seconds=20, trace=0, keep=True)
    jars = run.spark_jars()
    classes = run.build(jars)
    oracles = checks.oracle_sql(classes, jars)
    data, out = os.path.join(rd, "data"), os.path.join(rd, "out")
    cache = os.path.join(run.WORK, "oracle-cache")
    q = next(q for q in run.MARKET
             if any(pa.types.is_floating(f.type)
                    for f in pq.read_schema(next(
                        os.path.join(out, "p0", q, x)
                        for x in os.listdir(os.path.join(out, "p0", q))
                        if x.endswith(".parquet")))))
    expect(f"batch {q} as written", checks.check_batch(
        data, out, [0], [q], oracles, cache), fail=False)
    bad = os.path.join(rd, "planted")
    rewrite(os.path.join(out, "p0", q), os.path.join(bad, "p0", q), bump)
    expect(f"batch {q} with one value changed", checks.check_batch(
        data, bad, [0], [q], oracles, cache), fail=True)

    # live: fused sink and Daily Summary
    _, rd = run.execute("live_feed", seed=1, seconds=20, trace=0, keep=True)
    ticks = dict(np.load(os.path.join(rd, "stage", "ticks.npz")))
    ex = os.path.join(rd, "export")
    expect("live outputs as written", checks.check_live(ticks, ex), fail=False)
    for name, table, change in (
            ("live fused sink with one bar dropped", "fused",
             lambda t: t.slice(1)),
            ("live Daily Summary with one day's pnl changed", "daily_summary",
             lambda t: bump(t, "total_pnl"))):
        planted = os.path.join(rd, "planted")
        shutil.rmtree(planted, ignore_errors=True)
        shutil.copytree(ex, planted)
        rewrite(os.path.join(ex, table), os.path.join(planted, table), change)
        expect(name, checks.check_live(ticks, planted), fail=True)

    print(f"{sum(results)}/{len(results)} as expected")
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()
