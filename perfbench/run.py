#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness
(perfbench/Makefile) when their sources changed, generates the workload's
inputs from the seed, runs one fresh JVM (perfbench/src/perfbench/
Harness.scala), checks the program's outputs against computations made
apart from it (DuckDB running each query's `SparkEntry.oracleSql`; numpy
for the live feed), and prints one JSON line as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones.

Everything the run writes goes under .perfbench/ at the repository root:
build/ (classes), runs/ (one directory per run, removed at the end unless
--keep), oracle-cache/ (DuckDB results keyed by oracle SQL and input
digest). See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402

# Fixed on both sides of any comparison: threads, shuffle width, heap.
CPUS = min(4, os.cpu_count() or 1)
PARTITIONS = 4
HEAP = "3g"
DEADLINE_S = 170  # the whole run, build excluded

# A fixed, name-ordered subset of each family set (see README: the full
# 49 + 49 query lists do not fit a run's time budget).
MARKET = """bars_atr bars_ema bars_ohlc bars_rsi book_imbalance entry_signals
flow_cvd flow_delta flow_zscore fsm_daily_summary fused_multi""".split()

# 18 distinct DfMemo keys, 16 of them needed again on every pass: more
# than the default cap of 16 holds, so in name order each warm pass
# rebuilds those 16 frames (README, "Memo working set").
CORPUS = """ann_ivf_append ann_ivf_topk ann_mmr_topk ann_trunc_curve
dedup_jaccard_topk dedup_minhash_pairs""".split()

# warm_passes is the count at --seconds 20; other --seconds scale it.
WORKLOADS = {
    "market_backtest": dict(kind="batch", queries=MARKET, events=100_000,
                            docs=0, embeddings=0, warm_passes=4),
    "corpus_memo": dict(kind="batch", queries=CORPUS, events=0,
                        docs=2_000, embeddings=1_000, warm_passes=2),
    "live_feed": dict(kind="live", symbols=200, mean_ticks=20, history=30,
                      cold_rounds=1, rounds_per_pass=1, warm_passes=2),
}

END_TO_END = {"setup_s": "s", "cold_s": "s", "warm_s": "s",
              "op_gmean_ms": "ms", "op_p90_ms": "ms"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: no Spark installation (set SPARK_HOME)")
    return jars


def build(jars):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: the engine's sources (src/main/scala) are missing")
    bdir = os.path.join(WORK, "build")
    os.makedirs(bdir, exist_ok=True)
    t0 = time.time()
    env = dict(os.environ, SPARK_JARS=jars)
    p = subprocess.run(["make", "-s", "-C", HERE, f"BUILD={bdir}"], env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("perfbench: build failed")
    if time.time() - t0 > 5:
        log(f"built in {time.time() - t0:.0f} s")
    return os.path.join(bdir, "classes")


def jvm_flags(run_dir):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # the memo cap and mode are pinned to the program's defaults: system
    # properties win over SPARK_GRAFT_MEMO_* in the caller's environment
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={run_dir}/tmp",
             "-Dspark.sql.session.timeZone=UTC",
             "-Dgraft.memo.cap=16", "-Dgraft.memo.mode=local"]
    for p in opens:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags


def run_jvm(classes, jars, run_dir, args, deadline):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    logf = open(os.path.join(run_dir, "jvm.log"), "w")
    launch_ms = int(time.time() * 1000)
    cmd = (["java"] + jvm_flags(run_dir) +
           ["-cp", f"{classes}:{jars}/*", "perfbench.Harness",
            "--launch-ms", str(launch_ms)] + args)
    proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                            cwd=run_dir, start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = "timeout"
    finally:
        # on a timeout, an interrupt or SIGTERM: leave no JVM behind
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        logf.close()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: harness exited with {rc}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def percentile(xs, q):
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = (len(s) - 1) * q
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def unit_of(name):
    last = name.split(".")[-1] if name.split(".")[-1] not in ("cold", "warm") \
        else name.split(".")[-2]
    for suf, unit in (("_ms", "ms"), ("_us", "us"), ("_mb", "MB"), ("_s", "s")):
        if last.endswith(suf):
            return unit
    return "count"


def execute(workload, seed, seconds=20, trace=0, keep=False, cpus=CPUS):
    """One run: build if needed, generate the inputs, run the harness,
    check its outputs. Returns (result line, run directory); the run
    directory is removed unless `keep`."""
    w = dict(WORKLOADS[workload])
    w["warm_passes"] = max(1, round(w["warm_passes"] * seconds / 20))
    jars = spark_jars()
    classes = build(jars)
    run_dir = os.path.join(WORK, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    deadline = time.time() + DEADLINE_S
    try:
        args = ["--workload", workload, "--run-dir", run_dir,
                "--cpus", str(cpus), "--partitions", str(PARTITIONS),
                "--warm-passes", str(w["warm_passes"]), "--trace", str(trace)]
        data_dir = os.path.join(run_dir, "data")
        if w["kind"] == "batch":
            gen.batch_inputs(seed, data_dir, w["events"], w["docs"],
                             w["embeddings"])
            args += ["--data-dir", data_dir, "--queries", ",".join(w["queries"])]
        else:
            rounds = w["cold_rounds"] + w["warm_passes"] * w["rounds_per_pass"]
            ticks = gen.live_feed(seed, os.path.join(run_dir, "stage"), rounds,
                                  w["symbols"], w["mean_ticks"], w["history"])
            args += ["--data-dir", data_dir,
                     "--cold-rounds", str(w["cold_rounds"]),
                     "--rounds-per-pass", str(w["rounds_per_pass"])]
        t_gen = time.time()
        res = run_jvm(classes, jars, run_dir, args, deadline)
        t_jvm = time.time()
        failed = res["failures"]
        for f in failed:
            log(f"FAILED {f}")
        if w["kind"] == "batch":
            failed_q = {f.split()[2].rstrip(":") for f in failed}
            problems = checks.check_batch(
                data_dir, os.path.join(run_dir, "out"), [0, w["warm_passes"]],
                [q for q in w["queries"] if q not in failed_q],
                checks.oracle_sql(classes, jars),
                os.path.join(WORK, "oracle-cache"))
        else:
            problems = checks.check_live(ticks, os.path.join(run_dir, "export"))
        for p in problems:
            log(f"CHECK {p}")
        log(f"jvm {t_jvm - t_gen:.1f} s, check {time.time() - t_jvm:.1f} s")
        if trace:
            metrics = {k: {"value": v, "unit": unit_of(k)}
                       for k, v in sorted(res["layers"].items())}
        else:
            ps, ops = res["pass_s"], res["warm_op_ms"]
            vals = {"setup_s": res["setup_s"], "cold_s": ps[0],
                    "warm_s": percentile(ps[1:], 0.5),
                    # every operation weighs the same, whatever its size:
                    # one order statistic of a few dozen unlike queries
                    # jumps between clusters from run to run (README)
                    "op_gmean_ms": statistics.geometric_mean(ops),
                    "op_p90_ms": percentile(ops, 0.9)}
            metrics = {k: {"value": vals[k], "unit": u}
                       for k, u in END_TO_END.items()}
        out = {"correct": not problems, "attempted": res["attempted"],
               "failed": len(failed), "metrics": metrics}
    finally:
        if not keep:
            shutil.rmtree(run_dir, ignore_errors=True)
    return out, run_dir


def main():
    signal.signal(signal.SIGTERM, lambda n, f: sys.exit(f"perfbench: signal {n}"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the run directory (inputs, outputs, logs)")
    ap.add_argument("--cpus", type=int, default=CPUS,
                    help="task threads (default: the fixed setting; 1 gives "
                         "the single-threaded baseline)")
    a = ap.parse_args()
    out, _ = execute(a.workload, a.seed, a.seconds, a.trace, a.keep, a.cpus)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
