#!/usr/bin/env python3
"""The repo benchmark: one closed-loop workload, one client, one run.

Usage (from the repo root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark (perfbench/build.sh), runs one JVM
(perfbench.Main) on local[k] with k = the CPUs this process may use, checks
every output (in the JVM, and here against the DuckDB catalog oracles), and
prints the metrics as `name value unit` lines followed by one JSON line,
which holds exactly the metrics BENCHMARK.json lists: its end_to_end ones,
or with --trace 1 its per_layer ones.
A traced run (--trace 1) also writes its spans and per-op layer figures to
perfbench/.trace/<workload>-<seed>.json.
Exits non-zero, without a JSON line, on any build failure, failed op
check or output mismatch. All files a run writes live under one temp root
in perfbench/.tmp, deleted at exit.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

WORKLOADS = ("nvs_job", "llm_ops")
TAIL_BEYOND = 10  # op_tail_s: the highest order statistic with this many samples above it
DEADLINE_S = 170  # the whole run, build excepted, must end before this
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Per-layer metrics of a traced run. Span self times (SPAN_LAYERS, reported
# as <name>_s) and per-op figures (PER_OP_LAYERS, name -> unit) are means per
# timed op; a layer a workload never calls reads 0. operators.Dedup.append_s
# is printed but not in BENCHMARK.json: llm_ops' first op always folds, and
# a run of 10 s times only that op.
SPAN_LAYERS = [
    "jobs.NvsStaging.register", "jobs.NvsPipeline.tamCe", "jobs.NvsPipeline.combined",
    "jobs.ChannelJobs.materialize_tam", "jobs.ChannelJobs.materialize_digital",
    "sources.AuditLog.append", "core.TableRegistry.register",
    "operators.Dedup.probe", "operators.Dedup.append", "operators.Dedup.fold",
    "streaming.EventStreams.runningTotalsRestartReplay",
    "streaming.EventStreams.funnelRestartReplay",
    "jobs.CurationJob.run", "core.CacheScope.drain", "op",
]
PER_OP_LAYERS = {
    "sources.VersionedTable.versions": "count",
    "operators.Dedup.candidates": "count", "operators.Dedup.candidate_precision": "ratio",
    "operators.Dedup.l0_depth": "count", "sources.Compaction.index_files": "count",
    "sources.Compaction.index_bytes_per_input_byte": "ratio",
    "jobs.CurationJob.stage_rows.input": "count",
    "jobs.CurationJob.stage_rows.after_quality": "count",
    "jobs.CurationJob.stage_rows.after_exact": "count",
    "jobs.CurationJob.stage_rows.after_near_dup": "count",
    "jobs.CurationJob.stage_rows.chunks": "count",
    "spark.no_job_s": "s", "spark.exchanges": "count", "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.scan_bytes": "B", "spark.stages": "count",
    "spark.tasks": "count", "spark.task_cpu_s": "s", "spark.executor_run_s": "s",
    "spark.spill_bytes": "B", "spark.jvm_gc_s": "s",
}
STREAM_PHASES = ["queryPlanning", "latestOffset", "addBatch", "walCommit", "commitOffsets"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def quantile_hi(xs, beyond):
    """The highest order statistic with at least `beyond` samples above it,
    with its percentile; None when there are too few samples."""
    xs = sorted(xs)
    k = len(xs) - beyond - 1
    return (xs[k], 100.0 * (k + 1) / len(xs)) if k >= 0 else None


def grouped_median(xs):
    """Median of readings rounded to whole units (Spark reports trigger
    durations in whole ms): each reading x stands for [x-0.5, x+0.5), so
    interpolate inside the median's class instead of returning an integer."""
    xs = sorted(xs)
    m = statistics.median(xs)
    lo, f = m - 0.5, sum(1 for x in xs if x == m)
    below = sum(1 for x in xs if x < m)
    return lo + (len(xs) / 2 - below) / f if f else m


def host_fit():
    """(cores, heap): every CPU this process may use, and the heap the
    repo's tier-1 command gives a forked JVM — half of MemTotal, 2 to 8 GiB."""
    cores = len(os.sched_getaffinity(0))
    heap = 2
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        heap = min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        pass
    return cores, f"{heap}g"


def run_jvm(args, root, cores, heap, budget_s):
    with open("perfbench/.build/jars") as f:
        classpath = f"{os.path.abspath('perfbench/.build/classes')}:{f.read().strip()}/*"
    cmd = (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={root}/jtmp",
            f"-Dgraft.warehouse.dir={root}/warehouse", f"-Dspark.local.dir={root}/local",
            "-cp", classpath]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["perfbench.Main", args.workload, str(args.seed), str(args.seconds),
              str(args.trace), root, str(cores)])
    for d in ("jtmp", "warehouse", "local"):
        os.makedirs(f"{root}/{d}", exist_ok=True)
    with open(f"{root}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=root)
        # a terminated benchmark takes its JVM with it
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, lambda *_: sys.exit(1))
        try:
            rc = p.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(f"{root}/jvm.log") as log:
            tail = log.read()[-4000:]
        fail(f"JVM exited with {rc}:\n{tail}")
    with open(f"{root}/result.json") as f:
        return json.load(f)


def canon_rows(rows):
    return sorted(tuple("\u0000" if v is None else repr(v) for v in r) for r in rows)


def oracle_checks(res):
    """Each catalog oracle SQL, in DuckDB over the generated parquet inputs,
    against the engine's rows for the same catalog query."""
    if not res["oracle"]:
        return []
    import duckdb
    con = duckdb.connect()
    inp = res["input"]
    for f in sorted(os.listdir(inp)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{inp}/{f}/*.parquet')")
    bad = []
    for o in res["oracle"]:
        want = con.sql(o["sql"])
        wcols = [c.lower() for c in want.columns]
        wrows = want.fetchall()
        rnd = ", ".join(f"round({c}, {d}) AS {c}" for c, d in o["round"].items())
        got = con.sql(f"SELECT * {f'REPLACE ({rnd})' if rnd else ''} "
                      f"FROM read_parquet('{o['got']}/*.parquet')")
        gcols = [c.lower() for c in got.columns]
        grows = got.fetchall()
        if sorted(wcols) != sorted(gcols):
            bad.append(f"{o['name']}: columns {gcols} != oracle {wcols}")
            continue
        order = [gcols.index(c) for c in sorted(wcols)]
        wi = [wcols.index(c) for c in sorted(wcols)]
        g = canon_rows([[r[i] for i in order] for r in grows])
        w = canon_rows([[r[i] for i in wi] for r in wrows])
        if not w:
            bad.append(f"{o['name']}: oracle returned no rows; the check would be vacuous")
        elif g != w:
            diff = len(set(g) ^ set(w))
            bad.append(f"{o['name']}: {len(g)} engine rows vs {len(w)} oracle rows, {diff} differ")
    return bad


def metrics(res):
    """(end-to-end metrics, per-layer metrics, extra printed figures)."""
    ops = res["ops"]
    ok = [o for o in ops if o["error"] is None]
    walls = [o["wall_s"] for o in ok]
    setup = res["setup"]
    e2e, extra = {}, {}
    if walls:
        tail = quantile_hi(walls, TAIL_BEYOND)
        e2e["setup_s"] = (setup["session_s"] + statistics.median(setup["generate_s"])
                          + setup["build_s"], "s")
        e2e["op_p50_s"] = (statistics.median(walls), "s")
        if tail:
            extra["op_tail_s"] = (tail[0], "s")
            extra["op_tail_percentile"] = (tail[1], "%")
        extra["rows_per_s"] = (sum(o["rows"] for o in ok) / res["timed_wall_s"], "1/s")
    extra["error_rate"] = ((len(ops) - len(ok)) / len(ops), "ratio")
    extra["ops"] = (len(ops), "count")
    st = res["stream"]
    if st["trigger_ms"]:
        extra["trigger_p50_s"] = (grouped_median(st["trigger_ms"]) / 1e3, "s")
    if st["recovery_ms"]:
        extra["recovery_s"] = (statistics.median(st["recovery_ms"]) / 1e3, "s")
    if not res["trace"]:
        return e2e, {}, extra

    n = max(1, len(ok))
    def mean(key):
        return sum(o["layers"].get(key, 0.0) for o in ok) / n
    layers = {}
    for name in SPAN_LAYERS:
        layers[("bench.op_self_s" if name == "op" else f"{name}_s")] = (mean(f"{name}_s"), "s")
    for name, unit in PER_OP_LAYERS.items():
        layers[name] = (mean(name), unit)
    layers["spark.peak_exec_mb"] = (max([o["layers"]["spark.peak_exec_mb"] for o in ok] or [0.0]), "MB")
    layers["jvm.heap_after_gc_peak_mb"] = (max([o["layers"]["jvm.heap_after_gc_mb"] for o in ok] or [0.0]), "MB")
    layers["operators.Dedup.build_s"] = (setup["index_build_s"], "s")
    trig = st["triggers"]
    layers["streaming.triggers"] = (trig / n, "count")
    for ph in STREAM_PHASES:
        layers[f"streaming.{ph}_ms"] = (st["phases_ms"].get(ph, 0) / trig if trig else 0.0, "ms")
    layers["streaming.state_commit_ms"] = (st["state_commit_ms"] / trig if trig else 0.0, "ms")
    layers["streaming.state_rows"] = (st["state_rows"] / trig if trig else 0.0, "count")
    gaps = st["restart_gap_ms"]
    layers["streaming.restart_gap_s"] = (statistics.median(gaps) / 1e3 if gaps else 0.0, "s")
    layers["streaming.trigger_p50_s"] = (extra.get("trigger_p50_s", (0.0,))[0], "s")
    layers["streaming.recovery_s"] = (extra.get("recovery_s", (0.0,))[0], "s")
    layers["trace.op_p50_s"] = (statistics.median(walls) if walls else 0.0, "s")
    # share of the op wall inside the op's child spans; the rest is bench.op_self_s
    self_s = sum(o["layers"].get("op_s", 0.0) for o in ok)
    layers["trace.span_coverage"] = (1.0 - self_s / max(1e-9, sum(walls)), "ratio")
    return e2e, layers, extra


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if subprocess.run(["bash", "perfbench/build.sh"]).returncode != 0:
        fail("build failed")
    t0 = time.monotonic()
    cores, heap = host_fit()
    os.makedirs("perfbench/.tmp", exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.abspath("perfbench/.tmp"))
    try:
        res = run_jvm(args, root, cores, heap, DEADLINE_S - 15)
        if args.trace:
            os.makedirs("perfbench/.trace", exist_ok=True)
            with open(f"perfbench/.trace/{args.workload}-{args.seed}.json", "w") as f:
                json.dump({k: res[k] for k in ("workload", "seed", "setup", "ops", "spans")}, f)
        bad = list(res["failures"]) + oracle_checks(res)
        ops = res["ops"]
        errors = [f"op {o['i']}: {o['error']}" for o in ops if o["error"]]
        e2e, layers, extra = metrics(res)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(f"setup {json.dumps(res['setup'])}\nop walls {[round(o['wall_s'], 3) for o in ops]}"
          f"\ncheck {res['check_s']:.1f} s, total {time.monotonic() - t0:.1f} s", file=sys.stderr)
    for e in errors:
        print(f"perfbench: failed {e}", file=sys.stderr)
    if bad:
        fail("output mismatch:\n  " + "\n  ".join(bad))
    if not e2e:
        fail("no op succeeded")
    for k, (v, u) in {**e2e, **extra, **layers}.items():
        print(f"{k} {v:.6g} {u}")
    with open("BENCHMARK.json") as f:
        listed = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
    out = e2e if not args.trace else layers
    missing = [k for k in listed if k not in out]
    if missing:
        fail(f"metrics listed in BENCHMARK.json but not measured: {missing}")
    out = {k: out[k] for k in listed}
    print(json.dumps({
        "correct": True, "attempted": len(ops), "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))


if __name__ == "__main__":
    main()
