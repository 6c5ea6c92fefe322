#!/usr/bin/env python3
"""One-command benchmark of the streaming pipeline and its query surface.

    python3 perfbench/run.py --workload consumer|mix --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program's
sources together with the benchmark driver (`perfbench/build.sbt`, output
under `.bench_build/`); later runs reuse the build while the sources are
unchanged. Each run generates its inputs from the seed, starts one JVM at
`local[nproc]`, checks the program's outputs, and prints two JSON lines:
the full report (every metric with its unit and sample count, the
correctness results, the run's environment), then, last, the summary line
with `correct`, `attempted`, `failed` and `metrics` — the end-to-end
metrics of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
# the jars perfbench/build.sbt compiles against
SPARK_JARS = "/opt/spark/jars"

# The query mix: the sliding-window KPI table, a dashboard read and the
# parse chain (batch SQL), a bounded AvailableNow replay with dedup state,
# and a serving query (broadcast probe + the top-k kernel).
MIX = ["w_user_windows", "w_type_windows", "d_top_users", "d_kpi_avg",
       "d_latest_snapshot", "c_parse_props", "s_dedup_stream", "x_sim_topk_brute"]
# The traced mix run also builds the index store (`IndexBuild.buildTo`)
# and runs this query once against it.
SERVE = "x_search_bm25"
# The repository's sf0.01 test tables the mix and the index build read
# (events, embeddings, documents), copied unchanged.
DATA = os.path.join(HERE, "data", "sf0.01")

BACKLOG_FILES = 3
BACKLOG_PER_FILE = 60_000
WARM_EVENTS = 10_000
RATE = 5_000
# 2025-12-22T10:30:00Z, the reference's example event time
BACKLOG_START_US = 1_766_399_400_000_000

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, log=None):
    print(f"perfbench: {msg}", file=sys.stderr)
    if log and os.path.exists(log):
        with open(log, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
    sys.exit(1)


def _interrupt(signum, frame):
    raise KeyboardInterrupt(f"signal {signum}")


def run_proc(cmd, log, timeout, **kw):
    """Run `cmd` in its own process group, output to `log`; kill the whole
    group on timeout and wait for it, so nothing outlives the run."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{cmd[0]} timed out after {timeout} s", log)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the driver; returns the JVM classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources at src/main/scala: run from the root of a checkout")
    classes = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
    marker = os.path.join(BUILD, "built.sha256")
    digest = source_digest()
    fresh = os.path.isdir(classes) and os.path.exists(marker) and \
        open(marker).read() == digest
    if not fresh:
        os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
            "-Dsbt.override.build.repos=true",
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
            "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(BUILD, "tmp")]))
        log = os.path.join(BUILD, "build.log")
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                      log, BUILD_TIMEOUT_S, cwd=HERE, env=env)
        if rc != 0 or not os.path.isdir(classes):
            fail(f"build failed (exit {rc})", log)
        with open(marker, "w") as fh:
            fh.write(digest)
    return classes + os.pathsep + os.path.join(SPARK_JARS, "*")


def heap_size():
    """The repository's own driver-heap rule: half the machine, 2 to 8 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.TimeoutExpired):
        return None


def prepare(args, run):
    """Seeded inputs for the workload; returns the JVM arguments they need."""
    if args.workload == "consumer":
        backlog = os.path.join(run, "in", "backlog")
        warm = os.path.join(run, "in", "warm")
        events = gen.backlog(backlog, BACKLOG_FILES, BACKLOG_PER_FILE, args.seed, BACKLOG_START_US)
        gen.backlog(warm, 1, WARM_EVENTS, args.seed + 1, BACKLOG_START_US)
        return ["--backlog", backlog, "--warm", warm, "--events", str(events),
                "--rate", str(RATE)]
    return ["--data", DATA, "--queries", ",".join(MIX), "--serve", SERVE]


class Checks:
    """Correctness checks; each counts as one attempted operation."""

    def __init__(self):
        self.passed, self.failed = 0, {}

    def add(self, name, reason):
        if reason is None:
            self.passed += 1
        else:
            self.failed[name] = reason


def duck():
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    return con


def check_oracle(checks, con, oracle_sql, results):
    """Each `(check name, query, result dir)` against the query's oracle SQL
    run by DuckDB over the same tables."""
    for f in sorted(os.listdir(DATA)):
        con.execute(f"CREATE OR REPLACE VIEW {f.split('.')[0]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DATA, f)}')")
    for name, q, out in results:
        if q not in oracle_sql:
            checks.add(name, "no oracle SQL")
            continue
        try:
            exp = con.execute(oracle_sql[q])
            ecols = [d[0] for d in exp.description]
            erows = exp.fetchall()
            got = con.execute(f"SELECT * FROM read_parquet('{out}/*.parquet')")
            gcols = [d[0] for d in got.description]
            checks.add(name, stats.compare(ecols, erows, gcols, got.fetchall()))
        except Exception as e:  # a missing result or an oracle error is a failure
            checks.add(name, str(e).splitlines()[0][:200])


def metric(value, unit, n=None):
    m = {"value": value, "unit": unit}
    if n is not None:
        m["n"] = n
    return m


def live_latencies(live):
    """Latency samples of the live phase: every data trigger except each
    query's first (which still carries first-trigger warm-up)."""
    samples = []
    for key in ("user_id", "item_id"):
        ps = sorted((x["p"] for x in live["progress"] if x["key"] == key),
                    key=lambda p: p["batchId"])
        samples += [stats.newest_event_latency_ms(p)
                    for p in [p for p in ps if p["numInputRows"] > 0][1:]]
    return samples


def consumer_metrics(r, m, checks, con):
    c, live, read = m["catchup"], m["live"], m["sink_read"]
    lat = live_latencies(live)
    out = {
        "lat_p50_ms": metric(stats.median(lat), "ms", len(lat)),
        "lat_p90_ms": metric(stats.percentile(lat, 0.9), "ms", len(lat)),
        "pass_s": metric(c["wall_s"], "s", 1),
        "sink_read_s": metric(stats.median(read["s"]), "s", len(read["s"])),
        "heap_peak_mb": metric(max(m["heap_mb"]), "MB", len(m["heap_mb"])),
    }
    if checks is not None:
        keys = {"user_id": ["window_start", "window_end", "user_id"],
                "item_id": ["window_start", "window_end", "item_id"]}
        for phase, rec in (("catchup", c), ("live", live)):
            for k in keys:
                committed = sum(x["p"]["numInputRows"] for x in rec["progress"] if x["key"] == k)
                total = stats.resolve_sum(con, os.path.join(rec["out"], k, "sink"), keys[k])
                checks.add(f"conservation:{phase}:{k}",
                           None if stats.conserved(total, committed) else
                           f"sum(total_interactions)={total}, committed events={committed}")
        dropped = sum(op.get("numRowsDroppedByWatermark", 0)
                      for rec in (c, live) for x in rec["progress"]
                      for op in x["p"].get("stateOperators", []))
        checks.add("dropped_late", None if dropped == 0 else f"{dropped} rows dropped")
        backlog = os.path.join(r["backlog"], "*.txt")
        for k in keys:
            n = stats.window_count_diff(con, backlog, os.path.join(c["out"], k, "sink"), k)
            checks.add(f"catchup_equals_batch:{k}", None if n == 0 else f"{n} rows differ")
    return out, len(c["progress"]) + len(live["progress"]) + len(read["s"])


def mix_metrics(m):
    passes = m["passes"]
    # a pass is the sum of each query's median over the passes, which is
    # steadier than the median of the pass sums when passes are few
    mix_s = sum(stats.median([p[q] for p in passes]) for q in passes[0])
    # a typical query's latency: every query weighs the same, whatever its
    # length, so a slowdown of any one of them moves it
    lat = [stats.geomean(p.values()) * 1000 for p in passes]
    out = {
        "lat_p50_ms": metric(stats.median(lat), "ms", len(lat)),
        "pass_s": metric(mix_s, "s", len(passes)),
        "heap_peak_mb": metric(max(m["heap_mb"]), "MB", len(m["heap_mb"])),
    }
    return out, sum(len(p) for p in passes)


def end_to_end(args, r, checks, con):
    """Every end-to-end metric of the run, from its untraced (or, in a
    traced run, traced) main measurement."""
    setup = stats.median(r["setup_s"])
    if args.workload == "consumer":
        out, ops = consumer_metrics(r, r["main"], checks, con)
    else:
        out, ops = mix_metrics(r["main"])
    out["setup_s"] = metric(setup, "s", len(r["setup_s"]))
    return out, ops


def per_layer(args, r, run, e2e):
    """Per-layer metrics from the traced run's spans (trace.json)."""
    from layers import derive
    with open(os.path.join(run, "trace.json")) as fh:
        spans = json.load(fh)["spans"]
    if args.workload == "consumer":
        untraced, _ = consumer_metrics(r, r["untraced"], None, None)
    else:
        untraced, _ = mix_metrics(r["untraced"])
    setups = r["setup_s"]
    untraced["setup_s"] = metric(setups[-2] if len(setups) > 1 else setups[-1], "s")
    traced = dict(e2e, setup_s=metric(setups[-1], "s"))
    return derive(args.workload, r, spans, traced, untraced, MIX)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["consumer", "mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run must take its child process group down with it
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _interrupt)

    classpath = build()
    cores = len(os.sched_getaffinity(0))
    run = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    jvm_args = prepare(args, run)
    cmd = ["java", f"-Xmx{heap_size()}", "-XX:-UsePerfData", *ADD_OPENS,
           "-Djava.io.tmpdir=" + os.path.join(run, "tmp"),
           "-cp", classpath, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(cores), "--run", run, *jvm_args]
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(run, "scratch"))
    env.pop("SPARK_LOCAL_DIRS", None)  # would move spark.local.dir out of the checkout
    log = os.path.join(run, "jvm.log")
    t0 = time.time()
    rc = run_proc(cmd, log, JVM_TIMEOUT_S, cwd=run, env=env)
    report_path = os.path.join(run, "report.json")
    if rc != 0 or not os.path.exists(report_path):
        fail(f"benchmark JVM exited {rc} without a report", log)
    with open(report_path) as fh:
        r = json.load(fh)
    if "fatal" in r["errors"]:
        fail(f"run aborted: {r['errors']['fatal']}", log)

    checks = Checks()
    con = duck()
    e2e, ops = end_to_end(args, r, checks, con)
    if args.workload == "mix":
        with open(os.path.join(run, "oracle_sql.json")) as fh:
            oracle_sql = json.load(fh)
        results = [(f"oracle:{q}", q, os.path.join(run, "results", q)) for q in MIX]
        if args.trace:
            results.append((f"served:{SERVE}", SERVE, os.path.join(run, "served", SERVE)))
        check_oracle(checks, con, oracle_sql, results)
    errors = r["errors"]
    attempted = ops + checks.passed + len(checks.failed)
    failed = len(errors) + len(checks.failed)
    e2e["fail_ratio"] = metric(failed / max(1, attempted), "ratio", attempted)

    full = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "master": r["master"],
        "load_start": r["load_start"], "load_end": r["load_end"],
        "commit": git_commit(), "jvm_s": round(time.time() - t0, 3),
        "round_order": r.get("round_order"), "events": r.get("events"),
        "phase_s": r["phase_s"], "metrics": e2e, "checks_passed": checks.passed,
        "checks_failed": checks.failed, "errors": errors,
    }
    if args.workload == "mix":
        full["results_s"] = r["results_s"]
        full["query_s"] = {q: stats.median([p[q] for p in r["main"]["passes"] if q in p])
                           for q in MIX}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.trace:
        layers = per_layer(args, r, run, e2e)
        full["per_layer"] = layers
        names = [m["name"] for m in spec["per_layer"]]
        out = {n: {"value": layers[n]["value"], "unit": layers[n]["unit"]} for n in names}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        out = {n: {"value": e2e[n]["value"], "unit": e2e[n]["unit"]} for n in names}
    print(json.dumps({"perfbench": full}))
    print(json.dumps({"correct": not checks.failed and not errors,
                      "attempted": attempted, "failed": failed, "metrics": out}))
    keep(run, args)


def keep(run, args):
    """Keep the run's report and trace (spans) in `.bench_build/last/`;
    drop its inputs, sinks and checkpoints."""
    last = os.path.join(BUILD, "last", f"{args.workload}-trace{args.trace}")
    shutil.rmtree(last, ignore_errors=True)
    os.makedirs(last)
    for f in ("report.json", "trace.json", "jvm.log"):
        if os.path.exists(os.path.join(run, f)):
            shutil.move(os.path.join(run, f), last)
    shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    main()
