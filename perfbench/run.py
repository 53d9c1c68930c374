#!/usr/bin/env python3
"""Benchmark for the graft library: one workload of SparkEntry queries.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the harness with sbt
(perfbench/build.sbt compiles ../src/main together with perfbench/src).
One run starts one JVM with a `local[N]` session (N = cores available),
sets up once (session start, one warm-up execution of every query of the
workload, footer reads; `setup_s` counts from JVM start), runs timed
passes over the workload for `--seconds`, at least three, in a closed
loop with one client (each query starts when the previous result is
complete, in an order shuffled by `--seed`), then writes the result of
each query's latest timed execution and checks it against its DuckDB
oracle with scripts/check_oracle.py.

`--trace 0` prints the end-to-end metrics; `--trace 1` alternates
untraced and traced passes (at least two of each after the first) and
prints the per-layer metrics, measured from Spark listeners and spans
around the calls into each module. Both print human-readable lines first
and, as the last line of stdout, one JSON object with `correct`,
`attempted`, `failed` and `metrics`. Every result names what it ran with
(cores, session config, JVM, commit, seed, fixture). Full reports and
traces go to perfbench/work/results/.
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
FIXTURE = os.path.join(HERE, "fixtures", "sf0.01")
SMALL_FIXTURE = os.path.join(HERE, "fixtures", "sf0.001")  # self-test
CHECKER = os.path.join(ROOT, "scripts", "check_oracle.py")
LIBRARY_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("batch_sql", "stream_replay")
# The end-to-end metrics of the JSON result line: the ones every workload
# has (BENCHMARK.json lists them with their bounds).
END_TO_END = ("setup_s", "total_s", "query_p50_s", "peak_rss_mb")
# A fixed heap and young generation keep the resident set (peak_rss_mb)
# from following the collector's adaptive sizing from run to run. The
# JIT stops at its first tier (C1): Spark's code generator loads ~100 new
# classes per pass over a workload, and with the optimising tier (C2) their
# compilation kept ~2 cores busy through every timed pass, so pass times
# drifted down for the whole run and rose by ~60% whenever anything else
# wanted those cores. C1 compiles them in a tenth of the time.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn256m", "-XX:TieredStopAtLevel=1"]
JVM_TIMEOUT_S = 158
BUILD_TIMEOUT_S = 850
# Spark 4 on JDK 17 needs these outside spark-submit (the same list as
# the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _sources():
    for base in (LIBRARY_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")
    yield os.path.join(HERE, "project", "build.properties")


def preflight():
    """Fails unless the library sources and the oracle checker are here."""
    need = [os.path.join(LIBRARY_SRC, "scala", "graft", "SparkEntry.scala"),
            CHECKER, os.path.join(FIXTURE, "lineitem.parquet"),
            os.path.join(SMALL_FIXTURE, "lineitem.parquet")]
    missing = [p for p in need if not os.path.isfile(p)]
    if missing:
        raise BenchError("missing " + ", ".join(os.path.relpath(p, ROOT) for p in missing)
                         + " (run from the root of a graft checkout)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise BenchError("sbt and java must be on PATH")


def classpath():
    """Builds the harness if any source is newer than the last build and
    returns the JVM classpath."""
    stamp = os.path.join(WORK, "build", "classpath.txt")
    if os.path.exists(stamp):
        built = os.path.getmtime(stamp)
        if all(os.path.getmtime(p) <= built for p in _sources()):
            return open(stamp).read().strip()
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    build_log = os.path.join(WORK, "build", "build.log")
    log("building the harness with sbt ...")
    t0 = time.time()
    with open(build_log, "w") as out:
        rc = _run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                   "export Compile/fullClasspath"], cwd=HERE, env=env,
                  stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    lines = open(build_log).read().splitlines()
    cp = [l for l in lines if "scala-2.13" + os.sep + "classes" in l and os.pathsep in l]
    if rc != 0 or not cp:
        raise BenchError("build failed (see %s):\n%s" % (build_log, "\n".join(lines[-20:])))
    with open(stamp, "w") as f:
        f.write(cp[-1].strip())
    log("built in %.0f s" % (time.time() - t0))
    return cp[-1].strip()


def _run(cmd, timeout, **kw):
    """Runs a process in its own group and kills the whole group if it
    outlives `timeout`; always waits for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise BenchError("%s did not finish within %d s" % (cmd[0], timeout))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def host_steal_s():
    """Seconds the hypervisor kept this machine's CPUs from running it
    (steal time, summed over CPUs), or None where /proc/stat has none."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def cpus():
    """Cores this process may run on, as nproc counts them."""
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- run

def run_harness(workload, seed, seconds, trace, queries=None, passes=None,
                sf=FIXTURE, oracle=True):
    """Runs the JVM harness once and returns (report, oracle verdicts)."""
    cp = classpath()
    tag = "%s-s%s-t%d-%d" % (workload, seed, trace, os.getpid())
    run_dir = os.path.join(WORK, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    report_path = os.path.join(run_dir, "report.json")
    oracle_dir = os.path.join(run_dir, "oracle")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--sf", sf, "--cpus", str(cpus()),
            "--work", run_dir, "--report", report_path]
    if oracle:
        args += ["--oracle-out", oracle_dir]
    if queries:
        args += ["--queries", ",".join(queries)]
    if passes:
        args += ["--passes", str(passes)]
    cmd = (["java"] + JVM_FLAGS
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           # no hsperfdata file in the system temp directory
           + ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp, "graftbench.Harness"] + args)
    jvm_log = os.path.join(WORK, "logs", tag + ".log")
    steal0 = host_steal_s()
    try:
        with open(jvm_log, "w") as out:
            rc = _run(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                      timeout=JVM_TIMEOUT_S)
        if rc != 0 or not os.path.exists(report_path):
            tail = open(jvm_log).read().splitlines()[-30:]
            raise BenchError("harness exited with %d (see %s):\n%s"
                             % (rc, jvm_log, "\n".join(tail)))
        report = json.load(open(report_path))
        steal1 = host_steal_s()
        report["host_steal_s"] = None if steal0 is None else steal1 - steal0
        verdicts = check_oracle(sf, oracle_dir, report) if oracle else {}
        return report, verdicts
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def check_oracle(sf, oracle_dir, report):
    """Compares each written output with its DuckDB oracle; returns
    {query: (ok, message)}. A query without an output fails."""
    out = subprocess.run([sys.executable, CHECKER, sf, oracle_dir],
                         capture_output=True, text=True, timeout=15, cwd=ROOT)
    verdicts = {}
    for line in out.stdout.splitlines():
        m = re.match(r"\[(ok|FAIL|rows-only)\] (\S+): (.*)", line)
        if m:
            verdicts[m.group(2)] = (m.group(1) != "FAIL", m.group(1) + ": " + m.group(3))
    for q in dict.fromkeys(report["queries"]):
        if q not in verdicts:
            verdicts[q] = (False, "no verdict from the oracle checker (a failed warm-up "
                           "writes no output): " + out.stderr.strip()[-300:])
    return verdicts


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else None


def percentile(xs, q):
    """Nearest-rank percentile; None unless at least ten samples lie
    beyond it (e.g. p90 needs 100 samples)."""
    xs = sorted(xs)
    if len(xs) * (1 - q) < 10:
        return None
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def _traced_ids(report, traced):
    return {e["id"] for e in report["executions"] if e["traced"] == traced}


def stream_walls(report, ids):
    """Wall time of every streaming query run: from its start event to
    the end of its last micro-batch."""
    ends = {}
    for b in report["batches"]:
        if b["exec"] in ids:
            end = b["start_ms"] + b["duration_ms"].get("triggerExecution", 0)
            ends[b["run"]] = max(ends.get(b["run"], 0), end)
    return [(ends[s["run"]] - s["start_ms"]) / 1e3
            for s in report["stream_starts"] if s["run"] in ends]


def end_to_end(report, verdicts):
    """End-to-end metrics from the untraced passes: {name: (value, unit)}."""
    ids = _traced_ids(report, False)
    ex = [e for e in report["executions"] if not e["traced"]]
    lat = [e["latency_s"] for e in ex if e["ok"]]
    batches = [b for b in report["batches"] if b["exec"] in ids]
    trig = [b["duration_ms"].get("triggerExecution", 0) for b in batches]
    rows = sum(b["rows"] for b in batches)
    walls = stream_walls(report, ids)
    attempted, failed = counts(report, verdicts)
    m = {
        "setup_s": (report["setup"]["total_s"], "s"),
        "total_s": (median([p["total_s"] for p in report["passes"] if not p["traced"]]), "s"),
        "query_p50_s": (median(lat), "s"),
        "query_p90_s": (percentile(lat, 0.9), "s"),
        "query_samples": (len(lat), "count"),
        "peak_rss_mb": (report["peak_rss_kb"] / 1024.0, "MB"),
        "error_rate": (failed / attempted, "fraction"),
    }
    if batches:
        m["batch_p50_ms"] = (median(trig), "ms")
        m["batch_p90_ms"] = (percentile(trig, 0.9), "ms")
        m["batch_samples"] = (len(trig), "count")
        m["events_per_s"] = (rows / sum(walls) if sum(walls) > 0 else None, "rows/s")
    return m


def counts(report, verdicts):
    """Executions attempted (warm-up, timed and one oracle check per
    query) and how many of them threw or failed the oracle. An output that
    could not be written fails its oracle check, so it counts once."""
    attempted = len(report["queries"]) + len(report["executions"]) + len(verdicts)
    failed = (sum(1 for f in report["failures"] if f["phase"] != "oracle")
              + sum(1 for ok, _ in verdicts.values() if not ok))
    return attempted, failed


SITE = re.compile(r"\bat (\S+?)\.(scala|java):\d+")


def layer_of(job):
    """Module layer of a Spark job, from its stream tag and call site."""
    if job["stream"]:
        return "stream"
    m = SITE.search(site_name(job))
    f = m.group(1) if m else ""
    if f == "Tables":
        return "tables"
    if f == "CheckpointOps":
        return "checkpoint"
    if f == "ReplayFeed":
        return "replay"
    return "exec" if job["phase"] == "exec" else "build"


def site_name(job):
    """The job's call site. Jobs that adaptive execution submits for its
    query stages have a thread-pool frame there instead; they are named
    after the call site of the SQL execution they run for."""
    if "withThreadLocalCaptured" in job["site"]:
        return "adaptive stage of " + (job["sql_site"] or "an unknown SQL execution")
    return job["site"]


def _union_s(intervals, lo, hi):
    """Seconds of [lo, hi] covered by the union of (start, end) in ms."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total / 1e3


def spans(report):
    """Spans of the traced passes: query -> build|exec -> Spark job, and
    query -> micro-batch. Spans of one execution share its id."""
    out = []
    ids = _traced_ids(report, True)
    for e in report["executions"]:
        if e["id"] not in ids:
            continue
        out.append({"id": e["id"], "kind": "query", "name": e["query"], "parent": None,
                    "start_ms": e["start_ms"], "end_ms": e["end_ms"]})
        out.append({"id": e["id"], "kind": "build", "name": e["query"], "parent": "query",
                    "start_ms": e["start_ms"], "end_ms": e["build_end_ms"]})
        out.append({"id": e["id"], "kind": "exec", "name": e["query"], "parent": "query",
                    "start_ms": e["build_end_ms"], "end_ms": e["end_ms"]})
    for j in report["jobs"]:
        if j["exec"] in ids:
            out.append({"id": j["exec"], "kind": "job", "name": site_name(j),
                        "layer": layer_of(j), "job": j["job"],
                        "parent": j["phase"] or "query",
                        "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    for b in report["batches"]:
        if b["exec"] in ids:
            out.append({"id": b["exec"], "kind": "batch", "name": "batch %d" % b["batch"],
                        "parent": "query", "rows": b["rows"], "start_ms": b["start_ms"],
                        "end_ms": b["start_ms"] + b["duration_ms"].get("triggerExecution", 0)})
    return out


DURATIONS = (("stream.trigger_ms", "triggerExecution"), ("stream.add_batch_ms", "addBatch"),
             ("stream.wal_commit_ms", "walCommit"),
             ("stream.commit_offsets_ms", "commitOffsets"),
             ("stream.latest_offset_ms", "latestOffset"),
             ("stream.planning_ms", "queryPlanning"))


def layer_metrics(report, ids, n_cpus):
    """Per-layer metrics summed over the executions `ids`."""
    ex = [e for e in report["executions"] if e["id"] in ids]
    jobs = [j for j in report["jobs"] if j["exec"] in ids]
    stages = [s for s in report["stages"] if s["exec"] in ids]
    batches = [b for b in report["batches"] if b["exec"] in ids]
    plans = [p for p in report["plans"] if p["exec"] in ids]

    def jobs_of(pred):
        js = [j for j in jobs if pred(j)]
        return len(js), sum(max(0, j["end_ms"] - j["start_ms"]) for j in js) / 1e3

    m = {}
    m["session.start_s"] = report["setup"]["start_s"]
    m["session.warm_s"] = report["setup"]["warm_s"]
    m["tables.infer_jobs"], m["tables.infer_s"] = jobs_of(lambda j: layer_of(j) == "tables")
    m["queries.build_s"] = sum(e["build_s"] for e in ex)
    m["queries.build_jobs"] = sum(1 for j in jobs if j["phase"] == "build" and not j["stream"])
    m["queries.exec_s"] = sum(e["exec_s"] for e in ex)
    m["queries.exec_jobs"] = sum(1 for j in jobs if j["phase"] == "exec" and not j["stream"])
    # self time: the part of each build/exec span no Spark job or
    # micro-batch of the same execution covers (work outside Spark jobs)
    cover = {}
    for s in spans(report):
        if s["kind"] in ("job", "batch") and s["id"] in ids:
            cover.setdefault(s["id"], []).append((s["start_ms"], s["end_ms"]))
    m["queries.build_self_s"] = sum(
        e["build_s"] - _union_s(cover.get(e["id"], []), e["start_ms"], e["build_end_ms"])
        for e in ex)
    m["queries.exec_self_s"] = sum(
        e["exec_s"] - _union_s(cover.get(e["id"], []), e["build_end_ms"], e["end_ms"])
        for e in ex)
    m["checkpoint.jobs"], m["checkpoint.s"] = jobs_of(lambda j: layer_of(j) == "checkpoint")
    m["replay.feed_jobs"], m["replay.feed_s"] = jobs_of(lambda j: layer_of(j) == "replay")
    m["stream.jobs"], _ = jobs_of(lambda j: j["stream"])
    m["stream.batches"] = len(batches)
    m["stream.useful_batch_frac"] = (sum(1 for b in batches if b["rows"] > 0) / len(batches)
                                     if batches else 0.0)
    m["stream.input_rows"] = sum(b["rows"] for b in batches)
    for name, key in DURATIONS:
        m[name] = sum(b["duration_ms"].get(key, 0) for b in batches)
    m["state.rows_peak"] = max([sum(o["rows"] for o in b["state"]) for b in batches], default=0)
    m["state.mem_peak_bytes"] = max([sum(o["mem_bytes"] for o in b["state"]) for b in batches],
                                    default=0)
    m["state.commit_ms"] = sum(o["commit_ms"] for b in batches for o in b["state"])
    m["state.rocksdb_commit_ms"] = sum(
        v for b in batches for o in b["state"] for k, v in o["custom"].items()
        if k.startswith("rocksdbCommit") and "Latency" in k)
    m["catalyst.plan_s"] = sum(p["plan_ms"] for p in plans) / 1e3
    m["jvm.cpu_s"] = sum(e["cpu_s"] for e in ex)
    m["jvm.jit_ms"] = sum(e["jit_ms"] for e in ex)
    m["codegen.classes"] = sum(e["classes"] for e in ex)
    m["scheduler.jobs"] = len(jobs)
    m["scheduler.stages"] = len(stages)
    m["scheduler.tasks"] = sum(s["tasks"] for s in stages)
    run_s = sum(s["run_ms"] for s in stages) / 1e3
    cpu_s = sum(s["cpu_ns"] for s in stages) / 1e9
    m["tasks.run_s"] = run_s
    m["tasks.cpu_s"] = cpu_s
    m["tasks.wait_s"] = run_s - cpu_s
    m["tasks.gc_s"] = sum(s["gc_ms"] for s in stages) / 1e3
    wall = sum(e["latency_s"] for e in ex)
    m["tasks.busy_frac"] = run_s / (wall * n_cpus) if wall > 0 else 0.0
    m["input.bytes"] = sum(s["input_bytes"] for s in stages)
    m["shuffle.read_bytes"] = sum(s["shuffle_read_bytes"] for s in stages)
    m["shuffle.write_bytes"] = sum(s["shuffle_write_bytes"] for s in stages)
    m["shuffle.fetch_wait_s"] = sum(s["fetch_wait_ms"] for s in stages) / 1e3
    m["spill.bytes"] = sum(s["spill_bytes"] for s in stages)
    return m


# Metrics that describe a ratio or a peak, not an amount of work, are not
# divided by the number of passes / executions.
NOT_ADDITIVE = {"session.start_s", "session.warm_s", "stream.useful_batch_frac",
                "state.rows_peak", "state.mem_peak_bytes", "tasks.busy_frac"}


def per_unit(m, n):
    return {k: (v if k in NOT_ADDITIVE else v / n) for k, v in m.items()}


def per_layer(report):
    """Per-layer metrics per traced pass, the per-query rows (per
    execution) and the tracing overhead."""
    n_cpus = report["environment"]["cpus"]
    traced = [p for p in report["passes"] if p["traced"]]
    # the first pass runs slower than the rest and is always untraced, so
    # it is left out of the comparison
    untraced = [p for p in report["passes"] if not p["traced"] and p["pass"] > 0]
    if not traced:
        raise BenchError("no traced pass ran; raise --seconds")
    ids = _traced_ids(report, True)
    workload = per_unit(layer_metrics(report, ids, n_cpus), len(traced))
    t_on = median([p["total_s"] for p in traced])
    t_off = median([p["total_s"] for p in untraced])
    workload["trace.total_s"] = t_on
    workload["trace.untraced_total_s"] = t_off
    workload["trace.overhead_frac"] = t_on / t_off - 1 if t_off else 0.0
    # the untraced passes' own range, as a share of their median: an
    # overhead inside it is not resolved by this run
    offs = [p["total_s"] for p in untraced]
    workload["trace.untraced_range_frac"] = (max(offs) - min(offs)) / t_off if t_off else 0.0
    rows = {}
    for q in dict.fromkeys(report["queries"]):
        qids = {e["id"] for e in report["executions"]
                if e["traced"] and e["query"] == q}
        if not qids:
            continue
        r = per_unit(layer_metrics(report, qids, n_cpus), len(qids))
        r["executions"] = len(qids)
        r["latency_s"] = median([e["latency_s"] for e in report["executions"]
                                 if e["id"] in qids])
        jobs_by_site = {}
        for j in report["jobs"]:
            if j["exec"] in qids:
                k = "%s | %s" % (layer_of(j), site_name(j))
                jobs_by_site[k] = jobs_by_site.get(k, 0) + 1.0 / len(qids)
        r["jobs_by_layer_site"] = dict(sorted(jobs_by_site.items()))
        rows[q] = r
    return workload, rows


UNITS = {"s": "s", "ms": "ms", "bytes": "bytes", "frac": "fraction"}


def unit_of(name):
    """Unit from the name's last `_` or `.` part, e.g. tables.infer_s."""
    return UNITS.get(re.split(r"[._]", name)[-1], "count")


# ---------------------------------------------------------------- report

def git(*args):
    """Output of a git command in the checkout, or None outside a git
    repository."""
    try:
        out = subprocess.run(["git"] + list(args), cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def environment(report):
    env = dict(report["environment"])
    # directories relative to the checkout, so results compare across checkouts
    env["conf"] = {k: v.replace(ROOT + os.sep, "") for k, v in env["conf"].items()}
    status = git("status", "--porcelain")
    env.update({"nproc": cpus(), "git_commit": git("rev-parse", "HEAD"),
                "git_dirty": None if status is None else status != "",
                "seed": report["seed"], "sf_dir": os.path.relpath(report["sf"], ROOT),
                "passes": len(report["passes"]), "measured_s": report["measured_s"],
                "host_steal_s": report["host_steal_s"]})
    return env


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # on SIGTERM, unwind so the JVM or build in flight is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        preflight()
        report, verdicts = run_harness(a.workload, a.seed, a.seconds, a.trace)
    except BenchError as e:
        log("perfbench: %s" % e)
        return 2
    attempted, failed = counts(report, verdicts)
    env = environment(report)
    print("environment: " + json.dumps(env, sort_keys=True))
    for f in report["failures"]:
        print("FAILED %s %s: %s" % (f["phase"], f["query"], f["error"]))
    for q, (ok, msg) in sorted(verdicts.items()):
        print("oracle %s %s" % (q, msg))
    print("oracle verdict: %d ok, %d failed" % (sum(ok for ok, _ in verdicts.values()),
                                                sum(not ok for ok, _ in verdicts.values())))
    e2e = end_to_end(report, verdicts)
    for k, (v, u) in e2e.items():
        print("%-16s %s %s" % (k, "n/a (too few samples)" if v is None else "%.6g" % v, u))
    result_dir = os.path.join(WORK, "results")
    os.makedirs(result_dir, exist_ok=True)
    out_path = os.path.join(result_dir, "%s-s%d-t%d.json" % (a.workload, a.seed, a.trace))
    record = {"environment": env, "end_to_end": {k: {"value": v, "unit": u}
                                                 for k, (v, u) in e2e.items()},
              "oracle": {q: msg for q, (ok, msg) in verdicts.items()},
              "failures": report["failures"], "setup": report["setup"],
              "passes": report["passes"]}
    if a.trace:
        workload, rows = per_layer(report)
        for k, v in workload.items():
            print("%-28s %.6g %s" % (k, v, unit_of(k)))
        if abs(workload["trace.overhead_frac"]) <= workload["trace.untraced_range_frac"]:
            print("trace.overhead_frac is within the untraced passes' range: unresolved")
        record.update({"per_layer": workload, "per_query": rows, "spans": spans(report)})
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in workload.items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in END_TO_END}
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    print("report: " + os.path.relpath(out_path, ROOT))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
