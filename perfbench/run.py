#!/usr/bin/env python3
"""Seeded, layer-traced benchmark of the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness from
source into .bench_build/ (once per source change), runs one workload in a
single JVM on half the host's cores, checks its outputs against the planted truth,
prints every metric with its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Exits nonzero if the build fails, the JVM fails, or any output check fails.
See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

WORKLOADS = ("template_batch", "fuzzy_backlog", "index_ingest", "index_probe")
BUILD = os.path.join(".bench_build", "perfbench")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# --------------------------------------------------------------- build

def spark_jars():
    """The jar directory build.sbt compiles the engine against."""
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    engine = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the repository root")
    here = os.path.dirname(os.path.abspath(__file__))
    harness = sorted(glob.glob(os.path.join(here, "src", "**", "*.scala"), recursive=True))
    return engine + harness


def build(jars):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes, stamp
    log(f"perfbench: compiling {len(srcs)} sources")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: compiled in {time.time() - t0:.1f} s")
    return classes, stamp


def heap_gb():
    """Driver heap from MemTotal, as the repo's tier-1 test run sizes it:
    half of memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        return max(2, min(8, kb // 2097152))
    except (OSError, AttributeError):
        return 2


def host_cores():
    """Cores this process may run on, as nproc counts them."""
    try:
        return len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        return os.cpu_count() or 1


def jvm_cores():
    """Cores the JVM is told it has: half of the host's. On a host shared
    with other tenants, a JVM sized to every core (task threads plus its
    own JIT and GC threads) is preempted whenever a neighbour runs, and a
    run's iteration times moved by a third from one run to the next with
    the same seed; at half the cores they moved by a few percent."""
    return max(1, host_cores() // 2)


def git_sha():
    """HEAD of the checkout when it is a git repository, else None."""
    if not os.path.exists(".git"):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


# --------------------------------------------------------- statistics

def percentile(xs, p):
    """Nearest-rank percentile of a non-empty list."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail(xs):
    """The highest percentile of TAIL_LADDER with at least ten samples
    strictly beyond it, as (percentile, value); (None, None) when even the
    median has fewer than ten samples beyond it."""
    s = sorted(xs)
    for p in reversed(TAIL_LADDER):
        v = percentile(s, p)
        if sum(1 for x in s if x > v) >= 10:
            return p, v
    return None, None


def union_length(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover (ms)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = union_length([(max(c["start_ms"], s["start_ms"]), min(c["end_ms"], s["end_ms"]))
                              for c in kids.get(s["id"], [])])
        out[s["id"]] = (s["end_ms"] - s["start_ms"]) - cover
    return out


def innermost(spans, t):
    """The deepest span open at time t (spans nest, so the latest start)."""
    best = None
    for s in spans:
        if s["start_ms"] <= t < s["end_ms"] and (best is None or s["start_ms"] >= best["start_ms"]):
            best = s
    return best


# ---------------------------------------------------------- summaries

def end_to_end(raw):
    its = raw["iterations"]
    warm = [i for i in its[1:] if not i["traced"]]
    if not warm:
        warm = its[:1]
    inp = raw["input"]
    run_s = statistics.median(i["wall_s"] for i in warm)
    batches = [b for i in warm for b in i["batch_s"]]
    if not batches:
        batches = [i["wall_s"] for i in warm]
    tail_p, tail_v = tail(batches)
    attempted = sum(i["attempted"] for i in its)
    failed = sum(i["failed"] for i in its)
    m = {
        "setup_s": (raw["setup_s"], "s", 1),
        "cold_run_s": (its[0]["wall_s"], "s", 1),
        "run_s": (run_s, "s", len(warm)),
        "records_per_s": (inp["records"] / run_s, "1/s", len(warm)),
        "batch_s_p50": (statistics.median(batches), "s", len(batches)),
        "bytes_written_per_input_byte": (
            sum(i["bytes_written"] for i in warm) / sum(i["input_bytes"] for i in warm),
            "ratio", len(warm)),
        "stored_bytes_per_input_byte": (its[-1]["stored_bytes"] / its[-1]["ingested_bytes"], "ratio", 1),
        "live_heap_mb": (raw["live_heap_mb"], "MB", 1),
        "failed_ops_ratio": (failed / max(1, attempted), "ratio", attempted),
    }
    if tail_p is not None:
        m["batch_s_tail"] = (tail_v, f"s@p{tail_p:g}", len(batches))
    return m, attempted, failed


def per_layer(raw):
    its = raw["iterations"]
    traced = [i for i in its if i["traced"]]
    untraced = [i for i in its[1:] if not i["traced"]]
    spans = raw["spans"]
    selfs = self_times(spans)
    jobs, sql = raw["jobs"], raw["sql"]

    def span_of(t, it):
        return innermost([s for s in spans if s["iter"] == it], t)

    for j in jobs:
        j["span"] = None
        for it in traced:
            if it["start_ms"] <= j["submit_ms"] < it["end_ms"]:
                s = span_of(j["submit_ms"], it["iter"])
                j["span"], j["iter"] = (s["name"] if s else None), it["iter"]
    for q in sql:
        q["span"] = None
        for it in traced:
            if it["start_ms"] <= q["start_ms"] < it["end_ms"]:
                s = span_of(q["start_ms"], it["iter"])
                q["span"], q["iter"] = (s["name"] if s else None), it["iter"]

    def per_iter(fn):
        vals = [fn(it) for it in traced]
        return statistics.median(vals) if vals else 0.0

    def self_s(it, *names):
        return sum(selfs[s["id"]] for s in spans
                   if s["iter"] == it["iter"] and s["name"] in names) / 1000.0

    def count_spans(it, name):
        return sum(1 for s in spans if s["iter"] == it["iter"] and s["name"] == name)

    def js(it, prefix=None, names=None):
        out = [j for j in jobs if j.get("iter") == it["iter"] and j["span"] is not None]
        if prefix:
            out = [j for j in out if j["span"].startswith(prefix)]
        if names:
            out = [j for j in out if j["span"] in names]
        return out

    def qs(it, prefix=None, names=None):
        out = [q for q in sql if q.get("iter") == it["iter"] and q["span"] is not None]
        if prefix:
            out = [q for q in out if q["span"].startswith(prefix)]
        if names:
            out = [q for q in out if q["span"] in names]
        return out

    def dur(j):
        return (j["end_ms"] - j["submit_ms"]) / 1000.0

    def listing(j):
        return "Listing leaf files" in (j["desc"] or "")

    def fact(it, k):
        return float(it["facts"].get(k, 0.0))

    def scans(it, pred, **sel):
        return [s for q in qs(it, **sel) for s in q.get("scans", []) if pred(s)]

    def ratio(a, b):
        return a / b if b else 0.0

    nproc = raw["nproc"]

    def spark_gap(it):
        iv = [(max(j["submit_ms"], it["start_ms"]), min(j["end_ms"], it["end_ms"])) for j in js(it)]
        return it["wall_s"] - union_length(iv) / 1000.0

    def progress(it):
        return it.get("progress", [])

    def stream_gap_frac(it):
        gap = trig = 0.0
        for p in progress(it):
            t = p["duration_ms"].get("triggerExecution", 0)
            a = p["start_ms"]
            iv = [(max(j["submit_ms"], a), min(j["end_ms"], a + t)) for j in js(it)
                  if j["batch_id"] == str(p["batch_id"])]
            trig += t
            gap += t - union_length([x for x in iv if x[1] > x[0]])
        return ratio(gap, trig)

    def dur_sum(p, key):
        return sum(x["duration_ms"].get(key, 0) for x in p) / 1000.0

    def verb(q):
        """The index verb a SQL execution served, from where it wrote."""
        for p in q.get("write_paths", []):
            for mark, v in ((".__compacting", "compact"), ("/_vacuum_staged", "vacuum"),
                            ("/_tombstones", "delete"), ("/pairs/batch=", "probe"),
                            ("/idx/batch=", "ingest")):
                if mark in p:
                    return v
        return ""

    def verb_sql(it, *verbs, prefix=None):
        return [q for q in qs(it, prefix) if verb(q) in verbs]

    def sql_s(qs_):
        return sum((q["end_ms"] - q["start_ms"]) / 1000.0 for q in qs_)

    salt_sql = lambda it: [q for q in qs(it, names=("fuzzyjoin.join",)) if q.get("salt_stats")]
    probes = lambda it: max(1, count_spans(it, "ann.probe"))
    in_idx = lambda s: "/idx" in s["root"]

    m = {
        "spark.jobs": per_iter(lambda it: len(js(it))),
        "spark.stages": per_iter(lambda it: sum(j["stages"] for j in js(it))),
        "spark.tasks": per_iter(lambda it: sum(j["tasks"] for j in js(it))),
        "spark.task_s": per_iter(lambda it: sum(j["task_ms"] for j in js(it)) / 1000.0),
        "spark.core_busy_frac": per_iter(lambda it: sum(j["task_ms"] for j in js(it)) / 1000.0
                                         / (it["wall_s"] * nproc)),
        "spark.driver_gap_s": per_iter(spark_gap),
        "spark.max_task_s": per_iter(lambda it: max([j["max_task_ms"] for j in js(it)] or [0]) / 1000.0),
        "spark.shuffle_write_bytes": per_iter(lambda it: sum(j["shuffle_write_bytes"] for j in js(it))),
        "spark.shuffle_read_bytes": per_iter(lambda it: sum(j["shuffle_read_bytes"] for j in js(it))),
        "spark.spill_bytes": per_iter(lambda it: sum(j["spill_bytes"] for j in js(it))),
        "spark.gc_s": per_iter(lambda it: sum(j["gc_ms"] for j in js(it)) / 1000.0),
        "spark.listing_jobs": per_iter(lambda it: sum(1 for j in js(it) if listing(j))),
        "spark.listing_s": per_iter(lambda it: sum(dur(j) for j in js(it) if listing(j))),
        "spark.files_written": per_iter(lambda it: sum(q.get("written_files", 0) for q in qs(it))),
        "spark.scratch_bytes_left": per_iter(lambda it: it["scratch_bytes"]),

        "sources.csv_read_s": per_iter(lambda it: self_s(it, "sources.csv_read")),
        "sources.files_read": per_iter(lambda it: sum(
            s["files"] for s in scans(it, lambda s: True, prefix="sources."))),
        "sources.rows_read": per_iter(lambda it: sum(
            s["rows"] for s in scans(it, lambda s: True, prefix="sources."))),
        "sources.bytes_read": per_iter(lambda it: sum(
            s["bytes"] for s in scans(it, lambda s: True, prefix="sources."))),
        "sources.snapshot_read_s": per_iter(lambda it: self_s(it, "sources.snapshot_read")),

        "qa.battery_s": per_iter(lambda it: self_s(it, "qa.battery", "qa.file_validation")),
        "qa.flag_yield": per_iter(lambda it: fact(it, "flag_yield")),

        "pipelines.template_match_s": per_iter(lambda it: self_s(it, "pipelines.template_match")),
        "pipelines.route_s": per_iter(lambda it: self_s(it, "pipelines.route")),
        "pipelines.fuzzy_window_s": per_iter(lambda it: self_s(it, "pipelines.fuzzy_window")),
        "pipelines.match_yield": per_iter(lambda it: fact(it, "match_yield")),

        "fuzzyjoin.salt_plan_s": per_iter(lambda it: sum(
            (q["end_ms"] - q["start_ms"]) / 1000.0 for q in salt_sql(it))),
        "fuzzyjoin.join_s": per_iter(lambda it: self_s(it, "fuzzyjoin.join") - sum(
            (q["end_ms"] - q["start_ms"]) / 1000.0 for q in salt_sql(it))),
        "fuzzyjoin.block_pairs": per_iter(lambda it: it["block_pairs"]),
        "fuzzyjoin.kernel_pairs": per_iter(lambda it: it["kernel_pairs"]),
        "fuzzyjoin.kernel_yield": per_iter(lambda it: ratio(
            sum(q.get("osa_join_rows", 0) for q in qs(it, names=("fuzzyjoin.join",))), it["kernel_pairs"])),
        "fuzzyjoin.salted_blocks": per_iter(lambda it: max(
            [q.get("salted_blocks", 0) for q in qs(it, names=("fuzzyjoin.join",))] or [0])),
        "fuzzyjoin.max_task_s": per_iter(lambda it: max(
            [j["max_task_ms"] for j in js(it, names=("fuzzyjoin.join",))] or [0]) / 1000.0),

        "sinks.roster_write_s": per_iter(lambda it: self_s(it, "sinks.roster_write")),
        "sinks.roster_files": per_iter(lambda it: sum(
            q.get("written_files", 0) for q in qs(it, names=("sinks.roster_write",)))),
        "sinks.roster_bytes": per_iter(lambda it: sum(
            q.get("written_bytes", 0) for q in qs(it, names=("sinks.roster_write",)))),
        "sinks.jobs": per_iter(lambda it: len(js(it, prefix="sinks."))),
        "sinks.publish_s": per_iter(lambda it: self_s(it, "sinks.publish", "sinks.append")),
        "sinks.publish_jobs": per_iter(lambda it: len(js(it, names=("sinks.publish", "sinks.append")))),

        "streaming.batches": per_iter(lambda it: len(progress(it))),
        "streaming.trigger_s": per_iter(lambda it: dur_sum(progress(it), "triggerExecution")),
        "streaming.add_batch_s": per_iter(lambda it: dur_sum(progress(it), "addBatch")),
        "streaming.wal_commit_s": per_iter(lambda it: dur_sum(progress(it), "walCommit")),
        "streaming.query_planning_s": per_iter(lambda it: dur_sum(progress(it), "queryPlanning")),
        "streaming.jobs_per_batch": per_iter(lambda it: ratio(
            sum(1 for j in js(it) if j["batch_id"]), len(progress(it)))),
        "streaming.driver_gap_frac": per_iter(stream_gap_frac),

        "dedup.ingest_s": per_iter(lambda it: sql_s(verb_sql(it, "ingest"))),
        "dedup.probe_s": per_iter(lambda it: sql_s(verb_sql(it, "probe"))),
        "dedup.delete_s": per_iter(lambda it: self_s(it, "dedup.delete")),
        "dedup.vacuum_s": per_iter(lambda it: self_s(it, "dedup.vacuum")
                                   + sql_s(verb_sql(it, "vacuum", prefix="streaming."))),
        "dedup.compact_s": per_iter(lambda it: sql_s(verb_sql(it, "compact"))),
        "dedup.maintain_runs": per_iter(lambda it: len(
            verb_sql(it, "compact", "vacuum", prefix="streaming."))),
        "dedup.index_files": per_iter(lambda it: fact(it, "index_files")
                                      if it["facts"].get("pairs_emitted") is not None else 0.0),
        "dedup.index_bytes": per_iter(lambda it: fact(it, "index_bytes")),
        "dedup.bytes_rewritten": per_iter(lambda it: sum(
            q.get("written_bytes", 0) for q in verb_sql(it, "compact", "vacuum"))),
        "dedup.candidate_pairs": per_iter(lambda it: sum(q.get("band_join_rows", 0) for q in qs(it))),
        "dedup.verify_yield": per_iter(lambda it: ratio(
            fact(it, "pairs_emitted"), sum(q.get("band_join_rows", 0) for q in qs(it)))),

        "ann.probe_s": per_iter(lambda it: self_s(it, "ann.probe") / probes(it)),
        "ann.append_s": max([self_s(it, "ann.append") for it in traced] or [0.0]),
        "ann.listing_jobs_per_probe": per_iter(lambda it: sum(
            1 for j in js(it, names=("ann.probe",)) if listing(j)) / probes(it)),
        "ann.files_scanned_per_probe": per_iter(lambda it: sum(
            s["files"] for s in scans(it, in_idx, names=("ann.probe",))) / probes(it)),
        "ann.bytes_scanned_per_probe": per_iter(lambda it: sum(
            s["bytes"] for s in scans(it, in_idx, names=("ann.probe",))) / probes(it)),
        "ann.index_files": per_iter(lambda it: fact(it, "index_files")
                                    if count_spans(it, "ann.probe") else 0.0),
    }
    tr = statistics.median(i["wall_s"] for i in traced) if traced else 0.0
    un = statistics.median(i["wall_s"] for i in untraced) if untraced else 0.0
    m["trace_overhead_frac"] = tr / un - 1 if un else 0.0

    # accounting: the iteration span's own (harness) time plus its
    # top-level children covers the traced iteration's wall time
    acct = []
    for it in traced:
        top = [s for s in spans if s["iter"] == it["iter"] and s["name"] == "iteration"]
        if top:
            t = top[0]
            kids = [s for s in spans if s["parent"] == t["id"]]
            layer = {}
            for k in kids:
                layer[k["name"]] = layer.get(k["name"], 0.0) + (k["end_ms"] - k["start_ms"]) / 1000.0
            acct.append({"iter": it["iter"], "wall_s": it["wall_s"],
                         "driver_gap_s": selfs[t["id"]] / 1000.0, "top_level_s": layer,
                         "accounted_s": selfs[t["id"]] / 1000.0 + sum(layer.values())})
    return m, acct


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-truth", action="store_true",
                    help="test hook: flip one planted answer; the run must then fail")
    ap.add_argument("--generate-only", action="store_true",
                    help="test hook: generate the inputs and print their digest")
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    jars = spark_jars()
    classes, stamp = build(jars)

    run_dir = os.path.abspath(os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    raw_path = os.path.join(run_dir, "raw.json")
    heap = heap_gb()
    cmd = (["java", f"-Xmx{heap}g", "-XX:+UseParallelGC", f"-XX:ActiveProcessorCount={jvm_cores()}",
            "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.callstack.depth=200",
            "-Dlog4j2.configurationFile=" + os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                          "log4j2.properties")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", run_dir, "--out", raw_path])
    if a.corrupt_truth:
        cmd.append("--corrupt-truth")
    if a.generate_only:
        cmd.append("--generate-only")
    t0 = time.time()

    def stop(signum, frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE if a.generate_only else sys.stderr,
                            stderr=sys.stderr, text=True)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    timed_out = False
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        timed_out = True
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if timed_out or proc.returncode != 0:
        shutil.rmtree(run_dir, ignore_errors=True)
        raise SystemExit("perfbench: JVM timed out" if timed_out
                         else f"perfbench: JVM exited with {proc.returncode}")
    if a.generate_only:
        shutil.rmtree(run_dir, ignore_errors=True)
        print(out.strip().splitlines()[-1])
        return
    with open(raw_path) as f:
        raw = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)

    e2e, attempted, failed = end_to_end(raw)
    errors = [e for i in raw["iterations"] for e in i["errors"]]
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "git_sha": git_sha(), "source_sha256": stamp, "host_nproc": host_cores(),
        "nproc": raw["nproc"],
        "master": raw["master"], "shuffle_partitions": raw["shuffle_partitions"],
        "aqe": raw["aqe"], "heap_max_mb": raw["max_heap_mb"],
        "spark_version": raw["spark_version"], "input": raw["input"],
        "canary_1thread_s": raw["canary_1thread_s"],
        "canary_allcores_s": raw["canary_allcores_s"],
        "jvm_boot_s": raw["jvm_boot_s"], "session_s": raw["session_s"],
        "workload_setup_s": raw["workload_setup_s"],
        "generate_s": raw["generate_s"], "drain_s": raw["drain_s"], "wall_s": time.time() - t0,
        "iterations": [{k: i[k] for k in ("iter", "traced", "wall_s", "batch_s", "bytes_written",
                                          "input_bytes", "stored_bytes", "ingested_bytes",
                                          "attempted", "failed", "facts", "gate_s")}
                       for i in raw["iterations"]],
        "errors": errors,
        "end_to_end": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in e2e.items()},
    }
    for k in ("master", "host_nproc", "nproc", "shuffle_partitions", "aqe", "spark_version", "canary_1thread_s",
              "canary_allcores_s"):
        log(f"record {k} = {record[k]}")
    log(f"record input = {raw['input']}")
    for k, (v, u, n) in e2e.items():
        print(f"metric {k} = {v:.6g} {u} (n={n})")
    wanted = bench["end_to_end"]
    if a.trace:
        layers, acct = per_layer(raw)
        record["per_layer"] = layers
        record["accounting"] = acct
        record["spans"] = raw["spans"]
        record["jobs"] = raw["jobs"]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        for k, v in layers.items():
            print(f"layer {k} = {v:.6g} {units.get(k, '')}")
        for x in acct:
            print(f"accounting iteration {x['iter']}: driver gap {x['driver_gap_s']:.3f} s + "
                  f"top-level {sum(x['top_level_s'].values()):.3f} s = "
                  f"{x['accounted_s']:.3f} s of {x['wall_s']:.3f} s wall")
        wanted = bench["per_layer"]
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]} for m in wanted}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in wanted}
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for e in errors:
        log(f"FAILED CHECK: {e}")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
