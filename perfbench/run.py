#!/usr/bin/env python3
"""Pipeline benchmark for the graft engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source on first use (sbt, offline),
then runs one workload in a fresh JVM and Spark session, checks its outputs,
and prints every metric by name with its unit. The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones, and the
spans with a per-op layer report are written to .perfbench_out/.

Workloads, metrics and which layer metric should move which end-to-end metric
are documented in perfbench/layers.json.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import zipfile

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".perfbench_build")
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def default_sf():
    """The sf0.1 testdata: under the home directory, else where the repo's
    TESTDATA.md table says it is."""
    home = os.path.join(os.path.expanduser("~"), "testdata", "sf0.1")
    if os.path.isdir(home):
        return home
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            for line in f:
                cells = [c.strip(" `") for c in line.split("|")]
                if len(cells) > 2 and cells[1] == "0.1":
                    return cells[2].rstrip("/")
    except OSError:
        pass
    return home


DEFAULT_SF = default_sf()
# a run's JVM is killed after this long, leaving time for the checks
JVM_LIMIT_S = 150

# the workloads BENCHMARK.json lists, plus month_extract, which runs only
# on request (see layers.json for why)
WORKLOADS = ("stream_ingest", "dashboard_refresh", "month_extract")

# name -> unit; the same names and units as BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "ingest.read_s": "s", "ingest.read_jobs": "count",
    "ops.construct_s": "s", "ops.plan_s": "s", "ops.exec_s": "s",
    "ops.jobs_per_refresh": "count", "ops.tasks_per_refresh": "count",
    "ops.task_cpu_s_per_refresh": "s", "ops.shuffle_mb_per_refresh": "MB",
    "ops.construction_job_share": "ratio",
    "ext.construct_s": "s", "ext.exec_s": "s",
    "ext.jobs_per_refresh": "count", "ext.construct_jobs_per_refresh": "count",
    "ext.shuffle_mb_per_refresh": "MB", "ext.task_cpu_s_per_refresh": "s",
    "ext.cpu_par": "ratio",
    "sink.warehouse_batch_s": "s", "sink.warehouse_batch_jobs": "count",
    "sink.warehouse_files_per_batch": "count", "sink.raw_readback_mb": "MB",
    "sink.checks_pass_ratio": "ratio", "sink.mv_merge_s": "s",
    "sink.mv_merge_jobs": "count", "sink.mv_applied_ratio": "ratio",
    "streaming.batches": "count", "streaming.rows_per_batch_p50": "count",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.trigger_overhead_ms_p50": "ms",
    "streaming.queue_wait_s_p50": "s",
    "streaming.source_lag_files_max": "count",
    "streaming.empty_batch_ratio": "ratio",
    "streaming.freshness_tail_s": "s",
    "streaming.freshness_tail_samples": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_cpu_s": "s", "spark.spill_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.cpu_util": "ratio",
    "spark.gc_s": "s", "jvm.rss_peak_mb": "MB",
    "gen.offered_events_per_s": "events/s", "gen.lateness_p99_s": "s",
    "host.cpu_probe_parallelism": "ratio", "host.loadavg_1m": "ratio",
    "trace.overhead_ratio": "ratio", "trace.remainder_ratio": "ratio",
}
# month_extract's own layer metrics, printed but not in BENCHMARK.json
MONTH_LAYER = {
    "ingest.extract_s": "s", "ingest.extract_jobs": "count",
    "ingest.extract_input_mb": "MB", "ingest.extract_shuffle_mb": "MB",
    "ingest.extract_spill_mb": "MB", "ingest.cap_keep_ratio": "ratio",
    "sink.envelope_s": "s", "sink.envelope_out_mb": "MB",
}

# stream_ingest's shape: the first half of the month is the backlog, drained
# 25 files a trigger (StreamIngest.MaxFilesPerTrigger) in four triggers, the
# first of them cold; live files are 1/200 of the month each, offered at a
# rate about half the warm catch-up capacity on 4 cores at sf0.1
BACKLOG_FILES = 100
LIVE_FILES_PER_MONTH = 200
LIVE_FILES_PER_S = 3.0

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

MB = 1024.0 * 1024.0


def cpus():
    """The CPUs this process may run on, as nproc counts them."""
    return len(os.sched_getaffinity(0))


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count), or None below eleven samples."""
    n = len(xs)
    if n < 11:
        return None
    k = n - 11
    return sorted(xs)[k], 100.0 * (k + 1) / n, n


def percentile(xs, p):
    """Nearest-rank percentile (0 for no samples)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(p / 100.0 * len(s) + 0.5)) - 1))]


# --------------------------------------------------------------------- build

def fingerprint():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark once per source fingerprint. Returns the
    runtime classpath (class directories packed into jars) and the
    class-data archive recorded over one short run of every workload on the
    smallest testdata, which every later JVM maps instead of loading and
    verifying Spark's classes again."""
    stamp = fingerprint()
    cp_file = os.path.join(BUILD_DIR, stamp, "classpath.txt")
    jsa = os.path.join(BUILD_DIR, stamp, "classes.jsa")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip(), jsa if os.path.exists(jsa) else None
    shutil.rmtree(BUILD_DIR, ignore_errors=True)
    os.makedirs(os.path.dirname(cp_file))
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("[perfbench] building engine and benchmark (sbt)")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [ln.strip() for ln in p.stdout.splitlines()]
    cps = [ln for ln in lines if ".jar" in ln and os.pathsep in ln
           and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        log(p.stdout[-4000:])
        raise SystemExit("[perfbench] build failed")
    entries = []
    for i, e in enumerate(cps[-1].split(os.pathsep)):
        if os.path.isdir(e):
            jar = os.path.join(os.path.dirname(cp_file), f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in os.walk(e):
                    for f in sorted(fs):
                        z.write(os.path.join(d, f),
                                os.path.relpath(os.path.join(d, f), e))
            e = jar
        entries.append(e)
    cp = os.pathsep.join(entries)
    record_archive(cp, jsa)
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp, jsa if os.path.exists(jsa) else None


def record_archive(cp, jsa):
    small = os.path.join(os.path.dirname(DEFAULT_SF), "sf0.001")
    if not os.path.exists(os.path.join(small, "events.parquet")):
        return
    work = os.path.join(WORK_DIR, "archive")
    for d in (work, f"{work}-dashboard_refresh", f"{work}-stream_ingest"):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(work)
    log("[perfbench] recording the class-data archive")
    os.makedirs(f"{work}-stream_ingest")
    setups("stream_ingest", small, f"{work}-stream_ingest", 0, 0.5)
    # month_extract loads few classes the two others do not, and would add a
    # minute to the build
    args = ["--workload", "dashboard_refresh,stream_ingest",
            "--seed", "0",
            "--seconds", "0.5", "--trace", "1", "--sf", small,
            "--work", work, "--cores", str(cpus()),
            "--out", os.path.join(work, "result.json"), "--mutate", "0"]
    code, _ = run_jvm(cp, None, args, work, 600,
                      [f"-XX:ArchiveClassesAtExit={jsa}"])
    if code != 0 and os.path.exists(jsa):
        os.remove(jsa)
    for d in (work, f"{work}-dashboard_refresh", f"{work}-stream_ingest"):
        shutil.rmtree(d, ignore_errors=True)


# --------------------------------------------------------------------- setup

def stage_stream(sf, dest, seed, seconds):
    """stream_ingest's set-up: splits the events month in event-time order
    into parquet files under `dest` and returns the manifest the JVM reads
    (header line with the live rate, then index, path, events, phase). The
    seed shifts the live file boundaries and orders rows within each file.
    The testdata numbers events densely in event-time order, so an event's
    rank is its id."""
    t = pq.read_table(os.path.join(sf, "events.parquet")).sort_by("event_id")
    n = t.num_rows
    ids = t.column("event_id")
    if pc.max(ids).as_py() - pc.min(ids).as_py() + 1 != n:
        raise SystemExit("[perfbench] event ids are not dense")
    ts = t.schema.get_field_index("ts")
    t = t.set_column(ts, "ts", pc.cast(t.column(ts), pa.timestamp("us", "UTC"),
                                       safe=False))
    per_backlog = max(1, n // 2 // BACKLOG_FILES)
    half = per_backlog * BACKLOG_FILES
    # at least 100 events a file, and a shift of less than half a file, so
    # every file holds purchases (Checks.dataChecks rejects a batch without)
    per_live = max(100, n // LIVE_FILES_PER_MONTH)
    shift = random.Random(seed).randrange(per_live // 2)
    spans = [(i * per_backlog, (i + 1) * per_backlog, "backlog")
             for i in range(BACKLOG_FILES)]
    for j in range(math.ceil(LIVE_FILES_PER_S * seconds)):
        a = max(half, half + j * per_live - shift)
        b = min(n, half + (j + 1) * per_live - shift)
        if b - a < per_live // 2:
            break
        spans.append((a, b, "live"))
    os.makedirs(dest)
    lines = [f"rate\t{LIVE_FILES_PER_S}"]
    for i, (a, b, phase) in enumerate(spans):
        order = list(range(b - a))
        random.Random(seed * 1000003 + i).shuffle(order)
        path = os.path.join(dest, f"f-{i}.parquet")
        pq.write_table(t.slice(a, b - a).take(order), path)
        lines.append(f"{i}\t{path}\t{b - a}\t{phase}")
    return lines


def setups(workload, sf, work, seed, seconds):
    """Set-up that runs before the JVM: seven stagings for stream_ingest
    (their median is its setup_s; a staging takes only ~0.4 s, so more
    repeats than the JVM set-ups), none for the others."""
    if workload != "stream_ingest":
        return None
    walls = []
    for i in range(7):
        t0 = time.perf_counter()
        lines = stage_stream(sf, os.path.join(work, f"stage-{i}"), seed, seconds)
        walls.append(time.perf_counter() - t0)
    with open(os.path.join(work, "stage.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return walls


# ----------------------------------------------------------------------- jvm

def run_jvm(cp, jsa, args, work, limit_s, extra=()):
    """Runs the benchmark JVM; returns (exit code, peak RSS in MB)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g"] + list(extra)
           + ([f"-XX:SharedArchiveFile={jsa}", "-Xshare:auto"] if jsa else [])
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dgraft.artifacts.dir={os.path.join(work, 'artifacts')}",
              "-cp", cp, "perfbench.Main"] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             env=env, cwd=work, start_new_session=True)
        timer = threading.Timer(limit_s, lambda: os.killpg(p.pid, signal.SIGKILL))
        timer.start()
        try:
            _, status, usage = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
        p.returncode = os.waitstatus_to_exitcode(status)
    return p.returncode, usage.ru_maxrss / 1024.0


# -------------------------------------------------------------------- oracle

def oracle_failures(sf, outputs, work):
    """Compares each written output with its DuckDB mirror SQL exactly as
    tools/oracle_check.py does; returns the names that failed."""
    if not outputs:
        return set()
    out = os.path.join(work, "oracle")
    with open(os.path.join(out, "oracle_sql.json"), "w") as f:
        json.dump({o["name"]: o["sql"] for o in outputs}, f)
    p = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "oracle_check.py"), sf, out],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    passed = {ln.split()[1] for ln in p.stdout.splitlines()
              if ln.startswith("[PASS] ")}
    failed = {o["name"] for o in outputs} - passed
    for ln in p.stdout.splitlines():
        if ln.startswith("[FAIL] "):
            log(f"[perfbench] oracle {ln[:300]}")
    return failed


# ------------------------------------------------------------------- metrics

def live_freshness(rec):
    """Per live file: (freshness s, queue wait s). Freshness runs from the
    file's due time to the return of the batch that published it; queue
    wait to the start of that batch's trigger."""
    ends = {o["op"]: o["end_us"] for o in rec["ops"]}
    starts = {p["batch"]: p["start_us"] for p in rec["progress"]}
    fresh, wait = [], []
    for f in rec["live_files"]:
        due = rec["file_due_us"][str(f)]
        b = rec["file_batch"].get(str(f))
        if b is None:
            continue
        fresh.append((ends[b] - due) / 1e6)
        if b in starts:
            wait.append(max(0.0, (starts[b] - due) / 1e6))
    return fresh, wait


def catchup_rate(rec):
    """Backlog events per second once the stream is warm: the events of the
    catch-up batches after the first (which runs on a cold JVM), over the
    time from the first one's return to the last one's."""
    backlog = set(rec["backlog_files"])
    batches = sorted((o for o in rec["ops"] if backlog & set(o["files"])),
                     key=lambda o: o["end_us"])
    if len(batches) < 2:
        return sum(rec["file_events"][str(f)] for f in backlog) / rec["catchup_s"]
    events = sum(rec["file_events"][str(f)]
                 for o in batches[1:] for f in o["files"])
    return events / ((batches[-1]["end_us"] - batches[0]["end_us"]) / 1e6)


def measured(rec):
    """The ops the timings are over: all but the warm-up ones."""
    return [o for o in rec["ops"] if not o.get("warmup")]


def end_to_end(rec):
    """stream_ingest: live freshness p50 and warm catch-up events/s;
    dashboard_refresh: refresh p50 and refreshes/s; month_extract: month
    p50 and CSV rows/s; both over the ops after the warm-up."""
    w = rec["workload"]
    walls = [o["wall_s"] for o in measured(rec)]
    if w == "stream_ingest":
        latency = median(live_freshness(rec)[0])
        throughput = catchup_rate(rec)
    else:
        latency = median(walls)
        items = rec["csv_rows"] if w == "month_extract" else 1
        throughput = items * len(walls) / sum(walls)
    return {"setup_s": median(rec["setup_s"]), "latency_p50_s": latency,
            "throughput_per_s": throughput}


def self_times(spans):
    """Span id -> self time in s: its duration minus the part of it that
    its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                    for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def layer_report(rec):
    """Per traced op: wall, self time by span name, and the remainder (the
    root's own self time). Self times along an op add up to its wall."""
    spans = rec["spans"]
    selfs = self_times(spans)
    report = []
    for root in (s for s in spans if s["name"] == "op"):
        mine = [s for s in spans if s["op"] == root["op"]]
        by_name = {}
        for s in mine:
            if s["id"] != root["id"]:
                by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
        report.append({"op": root["op"], "fn": root["fn"],
                       "wall_s": (root["end_ns"] - root["start_ns"]) / 1e9,
                       "self_s": by_name, "remainder_s": selfs[root["id"]]})
    return report


def per_layer(rec, rss_mb):
    """Per-layer metrics from the spans of the traced ops after the warm-up
    (per traced op), the stream's progress records and the engine-wide
    window (per op). Layers a workload does not call read 0. Returns
    (metrics, month-only metrics, the per-op report, ratio bases)."""
    w = rec["workload"]
    warm = {o["op"] for o in rec["ops"] if o.get("warmup")}
    spans = [s for s in rec["spans"] if s["op"] not in warm]
    roots = [s for s in spans if s["name"] == "op"]
    n_traced = max(1, len(roots))
    ops = rec["ops"]
    n_ops = max(1, len(ops))
    m = {k: 0.0 for k in PER_LAYER}
    month = {}
    base = {}  # ratio -> its numerator and denominator, for the report

    def named(*names):
        return [s for s in spans if s["name"] in names]

    def dur(ss):
        return sum(s["end_ns"] - s["start_ns"] for s in ss) / 1e9

    def per_op(ss, key):
        return sum(s[key] for s in ss) / n_traced

    if w == "dashboard_refresh":
        m["ingest.read_s"] = dur(named("ingest.read")) / n_traced
        m["ingest.read_jobs"] = per_op(named("ingest.read"), "jobs")
        m["ops.construct_s"] = dur(named("ops.construct")) / n_traced
        m["ops.plan_s"] = dur(named("ops.plan")) / n_traced
        m["ops.exec_s"] = dur(named("ops.exec")) / n_traced
        ops_spans = named("ingest.read", "ops.construct", "ops.plan", "ops.exec")
        before = named("ingest.read", "ops.construct", "ops.plan")
        jobs = sum(s["jobs"] for s in ops_spans)
        m["ops.jobs_per_refresh"] = jobs / n_traced
        m["ops.tasks_per_refresh"] = per_op(ops_spans, "tasks")
        m["ops.task_cpu_s_per_refresh"] = per_op(ops_spans, "cpu_ns") / 1e9
        m["ops.shuffle_mb_per_refresh"] = per_op(ops_spans, "shuffle_write") / MB
        m["ops.construction_job_share"] = (sum(s["jobs"] for s in before) / jobs
                                           if jobs else 0.0)
        base["ops.construction_job_share"] = (
            f"{sum(s['jobs'] for s in before)} of {jobs} jobs")
        ext = named("ext.construct", "ext.plan", "ext.exec")
        m["ext.construct_s"] = dur(named("ext.construct")) / n_traced
        m["ext.exec_s"] = dur(named("ext.plan", "ext.exec")) / n_traced
        m["ext.jobs_per_refresh"] = per_op(ext, "jobs")
        m["ext.construct_jobs_per_refresh"] = per_op(named("ext.construct"), "jobs")
        m["ext.shuffle_mb_per_refresh"] = per_op(ext, "shuffle_write") / MB
        m["ext.task_cpu_s_per_refresh"] = per_op(ext, "cpu_ns") / 1e9
        m["ext.cpu_par"] = (sum(s["cpu_ns"] for s in ext) / 1e9 / dur(ext)
                            if ext else 0.0)
        base["ext.cpu_par"] = (f"{sum(s['cpu_ns'] for s in ext) / 1e9:.2f} s task "
                               f"CPU over {dur(ext):.2f} s in ext spans")
    if w == "stream_ingest":
        wh, mv = named("sink.warehouse_batch"), named("sink.mv_merge")
        m["sink.warehouse_batch_s"] = dur(wh) / n_traced
        m["sink.warehouse_batch_jobs"] = per_op(wh, "jobs")
        m["sink.warehouse_files_per_batch"] = median([o["raw_files"] for o in ops])
        m["sink.raw_readback_mb"] = median(
            [o["raw_readback_bytes"] for o in ops]) / MB
        m["sink.checks_pass_ratio"] = sum(o["checks_passed"] for o in ops) / n_ops
        m["sink.mv_merge_s"] = dur(mv) / n_traced
        m["sink.mv_merge_jobs"] = per_op(mv, "jobs")
        m["sink.mv_applied_ratio"] = sum(o["mv_applied"] for o in ops) / n_ops
        base["sink.checks_pass_ratio"] = (
            f"{sum(o['checks_passed'] for o in ops)} of {len(ops)} batches")
        base["sink.mv_applied_ratio"] = (
            f"{sum(o['mv_applied'] for o in ops)} of {len(ops)} batches")
        prog = rec["progress"]
        full = [p for p in prog if p["rows"] > 0]
        # progress counts input rows once per scan of the batch, and a
        # foreachBatch body scans it several times: count the files' events
        m["streaming.batches"] = len(ops)
        m["streaming.rows_per_batch_p50"] = median(
            [sum(rec["file_events"][str(f)] for f in o["files"]) for o in ops])
        m["streaming.add_batch_ms_p50"] = median(
            [p["duration_ms"].get("addBatch", 0) for p in full])
        m["streaming.trigger_overhead_ms_p50"] = median(
            [p["duration_ms"].get("triggerExecution", 0)
             - p["duration_ms"].get("addBatch", 0) for p in full])
        fresh, wait = live_freshness(rec)
        m["streaming.queue_wait_s_p50"] = median(wait)
        m["streaming.source_lag_files_max"] = source_lag_max(rec)
        m["streaming.empty_batch_ratio"] = ((len(prog) - len(full)) / len(prog)
                                            if prog else 0.0)
        base["streaming.empty_batch_ratio"] = (
            f"{len(prog) - len(full)} of {len(prog)} triggers")
        t = tail(fresh)
        if t:
            m["streaming.freshness_tail_s"] = t[0]
            m["streaming.freshness_tail_samples"] = t[2]
        m["gen.offered_events_per_s"] = rec["offered_events_per_s"]
        m["gen.lateness_p99_s"] = percentile(rec["lateness_s"], 99)
    if w == "month_extract":
        ex, env = named("ingest.extract"), named("sink.envelope")
        month = {
            "ingest.extract_s": dur(ex) / n_traced,
            "ingest.extract_jobs": per_op(ex, "jobs"),
            "ingest.extract_input_mb": per_op(ex, "input") / MB,
            "ingest.extract_shuffle_mb": per_op(ex, "shuffle_write") / MB,
            "ingest.extract_spill_mb": per_op(ex, "spill") / MB,
            "ingest.cap_keep_ratio": (sum(o["rows_kept"] for o in ops)
                                      / (rec["csv_rows"] * n_ops)),
            "sink.envelope_s": dur(env) / n_traced,
            "sink.envelope_out_mb": per_op(env, "output") / MB,
        }
    eng = rec["engine"]
    m["spark.jobs"] = eng["jobs"] / n_ops
    m["spark.stages"] = eng["stages"] / n_ops
    m["spark.tasks"] = eng["tasks"] / n_ops
    m["spark.task_cpu_s"] = eng["cpu_ns"] / 1e9 / n_ops
    m["spark.spill_mb"] = eng["spill"] / MB / n_ops
    m["spark.shuffle_write_mb"] = eng["shuffle_write"] / MB / n_ops
    m["spark.cpu_util"] = eng["cpu_ns"] / 1e9 / (eng["wall_s"] * rec["cores"])
    base["spark.cpu_util"] = (f"{eng['cpu_ns'] / 1e9:.2f} s task CPU over "
                              f"{eng['wall_s']:.2f} s x {rec['cores']} cores")
    m["spark.gc_s"] = eng["gc_s"] / n_ops
    m["jvm.rss_peak_mb"] = rss_mb
    m["host.cpu_probe_parallelism"] = min(
        rec["host_start"]["probe_parallelism"],
        rec["host_end"]["probe_parallelism"])
    m["host.loadavg_1m"] = float(rec["host_start"]["loadavg"].split()[0])
    base["host.cpu_probe_parallelism"] = f"of {rec['cores']} probe threads"
    ratios = trace_ratios(measured(rec))
    m["trace.overhead_ratio"] = median(ratios)
    base["trace.overhead_ratio"] = (f"median of {len(ratios)} traced op walls, "
                                    "each over its untraced neighbours' mean")
    report = [r for r in layer_report(rec) if r["op"] not in warm]
    wall = sum(r["wall_s"] for r in report)
    m["trace.remainder_ratio"] = (sum(r["remainder_s"] for r in report) / wall
                                  if wall else 0.0)
    base["trace.remainder_ratio"] = (
        f"{sum(r['remainder_s'] for r in report):.3f} s outside layer spans "
        f"of {wall:.3f} s traced op wall")
    if month:
        base["ingest.cap_keep_ratio"] = (
            f"{sum(o['rows_kept'] for o in ops)} of {rec['csv_rows'] * n_ops} rows")
    return m, month, report, base


def trace_ratios(ops):
    """Each traced op's wall over the mean wall of the untraced ops next to
    it, so a trend in op walls (the JIT still warming) cancels."""
    out = []
    for i, o in enumerate(ops):
        if not o["traced"]:
            continue
        near = [p["wall_s"] for p in ops[max(0, i - 1):i + 2] if not p["traced"]]
        if near:
            out.append(o["wall_s"] / statistics.mean(near))
    return out


def source_lag_max(rec):
    """Most files placed but not yet taken when a batch's trigger starts."""
    placed = {int(k): v for k, v in rec["file_placed_us"].items()}
    taken = {int(k): v for k, v in rec["file_batch"].items()}
    lag = 0
    for p in rec["progress"]:
        if p["rows"] == 0:
            continue
        n = sum(1 for f, t in placed.items()
                if t <= p["start_us"] and taken.get(f, 1 << 62) >= p["batch"])
        lag = max(lag, n)
    return lag


# ---------------------------------------------------------------------- main

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF),
                    help="testdata directory (default: the sf0.1 set)")
    ap.add_argument("--mutate", type=int, choices=(0, 1), default=0,
                    help="inject a wrong result (for the mutation test)")
    return ap.parse_args(argv)


def main(argv):
    a = parse_args(argv)
    missing = [p for p in (os.path.join(ROOT, "build.sbt"),
                           os.path.join(ROOT, "src", "main", "scala"),
                           os.path.join(ROOT, "tools", "oracle_check.py"),
                           os.path.join(a.sf, "events.parquet"))
               if not os.path.exists(p)]
    if missing:
        log(f"[perfbench] missing: {', '.join(missing)}")
        return 2
    cp, jsa = build()
    work = os.path.join(WORK_DIR, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    cores = cpus()
    jvm_args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--sf", os.path.abspath(a.sf), "--work", work,
                "--cores", str(cores), "--out", result,
                "--mutate", str(a.mutate)]
    setup_walls = setups(a.workload, a.sf, work, a.seed, a.seconds)
    t0 = time.time()
    code, rss_mb = run_jvm(cp, jsa, jvm_args, work, JVM_LIMIT_S)
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-6000:])
        log(f"[perfbench] benchmark JVM failed (exit {code})")
        return 1
    with open(result) as f:
        rec = json.load(f)
    if setup_walls:
        rec["setup_s"] = setup_walls
    bad = oracle_failures(a.sf, rec.get("outputs", []), work)
    ops = rec["ops"]
    failed = len(ops) if bad else sum(1 for o in ops if not o["ok"])
    attempted = len(ops)
    print(f"workload {a.workload} seed {a.seed} cores {cores} "
          f"jvm_wall_s {time.time() - t0:.1f} session_s {rec['session_s']:.2f}")
    hs, he = rec["host_start"], rec["host_end"]
    print(f"host loadavg_start {hs['loadavg']!r} loadavg_end {he['loadavg']!r} "
          f"probe_parallelism {hs['probe_parallelism']:.2f}/"
          f"{he['probe_parallelism']:.2f} of {cores}")
    print(f"error_rate {failed / attempted:.4f} ratio ({failed} of {attempted} ops)"
          + (f" oracle_fail {sorted(bad)}" if bad else ""))
    print("phases_s " + " ".join(f"{k}={v:.2f}" for k, v in
                                 rec["phases_s"].items()))
    print("op_walls_s " + " ".join(f"{o['wall_s']:.2f}" + ("w" if o.get("warmup")
                                                             else "")
                                   for o in ops))
    for k, v in rec.get("checks", {}).items():
        print(f"check {k} {v}")
    for k, (v, unit) in named_metrics(rec).items():
        print(f"{k} {v:.6g} {unit}")
    if a.trace:
        metrics, month, report, base = per_layer(rec, rss_mb)
        units = PER_LAYER
        os.makedirs(OUT_DIR, exist_ok=True)
        trace_file = os.path.join(OUT_DIR, f"{a.workload}-seed{a.seed}-trace.json")
        with open(trace_file, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "spans": rec["spans"], "ops": report,
                       "metrics": {**metrics, **month}}, f)
        # each traced op's wall = the self times along it + the remainder
        for r in report:
            parts = " ".join(f"{k}={v:.3f}" for k, v in sorted(r["self_s"].items()))
            print(f"op {r['op']} wall_s {r['wall_s']:.3f} = {parts} "
                  f"remainder={r['remainder_s']:.3f}")
        for k, v in month.items():
            print(f"{k} {v:.6g} {MONTH_LAYER[k]}"
                  + (f" ({base[k]})" if k in base else ""))
        print(f"trace written to {os.path.relpath(trace_file, ROOT)}")
    else:
        metrics, base = end_to_end(rec), {}
        units = END_TO_END
    for k in units:
        print(f"{k} {metrics[k]:.6g} {units[k]}"
              + (f" ({base[k]})" if k in base else ""))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


def named_metrics(rec):
    """The workload's end-to-end figures under their own names, with the
    tail and its sample count where the run has enough samples."""
    w = rec["workload"]
    e = end_to_end(rec)
    out = {"setup_s": (e["setup_s"], "s")}
    if w == "stream_ingest":
        out["catchup_events_per_s"] = (e["throughput_per_s"], "events/s")
        out["freshness_p50_s"] = (e["latency_p50_s"], "s")
        samples = live_freshness(rec)[0]
        name = "freshness"
    else:
        unit = "rows/s" if w == "month_extract" else "refreshes/s"
        name = "month" if w == "month_extract" else "refresh"
        out[f"{name}_per_s"] = (e["throughput_per_s"], unit)
        out[f"{name}_p50_s"] = (e["latency_p50_s"], "s")
        samples = [o["wall_s"] for o in measured(rec)]
    t = tail(samples)
    out[f"{name}_tail_s"] = ((t[0], f"s (p{t[1]:.1f} of {t[2]} samples)") if t
                             else (float("nan"), f"s (only {len(samples)} samples)"))
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
