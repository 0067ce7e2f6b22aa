#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload <dashboard|analytics>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine together
with the harness (sbt, offline) into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the build while the sources are
unchanged. Both workloads read the project's standard sf0.01 test
fixture, kept in perfbench/fixture/sf0.01 (SHA256SUMS lists its files).
Each run works in its own fresh directory under the build dir (Spark
scratch root, local dir, stream and checkpoint dirs) and deletes it at
exit.

Workloads (see BENCHMARK.json):
  dashboard  closed loop, 1 client: back-to-back Dashboard index refreshes
  analytics  closed loop, 1 client: passes over a 5-query operator mix

--trace 0 prints the end-to-end metrics. --trace 1 prints the per-layer
metrics: listeners are registered on every other op, and the difference
between those ops and the others is the tracing overhead. Every run
times its set-up layers (Catalog open; for analytics, the index prewarm
of each module the mix reads) and runs untimed warm-up ops before the
timed window. Traced runs also time each dashboard section alone, and a
traced dashboard run ends with an ingest segment: seeded JSON event files dropped at Poisson
arrivals into Streams.ingest (1 s trigger, parquet sink), measured from
each file's scheduled drop to the commit of the batch that read it.
The last stdout line is the result JSON; the line before it stamps the
run (cores, seed, commit, load average, failures). The exit code is
non-zero when an output check or an op fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.getcwd()
WORKLOADS = ("dashboard", "analytics")
# the standard test fixture at sf0.01 (60,000 lineitem rows, 10,000 events);
# the recorded reference checksums depend on it
FIXTURE_DIR = os.path.join(HERE, "fixture", "sf0.01")
RUN_TIMEOUT_S = 170  # the harness JVM's limit
BUILD_TIMEOUT_S = 780
FIRST_RUN_LIMIT_S = 880


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """The Spark installation the engine compiles and runs against."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark installation")
    return home


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def source_files():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) "
                         "not found; run from the repository root")
    files = glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_build(bdir, digest):
    """Compile engine + harness with sbt unless this digest is built."""
    stamp = os.path.join(bdir, "build.stamp")
    classes = os.path.join(bdir, "sbt", "scala-2.13", "classes")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home(),
               PERFBENCH_TARGET=os.path.join(bdir, "sbt"))
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine + harness (sbt compile)")
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        raise SystemExit(f"perfbench: build failed (rc={r.returncode})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def check_fixture():
    """The fixture files, byte for byte as SHA256SUMS lists them."""
    with open(os.path.join(FIXTURE_DIR, "SHA256SUMS")) as f:
        for line in f:
            want, name = line.split()
            with open(os.path.join(FIXTURE_DIR, name), "rb") as fh:
                if hashlib.sha256(fh.read()).hexdigest() != want:
                    raise SystemExit(f"perfbench: fixture file {name} differs "
                                     "from SHA256SUMS")
    return FIXTURE_DIR


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_jiffies():
    """(total, steal) CPU time of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def java_cmd(classes, run_dir, args, main="graft.perfbench.Harness"):
    cp = ":".join([classes] + sorted(glob.glob(os.path.join(spark_home(), "jars", "*.jar"))))
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    d = lambda *p: os.path.join(run_dir, *p)  # noqa: E731
    props = [
        "-Xmx3g", "-XX:+UseParallelGC",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.graft.scratch={d('scratch')}",
        f"-Dspark.local.dir={d('local')}",
        f"-Dspark.sql.warehouse.dir={d('warehouse')}",
        f"-Djava.io.tmpdir={d('tmp')}", f"-Dderby.system.home={d('derby')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
    ]
    return ["java"] + opens + props + ["-cp", cp, main] + args


def run_jvm(cmd, run_dir, timeout):
    """Run the harness JVM in its own process group; kill the group on
    timeout or interrupt, and always wait for it to end."""
    err_path = os.path.join(run_dir, "harness.stderr")
    with open(err_path, "wb") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=err, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if rc != 0:
        with open(err_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
    return rc


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------
DASHBOARD_SECTIONS = (
    "slowQueries", "idleSessions", "blockedSessions", "activeUsers",
    "totalSessions", "connectionLoad", "cacheHitRatio",
    "transactionsPerSecond", "topResourceConsumers", "tableSizes",
    "backupDelta", "usersWithRoles", "latencyBands", "ohlcBars")
ANALYTICS_MIX = ("k4_hits", "b15_maxscore", "j11_interval_join", "m6_cdc_dedup",
                 "x20_keywords")
PREWARM_MODULES = ("Search", "Multimodal", "Graph", "TextOps")
SPARK_COUNTERS = (
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.task_s", "s"), ("spark.job_gap_s", "s"), ("spark.core_util", "ratio"),
    ("spark.shuffle_write_mb", "MB"), ("spark.shuffle_read_mb", "MB"),
    ("spark.input_mb", "MB"), ("jvm.gc_s", "s"), ("catalog.schema_jobs", "count"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
    ("plan.planning_ms", "ms"))


def per_layer_spec():
    """Every per-layer metric as (name, unit), in BENCHMARK.json order."""
    spec = [("dashboard.build_s", "s")]
    spec += [(f"dashboard.section.{s}_s", "s") for s in DASHBOARD_SECTIONS]
    spec += list(SPARK_COUNTERS)
    for q in ANALYTICS_MIX:
        spec += [(f"analytics.{q}_s", "s"), (f"analytics.{q}.jobs", "count"),
                 (f"analytics.{q}.shuffle_write_mb", "MB")]
    spec += [("catalog.open_s", "s")]
    spec += [(f"scratch.prewarm.{m}_s", "s") for m in PREWARM_MODULES]
    spec += [("scratch.artifact_mb", "MB")]
    spec += [("ingest.freshness_p50_s", "s"), ("ingest.freshness_p90_s", "s"),
             ("ingest.batch_ms_p50", "ms"), ("ingest.add_batch_ms_p50", "ms"),
             ("ingest.latest_offset_ms_p50", "ms"),
             ("ingest.query_planning_ms_p50", "ms"),
             ("ingest.wal_commit_ms_p50", "ms"),
             ("ingest.trigger_wait_s_p50", "s"), ("ingest.batches", "count"),
             ("ingest.rows_per_batch_p50", "count"),
             ("ingest.backlog_files_max", "count"),
             ("ingest.generator_late_ms_max", "ms")]
    spec += [("box.calibration_s", "s"), ("box.loadavg_1m", "load"),
             ("trace.overhead_pct", "%")]
    return spec


# the median op, not a tail: a run holds 3-11 ops, too few to have ten
# beyond any upper percentile
END_TO_END = (("op_latency_p50_s", "s"), ("setup_s", "s"), ("peak_rss_mb", "MB"))


def ingest_layers(raw):
    """Per-layer metrics of the traced ingest segment: freshness per timed
    file (scheduled drop to the commit of the batch that read it) and the
    progress of the batches that carried those files."""
    if "drops" not in raw["extra"]:
        return {}, ["ingest: the segment did not run"]
    drops = raw["extra"]["drops"]
    fb = stats.file_batches(os.path.join(raw["extra"]["checkpoint"], "sources", "0"))
    commits = stats.batch_commits(raw["extra"]["progress"])
    rows = stats.freshness(drops, fb, commits)
    problems = [f"ingest: dropped file {r[0]['file']} never committed"
                for r in rows if r[2] is None]
    timed = [r for r in rows if r[0]["timed"] and r[2] is not None]
    if not timed:
        return {}, problems + ["ingest: no timed file committed"]
    prog = [commits[b][1] for b in sorted({r[1] for r in timed})]
    dur = lambda key: stats.median([p["durationMs"].get(key, 0) for p in prog])  # noqa: E731
    fresh = [r[2] for r in timed]
    waits = [r[2] - commits[r[1]][1]["durationMs"]["triggerExecution"] / 1e3
             for r in timed]
    # files on disk but not yet visible, counted at each drop
    visible = {r[0]["file"]: commits[r[1]][0] for r in rows if r[2] is not None}
    backlog = max(sum(1 for e in drops if e["actual_ms"] <= d["actual_ms"]
                      < visible.get(e["file"], float("inf")))
                  for d in drops)
    return {
        "ingest.freshness_p50_s": stats.median(fresh),
        "ingest.freshness_p90_s": stats.percentile(fresh, 90),
        "ingest.batch_ms_p50": dur("triggerExecution"),
        "ingest.add_batch_ms_p50": dur("addBatch"),
        "ingest.latest_offset_ms_p50": dur("latestOffset"),
        "ingest.query_planning_ms_p50": dur("queryPlanning"),
        "ingest.wal_commit_ms_p50": dur("walCommit"),
        "ingest.trigger_wait_s_p50": stats.median(waits),
        "ingest.batches": float(len(prog)),
        "ingest.rows_per_batch_p50": stats.median([p["numInputRows"] for p in prog]),
        "ingest.backlog_files_max": float(backlog),
        "ingest.generator_late_ms_max": float(max(
            d["actual_ms"] - d["due_ms"] for d in drops if d["timed"])),
    }, problems


def compute(workload, raw, trace):
    """Metrics {name: value} of one run, and the problems found on the way
    (counted as failed ops)."""
    s = raw["samples"]
    ops = s.get("op_s", [])
    if not ops:
        return {}, [f"{workload}: no successful timed op"]
    if not trace:
        return {
            "op_latency_p50_s": stats.median(ops),
            "setup_s": raw["setup_s"],
            "peak_rss_mb": raw["peak_rss_mb"],
        }, []

    problems = []
    m = dict(raw["layers"])
    for k, v in s.items():  # layers timed once or a few times per run
        if k.startswith(("catalog.", "dashboard.", "scratch.")):
            m[k] = stats.median(v)
    if workload == "dashboard":
        # per refresh: the median over the traced refreshes
        for k, _ in SPARK_COUNTERS:
            m[k] = stats.median(s[k]) if s.get(k) else 0.0
        if s.get("op_traced_s"):
            m["trace.overhead_pct"] = 100 * (
                stats.median(s["op_traced_s"]) / stats.median(ops) - 1)
        layers, problems = ingest_layers(raw)
        m.update(layers)
    else:
        traced = [q for q in ANALYTICS_MIX if s.get(f"analytics.{q}_s")]
        for q in traced:
            m[f"analytics.{q}_s"] = stats.median(s[f"analytics.{q}_s"])
            m[f"analytics.{q}.jobs"] = stats.median(s[f"spark.jobs@{q}"])
            m[f"analytics.{q}.shuffle_write_mb"] = stats.median(
                s[f"spark.shuffle_write_mb@{q}"])
        # per pass: each query's median traced execution, summed over the mix
        for k, _ in SPARK_COUNTERS:
            m[k] = sum(stats.median(s[f"{k}@{q}"]) for q in traced)
        pass_s = sum(m[f"analytics.{q}_s"] for q in traced)
        if pass_s > 0:
            m["spark.core_util"] = m["spark.task_s"] / (pass_s * raw["cores"])
        both = [q for q in traced if s.get(f"untraced.{q}")]
        if both:
            m["trace.overhead_pct"] = 100 * (
                sum(m[f"analytics.{q}_s"] for q in both) /
                sum(stats.median(s[f"untraced.{q}"]) for q in both) - 1)
    return m, problems


def record_reference(workload, raw):
    path = os.path.join(HERE, "reference.json")
    ref = json.load(open(path)) if os.path.exists(path) else {}
    ref[workload] = {k[len("observed_"):]: v for k, v in raw["extra"].items()
                     if k.startswith("observed_")}
    with open(path, "w") as f:
        json.dump(ref, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"recorded the {workload} reference in {path}")


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, timeout=10,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
        return r.stdout.decode().strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    # a terminated run still stops its JVM and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's output checksums as the reference "
                         "(after a fixture or intended output change)")
    a = ap.parse_args()

    started = time.monotonic()
    files = source_files()
    digest = source_digest(files)
    bdir = build_dir()
    classes = ensure_build(bdir, digest)
    fixture_dir = check_fixture()

    load_before = loadavg()
    jiffies_before = cpu_jiffies()
    run_dir = os.path.join(bdir, "runs", f"{a.workload}-{os.getpid()}-{int(time.time())}")
    for sub in ("scratch", "local", "warehouse", "tmp", "derby"):
        os.makedirs(os.path.join(run_dir, sub))
    raw_path = os.path.join(run_dir, "raw.json")
    try:
        cmd = java_cmd(classes, run_dir, [
            a.workload, str(a.seed), str(a.seconds), str(a.trace), fixture_dir,
            run_dir, raw_path, os.path.join(HERE, "reference.json")])
        # a run that built may take FIRST_RUN_LIMIT_S in all
        jvm_start = time.monotonic()
        rc = run_jvm(cmd, run_dir, min(RUN_TIMEOUT_S,
                                       FIRST_RUN_LIMIT_S - (time.monotonic() - started)))
        jvm_s = time.monotonic() - jvm_start
        if rc != 0 or not os.path.exists(raw_path):
            raise SystemExit(f"perfbench: harness exited with rc={rc}")
        with open(raw_path) as f:
            raw = json.load(f)
        metrics, problems = compute(a.workload, raw, a.trace == 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_after = loadavg()
    total, steal = (now - then for now, then in zip(cpu_jiffies(), jiffies_before))

    if a.record:
        record_reference(a.workload, raw)
    failures = [f"{f['op']}: {f['error']}" for f in raw["failures"]] + problems
    bad_checks = [f"{c['name']}: {c['detail']}" for c in raw["checks"] if not c["ok"]]
    attempted = max(1, int(raw["attempted"]))
    failed = min(attempted, len(failures))
    if a.trace:
        metrics["box.loadavg_1m"] = load_after
        spec = per_layer_spec()
    else:
        spec = END_TO_END
    correct = not bad_checks and not failures and bool(raw["checks"])
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": os.cpu_count(), "cores_used": raw["cores"],
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "commit": git_commit(), "source_sha256": digest,
        "loadavg_before": load_before, "loadavg_after": load_after,
        # CPU time the hypervisor gave to other guests during the run
        "steal_pct": 100 * steal / max(1, total),
        "error_rate": failed / attempted,
        "trace_overhead_pct": metrics.get("trace.overhead_pct") if a.trace else None,
        "setup_phases_s": dict(raw["phases"]), "jvm_wall_s": jvm_s,
        "warmup_op_s": raw["samples"].get("warmup_op_s", []),
        "op_s": raw["samples"].get("op_s", []),
        "checks": len(raw["checks"]), "failed_checks": bad_checks,
        "failures": failures,
    }
    print(json.dumps({"stamp": stamp}))
    result = {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
                    for name, unit in spec},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
