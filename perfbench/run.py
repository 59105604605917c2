#!/usr/bin/env python3
"""Graft benchmark: two single-client closed-loop workloads on local[4].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
and this harness with sbt (offline) into $CARGO_TARGET_DIR (default
`.bench_build`); later runs reuse the build while the sources are
unchanged. Each run:

  1. generates its inputs from the seed (perfbench/gen.py) into a fresh
     work directory, which also holds the run's warehouse, checkpoints and
     Spark scratch space, and is deleted at the end;
  2. starts one JVM that sets up (session, warm-up passes until rounds
     are steady; interactive-sql's cold pass also writes every query
     output for the check), then times a fixed number of rounds: --seconds
     divided by the workload's nominal round length, at least one;
  3. checks the outputs: query results against the engine's DuckDB
     oracles, the streamed npm fold against its batch form (in the JVM);
  4. prints a full report line, then the result as the last line:
     {"correct", "attempted", "failed", "metrics"}.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
first half of the rounds runs untraced and the second half with Spark,
Catalyst and streaming listeners attached, and the metrics are the
per-layer ones (per traced round). The full report of every run, with the
box stamp, sample counts, oracle checks and (traced) spans, is kept in
$CARGO_TARGET_DIR/reports/.
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
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

# sf: scale factor of the generated tables; npm: names in the gz file.
WORKLOADS = {
    "npm-stream": {"sf": None, "npm": 20_000},
    "interactive-sql": {"sf": 0.01, "npm": 0},
}
CORES = 4
HEAP = "3g"
# The JVM is stopped only when it hangs: after this much set-up time plus
# four times --seconds, the latter doubled for a traced run (untraced
# rounds, then traced rounds and the one-shot layer calls).
SETUP_ALLOWANCE_S = 150

END_TO_END = [("setup_s", "s"), ("round_s", "s"), ("latency_p50_ms", "ms"),
              ("latency_p95_ms", "ms"), ("items_per_s", "1/s"), ("peak_rss_mb", "MB")]

# per traced round, except the one-shot layer calls (see the report's spans)
PER_LAYER_UNITS = {
    "catalyst.analysis_ms": "ms", "catalyst.optimizer_ms": "ms", "catalyst.physical_ms": "ms",
    "query.build_ms": "ms",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.delay_ms": "ms", "scheduler.jobs_q77": "count", "scheduler.jobs_q89": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.busy_ratio": "ratio", "exec.stage_skew": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms", "spill.disk_bytes": "bytes",
    "scan.bytes": "bytes", "scan.rows": "count",
    "microbatch.offset_ms": "ms", "microbatch.plan_ms": "ms", "microbatch.exec_ms": "ms",
    "microbatch.wal_commit_ms": "ms", "microbatch.offset_commit_ms": "ms",
    "state.rows_total": "count", "state.memory_bytes": "bytes", "state.commit_ms": "ms",
    "sources.lines_decoded": "count", "sources.useful_ratio": "ratio",
    "registry.fetches": "count", "registry.hit_ratio": "ratio", "registry.enrich_ms": "ms",
    "npm_pipeline.counts_ms": "ms", "npm_pipeline.accumulate_ms": "ms",
    "dedup.minhash_lsh_s": "s", "dedup.resolve_clusters_s": "s", "corpus_ops.decontaminate_s": "s",
    "dedup_index.build_s": "s", "dedup_index.bytes_written": "bytes",
    "plan.bnlj": "count", "plan.cartesian": "count", "plan.single_partition": "count",
    "trace.overhead_ratio": "ratio",
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_digest(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir, digest):
    """Compile engine + harness; return the runtime classpath."""
    stamp = os.path.join(build_dir, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("digest") == digest:
            return got["classpath"]
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name the Spark 4.1 install to compile against", 3)
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", CARGO_TARGET_DIR=build_dir)
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build_dir, "sbt.log")
    with open(log, "w") as fh:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    with open(log) as fh:
        lines = fh.read().splitlines()
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); log in {log}", 3)
    cp = [l for l in lines if l.count(".jar") > 5 and not l.startswith("[")]
    if not cp:
        fail(f"build printed no classpath; log in {log}", 3)
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1]}, fh)
    return cp[-1]


def cpu_times():
    """Jiffies per state from /proc/stat (user, nice, system, idle, iowait,
    irq, softirq, steal, ...); empty where it is not readable."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return []


def rmtree(path):
    shutil.rmtree(path, ignore_errors=True)


def run_jvm(cmd, log_path, deadline):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft is missing)")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    digest = source_digest(root)
    classpath = build(root, build_dir, digest)

    import gen
    import oracle

    # set-up starts here: input generation, JVM start, warm-up, index builds
    t0 = time.time()
    cfg = WORKLOADS[a.workload]
    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    rmtree(work)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "out"))
    if cfg["sf"]:
        gen.generate(data, a.seed, cfg["sf"])
    names = ""
    if cfg["npm"]:
        names = os.path.join(work, "packages.txt.gz")
        gen.npm_names(names, a.seed, cfg["npm"])
    report_path = os.path.join(work, "report.json")
    # a fixed-size heap: a growing one adds collections to early rounds only
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", *ADD_OPENS,
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work, "--names", names,
            "--report", report_path, "--start-epoch-ms", str(int(t0 * 1000)),
            "--cores", str(CORES)])
    jvm_log = os.path.join(work, "jvm.log")
    cpu0 = cpu_times()
    try:
        rc = run_jvm(cmd, jvm_log, t0 + SETUP_ALLOWANCE_S + 4 * a.seconds * (1 + a.trace))
        if rc != 0 or not os.path.exists(report_path):
            with open(jvm_log, errors="replace") as fh:
                sys.stderr.write("".join(fh.readlines()[-60:]))
            fail("the benchmark JVM " + ("timed out" if rc is None else f"exited {rc}"), 4)
        with open(report_path) as fh:
            rep = json.load(fh)
        checks = oracle.check(data, os.path.join(work, "out")) if cfg["sf"] else []
    finally:
        rmtree(work)

    wrong_sql = sum(1 for c in checks if not c["ok"])
    wrong = rep["wrong_jvm"] + wrong_sql
    attempted, failed = rep["attempted"], rep["failed"]
    e2e = rep["end_to_end"]
    rep["checks"] = checks
    rep["box"]["source_sha256"] = digest
    rep["box"]["git_sha"] = git_sha(root)
    rep["box"]["scale_factor"] = cfg["sf"]
    # CPU time the hypervisor gave to other guests while the JVM ran: a
    # shared host slows every figure of a run together
    spent = [b - a for a, b in zip(cpu0, cpu_times())]
    if len(spent) > 7 and sum(spent):
        rep["box"]["cpu_steal_share"] = spent[7] / sum(spent)

    full = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    full["latency_p50_ms"]["samples"] = full["latency_p95_ms"]["samples"] = rep["samples"]["latency"]
    full["round_s"]["samples"] = rep["samples"]["rounds"]
    full["failed_ratio"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    full["wrong_results"] = {"value": wrong, "unit": "count"}
    if a.workload == "npm-stream":
        full["lines_per_s"] = {"value": e2e["items_per_s"], "unit": "1/s"}
    os.makedirs(os.path.join(build_dir, "reports"), exist_ok=True)
    keep = os.path.join(build_dir, "reports", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(keep, "w") as fh:
        json.dump(rep, fh)
    for c in checks:
        if not c["ok"]:
            print(f"perfbench: WRONG {c['key']}: {c['detail']}", file=sys.stderr)
    for p in rep["problems"]:
        print(f"perfbench: {p}", file=sys.stderr)

    if a.trace:
        # a layer the workload does not reach reads 0
        metrics = {k: {"value": rep["per_layer"].get(k, 0.0), "unit": unit}
                   for k, unit in PER_LAYER_UNITS.items()}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END}
    bad = [k for k, m in metrics.items() if m["value"] is None]
    if bad:
        fail(f"no measurement for {bad}; see {keep}", 5)
    print("perfbench report " + json.dumps({
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "end_to_end": full,
        "box": rep["box"], "report_file": os.path.relpath(keep, root)}))
    print(json.dumps({"correct": wrong == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))




def git_sha(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.check_output(["git", "rev-parse", "HEAD"], cwd=root,
                                       stderr=subprocess.DEVNULL, text=True).strip()
    except (OSError, subprocess.CalledProcessError):
        return None


if __name__ == "__main__":
    main()
