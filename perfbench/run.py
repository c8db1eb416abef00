#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline) into the build directory
($CARGO_TARGET_DIR, else .bench_build); later runs reuse that build
while the sources are unchanged. Each run is a fresh JVM with
SPARK_GRAFT_CPUS set to the usable CPU count and every other
SPARK_GRAFT_* setting at its default.

Each workload's window is a fixed amount of work (one pass of the
query core, the whole order backlog, a fixed number of admission
batches), so runs of one workload are comparable; --seconds is
recorded in the metadata and does not change the window.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). The line before it holds the run's
metadata; the full artifact (metadata, every operation, spans and
per-query counters) is written under <build dir>/results/.
"""
import argparse
import fcntl
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
WORKLOADS = ["batch_suites", "orders_stream", "doc_admission",
             "warehouse_sql_full", "curation_staged_full"]
# A run must end within this many seconds, the build excepted.
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().strip()
    except OSError:
        return None


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir, digest):
    """Compiles engine + harness once per source digest, under a lock
    so concurrent runs in one checkout build once; returns the runtime
    classpath."""
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked(build_dir, digest)


def build_locked(build_dir, digest):
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = os.path.join(build_dir, "classpath.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as f2:
                    return f2.read().strip()
    env = dict(os.environ, PERFBENCH_BUILD=build_dir)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspathAsJars"]
    print(f"perfbench: building in {build_dir}", file=sys.stderr)
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    # Dump a class-data-sharing archive of the classes a run loads.
    archive = os.path.join(build_dir, "classes.jsa")
    work = os.path.join(build_dir, "work", "class-training")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t = subprocess.run(java_cmd(cp, work, [f"-XX:ArchiveClassesAtExit={archive}"]) +
                       ["perfbench.ClassTraining", work],
                       cwd=work, env=run_env(work), stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    shutil.rmtree(work, ignore_errors=True)
    if t.returncode != 0 or not os.path.exists(archive):
        sys.stderr.write(t.stdout[-4000:])
        fail("class-data archive run failed")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def run_env(work):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def java_cmd(cp, work, extra=()):
    return (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
            [f"-Xmx{HEAP}", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
             f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
             f"-Dderby.stream.error.file={work}/derby.log"] + list(extra) + ["-cp", cp])


def git_commit():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft; run from a full checkout")
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    declared = spec["per_layer" if a.trace else "end_to_end"]

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    digest = source_digest()
    cp = build(build_dir, digest)

    ncpu = len(os.sched_getaffinity(0))
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    results = os.path.join(build_dir, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    name = f"{stamp}-{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    out = os.path.join(results, name + ".json")
    log = os.path.join(results, name + ".log")

    env = run_env(work)
    archive = os.path.join(build_dir, "classes.jsa")
    cmd = (java_cmd(cp, work, [f"-XX:SharedArchiveFile={archive}"]) +
           ["perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
            "--work", work, "--bench-dir", HERE, "--out", out])
    load_start = loadavg()
    launched = time.time()
    cmd += ["--launched-ms", str(int(launched * 1000))]
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    run_s = time.time() - launched
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        fail(f"{a.workload} run {'timed out' if rc is None else f'exited with {rc}'}; log: {log}")

    with open(out) as f:
        art = json.load(f)
    meta = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": ncpu, "loadavg_start": load_start, "loadavg_end": loadavg(),
        "jvm": art["jvm"], "spark": art["spark"], "git_commit": git_commit(),
        "source_sha256": digest, "run_s": round(run_s, 3), "artifact": out,
    }
    art["meta"] = meta
    with open(out, "w") as f:
        json.dump(art, f)
    got = art["per_layer" if a.trace else "end_to_end"]
    metrics = {}
    for m in declared:
        if m["name"] in got:
            value = got[m["name"]]
        elif a.trace:
            value = 0.0  # a layer this workload does not run
        else:
            fail(f"{a.workload} did not report {m['name']}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    if art["failures"]:
        sys.stderr.write("".join(f"perfbench: check failed: {x}\n" for x in art["failures"][:20]))
    print(json.dumps({"meta": meta}))
    print(json.dumps({"correct": art["failed"] == 0, "attempted": art["attempted"],
                      "failed": art["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
