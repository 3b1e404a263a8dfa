#!/usr/bin/env python3
"""Benchmark of the weather ETL: ingest pipeline, query suite and SQL gateway.

Usage (from the repository root):

    python3 perfbench/run.py --workload ingest|suite|gateway --seed N \
        --seconds S --trace 0|1 [--size full|tiny] [--plant FAULT] [--cores N]

Each run compiles the program from the working tree (`src/main/scala`)
together with the benchmark's JVM half (`perfbench/src`) when their sources
changed since the last build, starts one JVM that generates the inputs from
the seed, sets up, measures for `--seconds` seconds, checks the outputs and
writes a record. This script then adds the suite's DuckDB oracle check,
verifies that the working tree is unchanged and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` they are the per-layer metrics. Everything a run writes
lands under `perfbench/.work/` (the run directory) and `perfbench/.build/`
(compiled classes), both ignored by git.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")


def spark_jars():
    """The jar directory the program compiles against: `$SPARK_HOME/jars`,
    else build.sbt's `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME or name unmanagedBase in build.sbt")
    return m.group(1)

RUN_LIMIT_S = 170          # a run must end within 180 s (build excluded)
BUILD_LIMIT_S = 800
WORKLOADS = ("ingest", "gateway", "suite")
# A fixed, fully committed heap with a fixed young generation keeps the
# resident set (peak_rss_mb) from following GC timing.
HEAP = "3g"

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog, bench


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(jars):
    """Compile program + benchmark sources with the Scala compiler that ships
    in the Spark distribution; reuse the classes while no source changed."""
    prog, bench = sources()
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    if not bench:
        raise SystemExit("perfbench: no benchmark sources under perfbench/src")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Scala compiler in {jars}")
    key = source_hash(prog + bench)
    out = os.path.join(BUILD, key)
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        classes = os.path.join(out, "classes")
        if os.path.exists(os.path.join(out, "OK")):
            return classes
        for old in glob.glob(os.path.join(BUILD, "*")):
            if os.path.isdir(old):
                shutil.rmtree(old, ignore_errors=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(prog + bench) + "\n")
        t0 = time.time()
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", classes,
               "-classpath", os.path.join(jars, "*"), "@" + argfile]
        log(f"compiling {len(prog)} program + {len(bench)} benchmark sources")
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-6000:])
            shutil.rmtree(out, ignore_errors=True)
            raise SystemExit("perfbench: compilation failed")
        with open(os.path.join(out, "OK"), "w") as fh:
            fh.write(f"{time.time() - t0:.1f}\n")
        log(f"compiled in {time.time() - t0:.1f} s")
        return classes


def tree_state():
    """What `git status --porcelain` reports, or — in a checkout that is not
    a git repository — a listing of every file outside the benchmark's own
    output directories."""
    try:
        r = subprocess.run(["git", "status", "--porcelain", "--untracked-files=all"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           timeout=60)
        if r.returncode == 0:
            return ("git", r.stdout.decode(errors="replace"))
    except (OSError, subprocess.TimeoutExpired):
        pass
    skip = {os.path.realpath(WORK), os.path.realpath(BUILD)}
    listing = []
    for d, dirs, files in os.walk(ROOT):
        dirs[:] = [x for x in dirs if os.path.realpath(os.path.join(d, x)) not in skip]
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.lstat(p)
            except OSError:
                continue
            listing.append(f"{os.path.relpath(p, ROOT)} {st.st_size} {st.st_mtime_ns}")
    return ("listing", "\n".join(sorted(listing)))


def java_procs():
    """Live java processes that are not this process or one of its ancestors."""
    def ppid(pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                return fh.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            return None
    anc, p = set(), str(os.getpid())
    while p and p != "0" and len(anc) < 64:
        anc.add(p)
        p = ppid(p)
    n = 0
    for d in os.listdir("/proc"):
        if d.isdigit() and d not in anc:
            try:
                with open(f"/proc/{d}/comm") as fh:
                    n += fh.read().strip() == "java"
            except OSError:
                pass
    return n


def load1():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except (OSError, ValueError):
        return -1.0


def cpu_times():
    """(steal, total) jiffies of the whole machine: under a hypervisor the
    time other tenants took from this machine's CPUs shows as steal."""
    try:
        with open("/proc/stat") as fh:
            v = [int(x) for x in fh.readline().split()[1:9]]
        return v[7], sum(v)
    except (OSError, ValueError, IndexError):
        return 0, 0


def oracle_check(run_dir):
    """Compare the suite's Spark outputs with DuckDB under the repository's
    oracle rules (tools/oracle_check.py). Returns (ok, detail)."""
    tool = os.path.join(ROOT, "tools", "oracle_check.py")
    out = os.path.join(run_dir, "suite_out")
    if not os.path.exists(os.path.join(out, "oracle_sql.json")):
        return False, "no suite outputs to check"
    r = subprocess.run([sys.executable, tool, os.path.join(run_dir, "fixture"), out],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=150)
    text = r.stdout.decode(errors="replace")
    with open(os.path.join(run_dir, "oracle_check.log"), "w") as fh:
        fh.write(text)
    bad = [ln for ln in text.splitlines() if ln.startswith("[") and not ln.startswith("[PASS]")
           and not ln.startswith("[TYPE]")]
    return r.returncode == 0 and not bad, (bad[:5] or text.splitlines()[-1:])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant", default="")
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 1)
    a = ap.parse_args()
    if a.seconds < 1:
        raise SystemExit("perfbench: --seconds must be at least 1")

    before = tree_state()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    jars = spark_jars()
    classes = build(jars)
    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    env_start = {"jvms": java_procs(), "load1": load1(), "cpu": cpu_times()}
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xmn1g", "-XX:+UseG1GC", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              f"-Dderby.system.home={run_dir}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--size", a.size, "--cores", str(a.cores),
              "--work", run_dir, "--plant", a.plant])
    t0 = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "wb") as jlog:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=jlog, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: JVM exceeded {RUN_LIMIT_S} s; see {run_dir}/jvm.log")
    rec_path = os.path.join(run_dir, "record.json")
    if rc != 0 or not os.path.exists(rec_path):
        with open(os.path.join(run_dir, "jvm.log"), errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(rec_path) as fh:
        rec = json.load(fh)
    correct = bool(rec["correct"])
    # the suite's outputs (its own workload, or the traced gateway's passes)
    if a.workload == "suite" or (a.workload == "gateway" and a.trace):
        ok, detail = oracle_check(run_dir)
        rec["oracle"] = {"ok": ok, "detail": detail}
        if not ok:
            log(f"suite oracle check failed: {detail}")
        correct = correct and ok
    after = tree_state()
    if after != before:
        log("the run changed the working tree")
        correct = False
    rec["tree_unchanged"] = after == before
    steal, total = (b - a for a, b in zip(env_start["cpu"], cpu_times()))
    rec["env"].update({"jvms_start": env_start["jvms"], "load1_start": env_start["load1"],
                       "jvms_end": java_procs(), "load1_end": load1(),
                       "steal_pct": round(100.0 * steal / total, 2) if total > 0 else -1.0,
                       "wall_s": round(time.time() - t0, 3)})
    rec["env"]["shared_box"] = rec["env"]["jvms_start"] > 0 or rec["env"]["jvms_end"] > 0
    for f in rec.get("failures", [])[:10]:
        log(f"check failed: {f}")
    with open(os.path.join(WORK, f"last-{a.workload}.json"), "w") as fh:
        json.dump(rec, fh, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    metrics = rec["metrics_traced"] if a.trace else rec["metrics"]
    print(json.dumps({"correct": correct, "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
