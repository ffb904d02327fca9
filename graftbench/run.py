#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 graftbench/run.py --workload analytics|ingest \
        --seed N --seconds S --trace 0|1

Maintenance: `--mode digests` rewrites graftbench/expected/digests.json
from the current engine; `--mode dump --dump DIR` writes the analytics
queries' results plus their oracle SQL for tools/check.py.

Run from the repository root. The first run builds the engine and the
harness with sbt (offline), caching the classpath and the engine
build's JVM options under graftbench/.build, and writes the corpus
under graftbench/.work; later runs reuse both while no source changed.
The harness JVM does all the work; this wrapper only builds, launches,
enforces the time limit and relays the result. The last line of stdout
is the result object; the line before it is the run's provenance and
full report. See graftbench/README.md for workloads and metrics.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
BUILD = os.path.join(BENCH, ".build")
# Corpus scale factor (sf 0.01 = 60k lineitem rows); see README.md.
SF = "0.01"
# A run (after the build and the corpus) ends within this many seconds.
# The harness stops its ops and checks inside this limit; the wrapper
# kills a JVM that outlives it.
RUN_LIMIT_S = 172


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_key():
    """Hash of every input of the build, so an edit forces a rebuild."""
    h = hashlib.sha256(ROOT.encode())
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def git_commit():
    """HEAD of the checkout, or None where it is not a git repository."""
    try:
        p = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                           cwd=ROOT, text=True, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL)
    except OSError:
        return None
    out = p.stdout.split()
    if p.returncode != 0 or len(out) != 2 or os.path.realpath(out[0]) != os.path.realpath(ROOT):
        return None
    return out[1]


def corpus_key():
    with open(os.path.join(BENCH, "src", "main", "scala", "graftbench", "Corpus.scala"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def driver_mem():
    """The heap the engine build gives its JVMs (SPARK_DRIVER_MEM), set
    as the repository's tier-1 test command in ROADMAP.md sets it: half
    of RAM, clamped to 2..8 GiB."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def build():
    """Compile with sbt; return the runtime classpath and the JVM options
    the engine build gives its forked JVMs."""
    key = source_key() + " " + driver_mem()
    cache = os.path.join(BUILD, "build.json")
    if os.path.exists(cache):
        with open(cache) as f:
            built = json.load(f)
        if built["key"] == key:
            return built["classpath"], built["java_options"]
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=driver_mem())
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    log("building engine and harness (sbt)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath", "print javaOptions"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=800)
    out = p.stdout.splitlines()
    cp = [ln.strip() for ln in out if ".jar" in ln and not ln.startswith(("[", "*"))]
    java_options = [ln[2:].strip() for ln in out if ln.startswith("* ")]
    if p.returncode != 0 or not cp or not java_options:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"key": key, "classpath": cp[-1], "java_options": java_options}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cp[-1], java_options


def harness(built, args, mode, deadline, baseline=""):
    """The command line of one harness JVM that must end by `deadline`."""
    cp, java_options = built
    java = shutil.which("java") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    expected = os.path.join(BENCH, "expected", "digests.json")
    return [java, *java_options,
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-cp", cp, "graftbench.Main", "--mode", mode,
            "--workload", str(args.workload), "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", WORK, "--cores", str(len(os.sched_getaffinity(0))), "--sf", SF,
            "--corpus-key", f"{corpus_key()} sf{SF}", "--expected", expected,
            "--dump", os.path.abspath(args.dump), "--baseline", baseline,
            "--deadline-ms", str(int(deadline * 1000)),
            "--out", expected if mode == "digests" else os.path.join(WORK, "result.json")]


def run_jvm(cmd, deadline):
    """Run one harness JVM, killing it at `deadline`; returns its exit
    code, or None when it had to be killed."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                         stdout=sys.stderr, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit; stopping the JVM")
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


def measured_run(built, args, deadline, baseline):
    """One measured run; returns its result file's lines, or None. The
    harness writes the file whole as its last step, so a result written
    by a JVM that then failed to stop still counts."""
    out = os.path.join(WORK, "result.json")
    if os.path.exists(out):
        os.remove(out)
    code = run_jvm(harness(built, args, "run", deadline, baseline), deadline)
    if not os.path.exists(out):
        log(f"harness wrote no result (exit code {code})")
        return None
    with open(out) as f:
        return f.read().splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["analytics", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--mode", choices=["run", "digests", "dump"], default="run")
    ap.add_argument("--dump", default=os.path.join(WORK, "dump"))
    args = ap.parse_args()
    if args.mode == "run" and args.workload is None:
        ap.error("--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("no engine sources next to the benchmark; nothing to run")
        return 2
    built = build()
    key_file = os.path.join(WORK, "corpus", "_KEY")
    want = f"{corpus_key()} sf{SF}"
    if not (os.path.exists(key_file) and open(key_file).read() == want):
        if run_jvm(harness(built, args, "corpus", time.time() + 600), time.time() + 600) != 0:
            log("writing the corpus failed")
            return 1
    if args.mode != "run":
        deadline = time.time() + 3600
        return 0 if run_jvm(harness(built, args, args.mode, deadline), deadline) == 0 else 1

    start = time.time()
    deadline = start + RUN_LIMIT_S
    # the untraced figures of this workload, seed and build, which the
    # traced run's trace.overhead_pct.* compare against
    key = source_key()[:16]
    baseline = os.path.join(WORK, f"e2e_{args.workload}_{args.seed}_{key}.txt")
    for stale in glob.glob(os.path.join(WORK, "e2e_*.txt")):
        if not stale.endswith(f"_{key}.txt"):
            os.remove(stale)
    if args.trace == 1 and not os.path.exists(baseline):
        # the untraced run may take 60% of the limit; a traced run after
        # a slow one has less time before its ops are stopped
        untraced = argparse.Namespace(**{**vars(args), "trace": 0})
        measured_run(built, untraced, start + 0.6 * RUN_LIMIT_S, baseline)
    lines = measured_run(built, args, deadline, baseline)
    if not lines:
        return 1
    report, result = json.loads(lines[0]), lines[-1]
    report["build_key"] = source_key()
    report["git_commit"] = git_commit()
    print(json.dumps(report))
    print(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
