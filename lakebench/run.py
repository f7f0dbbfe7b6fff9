#!/usr/bin/env python3
"""Run graft's lake-lifecycle benchmark.

    python3 lakebench/run.py --workload <name|all> [--seed N] [--seconds S] [--trace 0|1]

Workloads: documents, lake (see README.md).
The first run builds the benchmark and graft from source with sbt (offline),
then makes a class-data-sharing archive of the classes a training run loads,
all under lakebench/.build; later runs reuse them while no source changed.
Each run is a fresh JVM on a fresh work directory under lakebench/.work,
removed when it ends. Compact metric lines go to stdout, the last line being
one JSON object {correct, attempted, failed, metrics}; the full figures of a
run (per-layer metrics, samples, check failures) go to
lakebench/out/<workload>-s<seed>-t<trace>.json.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
OUT = os.path.join(BENCH, "out")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORKLOADS = ["documents", "lake"]
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"[lakebench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
             os.path.abspath(__file__)]
    for r in roots:
        if os.path.isfile(r):
            paths = [r]
        else:
            paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def java_cmd(classpath, *extra):
    return (["java", "-Xmx3g"] +
            [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
             "-Dspark.ui.enabled=false"] + list(extra) + ["-cp", classpath])


def build():
    """Compile with sbt when a source changed; returns the runtime classpath.

    A training run then lists the classes a run loads, and the JVM dumps
    them into a class-data-sharing archive that every run maps at start:
    Spark loads some 17,000 classes, which otherwise costs each run several
    seconds before its set-up begins. Without the archive runs still work,
    only slower to start."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("graft sources (src/main/scala) not found next to the benchmark", 2)
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspathAsJars"],
            cwd=BENCH, env=sbt_env(), stdin=subprocess.DEVNULL,
            capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed", 3)
    cps = [l.strip() for l in p.stdout.splitlines()
           if ".jar" in l and not l.startswith("[")]
    if not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("build printed no classpath", 3)
    classpath = cps[-1]
    classes = os.path.join(BUILD, "classes.lst")
    work = os.path.join(WORK, "training")
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8")
    try:
        subprocess.run(java_cmd(classpath, f"-XX:DumpLoadedClassList={classes}") +
                       ["lakebench.Main", "--workload", "lake", "--seed", "1",
                        "--seconds", "1", "--trace", "0", "--work", work],
                       env=env, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S, check=True)
        subprocess.run(java_cmd(classpath, "-Xshare:dump",
                                f"-XX:SharedClassListFile={classes}",
                                f"-XX:SharedArchiveFile={ARCHIVE}"),
                       env=env, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S, check=True)
    except (subprocess.TimeoutExpired, subprocess.CalledProcessError):
        print("[lakebench] no class-data-sharing archive: runs start slower",
              file=sys.stderr)
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[lakebench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classpath


def run_one(workload, seed, seconds, trace, classpath):
    work = os.path.join(WORK, f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    out = os.path.join(OUT, f"{workload}-s{seed}-t{trace}.json")
    log = os.path.join(OUT, f"{workload}-s{seed}-t{trace}.log")
    cds = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.isfile(ARCHIVE) else []
    cmd = (java_cmd(classpath, *cds) +
           ["lakebench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work,
            "--out", out, "--spawn-ms", str(int(time.time() * 1000))])
    env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, env=env, text=True,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"{workload}: run exceeded {RUN_TIMEOUT_S} s (log: {log})", 4)
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload}: the benchmark JVM exited with {proc.returncode}", 5)
    for l in lines[:-1]:
        print(l)
    return json.loads(lines[-1]), lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    classpath = build()
    if a.workload != "all":
        _, line = run_one(a.workload, a.seed, a.seconds, a.trace, classpath)
        print(line)
        return
    results = {}
    for w in WORKLOADS:
        results[w], _ = run_one(w, a.seed, a.seconds, a.trace, classpath)
    print(json.dumps(results, separators=(",", ":")))


if __name__ == "__main__":
    main()
