#!/usr/bin/env python3
"""Run one workload of graft's benchmark and print its result line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 6 --trace 0

The first run in a checkout builds the harness and graft's main sources
with sbt (perfbench/build.sbt); later runs reuse the build until a source
file changes. The run itself is one JVM: it generates its inputs from the
seed, warms up, measures for --seconds of timed calls, checks the outputs
and prints one JSON line as the last line of standard output. Everything
it writes goes under .perfbench_run/ (removed afterwards), .perfbench_cache/
(inputs that do not depend on the seed and the JVM's class data sharing
archive, reused until the next build) and, for traced runs, the span file
under .perfbench_out/. See perfbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, "target", "perfbench")
# inputs that do not depend on the seed, kept across runs of one build
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
# the classes the first run after a build loaded, mapped by later runs'
# JVMs instead of loading and verifying them again (dynamic AppCDS)
CDS_ARCHIVE = os.path.join(CACHE_DIR, "classes.jsa")
WORKLOADS = ("query_mix", "store_serve")
RUN_LIMIT_S = 175  # a run must end within 180 s of its start, build excluded

# Spark 4 on JDK 17 outside spark-submit needs the module opens that
# spark-submit would add (JavaModuleOptions.defaultModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

child = None


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources match the last build."""
    stamp = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    want = digest()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    shutil.rmtree(CACHE_DIR, ignore_errors=True)
    log("building (sbt compile)")
    t = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout)
        raise SystemExit(f"build failed with exit code {p.returncode}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    cp = lines[-1].strip()
    if os.pathsep not in cp or "perfbench" not in cp:
        sys.stderr.write(p.stdout)
        raise SystemExit("build did not report a classpath")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp, "w") as f:
        f.write(want + "\n")
    log(f"built in {time.time() - t:.1f} s")
    return cp


def stop_child(*_):
    if child is not None and child.poll() is None:
        os.killpg(child.pid, signal.SIGKILL)
        child.wait()
    raise SystemExit(3)


def main():
    global child
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"graft sources not found under {ENGINE_SRC}")

    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    cp = build()
    work = os.path.join(ROOT, ".perfbench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    # JVM log lines (class data sharing warnings among them) go to stderr:
    # the result line must stay the last line of standard output
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC",
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dlog4j2.level=error"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # without an archive, this run writes one at exit (under a name of its
    # own, moved into place only if the run succeeds)
    dump = None
    if os.path.exists(CDS_ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={CDS_ARCHIVE}")
    else:
        os.makedirs(CACHE_DIR, exist_ok=True)
        dump = f"{CDS_ARCHIVE}.{os.getpid()}"
        cmd.append(f"-XX:ArchiveClassesAtExit={dump}")
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", os.path.join(ROOT, ".perfbench_out"),
            "--cache", CACHE_DIR]
    try:
        child = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                 stderr=sys.stderr, stdin=subprocess.DEVNULL,
                                 text=True, start_new_session=True)
        try:
            out, _ = child.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            log(f"run exceeded {RUN_LIMIT_S} s; stopping it")
            os.killpg(child.pid, signal.SIGKILL)
            child.wait()
            raise SystemExit(3)
        if dump and child.returncode == 0 and os.path.exists(dump):
            os.replace(dump, CDS_ARCHIVE)
    finally:
        if dump and os.path.exists(dump):
            os.remove(dump)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass
    lines = [l for l in out.splitlines() if l.strip()]
    if child.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        raise SystemExit(child.returncode or 4)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
