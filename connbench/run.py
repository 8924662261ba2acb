#!/usr/bin/env python3
"""Build and run the connector benchmark.

    python3 connbench/run.py --workload adhoc|scan|ingest --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the program from source
with sbt (connbench/build.sbt compiles ../src/main/scala together with the
benchmark into a jar) and caches the classpath, the corpus and a JVM
class-data archive under connbench/target; later runs start the JVM
directly. Everything a run writes (corpus, stores, spill, Spark
local dirs, temp files, store locks) goes under a fresh connbench/.work/
directory that is removed when the run ends.
The last line of standard output is the benchmark's JSON result.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
STAMP = os.path.join(TARGET, "connbench.stamp")
CLASSPATH = os.path.join(TARGET, "connbench.classpath")
CORPUS = os.path.join(TARGET, "connbench-corpus")
# class-data archive of the classes a JVM start loads: it cuts JVM and Spark
# start by a few seconds a run, which the driver's time budget needs
ARCHIVE = os.path.join(TARGET, "connbench.jsa")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
PREPARE_TIMEOUT_S = 240

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fingerprint():
    """Hash of every source and build file the benchmark's build reads."""
    h = hashlib.sha256()
    roots = [PROGRAM, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    """SPARK_HOME, or the installation of the spark-submit on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("connbench: set SPARK_HOME (Spark's jars are the build's classpath)")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def sbt_env():
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    fp = fingerprint()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                with open(CLASSPATH) as fh:
                    return fh.read().strip()
    print("connbench: building with sbt", file=sys.stderr, flush=True)
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(out.stdout)
    if out.returncode != 0:
        raise SystemExit(f"connbench: build failed (sbt exit {out.returncode})")
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[") and ".jar" in l]
    if not lines:
        raise SystemExit("connbench: build printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    shutil.rmtree(CORPUS, ignore_errors=True)  # the generator may have changed
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(CLASSPATH, "w") as fh:
        fh.write(cp + "\n")
    with open(STAMP, "w") as fh:
        fh.write(fp + "\n")
    return cp


WORK = os.path.join(BENCH, ".work")


def new_work_dir():
    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=WORK)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def remove_work_dir(work):
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK)  # only when no other run is using it
    except OSError:
        pass


def run_java(cp, work, args, timeout, cds):
    """Run connbench.Main with every temp, lock and Spark dir under `work`;
    kill the whole process group on timeout. Returns the exit code. `cds`
    is the JVM flag that writes or reads the class-data archive."""
    # a fixed heap and young generation: peak RSS then tracks what the
    # program keeps, not how far the collector grew the heap or resized eden
    cmd = ["java", "-Xms2g", "-Xmx2g", "-Xmn512m", cds,
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dgraft.store.lockdir={os.path.join(work, 'locks')}",
           f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "connbench.Main"] + args + ["--work", work]
    proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print("connbench: run timed out or was interrupted", file=sys.stderr)
        return 3


def prepare(cp):
    """Generate the fixed corpora and the class-data archive once per build
    (neither depends on the run's seed)."""
    if os.path.exists(ARCHIVE) and all(
            os.path.exists(os.path.join(CORPUS, n, "_READY")) for n in ("small", "large")):
        return
    print("connbench: generating the corpus", file=sys.stderr, flush=True)
    shutil.rmtree(CORPUS, ignore_errors=True)
    work = new_work_dir()
    try:
        code = run_java(cp, work, ["--prepare", CORPUS], PREPARE_TIMEOUT_S,
                        f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    finally:
        remove_work_dir(work)
    if code != 0:
        shutil.rmtree(CORPUS, ignore_errors=True)
        raise SystemExit(f"connbench: corpus generation failed (exit {code})")


def main():
    # a terminated run still stops its JVM (see run_java)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["adhoc", "scan", "ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--corrupt-op", type=int, help=argparse.SUPPRESS)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(PROGRAM, "graft")):
        raise SystemExit(f"connbench: program sources not found under {os.path.relpath(PROGRAM)}")
    cp = build()
    prepare(cp)
    work = new_work_dir()
    try:
        code = run_java(cp, work, ["--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", a.trace,
                                   "--corpus", CORPUS]
                       + (["--corrupt-op", str(a.corrupt_op)] if a.corrupt_op is not None else []),
                       RUN_TIMEOUT_S, f"-XX:SharedArchiveFile={ARCHIVE}")
    finally:
        remove_work_dir(work)
    sys.exit(code)


if __name__ == "__main__":
    main()
