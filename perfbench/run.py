#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <crawl_bulk|csm_stream|catalogue>
        --seed <n> --seconds <s> --trace <0|1>

The first run builds the library and the benchmark with sbt (the benchmark's
own project in this directory compiles ../src/main/scala with it), caches
the classpath under perfbench/target/, and writes a class-data archive of
the classes the workloads load, so that no run pays for loading them from
the jars. Later runs start the JVM directly.
Every file a run writes stays under perfbench/target/. Exit status: 0 when
every output check passed, 1 when one failed (the result line is still
printed), 2 when the benchmark could not run (nothing is printed).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
SOURCES = [ROOT / "src" / "main" / "scala", BENCH / "src" / "main" / "scala"]
BUILD_FILES = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
ARCHIVE = TARGET / "classes.jsa"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ARCHIVE_TIMEOUT_S = 240
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for f in BUILD_FILES:
        h.update(f.read_bytes())
    for d in SOURCES:
        for f in sorted(d.rglob("*.scala")):
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """Compile and write the class-data archive if the sources changed since
    the cached build, or a jar since the archive; return the runtime
    classpath."""
    stamp_file, cp_file = TARGET / "build.stamp", TARGET / "classpath.txt"
    stamp = source_stamp()
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp \
            and ARCHIVE.exists():
        cp = cp_file.read_text()
        # the archive holds for the jars it was written from, by their times
        written = ARCHIVE.stat().st_mtime
        if all(Path(j).exists() and Path(j).stat().st_mtime <= written for j in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if repos.exists() else ""))
    # keep sbt's scratch files in the checkout too
    (TARGET / "tmp").mkdir(parents=True, exist_ok=True)
    env["SBT_OPTS"] += f" -XX:-UsePerfData -Djava.io.tmpdir={TARGET / 'tmp'}"
    print("[perfbench] building with sbt", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                           stdin=subprocess.DEVNULL, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    lines = [l for l in r.stdout.splitlines() if not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        fail(f"sbt build failed (exit {r.returncode})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    # load every workload's classes once, in a JVM that archives them on exit
    ARCHIVE.unlink(missing_ok=True)
    print("[perfbench] writing the class-data archive", file=sys.stderr)
    rc, _ = run_jvm(cp, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                    ["--workload", "classes", "--seed", "1", "--seconds", "0", "--trace", "0"], ARCHIVE_TIMEOUT_S)
    if rc != 0 or not ARCHIVE.exists():
        fail(f"class-data archive failed (exit {rc})")
    stamp_file.write_text(stamp)
    return cp


def heap():
    """Half of physical memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def run_jvm(cp, flags, args, timeout):
    """Runs graft.perfbench.Main with `args` in its own process group, with
    its scratch files under target/work/; returns its exit code and stdout.
    Kills the group and fails if it runs past `timeout` seconds."""
    work = TARGET / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java)]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # ParallelGC: on 4 cores G1's concurrent threads compete with the task
    # threads; parallel collection measured ~7% faster rounds here
    # a fixed set of JIT compiler threads: their CPU time is left out of
    # the CPU figures, which needs every one of them alive to the end
    cmd += flags + [f"-Xmx{heap()}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
                    "-XX:-UseDynamicNumberOfCompilerThreads",
                    f"-Djava.io.tmpdir={work / 'tmp'}",
                    "-Dspark.ui.enabled=false",
                    "-cp", cp, "graft.perfbench.Main"] + args + [
                    "--data", str(BENCH / "data" / "sf0.001"),
                    "--work", str(work), "--traces", str(TARGET / "traces")]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {timeout}s")
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)  # anything left in its process group
        except ProcessLookupError:
            pass
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["crawl_bulk", "csm_stream", "catalogue"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"library sources not found under {ROOT / 'src/main/scala'}")
    if shutil.which("sbt") is None and not (TARGET / "classpath.txt").exists():
        fail("sbt not found")
    cp = classpath()

    rc, out = run_jvm(cp, [f"-XX:SharedArchiveFile={ARCHIVE}"],
                      ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace)], RUN_TIMEOUT_S)
    result = None
    for line in reversed(out.splitlines()):
        try:
            result = json.loads(line)
            break
        except ValueError:
            continue
    if result is None or rc not in (0, 1):
        fail(f"no result (exit {rc})")
    print(json.dumps(result))
    sys.exit(0 if rc == 0 and result["correct"] else 1)


if __name__ == "__main__":
    main()
