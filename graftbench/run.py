#!/usr/bin/env python3
"""Run one graftbench workload from the root of a graft checkout.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds graft and the benchmark with sbt (graftbench/build.sbt
depends on the repository's own build) and caches the runtime classpath in
.bench_build/, keyed by a hash of every build input; later runs start the
JVM directly. The benchmark's last stdout line is its JSON result, and the
exit code is non-zero when the build fails or an output check fails.
"""
import argparse
import hashlib
import pathlib
import shutil
import signal
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these; the same list as
# the root build's javaOptions.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def build_inputs():
    """Every file whose change requires a rebuild."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when any input changed."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "classpath.stamp"
    want = stamp()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == want:
        return cp_file.read_text()
    out = subprocess.run(
        # sbt's ivy home and JNA scratch go under the build dir, not $HOME
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         f"-Dsbt.ivy.home={BUILD / 'ivy2'}", f"-Djna.tmpdir={BUILD / 'tmp'}",
         "export graftbench/Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or "graftbench" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        sys.exit("graftbench: build failed")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(want)
    return lines[-1].strip()


def heap():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // 2 // 1048576))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir() or not (ROOT / "build.sbt").is_file():
        sys.exit("graftbench: run from the root of a graft checkout (src/main/scala/graft not found)")
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    cp = classpath()
    mem = heap()
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # ParallelGC: G1's concurrent work made these small-job rounds
           # ~10% slower and noisier on a 4-core host
           [f"-Xms{mem}", f"-Xmx{mem}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={BUILD / 'tmp'}",
            f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-cp", cp, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--build", str(BUILD)])
    proc = subprocess.Popen(cmd, cwd=ROOT)

    def end(message_or_code):
        """Stop the JVM if it still runs, drop its work directory, exit."""
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(BUILD / f"work-{proc.pid}", ignore_errors=True)
        sys.exit(message_or_code)

    signal.signal(signal.SIGTERM, lambda signum, _frame: end(128 + signum))
    signal.signal(signal.SIGINT, lambda signum, _frame: end(128 + signum))
    try:
        end(proc.wait(timeout=RUN_TIMEOUT_S))
    except subprocess.TimeoutExpired:
        end(f"graftbench: run exceeded {RUN_TIMEOUT_S} s")


if __name__ == "__main__":
    main()
