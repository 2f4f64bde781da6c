#!/usr/bin/env python3
"""Run one workload of the ganonspark benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It compiles the program's sources
(src/main/scala) together with the harness in perfbench/ using the
harness's own sbt build, caches the result by a hash of every source
file, then runs the workload in one JVM. The last line of standard output
is the result object; build output goes to standard error.
"""
import argparse
import hashlib
import os
import pathlib
import subprocess
import sys

BENCH = pathlib.Path(__file__).resolve().parent
CLASSES = BENCH / "target" / "scala-2.13" / "classes"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources(root):
    """Every file the build reads, in a stable order."""
    files = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    files += sorted((BENCH / "src").rglob("*.scala"))
    files += [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    return files


def source_hash(files, root):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root) if f.is_relative_to(root) else f.name).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def spark_home():
    """The Spark installation whose jars the program compiles and runs with."""
    home = os.environ.get("SPARK_HOME")
    if not home or not (pathlib.Path(home) / "jars").is_dir():
        sys.exit("perfbench: SPARK_HOME must name a Spark installation")
    return pathlib.Path(home)


def sbt_env(build_dir):
    """Offline sbt whose global state and ivy home stay in the checkout."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "").split()
    if not opts:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
        repos = pathlib.Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
    opts += [f"-Dsbt.global.base={build_dir / 'sbt-global'}",
             f"-Dsbt.ivy.home={build_dir / 'ivy2'}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(build_dir, digest):
    stamp = build_dir / "build.stamp"
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return
    build_dir.mkdir(parents=True, exist_ok=True)
    print("perfbench: compiling the program and the harness", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "compile"],
                       cwd=BENCH, env=sbt_env(build_dir), stdout=sys.stderr,
                       stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed with exit code {r.returncode}")
    stamp.write_text(digest)


def git_commit(root):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    args = ap.parse_args()

    root = pathlib.Path.cwd()
    if not (root / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("perfbench: run from the root of a ganonspark checkout "
                 "(src/main/scala/graft not found)")
    spark_jars = spark_home() / "jars"
    build_dir = root / ".bench_build" / "perfbench"
    files = sources(root)
    digest = source_hash(files, root)
    build(build_dir, digest)

    work = build_dir / f"work-{os.getpid()}"
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
           "-XX:CICompilerCount=2",
           f"-Djava.io.tmpdir={build_dir / 'tmp'}",
           "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{spark_jars / '*'}", "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work-dir", str(work), "--commit", git_commit(root),
            "--source-hash", digest]
    (build_dir / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=root)
    try:
        return proc.wait(timeout=170)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit("perfbench: the run did not finish within 170 s")
    except KeyboardInterrupt:
        proc.kill()
        proc.wait()
        raise


if __name__ == "__main__":
    sys.exit(main())
