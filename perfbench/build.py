#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (perfbench/src) with the Scala compiler that ships in the
Spark distribution ($SPARK_HOME/jars, the same jar directory the engine's
build.sbt compiles against), packs the classes into bench.jar, and records
a class-data-sharing archive (bench.jsa) from one short analytics run; every
benchmark JVM maps it, which takes 3-7 s off each run's start-up on a
4-core host. The build is skipped when the digest of the sources and of
this file matches the last build's.

Usage: python3 perfbench/build.py [<build dir>]   (default .bench_build)
Run from the repository root. Prints the jar's path.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


# Spark's local[n] threads, and the JVM's GC and JIT threads: two each, so
# the benchmark's busy threads stay below a 4-core host's CPU count and a
# run measures the program rather than the host's scheduler
SPARK_CPUS = 2


def spark_env():
    return dict(os.environ, SPARK_GRAFT_CPUS=str(SPARK_CPUS))


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, or the jars beside the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise BuildError("set SPARK_HOME to a Spark 4 distribution")
    return os.path.join(home, "jars")


def java_cmd(build_dir, tmp, extra=()):
    """The benchmark JVM: 3 GB heap with a fixed young generation, so the
    resident set does not follow GC sizing decisions; SPARK_CPUS GC and JIT
    threads; no perf-data file, so nothing is written outside the build
    directory."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    jar = os.path.join(build_dir, "bench.jar")
    return (["java"] + opens +
            ["-Xmx3g", "-Xmn768m", "-XX:+UseParallelGC",
             f"-XX:ParallelGCThreads={SPARK_CPUS}",
             f"-XX:CICompilerCount={SPARK_CPUS}", "-XX:-UsePerfData",
             "-XX:-UseAdaptiveSizePolicy", "-Xlog:all=warning:stderr", *extra,
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", jar + os.pathsep + os.path.join(spark_jars(), "*")])


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src/**/*.scala"),
                             recursive=True))
    return engine + bench


def compile_jar(root, build_dir, srcs):
    staging = os.path.join(build_dir, "classes.next")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", staging,
           "@" + args_file]
    done = subprocess.run(cmd, cwd=root, capture_output=True, text=True)
    if done.returncode != 0:
        raise BuildError("scalac failed:\n" + done.stdout[-4000:] +
                         done.stderr[-4000:])
    jar = os.path.join(build_dir, "bench.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in sorted(os.walk(staging)):
            for name in sorted(files):
                p = os.path.join(d, name)
                z.write(p, os.path.relpath(p, staging))
    shutil.rmtree(staging)


def record_archive(build_dir):
    """Dumps the jar classes one short analytics run loads into bench.jsa.
    The archive holds parsed classes only: no JIT code, no classes Spark
    generates at run time, no session state. A build that cannot record it
    fails, so every run of a build starts the same way."""
    archive = os.path.join(build_dir, "bench.jsa")
    work = os.path.join(build_dir, "work", "cds")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(build_dir, os.path.join(work, "tmp"),
                   [f"-XX:ArchiveClassesAtExit={archive}"]) + [
        "graft.bench.Main", "--workload", "analytics", "--seed", "0",
        "--seconds", "0", "--trace", "0", "--work", work]
    env = spark_env()
    try:
        done = subprocess.run(cmd, cwd=work, env=env, capture_output=True,
                              text=True, timeout=300)
    except subprocess.TimeoutExpired:
        raise BuildError("recording the class-data archive timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if done.returncode != 0 or not os.path.isfile(archive):
        raise BuildError("recording the class-data archive failed "
                         f"(exit {done.returncode}):\n{done.stderr[-4000:]}")


def build(root, build_dir):
    """Returns the build directory, building first if the sources changed."""
    srcs = sources(root)
    digest = hashlib.sha256()
    # this file too: it sets the compiler's and the archive's flags
    for p in srcs + [os.path.abspath(__file__)]:
        digest.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(build_dir, "build.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return build_dir
    for name in ("build.stamp", "bench.jar", "bench.jsa"):
        if os.path.exists(os.path.join(build_dir, name)):
            os.remove(os.path.join(build_dir, name))
    compile_jar(root, build_dir, srcs)
    record_archive(build_dir)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return build_dir


def main():
    build_dir = os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                                else ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    try:
        build(os.getcwd(), build_dir)
    except BuildError as e:
        sys.exit(str(e))
    print(os.path.join(build_dir, "bench.jar"))


if __name__ == "__main__":
    main()
