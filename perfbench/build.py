#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and the benchmark's own Scala
sources (`perfbench/src`) with the Scala compiler that ships in the Spark
distribution, into a build directory inside the checkout:

    <build>/graft.jar   the program under test
    <build>/bench.jar   package `graftbench`
    <build>/app.jsa     class-data archive of the classes a run loads

The archive comes from one JVM that runs every workload at a tiny size
(`graftbench.Archive`); each benchmark JVM maps it instead of loading and
verifying some 10k classes from the jars, which takes the cold start of
a Spark session on a 4-core host from ~12 s to ~6 s.

The build directory is `$CARGO_TARGET_DIR` when set, else `.bench_build`,
relative to the checkout root. A build is skipped when a stamp of every
source file's content matches the last successful build.

    python3 perfbench/build.py            # build if stale
    python3 perfbench/build.py --force    # rebuild
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_home():
    """`$SPARK_HOME`, else the distribution whose `spark-submit` is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    return home or ""


SPARK_JARS = os.path.join(spark_home(), "jars")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(top):
    out = []
    for dirpath, _, files in os.walk(top):
        out.extend(os.path.join(dirpath, f) for f in files
                   if f.endswith(".scala") or f.endswith(".java"))
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(*dirs):
    return os.pathsep.join(list(dirs) + [os.path.join(SPARK_JARS, "*")])


# CompileThresholdScaling=0.1: methods are JIT-compiled after a tenth of
# the default invocation counts, so a run's timed phase starts past the
# compilation ramp instead of on it (README.md, "Steady by construction")
JVM_OPTS = ["-Xmx3g", "-XX:+UseG1GC", "-XX:CompileThresholdScaling=0.1",
            "-Xlog:all=warning:stderr", "-Dspark.ui.enabled=false"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def jvm_opts(bd):
    """Options of every benchmark JVM: heap, module opens, the archive."""
    jsa = os.path.join(bd, "app.jsa")
    return JVM_OPTS + ([f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [])


def scalac(out_dir, files, extra_cp, log):
    if os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)
    argfile = out_dir + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", classpath(),
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir,
           "-classpath", classpath(*extra_cp), "@" + argfile]
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise BuildError(f"scalac failed ({rc}) for {out_dir}; see {log}")


def build(force=False):
    """Compile stale parts; returns the runtime classpath."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    if not os.path.isdir(main_src) or not sources(main_src):
        raise BuildError(f"no program sources under {main_src}")
    if not os.path.isdir(os.path.join(SPARK_JARS)):
        raise BuildError(f"no Spark jars at {SPARK_JARS}")
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    graft_out = os.path.join(bd, "graft-classes")
    bench_out = os.path.join(bd, "bench-classes")
    jars = [os.path.join(bd, "bench.jar"), os.path.join(bd, "graft.jar")]
    main_files, bench_files = sources(main_src), sources(bench_src)
    main_stamp = stamp(main_files)
    bench_stamp = stamp(bench_files) + main_stamp
    for out, jar, files, st, cp in (
            (graft_out, jars[1], main_files, main_stamp, []),
            (bench_out, jars[0], bench_files, bench_stamp, [graft_out])):
        stamp_file = jar + ".stamp"
        fresh = (not force and os.path.exists(stamp_file)
                 and open(stamp_file).read() == st)
        if not fresh:
            for f in (stamp_file, os.path.join(bd, "app.jsa.stamp")):
                if os.path.exists(f):
                    os.remove(f)
            scalac(out, files, cp, out + ".log")
            if subprocess.run(["jar", "cf", jar, "-C", out, "."]).returncode != 0:
                raise BuildError(f"jar failed for {jar}")
            with open(stamp_file, "w") as fh:
                fh.write(st)
    cp = classpath(*jars)
    archive(bd, cp, bench_stamp)
    return cp


def archive(bd, cp, st):
    """Class-data archive from one tiny run of every workload."""
    jsa, stamp_file = os.path.join(bd, "app.jsa"), os.path.join(bd, "app.jsa.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == st:
        return
    for f in (jsa, stamp_file):
        if os.path.exists(f):
            os.remove(f)
    work = os.path.join(bd, "work", "archive")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(bd, "app.jsa.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["java", f"-XX:ArchiveClassesAtExit={jsa}", f"-Djava.io.tmpdir={work}"]
            + JVM_OPTS + ["-cp", cp, "graftbench.Archive", work],
            stdout=fh, stderr=subprocess.STDOUT, cwd=work, timeout=600).returncode
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(jsa):
        raise BuildError(f"class-data archive failed ({rc}); see {log}")
    with open(stamp_file, "w") as fh:
        fh.write(st)


if __name__ == "__main__":
    try:
        print(build(force="--force" in sys.argv))
    except BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(1)
