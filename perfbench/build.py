#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the graft library (``src/main/scala`` plus ``src/main/resources``)
and the benchmark harness (``perfbench/scala``) with the Scala 2.13
compiler that ships among the Spark jars, packs the classes into one jar
under the build directory (``$CARGO_TARGET_DIR``, default ``.bench_build``),
and records a class-data-sharing archive from one short training run, so
every benchmark JVM loads the Spark classes from it instead of from the
jars (about 4 s less start-up per run). The directory name carries a hash
of every input file, so an unchanged tree is never rebuilt and a changed
one never reuses stale classes or a stale archive.

Usage, from the root of a checkout:  python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """The Spark distribution's jars: `$SPARK_HOME/jars`, else found from
    `spark-submit` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        sys.stderr.write("perfbench: set SPARK_HOME to a Spark 4 distribution\n")
        sys.exit(2)
    return os.path.join(home, "jars")


def build_root():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def classpath(extra=()):
    return os.pathsep.join(list(extra) + [os.path.join(spark_jars(), "*")])


def jvm_command(out, work, args, archive=None):
    """The benchmark JVM: `perfbench.Main <args>` on the built jar, with its
    temporary and Spark directories inside `work`. `archive` is the
    class-data-sharing option; by default the recorded archive is used."""
    if archive is None:
        jsa = os.path.join(out, "classes.jsa")
        archive = "-XX:SharedArchiveFile=" + jsa if os.path.exists(jsa) else "-Xshare:auto"
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", archive]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    return cmd + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
        "-Dspark.ui.enabled=false",
        "-Dspark.local.dir=" + os.path.join(work, "spark-local"),
        "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "-cp", classpath([os.path.join(out, "graft-bench.jar")]), "perfbench.Main",
    ] + args + ["--work", work]


def jvm_env(work):
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def _files(root, pattern):
    return sorted(glob.glob(os.path.join(root, pattern), recursive=True))


def inputs():
    """(library sources, library resources, harness sources); exits 2 when
    the checkout holds no library to build."""
    lib = _files("src/main/scala", "**/*.scala")
    if not lib:
        sys.stderr.write("perfbench: no src/main/scala here; run from the root of a graft checkout\n")
        sys.exit(2)
    res = [f for f in _files("src/main/resources", "**/*") if os.path.isfile(f)]
    bench = _files(os.path.join(BENCH, "scala"), "**/*.scala")
    return lib, res, bench


def build():
    """Return the build directory, building first when needed."""
    lib, res, bench = inputs()
    h = hashlib.sha256()
    for f in lib + res + bench + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    root = build_root()
    out = os.path.join(root, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    for old in glob.glob(os.path.join(root, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", classpath()] + lib + bench
    sys.stderr.write(f"perfbench: compiling {len(lib)} library and {len(bench)} harness sources\n")
    r = subprocess.run(cmd, stdout=sys.stderr)
    if r.returncode != 0:
        sys.stderr.write("perfbench: compilation failed\n")
        sys.exit(r.returncode or 1)
    # class-data sharing needs the classes in a jar, not a directory
    with zipfile.ZipFile(os.path.join(out, "graft-bench.jar"), "w") as jar:
        for d, _, names in os.walk(classes):
            for n in names:
                jar.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
        for f in res:
            jar.write(f, os.path.relpath(f, "src/main/resources"))
    shutil.rmtree(classes)
    train(out)
    open(os.path.join(out, ".ok"), "w").close()
    return out


def train(out):
    """Records the class-data-sharing archive from one short run of the
    requests workload (Spark SQL, parquet, JSON and CSV paths). Classes it
    does not load come from the jars as usual; a failed recording only
    costs start-up time."""
    sys.stderr.write("perfbench: recording the class-data-sharing archive\n")
    work = tempfile.mkdtemp(prefix="train-", dir=build_root())
    try:
        os.makedirs(os.path.join(work, "tmp"))
        cmd = jvm_command(out, work, ["--workload", "requests", "--seed", "0", "--seconds", "1",
                                      "--trace", "0", "--trace-out", work],
                          archive="-XX:ArchiveClassesAtExit=" + os.path.join(out, "classes.jsa"))
        try:
            ok = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                                env=jvm_env(work), timeout=600).returncode == 0
        except subprocess.TimeoutExpired:
            ok = False
        if not ok:
            sys.stderr.write("perfbench: training run failed; no archive\n")
            if os.path.exists(os.path.join(out, "classes.jsa")):
                os.remove(os.path.join(out, "classes.jsa"))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    print(build())
