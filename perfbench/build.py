"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala`) together with the benchmark's JVM side
(`perfbench/src`) with the Scala compiler that ships in Spark's jars
directory into one jar, and dumps the program's DuckDB oracle SQL next
to it.

The output directory is keyed by a hash of every source file, so an
unchanged tree is built once. The two most recently used builds are
kept, so runs that alternate between two trees in one checkout do not
rebuild. Run from the root of a checkout:

    python3 perfbench/build.py        # prints the build directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD_ROOT = os.path.join(".bench_build", "perfbench")
SOURCE_DIRS = ("src/main/scala", "perfbench/src")
JVM_OPENS = (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
)


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    candidates = [os.path.join(home, "jars")] if home else []
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars directory with a Scala compiler "
                     "(set SPARK_HOME)")


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"missing source directory {d}: run from the "
                             "root of a full checkout")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def classpath(build_dir):
    return os.pathsep.join([os.path.abspath(os.path.join(build_dir, "program.jar")),
                            os.path.join(os.path.abspath(spark_jars()), "*")])


def run_harness(build_dir, args, work, log_path, timeout):
    """Run the JVM harness (perfbench.Harness) with `args`; returns its
    exit code. Temporary files stay under `work`."""
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xmx2g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"] + opens
           + ["-cp", classpath(build_dir), "perfbench.Harness"] + args)
    with open(log_path, "w") as log:
        return subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                              timeout=timeout).returncode


def prune(keep):
    """Delete all but the `keep` most recently used builds."""
    done = sorted(glob.glob(os.path.join(BUILD_ROOT, "build-*", "ok")),
                  key=os.path.getmtime, reverse=True)
    for ok in done[keep:]:
        shutil.rmtree(os.path.dirname(ok), ignore_errors=True)


def build():
    """Return the build directory, building first if needed."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD_ROOT, "build-" + h.hexdigest()[:16])
    ok = os.path.join(out, "ok")
    if os.path.exists(ok):
        os.utime(ok)
        return out
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    log = os.path.join(out, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                            "-nowarn", "-d", classes, "-classpath", cp] + files,
                           stdout=lf, stderr=subprocess.STDOUT)
        if r.returncode != 0:
            raise BuildError(f"compile failed; see {log}")
        with zipfile.ZipFile(os.path.join(out, "program.jar"), "w") as jar:
            for root, _, names in os.walk(classes):
                for n in sorted(names):
                    path = os.path.join(root, n)
                    jar.write(path, os.path.relpath(path, classes))
        shutil.rmtree(classes)
        r = subprocess.run(["java", "-cp", classpath(out), "graft.tools.OracleDump", out],
                           stdout=lf, stderr=subprocess.STDOUT)
        if r.returncode != 0:
            raise BuildError(f"oracle dump failed; see {log}")
    open(ok, "w").close()
    prune(keep=2)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
