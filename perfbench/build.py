"""Builds the engine and the benchmark harness from source.

The engine (`src/main/scala`, `src/main/resources`) and the harness
(`perfbench/src`) are compiled with the Scala compiler that ships in Spark's
jar directory (`$SPARK_HOME/jars`), against those jars, into `.bench_build/` at the repository
root, and packed as two jars. A stamp over every input file skips the build
when nothing changed. The first harness JVM after a build archives the classes
it loaded when it exits (a dynamic AppCDS archive); later harness JVMs map
that archive, which roughly halves their start-up.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD = ".bench_build"
JARS = [os.path.join(BUILD, "engine.jar"), os.path.join(BUILD, "bench.jar")]
ARCHIVE = os.path.join(BUILD, "classes.jsa")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `jars` directory
    beside any `spark-submit` on PATH, whichever holds the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build failed: no Spark jars with a Scala compiler; set SPARK_HOME")


def classpath():
    return os.pathsep.join(JARS + [os.path.join(spark_jars(), "*")])


def java(main, args, tmp):
    """Harness JVM command line: it maps the class archive, or writes it at
    exit when there is none yet."""
    flag = "-XX:SharedArchiveFile=" if os.path.exists(ARCHIVE) else "-XX:ArchiveClassesAtExit="
    return (["java"] + ADD_OPENS + [
        flag + ARCHIVE, "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath(), main] + args)


def _sources(root, ext=".scala"):
    return sorted(p for p in glob.glob(os.path.join(root, "**", "*"), recursive=True)
                  if os.path.isfile(p) and (ext is None or p.endswith(ext)))


def _stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _scalac(out, cp, files):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build failed: scalac exited {r.returncode}")


def _jar(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for p in _sources(classes, ext=None):
            z.write(p, os.path.relpath(p, classes))


def build():
    main_src = _sources("src/main/scala")
    bench_src = _sources("perfbench/src")
    if not main_src:
        raise SystemExit("build failed: no engine sources under src/main/scala")
    resources = _sources("src/main/resources", ext=None)
    stamp = _stamp(main_src + resources + bench_src)
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return False
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    _scalac(classes, os.path.join(spark_jars(), "*"), main_src)
    for p in resources:
        dst = os.path.join(classes, os.path.relpath(p, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    bench_classes = os.path.join(BUILD, "bench-classes")
    _scalac(bench_classes, os.pathsep.join([classes, os.path.join(spark_jars(), "*")]), bench_src)
    for d, jar in zip((classes, bench_classes), JARS):
        _jar(d, jar)
        shutil.rmtree(d)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return True


if __name__ == "__main__":
    print("built" if build() else "up to date")
