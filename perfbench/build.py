"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the benchmark's own
Scala sources (`perfbench/scala`) into `.bench_build/perfbench.jar`, using
the Scala compiler that ships with the Spark distribution
(`$SPARK_HOME/jars` holds scala-compiler at the same version as
`build.sbt`). No sbt start-up, no dependency resolution, nothing written
outside the checkout.

The build then makes a class-data-sharing archive (`perfbench.jsa`): one
training JVM sets every workload up and warms it once, and at exit dumps
the classes it loaded from the jars. Runs map that archive instead of
loading and verifying those classes anew, which takes about 8 s off
every run's session start and cold set-up on 4 cores; measured
operations run warm either way. The JVM needs jars, not class
directories, on an archived classpath, hence the jar. Without the
archive (training failed) runs still work, only slower.

A stamp over every source file's path and bytes makes the build
incremental: an unchanged tree is not rebuilt.

Usage: python3 perfbench/build.py   (from the root of a checkout)
"""

import hashlib
import os
import shutil
import signal
import subprocess
import sys

BUILD_DIR = ".bench_build"
JAR = os.path.join(BUILD_DIR, "perfbench.jar")
CDS = os.path.join(BUILD_DIR, "perfbench.jsa")
STAMP = os.path.join(BUILD_DIR, "BUILD_STAMP")
SOURCE_ROOTS = [os.path.join("src", "main", "scala"), os.path.join("perfbench", "scala")]
TRAIN_LIMIT_S = 400

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit; the same list build.sbt passes to forked runs and tests.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """Directory of the Spark distribution's jars: $SPARK_HOME/jars, else
    the jars next to the `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def sources(root="."):
    out = []
    for sr in SOURCE_ROOTS:
        base = os.path.join(root, sr)
        if not os.path.isdir(base):
            raise SystemExit(f"perfbench: missing source directory {sr}; "
                             "run from the root of a full checkout")
        for d, _, files in os.walk(base):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(cp, tmp, main_args, extra=()):
    """The JVM of every run and of the training run: the archive maps only
    when classpath, heap and options agree."""
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return ["java", "-Xms1g", "-Xmx1g", "-Xss4m", *extra, *opts,
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + tmp,
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dlog4j2.level=WARN",
            "-cp", cp, "perfbench.Main", *main_args]


def cds_flags():
    return ["-XX:SharedArchiveFile=" + CDS] if os.path.exists(CDS) else []


def train(cp):
    """Dump the class-data-sharing archive from one JVM that sets up and
    warms every workload. A failure leaves no archive, not a failed build."""
    work = os.path.abspath(os.path.join(BUILD_DIR, "work", "train"))
    tmp = os.path.abspath(os.path.join(BUILD_DIR, "tmp", "train"))
    part = CDS + ".part"
    for d in (work, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    cmd = java_cmd(cp, tmp, ["--train", "--work", work], ["-XX:ArchiveClassesAtExit=" + part])
    with open(os.path.join(BUILD_DIR, "train.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=log, start_new_session=True)
    try:
        ok = p.wait(timeout=TRAIN_LIMIT_S) == 0
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        ok = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    if ok and os.path.exists(part):
        os.replace(part, CDS)
        return True
    if os.path.exists(part):
        os.remove(part)
    return False


def build(log=sys.stderr):
    """Compile and train if the sources changed; return the runtime classpath."""
    jars = spark_jars()
    files = sources()
    st = stamp(files)
    cp = JAR + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read() == st:
        return cp
    for f in (STAMP, JAR, CDS):
        if os.path.exists(f):
            os.remove(f)
    empty = os.path.join(BUILD_DIR, "empty")
    os.makedirs(empty, exist_ok=True)
    part = JAR + ".part.jar"
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           # an explicit, empty -classpath keeps scalac's default "." (the
           # checkout root, whose directories would read as packages) off
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", empty, "-nowarn",
           "-d", part, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    os.replace(part, JAR)
    print("perfbench: training the class-data-sharing archive", file=log, flush=True)
    if not train(cp):
        print(f"perfbench: training failed (see {BUILD_DIR}/train.log); "
              "runs go without the archive", file=log, flush=True)
    with open(STAMP, "w") as fh:
        fh.write(st)
    return cp


if __name__ == "__main__":
    build()
