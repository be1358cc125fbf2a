"""Build file of the layerbench package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (layerbench/src) into layerbench/.build/layerbench.jar,
using the Scala compiler that ships with Spark, so no build tool or network
is needed. It then runs layerbench.Train once to write a class-data-sharing
archive (layerbench/.build/app.jsa): JVM and Spark start-up in every run
drops from about 12 s to about 5 s on a 4-core host. A stamp holding the
hash of every source file skips all of this when nothing changed.

    python3 layerbench/build.py        # prints the source hash
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
JAR = os.path.join(BUILD, "layerbench.jar")
ARCHIVE = os.path.join(BUILD, "app.jsa")
STAMP = os.path.join(BUILD, "stamp")
COMPILE_TIMEOUT_S = 500
TRAIN_TIMEOUT_S = 300
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these opens (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_opts(tmp):
    """Options of every benchmark JVM; the archive is only valid for these."""
    return (["-Xms" + HEAP, "-Xmx" + HEAP, "-Xss4m", "-XX:-UsePerfData", "-Xlog:all=warning:stderr",
             "-Djava.io.tmpdir=" + tmp,
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + [x for o in ADD_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")])


class BuildError(Exception):
    pass


def spark_jar_dir():
    """$SPARK_HOME/jars, else the jar directory the sbt build names."""
    home = os.environ.get("SPARK_HOME")
    if home and glob.glob(os.path.join(home, "jars", "*.jar")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and glob.glob(os.path.join(m.group(1), "*.jar")):
        return m.group(1)
    raise BuildError("no Spark jars found: set SPARK_HOME")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("program sources not found at src/main/scala")
    own = os.path.join(HERE, "src")
    return [os.path.abspath(__file__)] + sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(own, "**", "*.scala"), recursive=True))


def source_sha(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Builds if needed; returns (source hash, JVM options naming the classpath)."""
    files = sources()
    jars = sorted(glob.glob(os.path.join(spark_jar_dir(), "*.jar")))
    sha = source_sha(files)
    classpath = ["-cp", os.pathsep.join([JAR] + jars)]
    if os.path.exists(STAMP) and open(STAMP).read() == sha:
        return sha, classpath + archive_opts()
    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    os.makedirs(classes)
    scalac = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(scalac) != 3:
        raise BuildError("the Spark jars hold no Scala compiler")
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-classpath", os.pathsep.join(jars), "-d", classes, "-nowarn"]
                           + [x for x in files if x.endswith(".scala")]))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + BUILD,
           "-cp", os.pathsep.join(scalac),
           "scala.tools.nsc.Main", "@" + argfile]
    try:
        done = subprocess.run(cmd, timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError("compile timed out")
    if done.returncode != 0:
        raise BuildError("compile failed")
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    os.rename(JAR + ".tmp", JAR)
    shutil.rmtree(classes)
    train(classpath)
    with open(STAMP, "w") as f:
        f.write(sha)
    return sha, classpath + archive_opts()


def archive_opts():
    return ["-XX:SharedArchiveFile=" + ARCHIVE]


def train(classpath):
    """Writes the class-data-sharing archive. Without it set-up is several
    seconds slower, which setup_s would show, so a failure fails the build."""
    work = os.path.join(BUILD, "train")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + jvm_opts(os.path.join(work, "tmp")) + ["-XX:ArchiveClassesAtExit=" + ARCHIVE]
           + classpath + ["layerbench.Train", work])
    try:
        done = subprocess.run(cmd, timeout=TRAIN_TIMEOUT_S, capture_output=True, text=True)
        ok, log = done.returncode == 0, done.stderr
    except subprocess.TimeoutExpired:
        ok, log = False, "timed out"
    shutil.rmtree(work, ignore_errors=True)
    if not ok or not os.path.exists(ARCHIVE):
        print(log[-3000:], file=sys.stderr)
        raise BuildError("training run failed; no start-up archive")


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit("layerbench build: %s" % e)
