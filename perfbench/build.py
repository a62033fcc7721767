"""Builds the benchmark from source.

Compiles the library (``src/main/scala``) together with the benchmark's own
sources (``perfbench/src``) with the Scala compiler that ships in Spark's
``jars`` directory, packs the classes into ``perfbench/.work/perfbench.jar``,
then runs the indicators workload and a short stream on tiny inputs to dump
the classes the JVM loaded into a shared archive (``perfbench.jsa``, JDK
class-data sharing), so each run maps them instead of loading thousands of
classes from the jars. The archive is required: a failed training run fails
the build, and every run starts with ``-Xshare:on``, so a JVM that cannot map
the archive refuses to start instead of running without it. A stamp of the
source hash skips all of this when nothing changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
JAR = WORK / "perfbench.jar"
ARCHIVE = WORK / "perfbench.jsa"
STAMP = WORK / "build.sha256"
LIBRARY = ROOT / "src" / "main" / "scala"
OWN = HERE / "src"

# Spark writes its scratch files to spark.local.dir (inside the work
# directory) unless these point it elsewhere.
ENV = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}

# Spark 4 on JDK 17 needs these when the session starts outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def spark_jars():
    """The jars of the Spark install: $SPARK_HOME/jars, else the directory
    next to spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("perfbench: no Spark install with a Scala compiler found (set SPARK_HOME)")
    return sorted(jars.glob("*.jar"))


def sources():
    if not LIBRARY.is_dir():
        sys.exit("perfbench: library sources src/main/scala not found; "
                 "run from a full checkout of the repository")
    return sorted(LIBRARY.rglob("*.scala")) + sorted(OWN.rglob("*.scala"))


def source_hash(files):
    h = hashlib.sha256()
    for f in files + [pathlib.Path(__file__).resolve()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def java(classpath, main, args, archive=None, dump=None, heap="3g", props=()):
    """A java command line for `main` with the options Spark needs and the
    system properties `props`. The classpath is explicit jars: class-data
    sharing requires it."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cds = []
    if dump:
        cds = [f"-XX:ArchiveClassesAtExit={dump}"]
    elif archive:
        cds = ["-Xshare:on", f"-XX:SharedArchiveFile={archive}"]
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", f"-Xmx{heap}", "-Xss8m", "-XX:-UsePerfData",
             "-Xlog:disable", "-Xlog:all=error:stderr",
             *cds, *opens, f"-Djava.io.tmpdir={tmp}", *(f"-D{p}" for p in props),
             "-cp", os.pathsep.join(str(p) for p in classpath), main] + list(args))


def build():
    """Builds when the sources changed; returns (classpath, archive, source
    hash)."""
    files = sources()
    jars = spark_jars()
    classpath = [JAR] + jars
    digest = source_hash(files)
    if JAR.is_file() and ARCHIVE.is_file() and STAMP.is_file() and STAMP.read_text().strip() == digest:
        return classpath, ARCHIVE, digest
    WORK.mkdir(parents=True, exist_ok=True)
    STAMP.unlink(missing_ok=True)
    classes = WORK / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = WORK / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"[perfbench] compiling {len(files)} Scala sources", file=sys.stderr, flush=True)
    compiler = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", os.pathsep.join(map(str, jars)),
                "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(classes), f"@{argfile}"]
    if subprocess.run(compiler, cwd=ROOT, env=ENV).returncode != 0:
        sys.exit("perfbench: compile failed")
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    print("[perfbench] dumping the class-data archive", file=sys.stderr, flush=True)
    ARCHIVE.unlink(missing_ok=True)
    train = java(classpath, "perfbench.Train", [str(WORK)], dump=ARCHIVE)
    log = WORK / "train.log"
    with open(log, "w") as out:
        code = subprocess.run(train, cwd=ROOT, env=ENV, stdout=out, stderr=out).returncode
    if code != 0 or not ARCHIVE.is_file():
        ARCHIVE.unlink(missing_ok=True)
        tail = "\n".join(log.read_text().splitlines()[-20:])
        sys.exit(f"perfbench: training run for the class-data archive failed (exit code {code}); "
                 f"log tail:\n{tail}")
    STAMP.write_text(digest + "\n")
    return classpath, ARCHIVE, digest


if __name__ == "__main__":
    build()
