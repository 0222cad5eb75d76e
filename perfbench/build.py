"""Build file of the benchmark package: compiles the engine (`src/main/scala`)
and the benchmark's JVM side (`perfbench/scala`) with the Scala compiler
that ships in Spark's jars, into `.bench_build/perfbench/graft.jar`.

A build ends with a class-data-sharing archive of the classes a Spark
session loads (`classes.jsa`, written by a short training JVM), which
every run maps, so no run depends on an earlier one. A build is reused
while no source file changed (a content stamp); a fresh checkout builds
once, in one to two minutes on 4 cores.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HEAP = "3g"  # fixed, so the heap does not resize between measured cycles
# More compiler threads and earlier compilation: the JIT's backlog drains
# during set-up instead of slowing the first timed cycles (on 4 vCPUs the
# default settings were still compiling 20-30 s into the timed phase).
JIT = ["-XX:CICompilerCount=6", "-XX:CompileThresholdScaling=0.5"]
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spark_jars():
    """Spark's jars: under $SPARK_HOME, else under the first Spark install
    on PATH that ships the Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = Path(d) / "spark-submit"
        jars = submit.resolve().parent.parent / "jars"
        if submit.is_file() and any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: set SPARK_HOME to a Spark install")


def sources(root):
    engine = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise SystemExit(f"perfbench: no engine sources under {root}/src/main/scala")
    return engine + sorted((root / "perfbench" / "scala").rglob("*.scala"))


def out_dir(root):
    out = Path(os.environ.get("CARGO_TARGET_DIR", root / ".bench_build"))
    return (out if out.is_absolute() else root / out) / "perfbench"


def java(jar, tmpdir, share, main, args):
    """The command of a benchmark JVM; `share` is the class-data-sharing
    flag (the training run's writes the archive, a run's maps it)."""
    cp = f"{jar}{os.pathsep}{spark_jars() / '*'}"
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmpdir}",
              share] + JIT + [
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", cp, main] + args)


def archive(jar):
    return jar.parent / "classes.jsa"


def build(root):
    """Return the jar, compiling first when sources changed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    out = out_dir(root)
    jar, stamp_file = out / "graft.jar", out / "stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp and jar.is_file():
        return jar
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = str(spark_jars() / "*")
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={out}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
           "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    # class-data sharing maps classes from jars only, not from directories
    with zipfile.ZipFile(out / "graft.jar.tmp", "w") as z:
        for f in sorted(tmp.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    (out / "graft.jar.tmp").replace(jar)
    train = out / "training"
    shutil.rmtree(train, ignore_errors=True)
    train.mkdir()
    archive(jar).unlink(missing_ok=True)
    r = subprocess.run(
        java(jar, train, f"-XX:ArchiveClassesAtExit={archive(jar)}",
             "graft.perfbench.ArchiveTraining", [str(train)]),
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=300, cwd=train)
    shutil.rmtree(train)
    if r.returncode != 0 or not archive(jar).is_file():
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: class-data-sharing training run failed")
    stamp_file.write_text(stamp)
    return jar


if __name__ == "__main__":
    print(build(Path.cwd()))
