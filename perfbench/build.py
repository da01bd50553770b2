"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) using the Scala compiler that ships in
the Spark distribution's jars, and packs the classes into
`.bench_build/classes-<source digest>/program.jar` at the checkout root.
The jars are `$SPARK_HOME/jars`, or else the directory the repository's
`build.sbt` names as `unmanagedBase`. A build is reused until any source
file changes. The runs of a build keep their class-data-sharing archives
beside the jar (see `class_archive`).

    python3 perfbench/build.py        # from the root of a checkout
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

BUILD_DIR = ".bench_build"
# no hsperfdata file under the system temp dir: a run writes only inside its checkout
JVM_FLAGS = ["-XX:-UsePerfData", "-Xss8m"]


def spark_jars(root):
    if "SPARK_HOME" in os.environ:
        jar_dir = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = root / "build.sbt"
        found = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                          sbt.read_text() if sbt.exists() else "")
        jar_dir = Path(found.group(1)) if found else None
    jars = sorted(jar_dir.glob("*.jar")) if jar_dir else []
    if not jars:
        raise SystemExit("perfbench: no Spark jars found; set SPARK_HOME")
    return [str(j) for j in jars]


def sources(root):
    program = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise SystemExit("perfbench: no program sources under src/main/scala; "
                         "run from the root of a checkout")
    return program + sorted((root / "perfbench" / "src").rglob("*.scala"))


def build(root):
    """Returns the program jar, compiling it first if needed."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    out = root / BUILD_DIR / f"classes-{digest.hexdigest()[:16]}"
    jar = out / "program.jar"
    if jar.exists():
        return jar
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    classes = tmp / "classes"
    classes.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cp = ":".join(spark_jars(root))
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    proc = subprocess.run(
        ["java", *JVM_FLAGS, "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(classes), "-classpath", cp, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise SystemExit("perfbench: compilation failed")
    argfile.unlink()
    # a jar, not a directory: class-data sharing archives only classes from jars
    with zipfile.ZipFile(tmp / "program.jar.tmp", "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    (tmp / "program.jar.tmp").rename(tmp / "program.jar")
    for old in (root / BUILD_DIR).glob("classes-*"):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    tmp.rename(out)
    return jar


def class_archive(jar):
    """JVM flags for the dynamic class-data-sharing archive of this build's
    runs, and the archive being written, if any.

    The first run on a build writes the archive of the classes it loaded
    as it exits; later runs, of every workload, map those classes from it
    instead of loading and verifying them from the jars, which takes
    seconds off each run's session start and first set-up pass. Timed
    calls run on warm classes either way. Call `keep_archive` after the
    writing run."""
    done = jar.with_name("classes.jsa")
    if done.exists():
        return [f"-XX:SharedArchiveFile={done}"], None
    if done.with_suffix(".failed").exists():
        return [], None
    writing = done.with_suffix(".jsa.tmp")
    return [f"-XX:ArchiveClassesAtExit={writing}"], writing


def keep_archive(writing, ok):
    """Keeps the archive a run wrote, or marks the build's runs to go
    without one when the run could not write it."""
    done = writing.with_suffix("")
    if ok and writing.exists():
        writing.rename(done)
    else:
        writing.unlink(missing_ok=True)
        done.with_suffix(".failed").touch()


if __name__ == "__main__":
    print(build(Path.cwd()))
