#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's main sources (``src/main/scala`` of the checkout) together
with the benchmark's own sources (``perfbench/src``) into one class
directory, using the Scala compiler that ships with the Spark distribution
(``$SPARK_HOME/jars``). No dependency is fetched.

The classes are packed into ``<build dir>/graft-bench.jar``, and one short
JVM run (``perfbench.ClassArchive``) writes the classes a run loads into a
class-data archive (``graft-bench.jsa``) that later runs map instead of
loading each class from its jar. Both are cached and keyed by a hash of
every source file, so only the first run in a checkout pays for them.

    python3 perfbench/build.py          # build (or confirm the cache)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def build_dir():
    """Per-checkout scratch area for classes, run dirs and traces."""
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME, else the one
    next to the ``spark-submit`` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("perfbench: no Spark distribution found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                          "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"),
                             recursive=True))
    if not graft:
        raise SystemExit("perfbench: graft sources (src/main/scala) are "
                         "missing from this checkout")
    if not bench:
        raise SystemExit("perfbench: benchmark sources are missing")
    return graft + bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def jar_path():
    return os.path.join(build_dir(), "graft-bench.jar")


def archive_path():
    return os.path.join(build_dir(), "graft-bench.jsa")


def build(jvm_opts=()):
    """Compile, pack and archive if the cache is stale; return the jar."""
    files = sources()
    jars = spark_jars()
    out = os.path.join(build_dir(), "classes")
    jar = jar_path()
    stamp_file = os.path.join(build_dir(), "build.stamp")
    want = stamp(files)
    if all(os.path.exists(f) for f in (stamp_file, jar, archive_path())):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return jar
    for stale in (stamp_file, jar, archive_path()):
        if os.path.exists(stale):
            os.remove(stale)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [j for j in sorted(glob.glob(os.path.join(jars, "*.jar")))
                if os.path.basename(j).startswith(
                    ("scala-compiler", "scala-library", "scala-reflect"))]
    argfile = os.path.join(build_dir(), "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + build_dir(), "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", out, "@" + argfile]
    print("perfbench: compiling %d sources" % len(files), file=sys.stderr)
    if subprocess.call(cmd, stdout=sys.stderr) != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit("perfbench: compilation failed")
    # class-data archives map jars only, not class directories
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, names in os.walk(out):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, out))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(out, ignore_errors=True)
    make_archive(jar, jars, jvm_opts)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return jar


def make_archive(jar, jars, jvm_opts):
    """Write the class-data archive; the build fails without it, so every
    run starts the same way."""
    jsa = archive_path()
    work = os.path.join(build_dir(), "archive-run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = jsa + ".tmp"
    cmd = (["java", "-XX:ArchiveClassesAtExit=" + tmp,
            "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] + list(jvm_opts) +
           ["-Djava.io.tmpdir=" + work,
            "-cp", os.pathsep.join([jar, os.path.join(jars, "*")]),
            "perfbench.ClassArchive", work])
    print("perfbench: writing the class-data archive", file=sys.stderr)
    try:
        done = subprocess.run(cmd, stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL, timeout=300,
                              cwd=ROOT).returncode == 0
    except subprocess.TimeoutExpired:
        done = False
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not (done and os.path.exists(tmp)):
        if os.path.exists(tmp):
            os.remove(tmp)
        raise SystemExit("perfbench: writing the class-data archive failed")
    os.replace(tmp, jsa)


if __name__ == "__main__":
    print(build())
