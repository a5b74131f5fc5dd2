"""Build file of the benchmark package.

Compiles the program (`src/main/scala` of the checkout) together with the
benchmark harness (`perfbench/scala`) into `.bench_build/`, against the
Spark jar directory the repository's build.sbt compiles against (its
`unmanagedBase`, else `$SPARK_HOME/jars`), with the Scala 2.13 compiler
that ships in that directory. A digest of every source file decides
whether the last build is still current, so only the first run in a
checkout pays for compilation.

    python3 perfbench/pb/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

BUILD_DIR = ".bench_build"

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def sources(root):
    """Program and harness sources; raises if the program is missing."""
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not prog:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    return prog + bench


def spark_jars(root):
    """The jar directory of the repository's build (see module doc)."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root="."):
    """Compile if needed; return (classpath string, seconds spent)."""
    t0 = time.time()
    files = sources(root)
    jars = spark_jars(root)
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found at {jars}")
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp = os.path.join(root, BUILD_DIR, "classes.sha256")
    digest = _digest(files)
    current = (os.path.exists(stamp)
               and open(stamp).read().strip() == digest)
    if not current:
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        argfile = os.path.join(root, BUILD_DIR, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(os.path.abspath(f) for f in files))
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
               "scala.tools.nsc.Main", "-nowarn", "-d", out,
               "-classpath", f"{jars}/*", "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        with open(stamp, "w") as fh:
            fh.write(digest)
    res = os.path.join(root, "src/main/resources")
    cp = os.pathsep.join([os.path.abspath(out), os.path.abspath(res),
                          f"{jars}/*"])
    return cp, time.time() - t0


def java_opts(heap):
    """JVM options of a benchmark run. -XX:-UsePerfData keeps the JVM from
    writing its hsperfdata file outside the checkout."""
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return opens + ["-XX:-UsePerfData", f"-Xmx{heap}",
                    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


if __name__ == "__main__":
    try:
        cp, secs = build(".")
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    print(f"built in {secs:.1f} s")
