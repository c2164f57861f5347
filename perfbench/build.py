"""Compile the program and the benchmark driver into one class directory.

The program's sources (src/main/scala) and the driver's (perfbench/src) are
compiled together by the Scala compiler that ships with the Spark jars the
project builds against (the jar directory the root build.sbt names as its
unmanagedBase, or $SPARK_HOME/jars). A content stamp skips the compile when
nothing changed. Run directly to build: python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD = ".bench_build"


def jars_dir():
    """The Spark jar directory the project compiles against."""
    try:
        with open("build.sbt", encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("build: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def jars(d):
    return sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))


def sources():
    out = []
    for root in ("src/main/scala", "perfbench/src"):
        for dp, _, fs in os.walk(root):
            out += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def resources():
    out = []
    for dp, _, fs in os.walk("src/main/resources"):
        out += [os.path.join(dp, f) for f in fs]
    return sorted(out)


def stamp(files, jar_list):
    h = hashlib.sha256()
    for p in files:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jar_list:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build():
    """Return the classpath to run the driver with, compiling if needed."""
    if not os.path.isdir("src/main/scala") or not os.path.isfile("perfbench/src/perfbench/Driver.scala"):
        raise SystemExit("build: run from the repository root (src/main/scala and perfbench/src needed)")
    jar_list = jars(jars_dir())
    srcs = sources()
    res = resources()
    want = stamp(srcs + res, jar_list)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    cp = [os.path.abspath(classes), os.path.join(jars_dir(), "*")]
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jar_list if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        raise SystemExit("build: scala compiler, library and reflect jars not found")
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("-nowarn\n-d\n%s\n-classpath\n%s\n" % (tmp, os.pathsep.join(jar_list)))
        f.write("\n".join(srcs) + "\n")
    print("build: compiling %d sources" % len(srcs), file=sys.stderr, flush=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        "-Djava.io.tmpdir=" + os.path.abspath(BUILD),
                        "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "@" + argfile])
    if r.returncode != 0:
        raise SystemExit("build: scalac failed (exit %d)" % r.returncode)
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(want)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return cp


if __name__ == "__main__":
    build()
