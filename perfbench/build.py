"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the benchmark's harness (perfbench/scala)
into one class directory, with the Scala compiler that ships among the
Spark jars. A build is reused while no source file changed.

    python3 perfbench/build.py    # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench", "build")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the directory
    build.sbt names as `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("no SPARK_HOME and no unmanagedBase in build.sbt")
        d = m.group(1)
    if not os.path.isdir(d):
        raise BuildError("Spark jar directory %s not found" % d)
    return d


def sources():
    srcs = []
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "scala")):
        if not os.path.isdir(top):
            raise BuildError("source directory %s not found" % top)
        for d, _, fs in os.walk(top):
            srcs += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(srcs)


def build():
    """Returns the class directory, compiling first when sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha1()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as fh:
            h.update(hashlib.sha1(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()[:16]
    classes = os.path.join(OUT, "classes-" + key)
    if os.path.exists(os.path.join(classes, ".done")):
        return classes, key
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(OUT, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    open(os.path.join(classes, ".done"), "w").close()
    return classes, key


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit("build: %s" % e)
