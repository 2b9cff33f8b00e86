"""Builds graft and the benchmark driver from source with scalac.

The Scala compiler and every runtime dependency come from the Spark
distribution ($SPARK_HOME/jars, or the one holding `spark-submit` on PATH),
the same jars the repository's build.sbt compiles against. Output goes to
<build root>/perfbench/classes and is reused while no source file changes.

    python3 perfbench/build.py [build root]
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(REPO, "src", "main", "scala"), os.path.join(HERE, "scala")]
RESOURCES = os.path.join(REPO, "src", "main", "resources")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit("perfbench: source directory %s is missing" % d)
        for root, _, names in os.walk(d):
            out.extend(os.path.join(root, n) for n in names if n.endswith(".scala"))
    return sorted(out)


def build(build_root):
    """Returns the runtime classpath, compiling first when sources changed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, REPO).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(",".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    out = os.path.join(build_root, "perfbench", "classes")
    stamp_file = os.path.join(out, ".stamp")
    if not (os.path.isfile(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        args_file = os.path.join(build_root, "perfbench", "scalac.args")
        with open(args_file, "w") as f:
            f.write("\n".join('"%s"' % s for s in srcs))
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", out,
               "-classpath", os.path.join(jars, "*"), "@" + args_file]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            shutil.rmtree(out, ignore_errors=True)
            sys.stderr.write(proc.stdout[-20000:])
            raise SystemExit("perfbench: scalac failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([out, RESOURCES, os.path.join(jars, "*")])


if __name__ == "__main__":
    root = sys.argv[1] if len(sys.argv) > 1 else os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    print(build(os.path.abspath(root)))
