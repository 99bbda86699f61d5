"""Build of the benchmark package: graft's sources plus the Scala driver
in benchmark/scala, compiled with the Scala compiler that ships with the
Spark distribution into .bench_build/graft-benchmark/classes. The build is
skipped while the classes match the sources (a hash of every source file
and of the jar names).

    python3 benchmark/build.py      # run.py also calls it before every run
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "graft-benchmark")


def fail(msg):
    print(f"graft benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        dirs.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if any("scala-compiler" in j for j in jars):
            return jars
    fail("no Spark distribution with a Scala compiler (set SPARK_HOME)")


def build(jars):
    """Compile graft and the driver unless the classes match the sources."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not srcs:
        fail("graft sources (src/main/scala) not found; run from a checkout")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    h = hashlib.sha256("\n".join(os.path.basename(j) for j in jars).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes, stamp = os.path.join(BUILD, "classes"), os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-d", classes, "-classpath", os.pathsep.join(jars)] + srcs))
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
                        "-cp", os.pathsep.join(jars),
                        "scala.tools.nsc.Main", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


if __name__ == "__main__":
    print(build(spark_jars()))
