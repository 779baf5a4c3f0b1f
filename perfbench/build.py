"""Compiles the program (every .scala file under src/main/scala) together
with the benchmark harness (perfbench/scala) into one class directory.

The Scala 2.13 compiler and Spark ship as jars in $SPARK_HOME/jars (or
next to the `spark-submit` on PATH), the jars build.sbt compiles against.
Outputs go to <build>/classes-<hash of every source and the jar list>, so
an unchanged tree is compiled once and a changed one never reuses stale
classes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not any("scala-compiler" in j for j in jars):
        sys.exit(f"perfbench: no Spark jars with a Scala compiler under {home}/jars; set SPARK_HOME")
    return jars


def sources(root):
    app = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/scala/*.scala")))
    if not app or not bench:
        sys.exit("perfbench: no program sources under src/main/scala")
    return app + bench


def build(root, build_dir):
    """Return the class directory for the current sources, compiling if needed."""
    jars, srcs = spark_jars(), sources(root)
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".complete")):
        return classes, 0.0
    t0 = time.time()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={build_dir}", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-classpath", os.pathsep.join(jars), "-nowarn",
           "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: compilation failed")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return classes, time.time() - t0
