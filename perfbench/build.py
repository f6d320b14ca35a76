"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark's
JVM program (`perfbench/scala`) into `.bench_build/perfbench/classes`,
with the Scala compiler and the Spark jars that ship in `$SPARK_HOME/jars`
(the jars the repo's own build.sbt compiles against). A stamp of the
sources' hash skips the compile when nothing changed.

    python3 perfbench/build.py        # from the repo root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark 4 install")
    return os.path.join(home, "jars")


def sources(root):
    srcs = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        raise SystemExit(f"perfbench: no program sources under {root}/src/main/scala")
    return srcs + sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                                   recursive=True))


def ensure(root, out_dir):
    """Compile if needed; return the run-time classpath."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "classes.stamp")
    jars = spark_jars()
    cp = f"{classes}{os.pathsep}{os.path.join(jars, '*')}"
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    scala = [glob.glob(os.path.join(jars, f"scala-{p}-2.13.*.jar"))[0]
             for p in ("compiler", "library", "reflect")]
    argfile = os.path.join(out_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    tmp = os.path.join(out_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(scala),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar")))),
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


if __name__ == "__main__":
    root = os.getcwd()
    print(ensure(root, os.path.join(root, ".bench_build", "perfbench")))
