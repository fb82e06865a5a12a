"""Build file of the benchmark: compiles the program (src/main/scala)
together with the benchmark driver (perfbench/src) with the Scala
compiler that ships in Spark's jars directory, into .bench_build/.

    python3 perfbench/build.py        # prints the classes directory

The output directory is keyed on a digest of every source file, so an
unchanged tree is not rebuilt. Exits non-zero when the program's
sources or Spark cannot be found.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALA = "2.13.17"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isfile(os.path.join(jars, f"scala-compiler-{SCALA}.jar")):
        sys.exit("build: Spark jars with scala-compiler-%s not found (set SPARK_HOME)" % SCALA)
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        sys.exit("build: no program sources under src/main/scala")
    return prog + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build():
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(ROOT, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, "BUILD_OK")):
        return out
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{j}-{SCALA}.jar")
                               for j in ("compiler", "library", "reflect"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("build: scalac failed")
    os.remove(argfile)
    open(os.path.join(tmp, "BUILD_OK"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
