"""Builds the program and the benchmark harness from source.

One scalac pass compiles the program (src/main/scala) together with the
harness (perfbench/src) against the Spark jars ($SPARK_HOME/jars, which
also hold the Scala compiler), into BUILD/classes, and
copies the program's resources beside them. A stamp over every source
file skips the build when nothing changed.

    python3 perfbench/build.py [BUILD_DIR]

BUILD_DIR defaults to $CARGO_TARGET_DIR, else .bench_build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SCALA = "2.13.17"


def spark_jars():
    """The jars of the Spark installation at $SPARK_HOME."""
    home = os.environ.get("SPARK_HOME", "")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not home or not jars:
        raise SystemExit(f"no Spark jars under SPARK_HOME={home!r}/jars")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit(f"no program sources under {root}/src/main/scala")
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))
    res = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"),
                                      recursive=True) if os.path.isfile(p))
    return prog + bench, res


def build(root, out):
    srcs, res = sources(root)
    h = hashlib.sha256(SCALA.encode())
    for p in srcs + res:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j) in (
        f"scala-compiler-{SCALA}.jar", f"scala-library-{SCALA}.jar",
        f"scala-reflect-{SCALA}.jar")]
    if len(compiler) != 3:
        raise SystemExit(f"scala {SCALA} compiler jars not among the Spark jars")
    argfile = os.path.join(out, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(f'"{p}"' for p in srcs))  # paths may hold spaces
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", classes,
         "-cp", os.pathsep.join(jars), "@" + argfile],
        check=True, stdout=sys.stderr)
    base = os.path.join(root, "src/main/resources")
    for p in res:
        dst = os.path.join(classes, os.path.relpath(p, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    out = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                          os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    print(build(root, out))
