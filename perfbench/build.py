"""Builds the engine plus the benchmark harness from source.

Compiles `src/main/scala` and `perfbench/scala` with the Scala 2.13
compiler that ships among Spark's jars into `<build dir>/classes`, where
the build dir is `$CARGO_TARGET_DIR` or `.bench_build`. A stamp of the
sources' hash makes a rebuild happen only when a source file changed.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    cands = [os.path.join(os.environ["SPARK_HOME"], "jars")] if os.environ.get("SPARK_HOME") else []
    submit = shutil.which("spark-submit")
    if submit:  # <spark home>/bin/spark-submit
        cands.append(os.path.join(os.path.dirname(os.path.dirname(
            os.path.realpath(submit))), "jars"))
    try:
        import pyspark
        cands.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in cands:
        if glob.glob(os.path.join(c, "spark-sql_2.13-*.jar")) and \
                glob.glob(os.path.join(c, "scala-compiler-2.13*.jar")):
            return c
    raise SystemExit("perfbench: no Spark 2.13 jars with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources():
    files = []
    for d in ("src/main/scala", "perfbench/scala"):
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: {d} not found; run from the repository root")
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compiles if needed; returns the classpath string."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256(jars.encode())
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp_file = os.path.join(build_dir(), "classes.stamp")
    cp_jars = os.path.join(jars, "*")
    classpath = os.pathsep.join([out, os.path.abspath("src/main/resources"), cp_jars])
    if os.path.isdir(out) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return classpath
    os.makedirs(build_dir(), exist_ok=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={build_dir()}", "-cp", cp_jars, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "-cp", cp_jars, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
