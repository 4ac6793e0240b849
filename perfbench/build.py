"""Build file of the benchmark: compiles the program (``src/main/scala``)
together with the harness (``perfbench/scala``) into one class directory,
with the Scala compiler and the Spark jars of the local Spark install
(``$SPARK_HOME``, else the one ``spark-submit`` on the PATH belongs to).

The build is skipped when the class directory was compiled from exactly
the current sources.  Run as ``python3 perfbench/build.py`` to build only.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCES = ("src/main/scala", os.path.relpath(os.path.join(HERE, "scala")))


class BuildError(Exception):
    pass


def build_dir():
    return os.environ.get("CARGO_TARGET_DIR") or ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark install with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found")
    return exe


def _sources():
    files = []
    for d in SOURCES:
        if not os.path.isdir(d):
            raise BuildError(f"source directory {d} is missing")
        for root, _, names in os.walk(d):
            files += [os.path.join(root, n) for n in names
                      if n.endswith(".scala")]
    return sorted(files)


def classpath():
    """Build if needed; return the run-time classpath."""
    out = os.path.join(build_dir(), "classes")
    files = _sources()
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = out + ".stamp"
    jars = os.path.join(spark_jars(), "*")
    if not (os.path.isdir(out) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        tmp = out + ".new"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        args_file = os.path.join(build_dir(), "scalac.args")
        with open(args_file, "w") as fh:
            fh.write("\n".join(files) + "\n")
        r = subprocess.run(
            [java(), "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", jars, "@" + args_file],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise BuildError("scalac failed")
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return os.pathsep.join([os.path.abspath(out), jars])


if __name__ == "__main__":
    try:
        print(classpath())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
