"""Build file of the benchmark package: compiles the program's sources
(`src/main/scala` at the checkout root) together with the benchmark's own
harness (`perfbench/src`) with the Scala compiler that ships with Spark,
into `perfbench/.work/classes/<stamp>`, where the stamp is a hash of
every source file's path and content: a build whose stamp is already
there is skipped.

Run by hand: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return prog, own


def classpath(classes):
    return f"{classes}{os.pathsep}{SPARK_JARS}/*"


def build(work):
    """Compiles if needed; returns the classes directory and whether this
    call compiled. Raises RuntimeError when the program's sources are
    missing or do not compile."""
    prog, own = sources()
    if not prog:
        raise RuntimeError(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        raise RuntimeError("SPARK_HOME must name a Spark distribution whose jars/ holds the Scala compiler")
    stamp = hashlib.sha256()
    for p in prog + own:
        stamp.update(p.encode())
        with open(p, "rb") as f:
            stamp.update(f.read())
    # one directory per stamp, so builds of two versions of the sources
    # sit side by side and switching between them does not recompile
    classes = os.path.join(work, "classes", stamp.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes, False
    out = classes + ".tmp"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = os.path.join(work, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(prog + own))
    cmd = ["java", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
           "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", f"{SPARK_JARS}/*", f"@{args_file}"]
    proc = subprocess.run(cmd, capture_output=True, text=True)
    if proc.returncode != 0:
        raise RuntimeError("compile failed:\n" + (proc.stdout + proc.stderr)[-4000:])
    open(os.path.join(out, ".done"), "w").close()
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(out, classes)
    return classes, True


if __name__ == "__main__":
    try:
        print(build(os.path.join(BENCH, ".work"))[0])
    except RuntimeError as e:
        sys.exit(str(e))
