"""Build file of the benchmark: compiles the program (`src/main/scala`)
and the harness (`perfbench/src`) with the Scala compiler that ships in
Spark's jar directory, so no build tool or network is needed.

Outputs go under $CARGO_TARGET_DIR (default `.bench_build`) in the
checkout; a step is skipped when the hash of its sources is unchanged.

Usage: python3 perfbench/build.py   (prints the run classpath)
"""
import glob
import hashlib
import importlib.util
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME, else the installed pyspark
    package, which ships the same jars."""
    homes = [os.environ.get("SPARK_HOME")]
    spec = importlib.util.find_spec("pyspark")
    if spec and spec.origin:
        homes.append(os.path.dirname(spec.origin))
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_step(name, srcs, classpath, stamp_extra=""):
    out = os.path.join(build_dir(), name)
    stamp = os.path.join(build_dir(), name + ".stamp")
    key = digest(srcs, stamp_extra)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return out, key
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath,
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out] + srcs
    print(f"perfbench: compiling {name} ({len(srcs)} files)", file=sys.stderr, flush=True)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(key)
    return out, key


def build():
    """Compiles what changed and returns the run classpath."""
    program = sources(PROGRAM_SRC)
    if not program:
        sys.exit(f"perfbench: no program sources under {PROGRAM_SRC}")
    jars = os.path.join(spark_jars(), "*")
    prog_out, prog_key = compile_step("program", program, jars)
    harness_out, _ = compile_step("harness", sources(HARNESS_SRC),
                                  prog_out + os.pathsep + jars, prog_key)
    return os.pathsep.join([harness_out, prog_out, jars])


if __name__ == "__main__":
    print(build())
