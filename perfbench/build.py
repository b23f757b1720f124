"""Build file of the benchmark package: compiles the engine (`src/main/scala`
of the checkout) and the benchmark harness (`perfbench/src`) with the Scala
compiler that ships in Spark's jar directory. Output goes to
`<build dir>/classes`; a fingerprint of every source skips an up-to-date build.

Usage: python3 perfbench/build.py [BUILD_DIR]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"perfbench: engine sources missing: {engine}")
    files = []
    for top in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build(build_dir):
    """Returns the runtime classpath, compiling first when sources changed."""
    jars = spark_jars()
    classes = os.path.join(build_dir, "classes")
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "classes.sha256")
    classpath = f"{classes}{os.pathsep}{jars}/*"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{m}-2.13*.jar"))[0]
        for m in ("compiler", "library", "reflect"))
    args_file = os.path.join(build_dir, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files) + "\n")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + build_dir,
         "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", f"{jars}/*", "@" + args_file],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return classpath


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(build(out))
