"""Build file of the benchmark: compiles the program's main sources and the
harness under scala/ with the Scala compiler that ships among the Spark
jars, into <target>/classes-<digest>. Rebuilds only when a source changes.

    python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars() -> str:
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    d = os.path.join(home, "jars")
    if not glob.glob(os.path.join(d, "spark-sql_*.jar")):
        raise SystemExit(f"no Spark jars under {d} (set SPARK_HOME)")
    return d


def sources(root: str) -> list:
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"program sources not found at {main}: run from the repository root")
    found = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    found += glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True)
    return sorted(found)


def target_dir(root: str) -> str:
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def ensure(root: str) -> str:
    """Path of the compiled classes for the current sources."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    target = target_dir(root)
    classes = os.path.join(target, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    jars = spark_jars()
    tool = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{name}-2.13*.jar"))[0]
        for name in ("compiler", "library", "reflect"))
    tmp = f"{classes}.tmp{os.getpid()}"
    os.makedirs(tmp)
    argfile = os.path.join(target, f"sources{os.getpid()}.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", tool, "scala.tools.nsc.Main",
           "-usejavacp:false", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", tmp, "@" + argfile]
    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              text=True, timeout=800)
    finally:
        os.remove(argfile)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("compilation failed")
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(ensure(os.getcwd()))
