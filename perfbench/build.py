"""Build the program and the benchmark from source with the Scala compiler
that ships in Spark's jar directory. Outputs land under .bench_build/ in the
repository root, keyed by a hash of every source file, so an unchanged tree
builds once.

    python3 perfbench/build.py        # prints the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("Spark jars not found: set SPARK_HOME")
    if not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return os.path.join(jars, "*")


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def compile_into(dest, srcs, classpath):
    os.makedirs(dest, exist_ok=True)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-cp", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"scalac failed for {dest}:\n{r.stdout[-4000:]}")


def build():
    """Compile if needed; return the runtime classpath."""
    if not os.path.isdir(PROGRAM_SRC) or not os.path.isdir(BENCH_SRC):
        raise BuildError("program sources not found: run from a full checkout")
    jars = spark_jars()
    prog, bench = sources(PROGRAM_SRC), sources(BENCH_SRC)
    h = hashlib.sha256()
    for p in prog + bench:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    base = os.path.join(OUT, key)
    main_cls, bench_cls = os.path.join(base, "main"), os.path.join(base, "bench")
    classpath = os.pathsep.join([bench_cls, main_cls, PROGRAM_RES, jars])
    if os.path.exists(os.path.join(base, "done")):
        return classpath
    if os.path.isdir(OUT):
        shutil.rmtree(OUT)
    t = time.time()
    compile_into(main_cls, prog, jars)
    compile_into(bench_cls, bench, os.pathsep.join([main_cls, jars]))
    open(os.path.join(base, "done"), "w").close()
    print(f"[perfbench] built in {time.time() - t:.0f}s", file=sys.stderr)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"[perfbench] {e}")
