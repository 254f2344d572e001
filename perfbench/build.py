"""Compiles the library (src/main/scala) and the benchmark (perfbench/src)
into .bench_build/classes-<hash> with the Scala compiler that ships in
Spark's jars directory. A tree whose sources hash the same is built once.

Spark's jars are found through SPARK_HOME, else through spark-submit on
PATH. Usage: python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
COMPILE_TIMEOUT_S = 600


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not jars.is_dir():
        raise BuildError(f"no jars directory under {home}")
    return jars


def sources():
    lib = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not lib:
        raise BuildError("no library sources under src/main/scala")
    return lib + sorted((ROOT / "perfbench" / "src").glob("*.scala"))


def build():
    """Returns the classes directory, compiling it if it is not there yet."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".done").exists():
        return out
    tmp = BUILD / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    classpath = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    args = tmp / "scalac.args"
    args.write_text("\n".join(["-d", str(tmp / "classes"), "-classpath", classpath]
                              + [str(f) for f in srcs]) + "\n")
    compiler = os.pathsep.join(str(next(jars.glob(g + ".jar"))) for g in
                               ("scala-compiler-2*", "scala-library-2*", "scala-reflect-2*"))
    try:
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
                            "scala.tools.nsc.Main", f"@{args}"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compile did not finish in {COMPILE_TIMEOUT_S} s")
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    (tmp / "classes").rename(out)
    (out / ".done").touch()
    shutil.rmtree(tmp, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
