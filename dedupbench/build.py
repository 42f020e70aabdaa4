"""Build file of the dedupbench package.

Compiles the engine (``src/main/scala`` of the checkout) and then the
benchmark (``dedupbench/src``) against the engine's classes, with the
Scala compiler that ships in Spark's ``jars`` directory. No sbt, no network,
and every output lands under ``.bench_build/`` in the checkout.

Outputs are keyed by a digest of every source file, so an unchanged tree
reuses the previous build and a changed one rebuilds.

    python3 dedupbench/build.py        # prints the run classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"
BUILD_DIR = ROOT / ".bench_build"


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME, else the install `spark-submit` runs from."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        sys.exit("dedupbench: no Spark install with a Scala compiler found "
                 "(set SPARK_HOME)")
    return jars


def sources(tree: Path) -> list:
    return sorted(p for p in tree.rglob("*.scala") if p.is_file())


def digest(files: list) -> str:
    h = hashlib.sha256()
    for p in files + [Path(__file__).resolve()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def scalac(jars: Path, classpath: list, out: Path, files: list) -> None:
    out.mkdir(parents=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", os.pathsep.join(str(c) for c in classpath)]
    subprocess.run(cmd + [str(f) for f in files], check=True)


def build() -> list:
    """Compile if needed; return the classpath entries a run needs."""
    if not ENGINE_SRC.is_dir() or not BENCH_SRC.is_dir():
        sys.exit(f"dedupbench: engine sources ({ENGINE_SRC.relative_to(ROOT)}) "
                 "or benchmark sources missing — run from a full checkout")
    engine, bench = sources(ENGINE_SRC), sources(BENCH_SRC)
    if not engine:
        sys.exit("dedupbench: no engine sources to build")
    jars = spark_jars()
    out = BUILD_DIR / ("classes-" + digest(engine + bench))
    classpath = [out / "engine", out / "bench", jars / "*"]
    if (out / "ok").exists():
        return classpath
    tmp = BUILD_DIR / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    print(f"dedupbench: compiling {len(engine)} engine and {len(bench)} "
          "benchmark sources", file=sys.stderr)
    scalac(jars, [jars / "*"], tmp / "engine", engine)
    scalac(jars, [tmp / "engine", jars / "*"], tmp / "bench", bench)
    (tmp / "ok").write_text("")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return classpath


if __name__ == "__main__":
    print(os.pathsep.join(str(c) for c in build()))
