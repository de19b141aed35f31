"""Build file of the benchmark: compiles the library (src/main/scala of the
checkout) together with the benchmark's own Scala sources into one class
directory, with the Scala compiler that ships in Spark's jar directory.

    python3 perfbench/build.py            # build if any source changed

The class directory is `$CARGO_TARGET_DIR/classes` (default
`.bench_build/classes`) under the checkout root. A stamp of every source
file's path and bytes skips the build when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
LIB_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src"


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the jars next to the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: set SPARK_HOME or put spark-submit on PATH")
        home = Path(submit).resolve().parent.parent
    return Path(home) / "jars"


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def classpath() -> str:
    return f"{build_dir() / 'classes'}{os.pathsep}{spark_jars() / '*'}"


def sources() -> list:
    if not LIB_SRC.is_dir():
        raise SystemExit(f"build: no library sources at {LIB_SRC.relative_to(ROOT)}")
    files = sorted(LIB_SRC.rglob("*.scala")) + sorted(LIB_SRC.rglob("*.java"))
    return files + sorted(BENCH_SRC.rglob("*.scala"))


def stamp(files) -> str:
    h = hashlib.sha256()
    for f in files + sorted(p for p in LIB_RES.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> Path:
    files = sources()
    out = build_dir()
    classes = out / "classes"
    want = stamp(files)
    stamp_file = out / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return classes
    if not list(spark_jars().glob("scala-compiler-*.jar")):
        raise SystemExit(f"build: no scala-compiler jar in {spark_jars()}")
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    args_file = out / "sources.txt"
    args_file.write_text("\n".join(str(f) for f in files) + "\n")
    jars = f"{spark_jars() / '*'}"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
           "-classpath", jars, f"@{args_file}"]
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    if LIB_RES.is_dir():
        shutil.copytree(LIB_RES, classes, dirs_exist_ok=True)
    stamp_file.write_text(want)
    return classes


if __name__ == "__main__":
    build()
    print(f"built {build_dir() / 'classes'}", file=sys.stderr)
