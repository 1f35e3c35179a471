"""Build file of the benchmark harness.

Compiles the graft library sources (src/main/scala at the repository root)
together with the harness (perfbench/harness) into one class directory,
with the Scala compiler and Spark jars of the local Spark install
($SPARK_HOME, or the install of a spark-submit on PATH). Nothing
is downloaded and nothing is written outside the build directory. The
output is keyed by a hash of every source file, so a second run on the same
sources reuses it.

    python3 perfbench/build.py [build_dir]   # prints the class directory
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD_TIMEOUT_S = 600


def spark_home():
    """$SPARK_HOME, else the first install on PATH whose spark-submit sits
    beside a jars/ directory (wrapper scripts, such as pip's, do not)."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = (Path(d) / "spark-submit").resolve().parent.parent
        if (Path(d) / "spark-submit").is_file() and (home / "jars").is_dir():
            return home
    raise SystemExit("no Spark install: set SPARK_HOME or put spark-submit on PATH")


def sources():
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        raise SystemExit(f"no graft sources at {lib}")
    files = sorted(lib.rglob("*.scala")) + sorted((HERE / "harness").rglob("*.scala"))
    return files


def classpath():
    jars = spark_home() / "jars"
    if not jars.is_dir():
        raise SystemExit(f"no Spark jars at {jars}")
    return str(jars / "*")


def build(build_dir):
    files = sources()
    h = hashlib.sha256()
    for f in files + [Path(__file__).resolve()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = Path(build_dir) / f"classes-{h.hexdigest()[:16]}"
    if (out / ".done").exists():
        return out
    tmp = Path(build_dir) / f"building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        args = tmp / "sources.txt"
        args.write_text("\n".join(str(f) for f in files) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", classpath(),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp), f"@{args}"]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            sys.stderr.write(r.stdout)
            raise SystemExit(f"scalac failed with code {r.returncode}")
        args.unlink()
        (tmp / ".done").write_text("")
        shutil.rmtree(out, ignore_errors=True)
        tmp.rename(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for old in Path(build_dir).glob("classes-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ROOT / ".bench_build"))
