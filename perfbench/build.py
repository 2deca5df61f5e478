"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) with the Scala compiler that ships in Spark's jars.

The classes go to .bench_build/classes-<hash of every source>, so a build is
reused until a source file changes. Run it alone with

    python3 perfbench/build.py

which prints the classpath of the result.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
BUILD_DIR = ROOT / ".bench_build"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    names as its unmanagedBase."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        found = re.search(r'unmanagedBase := file\("([^"]+)"\)',
                          sbt.read_text()) if sbt.exists() else None
        jars = Path(found.group(1)) if found else None
    if jars is None or not jars.is_dir():
        raise SystemExit(f"no Spark jars at {jars}; set SPARK_HOME")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def scala_files() -> list:
    files = []
    for src in SOURCES:
        if not src.is_dir():
            raise SystemExit(f"missing source directory {src}")
        files += sorted(src.rglob("*.scala"))
    return files


def build(log=sys.stderr) -> str:
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    files = scala_files()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    out = BUILD_DIR / f"classes-{digest.hexdigest()[:16]}"
    classpath = f"{out}{os.pathsep}{jars}/*"
    if (out / ".done").exists():
        return classpath
    compiler = [j for part in ("compiler", "library", "reflect")
                for j in sorted(jars.glob(f"scala-{part}-2.13.*.jar"))]
    tmp = BUILD_DIR / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"perfbench: compiling {len(files)} Scala files", file=log, flush=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.pathsep.join(map(str, compiler)), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{jars}/*", "-d", str(tmp)] + [str(f) for f in files]
    done = subprocess.run(cmd, stdout=log, stderr=log)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({done.returncode})")
    (tmp / ".done").touch()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    for old in BUILD_DIR.glob("classes-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return classpath


if __name__ == "__main__":
    print(build())
