"""Build file of the benchmark.

Compiles the repository's main Scala sources (src/main/scala) together with
the benchmark's own (perfbench/src) using the Scala compiler that ships in the
Spark distribution, into .bench_build/classes. A build is reused while no
source file changed.

    python3 perfbench/build.py        # build only; prints the classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = ".bench_build"


def spark_jars() -> Path:
    """The jars directory of the Spark distribution: $SPARK_HOME/jars, else
    the one bundled with the pyspark package."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    else:
        try:
            import pyspark

            candidates.append(Path(pyspark.__file__).parent / "jars")
        except ImportError:
            pass
    for c in candidates:
        if any(c.glob("scala-compiler-*.jar")):
            return c
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources(root: Path) -> list:
    dirs = [root / "src" / "main" / "scala", root / "perfbench" / "src"]
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def stamp(root: Path, srcs: list, jars: Path) -> str:
    h = hashlib.sha256(str(sorted(j.name for j in jars.glob("*.jar"))).encode())
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(root: Path) -> str:
    """Compile if needed; return the run classpath."""
    jars = spark_jars()
    srcs = sources(root)
    out = root / BUILD_DIR / "classes"
    stamp_file = root / BUILD_DIR / "classes.stamp"
    want = stamp(root, srcs, jars)
    if not (stamp_file.is_file() and stamp_file.read_text() == want):
        shutil.rmtree(out, ignore_errors=True)
        stamp_file.unlink(missing_ok=True)
        out.mkdir(parents=True)
        args = root / BUILD_DIR / "scalac.args"
        args.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
        print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
        cmd = ["java", "-Xss8m", "-Xmx1536m", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={root / BUILD_DIR}", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
               "-nowarn", "-d", str(out), "-classpath", f"{jars}/*", f"@{args}"]
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            raise SystemExit("perfbench: build failed")
        stamp_file.write_text(want)
    return os.pathsep.join([str(out), str(root / "src" / "main" / "resources"), f"{jars}/*"])


if __name__ == "__main__":
    print(build(Path.cwd()))
