#!/usr/bin/env python3
"""Build file of the graft benchmark: compiles graft and the benchmark from source.

    python3 perfbench/build.py          # library + benchmark main
    python3 perfbench/build.py --test   # also the benchmark's own tests

graft (`src/main/scala`) and the benchmark (`perfbench/src/main/scala`)
compile with the Scala compiler that ships in `$SPARK_HOME/jars`, against
the Spark jars next to it, into `.bench_build/perfbench/` under the repo
root. Each output is keyed by a hash of its sources, so an unchanged tree
is not compiled twice. Prints the run classpath as its last line.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(RuntimeError):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set; it must name a Spark 4 / Scala 2.13 install")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any("scala-compiler-2.13" in j for j in jars):
        raise BuildError(f"no scala-compiler-2.13 jar under {home}/jars")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(d):
    files = sorted(str(p) for p in Path(d).rglob("*.scala"))
    if not files:
        raise BuildError(f"no Scala sources under {d}")
    return files


def compile_unit(name, srcs, classpath, jars):
    """Compile `srcs` into OUT/<name>-<hash>/, unless that output exists."""
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(Path(f).read_bytes())
    for c in classpath:
        h.update(c.encode())
    dest = OUT / f"{name}-{h.hexdigest()[:16]}"
    if (dest / ".done").exists():
        return str(dest)
    for stale in OUT.glob(f"{name}-*"):
        shutil.rmtree(stale, ignore_errors=True)
    dest.mkdir(parents=True)
    compiler = [j for j in jars if Path(j).name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = dest / "scalac.args"
    argfile.write_text("\n".join(["-nowarn", "-classpath", os.pathsep.join(classpath), "-d", str(dest)] + srcs))
    print(f"[build] compiling {name}: {len(srcs)} files", file=sys.stderr)
    r = subprocess.run([java_bin(), "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", f"@{argfile}"], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(dest, ignore_errors=True)
        raise BuildError(f"scalac failed on {name}")
    (dest / ".done").write_text("")
    return str(dest)


def build(with_tests=False):
    """Returns the classpath that runs the benchmark (and its tests)."""
    jars = spark_jars()
    lib = compile_unit("graft", sources(ROOT / "src" / "main" / "scala"), jars, jars)
    main = compile_unit("bench", sources(BENCH / "src" / "main" / "scala"), [lib] + jars, jars)
    cp = [main, lib]
    if with_tests:
        cp.insert(0, compile_unit("bench-test", sources(BENCH / "src" / "test" / "scala"), cp + jars, jars))
    return cp + jars


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build("--test" in sys.argv[1:])))
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
