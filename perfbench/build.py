"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala`) together with the
benchmark's Scala sources (`perfbench/src`) into
`.bench_build/perfbench/classes`, with the Scala compiler that ships in Spark's jar directory — the same jars
the program's own build puts on its classpath. A stamp over every source
file's bytes skips the compile when nothing changed.

    python3 perfbench/build.py          # from the repository root
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

SCALAC_OPTS = ["-nowarn", "-encoding", "UTF-8", "-release", "17"]


def spark_jars(root):
    """The jar directory the program's build.sbt names as `unmanagedBase`,
    else `$SPARK_HOME/jars`."""
    sbt = root / "build.sbt"
    m = sbt.is_file() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
    if m:
        return pathlib.Path(m.group(1))
    if os.environ.get("SPARK_HOME"):
        return pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    raise SystemExit("build: no unmanagedBase in build.sbt and SPARK_HOME is unset")


def sources(root):
    roots = [root / "src" / "main" / "scala", root / "perfbench" / "src"]
    for r in roots:
        if not r.is_dir():
            raise SystemExit(f"build: source directory {r} is missing")
    return sorted(p for r in roots for p in r.rglob("*.scala"))


def build(root=pathlib.Path(".")):
    """Compiles when the sources changed; returns the classpath to run with."""
    root = root.resolve()
    srcs = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    stamp_val = h.hexdigest()
    base = root / ".bench_build" / "perfbench"
    out = base / "classes"
    stamp = base / "stamp"
    classpath = f"{out}{os.pathsep}{jars}/*"
    if stamp.is_file() and stamp.read_text() == stamp_val and out.is_dir():
        return classpath
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    args_file = base / "scalac.args"
    args_file.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-d", str(out),
           *SCALAC_OPTS, f"@{args_file}"]
    print(f"build: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise SystemExit(f"build: scalac exited {r.returncode}")
    stamp.write_text(stamp_val)
    return classpath


if __name__ == "__main__":
    print(build())
