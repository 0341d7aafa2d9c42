"""Build file of the benchmark package.

Compiles the repository's main sources together with the benchmark's
own Scala sources (perfbench/src) with the Scala compiler that ships in
the Spark distribution, into .bench_build/classes. A stamp over every
source file skips the compile when nothing changed. Run from the root
of a checkout:

    python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def spark_jars(root):
    """The Spark jar directory: $SPARK_HOME/jars, else the
    unmanagedBase the repository's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and pathlib.Path(m.group(1)).is_dir():
            return pathlib.Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME or run from a checkout with build.sbt")


def sources(root):
    main = root / "src" / "main" / "scala"
    bench = root / "perfbench" / "src"
    if not main.is_dir():
        raise BuildError(f"{main.relative_to(root)} is missing: run from a checkout of the repository")
    return sorted(main.rglob("*.scala")) + sorted(bench.rglob("*.scala"))


def build(root):
    """Returns (classes dir, Spark jars dir), compiling if stale."""
    root = pathlib.Path(root)
    jars = spark_jars(root)
    files = sources(root)
    h = hashlib.sha256(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = h.hexdigest()
    classes = root / BUILD_DIR / "classes"
    if (classes / ".stamp").is_file() and (classes / ".stamp").read_text() == stamp:
        return classes, jars
    tmp = root / BUILD_DIR / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = root / BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, timeout=800)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes, jars


if __name__ == "__main__":
    try:
        print(build(pathlib.Path.cwd())[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
