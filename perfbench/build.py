#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark (perfbench/src) into one class directory with scalac.

The compiler and the runtime classpath are the jar directory the engine's
build.sbt names as its `unmanagedBase` (or $SPARK_HOME/jars). A build is
reused while no source file and no build file has changed.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def build_sbt() -> str:
    path = ROOT / "build.sbt"
    if not path.is_file():
        raise BuildError(f"no build.sbt at {ROOT}: not a checkout of the engine")
    return path.read_text()


def jar_dir() -> Path:
    """The engine's unmanaged jar directory (Spark + Scala)."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt())
    candidates = [Path(m.group(1))] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for c in candidates:
        if any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no jar directory with a Scala compiler (build.sbt unmanagedBase, $SPARK_HOME/jars)")


def jvm_properties() -> list:
    """The -D options the engine's build.sbt passes to forked runs, with
    `sys.env.getOrElse(NAME, default)` values resolved the same way."""
    text = build_sbt()
    props = [f"-D{k}={v}" for k, v in re.findall(r'"-D([\w.]+)=([^"$]*)"', text)]
    env_form = r's"-D([\w.]+)=\$\{\s*sys\.env\.getOrElse\(\s*"(\w+)"\s*,\s*"([^"]*)"\s*\)\s*\}"'
    for k, env, default in re.findall(env_form, text):
        props.append(f"-D{k}={os.environ.get(env, default)}")
    return props


def sources() -> list:
    dirs = [ROOT / "src" / "main" / "scala", HERE / "src"]
    if not dirs[0].is_dir():
        raise BuildError(f"no engine sources under {dirs[0]}")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def build() -> Path:
    """Compile if needed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [ROOT / "build.sbt", Path(__file__).resolve()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = WORK / "classes"
    stamp_file = WORK / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = WORK / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jar_dir()}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(classes), f"@{argfile}"]
    print(f"[perfbench] compiling {len(srcs)} Scala files", file=sys.stderr, flush=True)
    if subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr).returncode != 0:
        raise BuildError("scalac failed")
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
