"""Build file of the benchmark.

Builds graft from the checkout's own sources with its own build
(`sbt "export Compile/fullClasspath"`, which compiles the program and
prints the classpath it runs with), then compiles the benchmark's Scala
sources under `perfbench/src` with the Scala compiler found on that
classpath. Outputs go to `.perfbench/build`; a stamp over every input
file skips both steps when nothing changed.

    python3 perfbench/build.py      # prints the benchmark's classpath
"""

import hashlib
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
OUT = ROOT / ".perfbench" / "build"


class BuildError(Exception):
    pass


def _inputs():
    files = [ROOT / "build.sbt"]
    for base, pattern in ((ROOT / "project", "*.*"), (ROOT / "src" / "main", "**/*"),
                          (BENCH / "src", "**/*.scala")):
        files += sorted(p for p in base.glob(pattern) if p.is_file())
    return files + [BENCH / "build.py"]


def _stamp():
    h = hashlib.sha256()
    for p in _inputs():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _run(cmd, log, timeout, env=None):
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BuildError(f"{cmd[0]} timed out; see {log}")
    if rc != 0:
        raise BuildError(f"{cmd[0]} exited {rc}; see {log}")


def build(timeout=840):
    """Returns the classpath entries the benchmark runs with."""
    for need in ("build.sbt", "src/main/scala", "project/build.properties", "perfbench/src"):
        if not (ROOT / need).exists():
            raise BuildError(f"not a graft checkout: {need} is missing")
    stamp = _stamp()
    cp_file = OUT / "classpath.txt"
    if (OUT / "stamp").exists() and (OUT / "stamp").read_text() == stamp and cp_file.exists():
        return cp_file.read_text().split(os.pathsep)

    OUT.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = OUT / "sbt.log"
    _run(["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true",
          "export Compile/fullClasspath"],
         log, timeout, env)
    # the exported classpath is the one unprefixed line of existing paths
    program_cp = []
    for line in log.read_text(errors="replace").replace("\0", "").splitlines():
        entries = line.strip().split(os.pathsep)
        if not line.startswith("[") and ".jar" in line and all(Path(e).exists() for e in entries):
            program_cp = entries
    if not program_cp:
        raise BuildError(f"no classpath in {log}")
    compiler = [p for p in program_cp
                if Path(p).name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) < 3:
        raise BuildError("scala-compiler, scala-library or scala-reflect missing from the classpath")

    classes = OUT / "classes"
    if classes.exists():
        for p in sorted(classes.rglob("*"), reverse=True):
            p.rmdir() if p.is_dir() else p.unlink()
    classes.mkdir(parents=True, exist_ok=True)
    sources = [str(p) for p in sorted((BENCH / "src").rglob("*.scala"))]
    _run(["java", "-Xmx1g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
          "-deprecation", "-d", str(classes), "-cp", os.pathsep.join(program_cp)] + sources,
         OUT / "scalac.log", timeout)

    cp = [str(classes)] + program_cp
    cp_file.write_text(os.pathsep.join(cp))
    (OUT / "stamp").write_text(stamp)
    return cp


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
