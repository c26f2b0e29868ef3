"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) together with the benchmark harness (perfbench/src) into
one class directory.

It uses the Scala compiler that ships with the Spark distribution the
project builds against (the directory build.sbt names as `unmanagedBase`,
or $SPARK_HOME/jars), so no dependency is fetched. The build is skipped when
a previous one compiled exactly the same sources.

    python3 perfbench/build.py [BUILD_DIR]     # default: .bench_build
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def spark_jars() -> Path:
    """Directory holding the Spark jars (and the Scala compiler)."""
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise SystemExit("perfbench: no Spark jars found (build.sbt unmanagedBase "
                     "or $SPARK_HOME/jars)")


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"perfbench: engine sources missing: {engine}")
    found = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return found


def fingerprint(files: list) -> str:
    h = hashlib.sha256()
    for f in files + [Path(__file__).resolve()]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compiler_classpath(jars: Path) -> str:
    parts = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        hits = sorted(jars.glob(f"{name}-2.13*.jar"))
        if not hits:
            raise SystemExit(f"perfbench: {name} jar not found in {jars}")
        parts.append(str(hits[-1]))
    return os.pathsep.join(parts)


def build(build_dir: Path) -> Path:
    """Returns the class directory, compiling first when sources changed."""
    files = sources()
    jars = spark_jars()
    stamp = fingerprint(files)
    classes = build_dir / "classes"
    stamp_file = build_dir / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = build_dir / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    (build_dir / "tmp").mkdir(exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx1536m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={build_dir / 'tmp'}",
           "-cp", compiler_classpath(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", str(jars / "*")]
    cmd += [str(f) for f in files]
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    out = Path(sys.argv[1]) if len(sys.argv) > 1 else ROOT / ".bench_build"
    print(build(out))
