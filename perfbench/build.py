"""Build file of the benchmark: compiles the program's main sources and
the benchmark harness with the Scala compiler that ships with Spark.

    python3 perfbench/build.py        # prints the classes directory

Output goes to `.bench_build/classes-<hash>` at the repository root,
keyed by a hash of every source file, so an unchanged tree is built
once. The class directories of the last few trees are kept, so runs
that alternate between trees in one checkout do not rebuild. The
compile time in seconds is stored in the directory's `.ok` file; a cold
compile takes about 50 s on a 4-vCPU VM. Spark's jars are found through
SPARK_HOME, else through the `unmanagedBase` line of the repository's
build.sbt.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
HARNESS = Path(__file__).resolve().parent / "src"
# Class directories kept, most recently used first.
KEEP = 3

# Module openings Spark needs on JDK 17 outside spark-submit (the list
# build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def jar_dir() -> Path:
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME or unmanagedBase in build.sbt")


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"program sources not found under {main.relative_to(ROOT)}")
    files = sorted(main.rglob("*.scala")) + sorted(HARNESS.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def classpath(classes: Path) -> str:
    return os.pathsep.join([str(classes), str(jar_dir() / "*")])


def build() -> Path:
    files = sources()
    jars = jar_dir()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    if (out / ".ok").is_file():
        os.utime(out)
        return out
    BUILD.mkdir(parents=True, exist_ok=True)
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "scalac.args"
    argfile.write_text("\n".join(f'"{f}"' for f in files))
    compiler = os.pathsep.join(str(jars / f"{n}-{_scala_version(jars)}.jar")
                               for n in ("scala-compiler", "scala-library", "scala-reflect"))
    cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    t0 = time.monotonic()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + (p.stdout + p.stderr)[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    (out / ".ok").write_text(f"{time.monotonic() - t0:.1f}\n")
    kept = sorted((d for d in BUILD.glob("classes-*") if (d / ".ok").is_file()),
                  key=lambda d: d.stat().st_mtime, reverse=True)
    for old in kept[KEEP:]:
        shutil.rmtree(old, ignore_errors=True)
    return out


def compile_seconds(classes: Path):
    """Compile time of a class directory built by build(), if recorded."""
    text = (classes / ".ok").read_text().strip()
    return float(text) if text else None


def _scala_version(jars: Path) -> str:
    libs = sorted(jars.glob("scala-library-*.jar"))
    if not libs:
        raise BuildError(f"no scala-library jar in {jars}")
    return libs[-1].name[len("scala-library-"):-len(".jar")]


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
