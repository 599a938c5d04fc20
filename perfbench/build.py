"""Build file of the benchmark: compiles the program's sources
(``src/main/scala``) together with the benchmark's JVM side
(``perfbench/src``) with the Scala compiler that ships in Spark's
``jars`` directory, so no build tool or network is needed.

Classes go to ``.bench_build/classes-<digest>/``, keyed by a digest of
every compiled source, and are reused while the sources are unchanged.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
HERE = Path(__file__).resolve().parent


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark 4 installation")
    return Path(home) / "jars"


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"no program sources at {main}: run from the repository root")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def classpath() -> tuple:
    """Compile if needed; return the runtime class path and the digest of
    the compiled sources."""
    srcs = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in srcs + [Path(__file__).resolve()]:
        digest.update(str(f.relative_to(ROOT) if f.is_relative_to(ROOT) else f.name).encode())
        digest.update(f.read_bytes())
    key = digest.hexdigest()[:16]
    out = BUILD / f"classes-{key}"
    resources = ROOT / "src" / "main" / "resources"
    cp = os.pathsep.join([str(out), str(resources), str(jars / "*")])
    if (out / ".ok").exists():
        return cp, key
    BUILD.mkdir(exist_ok=True)
    for old in BUILD.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    out.mkdir()
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-cp", str(jars / "*"), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("compilation failed:\n" + r.stdout[-4000:])
    (out / ".ok").write_text("")
    return cp, key


if __name__ == "__main__":
    try:
        print(classpath()[0])
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
