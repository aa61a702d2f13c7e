"""Builds the benchmark's JVM classes from source.

The engine's sources (`src/main/scala`) and the harness (`perfbench/src`)
are compiled together with the Scala compiler that ships in the Spark
distribution's `jars/` directory (found through SPARK_HOME, or through
`spark-submit` on PATH). The classes go to `<work>/classes`; a stamp of
every source file skips the compile when nothing changed.

    python3 perfbench/build.py [<work dir>]
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent


def spark_jars():
    """The Spark distribution's jars directory."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home or "") / "jars"
    if not home or not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark distribution with a Scala compiler (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else (shutil.which("java") or "java")


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"perfbench: engine sources not found at {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    resources = ROOT / "src" / "main" / "resources"
    return files, resources


def build(work):
    """Compile if the sources changed; return the classes directory."""
    jars = spark_jars()
    files, resources = sources()
    digest = hashlib.sha256(str(jars).encode())
    for f in files + (sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []):
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    classes = Path(work) / "classes"
    stamp_file = classes / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    tmp = Path(work) / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    argfile = Path(work) / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else HERE / ".work"))
