"""Build file of the benchmark: compiles the library (src/main) and the
benchmark's own sources (perfbench/src) into one class directory.

The Scala compiler is the one in Spark's jar directory, the same jars the
project's build.sbt compiles against. Output goes under $CARGO_TARGET_DIR
(default .bench_build) in the checkout and is reused while no source
changes. Run directly to build only: python3 perfbench/build.py
"""
import hashlib
import os
import pathlib
import re
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m and pathlib.Path(m.group(1)).is_dir():
        return pathlib.Path(m.group(1))
    raise BuildError("no Spark jar directory: set SPARK_HOME")


def sources():
    lib = ROOT / "src" / "main"
    if not lib.is_dir():
        raise BuildError(f"library sources not found under {lib.relative_to(ROOT)}")
    files = sorted(p for p in lib.rglob("*") if p.suffix in (".scala", ".java"))
    files += sorted((ROOT / "perfbench" / "src").glob("*.scala"))
    return files


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    files = sources()
    out = pathlib.Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = (out if out.is_absolute() else ROOT / out) / "perfbench"
    classes = out / "classes"
    digest = hashlib.sha256(str(jars).encode())
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = out / "stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    if classes.exists():
        subprocess.run(["rm", "-rf", str(classes)], check=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    steps = [
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", str(classes), f"@{argfile}"],
    ]
    java = [str(f) for f in files if f.suffix == ".java"]
    if java:
        steps.append(["javac", "-nowarn", "-XDsuppressNotes", "-d", str(classes),
                      "-cp", f"{classes}{os.pathsep}{cp}", *java])
    for cmd in steps:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            raise BuildError(f"{cmd[0]} failed with code {r.returncode}")
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
