"""Build file of the benchmark package: compiles the repository's main
sources together with the benchmark's own Scala sources into one class
directory, with the Scala compiler and jars of the Spark installation
(`$SPARK_HOME`, default /opt/spark). A content stamp makes the build a
no-op when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
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
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def build_dir():
    return (ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")).resolve() / "perfbench"


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"perfbench: no program sources at {main.relative_to(ROOT)}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def resources():
    res = ROOT / "src" / "main" / "resources"
    return sorted(p for p in res.rglob("*") if p.is_file()) if res.is_dir() else []


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure():
    """Returns the class directory, compiling first if it is stale."""
    srcs, res = sources(), resources()
    out = build_dir()
    classes = out / "classes"
    digest = stamp(srcs + res)
    if (out / "stamp").is_file() and (out / "stamp").read_text() == digest:
        return classes
    stage = out / "classes.stage"
    shutil.rmtree(stage, ignore_errors=True)
    stage.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = f"{spark_jars()}/*"
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(stage), "-cp", cp, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-20000:])
        raise SystemExit("perfbench: compilation failed")
    base = ROOT / "src" / "main" / "resources"
    for f in res:
        dest = stage / f.relative_to(base)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dest)
    shutil.rmtree(classes, ignore_errors=True)
    stage.rename(classes)
    (out / "stamp").write_text(digest)
    return classes


if __name__ == "__main__":
    print(ensure())
