"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the benchmark's own Scala sources (`perfbench/scala`) with
the Scala compiler that ships in Spark's jar directory, so no build tool or
network is needed. Output goes to `$CARGO_TARGET_DIR` (default
`.bench_build`) under a directory named by the hash of every source, so an
unchanged tree is built once.

    python3 perfbench/build.py      # prints the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]
RESOURCES = ROOT / "src" / "main" / "resources"


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("build: Spark not found (set SPARK_HOME)")
    return Path(home) / "jars"


def sources():
    files = sorted(p for d in SOURCES if d.is_dir() for p in d.rglob("*.scala"))
    if not any(str(p).startswith(str(SOURCES[0])) for p in files):
        raise SystemExit(f"build: no program sources under {SOURCES[0]}")
    return files


def source_hash(files):
    h = hashlib.sha256()
    for p in files + sorted(RESOURCES.rglob("*")) if RESOURCES.is_dir() else files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build():
    """Compile if needed; return (classpath string, source hash)."""
    files = sources()
    digest = source_hash(files)
    jars = spark_jars()
    out = build_dir() / f"classes-{digest}"
    cp = os.pathsep.join([str(out), str(RESOURCES), str(jars / "*")])
    if (out / ".built").exists():
        return cp, digest
    for stale in build_dir().glob("classes-*"):
        shutil.rmtree(stale, ignore_errors=True)
    out.mkdir(parents=True)
    jar_list = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    argfile = build_dir() / f"scalac-{digest}.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-d", str(out), "-classpath", jar_list, f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    (out / ".built").write_text(digest)
    return cp, digest


if __name__ == "__main__":
    print(build()[0])
