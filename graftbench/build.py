"""Build file of the benchmark: compiles graft's main sources, then the
benchmark's own Scala sources against them, with the Scala compiler that
ships among Spark's jars. Each output directory is keyed by a hash of its
inputs, so an unchanged tree is not compiled again.

    python3 graftbench/build.py      # prints the runtime classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
GRAFT_SRC = REPO / "src" / "main" / "scala"
GRAFT_RES = REPO / "src" / "main" / "resources"
BENCH_SRC = HERE / "src"
OUT = HERE / ".build"


class BuildError(Exception):
    pass


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home, "bin", "java") if home else shutil.which("java")
    if not exe or not Path(exe).exists():
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return str(exe)


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = str(Path(submit).resolve().parent.parent) if submit else None
    jars = Path(home, "jars") if home else None
    if not jars or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark jars with a Scala compiler: set SPARK_HOME")
    return jars


def tree(root: Path) -> list:
    files = sorted(root.rglob("*.scala"))
    if not files:
        raise BuildError(f"no Scala sources under {root}")
    return files


def digest(paths: list, salt: str = "") -> str:
    h = hashlib.sha256(salt.encode())
    for f in paths:
        if f.is_file():
            h.update(str(f.relative_to(REPO)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def compile_into(out: Path, files: list, cp: str, log) -> Path:
    """scalac `files` into `out` unless a finished build is there."""
    if (out / "done").exists():
        return out
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    print(f"compiling {len(files)} sources into {out.name}", file=log,
          flush=True)
    done = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", str(spark_jars() / "*"),
         "scala.tools.nsc.Main", "-nowarn", "-cp", cp, "-d", str(out),
         f"@{argfile}"], stdout=log, stderr=log)
    if done.returncode != 0:
        raise BuildError(f"scalac exited {done.returncode}")
    (out / "done").touch()
    return out


def classpath(log=sys.stderr) -> str:
    """Compile what changed (graft, then the benchmark against it);
    return the runtime classpath."""
    jars = spark_jars()
    if not GRAFT_SRC.is_dir():
        raise BuildError(f"graft sources not found under {GRAFT_SRC}")
    graft_files = tree(GRAFT_SRC)
    bench_files = tree(BENCH_SRC)
    jar_names = " ".join(j.name for j in sorted(jars.glob("*.jar")))
    graft_key = "graft-" + digest(graft_files, jar_names)
    bench_key = "bench-" + digest(bench_files, graft_key)
    OUT.mkdir(exist_ok=True)
    for old in OUT.iterdir():
        if old.name not in (graft_key, bench_key):
            shutil.rmtree(old, ignore_errors=True)
    libs = str(jars / "*")
    graft = compile_into(OUT / graft_key, graft_files, libs, log)
    bench = compile_into(OUT / bench_key, bench_files,
                         os.pathsep.join([str(graft), libs]), log)
    return os.pathsep.join([str(bench), str(graft), str(GRAFT_RES), libs])


if __name__ == "__main__":
    try:
        print(classpath())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
