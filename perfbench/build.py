"""Build file of the benchmark: compiles the engine's sources together with
the benchmark's own Scala driver into one class directory.

The compiler is the Scala compiler that ships with Spark's jars, so no build
tool and no download is needed. A stamp over every source file and the jar
listing makes a repeated build a no-op.

    python3 perfbench/build.py            # build into $CARGO_TARGET_DIR or .bench_build
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent


class BuildError(RuntimeError):
    pass


def target_dir() -> Path:
    t = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return t if t.is_absolute() else ROOT / t


def spark_jars() -> Path:
    """Spark's jar directory: `$SPARK_HOME/jars`, else the pyspark package's."""
    home = os.environ.get("SPARK_HOME")
    candidates = [Path(home) / "jars"] if home else []
    try:
        import pyspark  # noqa: PLC0415 - only to locate its bundled jars
        candidates.append(Path(pyspark.__file__).parent / "jars")
    except ImportError:
        pass
    for c in candidates:
        if any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler (set SPARK_HOME)")


def sources() -> list:
    main = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise BuildError(f"no engine sources under {ROOT / 'src/main/scala'}")
    return main + sorted((BENCH / "scala").rglob("*.scala"))


def build() -> Path:
    """Compile if the sources changed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    stamp = h.hexdigest()
    out = target_dir() / "classes"
    if (out / ".stamp").exists() and (out / ".stamp").read_text() == stamp:
        return out
    tmp = target_dir() / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = target_dir() / "sources.txt"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    resources = ROOT / "src" / "main" / "resources"
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    (tmp / ".stamp").write_text(stamp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
