"""Build file of the benchmark: compiles the engine (`src/main/scala` of
the checkout) and the benchmark runner (`benchmark/src`) with the Scala
compiler that ships in the Spark distribution, into `.bench_build/`.

Each stage is skipped when a digest of its sources and classpath matches
the stamp of the last successful compile, so only the first run in a
checkout pays the build. Run it directly to build ahead of time:

    python3 benchmark/build.py
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def _spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt declares."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: set SPARK_HOME (no unmanagedBase in build.sbt)")
    return m.group(1)


SPARK_JARS = _spark_jars()


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
                  + glob.glob(os.path.join(d, "**", "*.java"), recursive=True))


def _digest(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _compiler_cp():
    jars = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(glob.glob(os.path.join(SPARK_JARS, f"{name}-2.13.*.jar")))
        if not found:
            raise SystemExit(f"build: no {name} jar under {SPARK_JARS}")
        jars.append(found[-1])
    return ":".join(jars)


def _stage(name, src_dir, cp):
    srcs = _sources(src_dir)
    if not srcs:
        raise SystemExit(f"build: no sources under {src_dir}")
    out = os.path.join(BUILD, name)
    stamp = out + ".stamp"
    dig = _digest(srcs, cp)
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == dig:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, f"{name}.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", _compiler_cp(), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-cp", cp, "-d", tmp, "@" + argfile]
    print(f"build: compiling {len(srcs)} files into {os.path.relpath(out, ROOT)}",
          file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: compiling {name} failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as f:
        f.write(dig)
    return out


def build():
    """Compile what changed; returns the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    spark_cp = os.path.join(SPARK_JARS, "*")
    engine = _stage("engine", os.path.join(ROOT, "src", "main"), spark_cp)
    runner = _stage("runner", os.path.join(HERE, "src"), f"{engine}:{spark_cp}")
    return f"{runner}:{engine}:{spark_cp}"


if __name__ == "__main__":
    print(build())
