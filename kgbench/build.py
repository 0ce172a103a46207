#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft (src/main/scala of the checkout) and the benchmark
harness (kgbench/scala) with the Scala compiler that ships in Spark's
jars directory, so no build tool and no download is needed. Outputs go
to <build_dir>/graft-<hash> and <build_dir>/harness-<hash>, keyed by
the sources they compile; an unchanged tree reuses them.

Usage: python3 kgbench/build.py [build_dir]     (default: .bench_build)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """The jars directory of the Spark installation: $SPARK_HOME/jars,
    else the one beside `spark-submit` on PATH."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise SystemExit("kgbench: no Spark jars directory with a Scala compiler "
                     "(set SPARK_HOME or put spark-submit on PATH)")


def java():
    home = os.environ.get("JAVA_HOME")
    j = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not j or not os.path.exists(j):
        raise SystemExit("kgbench: java not found")
    return j


def sources(root, sub):
    return sorted(glob.glob(os.path.join(root, sub, "**", "*.scala"), recursive=True))


def scalac(jars, classpath, out, files):
    """Compiles `files` into `out`; runs inside `out` because the compiler's
    default classpath is the working directory."""
    os.makedirs(out, exist_ok=True)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cp = os.pathsep.join(classpath + [os.path.join(jars, "*")])
    print(f"kgbench: compiling {len(files)} sources into {out}", file=sys.stderr)
    r = subprocess.run([java(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-usejavacp", "-nowarn", "-d", out, "@" + argfile], cwd=out)
    if r.returncode != 0:
        raise SystemExit(f"kgbench: compilation into {out} failed")


def _digest(files, extra=b""):
    h = hashlib.sha256(extra)
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _compiled(build_dir, kind, key, compile_into):
    """Compiles into <build_dir>/<kind>-<key> unless that is already done."""
    dest = os.path.join(build_dir, f"{kind}-{key}")
    if not os.path.exists(os.path.join(dest, "ok")):
        for old in glob.glob(os.path.join(build_dir, f"{kind}-*")):
            shutil.rmtree(old, ignore_errors=True)
        compile_into(dest)
        open(os.path.join(dest, "ok"), "w").close()
    return dest


def build(build_dir):
    """Returns (classpath of graft classes, graft resources and harness,
    Spark jars directory)."""
    graft = sources(ROOT, "src/main/scala")
    harness = sources(HERE, "scala")
    if not graft:
        raise SystemExit("kgbench: graft sources (src/main/scala) not found")
    jars = spark_jars()
    gkey = _digest(graft, ",".join(sorted(os.listdir(jars))).encode())
    gdir = _compiled(build_dir, "graft", gkey, lambda d: scalac(jars, [], d, graft))
    hdir = _compiled(build_dir, "harness", _digest(harness, gkey.encode()),
                     lambda d: scalac(jars, [gdir], d, harness))
    return [gdir, os.path.join(ROOT, "src", "main", "resources"), hdir], jars


if __name__ == "__main__":
    d = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    print(os.pathsep.join(build(os.path.abspath(d))[0]))
