"""Build file of the benchmark package.

Compiles the product with its own sbt build, then compiles the benchmark's
Scala sources (perfbench/src) against the product's runtime classpath with
the Scala compiler found on that classpath. Outputs go under
.bench_build/perfbench in the checkout. A build is skipped when a stamp of
every source file it depends on is unchanged.

    python3 perfbench/build.py          # build if stale, print the classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
BENCH_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def product_present():
    return (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala")))


def _sources():
    files = [os.path.join(ROOT, "build.sbt")]
    for pattern in ("project/*.properties", "project/*.sbt",
                    "src/main/**/*.scala", "src/main/**/*.java",
                    "perfbench/src/**/*.scala"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    return sorted(set(files))


def _stamp():
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env.setdefault("SBT_OPTS", " ".join(opts))
    return env


def _run(cmd, log, **kw):
    with open(log, "w") as fh:
        p = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, **kw)
    if p.returncode != 0:
        with open(log) as fh:
            tail = fh.read()[-4000:]
        raise BuildError(f"{cmd[0]} failed (exit {p.returncode}):\n{tail}")
    with open(log) as fh:
        return fh.read()


def _product_classpath():
    out = _run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                "export Runtime/fullClasspath"],
               os.path.join(OUT, "sbt.log"), cwd=ROOT, env=_sbt_env(),
               stdin=subprocess.DEVNULL, timeout=780)
    lines = [l.strip() for l in out.splitlines()
             if ".jar" in l and not l.startswith("[")]
    if not lines:
        raise BuildError("sbt printed no runtime classpath")
    return lines[-1]


def _compile_bench(cp):
    entries = cp.split(os.pathsep)
    scalac = [e for e in entries
              if os.path.basename(e).startswith(("scala-compiler-",
                                                 "scala-library-",
                                                 "scala-reflect-"))]
    if not any("scala-compiler-" in e for e in scalac):
        raise BuildError("no scala-compiler jar on the product classpath")
    classes = os.path.join(OUT, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    srcs = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"),
                            recursive=True))
    _run(["java", "-Xss4m", "-Xmx2g", "-cp", os.pathsep.join(scalac),
          "scala.tools.nsc.Main", "-deprecation", "-d", classes,
          "-classpath", cp] + srcs,
         os.path.join(OUT, "scalac.log"), timeout=600)
    return classes


def ensure_built():
    """Return the classpath to run the benchmark JVM with."""
    if not product_present():
        raise BuildError("no product sources (build.sbt, src/main/scala) "
                         "next to the benchmark directory")
    os.makedirs(OUT, exist_ok=True)
    stamp_file = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp = _stamp()
    if os.path.isfile(stamp_file) and os.path.isfile(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read()
    cp = _product_classpath()
    classes = _compile_bench(cp)
    full = classes + os.pathsep + cp
    with open(cp_file, "w") as fh:
        fh.write(full)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return full


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
