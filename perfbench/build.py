"""Build file of the benchmark: compiles the engine (`src/main`) and the
benchmark's own JVM sources (`perfbench/src`) with the Scala compiler
that ships among the Spark jars, into `.bench_build/classes-<hash>`.
A build is reused while the hash of every source file is unchanged.

    python3 perfbench/build.py      # build (or confirm) and print the classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess

SCALA = "2.13.17"


def spark_jars(root):
    """The Spark jars `build.sbt` compiles against (its `unmanagedBase`),
    unless SPARK_JARS_DIR names another directory."""
    d = os.environ.get("SPARK_JARS_DIR")
    if not d:
        sbt = os.path.join(root, "build.sbt")
        text = ""
        if os.path.exists(sbt):
            with open(sbt) as f:
                text = f.read()
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
        if not m:
            raise RuntimeError(f"no unmanagedBase in {sbt}; set SPARK_JARS_DIR")
        d = m.group(1)
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise RuntimeError(f"no Spark jars under {d}")
    return jars


def sources(root):
    engine = sorted(glob.glob(os.path.join(root, "src/main/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    if not engine:
        raise RuntimeError(f"no engine sources under {root}/src/main")
    if not bench:
        raise RuntimeError(f"no benchmark sources under {root}/perfbench/src")
    return engine + bench


def ensure_built(root):
    srcs = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    for j in jars:
        h.update(os.path.basename(j).encode())
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, f"classes-{h.hexdigest()[:16]}")
    if not os.path.exists(os.path.join(out, ".done")):
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(out)
        compiler = [j for j in jars if os.path.basename(j) in
                    (f"scala-compiler-{SCALA}.jar", f"scala-library-{SCALA}.jar",
                     f"scala-reflect-{SCALA}.jar")]
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", ":".join(compiler),
             "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", ":".join(jars)] + srcs,
            capture_output=True, text=True)
        if r.returncode != 0:
            raise RuntimeError("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
        open(os.path.join(out, ".done"), "w").close()
    return ":".join([out] + jars)


if __name__ == "__main__":
    print(ensure_built(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
