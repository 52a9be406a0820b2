#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the harness.

The engine (`src/main/scala` of the checkout) and the harness
(`perfbench/harness`) are compiled with the Scala compiler that ships in the
Spark jars directory, packed into jars, and a class-data-sharing archive is
recorded from a short training run so that every measured JVM starts from
the same pre-parsed classes. Outputs go to `<build dir>/jvm-<hash>/`, keyed by
a hash of every source file, so an unchanged tree is built once.

Usage: python3 perfbench/build.py   (prints the build directory)
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
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# A short run touching every workload's code paths, recorded into the
# class-data-sharing archive.
TRAINING_ENTRIES = "tpch_q1,dml_merge_cow,dedup_simhash"
TRAINING_INDEXES = "ivf,minhash,simgraph"


def build_root():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def spark_jars():
    """The jars directory the engine's build.sbt compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m is None:
        raise SystemExit("build: build.sbt names no unmanagedBase jars directory")
    return m.group(1)


def engine_sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not files:
        raise SystemExit("build: no engine sources under src/main/scala")
    return files


def harness_sources():
    return sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for f in (os.path.join(HERE, "build.py"), os.path.join(HERE, "gen_data.py")):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def java_flags():
    flags = []
    for p in ADD_OPENS:
        flags += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return flags + ["-Dspark.ui.enabled=false"]


def classpath(out):
    return os.pathsep.join([os.path.join(out, "harness.jar"), os.path.join(out, "engine.jar"),
                            os.path.join(spark_jars(), "*")])


def _scalac(sources, dest, extra_cp=None):
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", dest]
    if extra_cp:
        cmd += ["-cp", extra_cp]
    subprocess.run(cmd + sources, check=True, stdout=sys.stderr)


def _jar(classes, jar):
    subprocess.run(["jar", "cf", jar, "-C", classes, "."], check=True, stdout=sys.stderr)


def ensure():
    """Return the directory holding engine.jar, harness.jar and app.jsa."""
    sources = engine_sources()
    out = os.path.join(build_root(), "jvm-" + source_hash(sources + harness_sources()))
    if os.path.exists(os.path.join(out, "READY")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    _scalac(sources, os.path.join(out, "engine-classes"))
    _jar(os.path.join(out, "engine-classes"), os.path.join(out, "engine.jar"))
    _scalac(harness_sources(), os.path.join(out, "harness-classes"),
            os.path.join(out, "engine-classes"))
    _jar(os.path.join(out, "harness-classes"), os.path.join(out, "harness.jar"))
    for d in ("engine-classes", "harness-classes"):
        shutil.rmtree(os.path.join(out, d))
    _train_archive(out)
    open(os.path.join(out, "READY"), "w").close()
    return out


def _train_archive(out):
    """Record the classes a short run loads into <out>/app.jsa."""
    import datasets
    import isolation
    data = datasets.ensure("sf0.01")
    with isolation.RunDir(os.path.join(build_root(), "runs"), "training") as run:
        cmd = (["java", f"-XX:ArchiveClassesAtExit={os.path.join(out, 'app.jsa')}"]
               + run.java_flags() + java_flags() + ["-Xmx2g", "-cp", classpath(out),
               "perfbench.Harness", "--data", data, "--entries", TRAINING_ENTRIES,
               "--indexes", TRAINING_INDEXES, "--seed", "0", "--seconds", "0", "--cold-passes", "1",
               "--trace", "1", "--out", os.path.join(run.root, "training.json")])
        log = os.path.join(run.root, "training.log")
        with open(log, "w") as f:
            proc = subprocess.run(cmd, cwd=run.work, stdout=f, stderr=subprocess.STDOUT,
                                  timeout=600)
        if proc.returncode != 0:
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"build: training run failed with exit code {proc.returncode}")


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    print(ensure())
