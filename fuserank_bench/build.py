"""Build the engine and the benchmark from source.

Compiles the engine (src/main/scala, plus src/main/java when present)
together with the benchmark's own sources (fuserank_bench/src) with the
Scala compiler that ships in $SPARK_HOME/jars, packs the classes into one
jar, and records a class-data-sharing archive from a short training run
(one short plain run of each listed workload) so each benchmark JVM maps
Spark's classes instead of loading and verifying them again.

The output lives in <build dir>/fuserank_bench/<hash>, where the hash
covers every input, so an unchanged tree is built once. The build dir is
$CARGO_TARGET_DIR when set (relative to the repository root), else
.bench_build.

    python3 fuserank_bench/build.py      # build (or reuse) and print the jar path
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# JDK 17 module opens Spark needs outside spark-submit (the root build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "-Xmx3g"


class BuildError(Exception):
    pass


def build_root():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars_dir = os.path.join(home, "jars") if home else None
    if not jars_dir or not os.path.isdir(jars_dir):
        raise BuildError("no Spark installation: set SPARK_HOME")
    jars = sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))
    if not any("scala-compiler" in os.path.basename(j) for j in jars):
        raise BuildError(f"no scala-compiler jar in {jars_dir}")
    return jars


def sources():
    engine_scala = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine_scala):
        raise BuildError(f"no engine sources at {engine_scala}")
    out = []
    for base in (engine_scala, os.path.join(ROOT, "src", "main", "java"),
                 os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def jvm_options(work=None):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    opts += [HEAP, "-Xlog:disable",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    if work:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        opts.append("-Djava.io.tmpdir=" + tmp)
    return opts


def digest(files, jars):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__), os.path.join(HERE, "log4j2.properties")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(f"{os.path.basename(j)}:{os.path.getsize(j)}".encode())
    return h.hexdigest()[:16]


def log(msg):
    print(f"[fuserank-bench build] {msg}", file=sys.stderr, flush=True)


def ensure():
    """Build if needed; return (classpath list, CDS archive path or None)."""
    jars = spark_jars()
    srcs = sources()
    out = os.path.join(build_root(), "fuserank_bench", digest(srcs, jars))
    app_jar = os.path.join(out, "app.jar")
    archive = os.path.join(out, "app.jsa")
    classpath = [app_jar] + jars
    if os.path.exists(os.path.join(out, "ready")):
        return classpath, (archive if os.path.exists(archive) else None)

    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{s}"' for s in srcs if s.endswith((".scala", ".java"))))
    log(f"compiling {len(srcs)} sources")
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-d", classes, "-classpath", cp, "-nowarn", "@" + argfile]
    if subprocess.run(cmd, cwd=ROOT).returncode != 0:
        raise BuildError("scalac failed")
    java_srcs = [s for s in srcs if s.endswith(".java")]
    if java_srcs:
        cmd = ["javac", "-nowarn", "-d", classes, "-cp", classes + os.pathsep + cp] + java_srcs
        if subprocess.run(cmd, cwd=ROOT).returncode != 0:
            raise BuildError("javac failed")
    with zipfile.ZipFile(app_jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)

    log("recording the class-data-sharing archive (training run)")
    train = os.path.join(out, "train")
    cmd = (["java"] + jvm_options(train) + ["-XX:ArchiveClassesAtExit=" + archive,
           "-cp", os.pathsep.join(classpath), "fuserankbench.Main", "--train", "--work", train])
    with open(os.path.join(out, "train.log"), "w") as lf:
        rc = subprocess.run(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT).returncode
    shutil.rmtree(train, ignore_errors=True)
    # exit 1 only reports a failed correctness check; the archive is still good
    if rc not in (0, 1):
        raise BuildError(f"training run failed (exit {rc}); see {out}/train.log")
    if not os.path.exists(archive):
        log("no class-data-sharing archive was written; runs start without one")
    open(os.path.join(out, "ready"), "w").close()
    return classpath, (archive if os.path.exists(archive) else None)


if __name__ == "__main__":
    try:
        cp, jsa = ensure()
    except BuildError as e:
        log(str(e))
        sys.exit(2)
    print(cp[0])
