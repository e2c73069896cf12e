"""Build file of the benchmark.

    python3 perfbench/build.py

Compiles the engine's sources and the benchmark's own with the Scala
compiler that ships in the Spark distribution, packs them with the
engine's resources into `.bench_build/bench.jar` at the repository root,
and records a class-data-sharing archive (`.bench_build/bench.jsa`) from
a short training run over small inputs, so every measuring JVM starts
from the same pre-parsed classes.  A build is skipped when a stamp of
every input file's content matches the last one.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_home():
    """The Spark distribution: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark distribution")
    return home


SPARK_JARS = os.path.join(spark_home(), "jars")
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "bench.jar")
CDS = os.path.join(BUILD, "bench.jsa")
STAMP = os.path.join(BUILD, "BUILD_STAMP")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
BENCH_RES = os.path.join(HERE, "conf")
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def files(base, suffix=""):
    out = []
    for d, _, names in os.walk(base):
        out += [os.path.join(d, f) for f in names if f.endswith(suffix)]
    return sorted(out)


def inputs():
    return (files(ENGINE_SRC, ".scala") + files(BENCH_SRC, ".scala") + files(ENGINE_RES) +
            files(BENCH_RES) + [os.path.abspath(__file__), os.path.join(HERE, "gen.py")])


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(SPARK_JARS))).encode())
    return h.hexdigest()


def java(run_dir, extra=()):
    """The measuring JVM's command up to its main class arguments."""
    return (["java"] + list(extra) +
            [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
            # A fixed heap with a fixed young generation, not pre-touched:
            # the resident set holds the young generation once it has been
            # cycled through, the old-generation regions the live data
            # reaches, and what the program keeps off the heap. Heap and
            # young-generation sizes that G1 picks by GC timing would make
            # it vary from run to run.
            ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
             f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
             f"-Dspark.local.dir={run_dir}/spark-local",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", JAR + os.pathsep + os.path.join(SPARK_JARS, "*"), "perfbench.Main"])


def compile_jar(srcs, log):
    classes = os.path.join(BUILD, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(SPARK_JARS, "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + args_file],
        check=True, stdout=log, stderr=log)
    with zipfile.ZipFile(JAR + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for base in (classes, ENGINE_RES, BENCH_RES):
            for p in files(base):
                z.write(p, os.path.relpath(p, base))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(classes)


def train(log):
    """Record the class-data-sharing archive from one short run."""
    sys.path.insert(0, HERE)
    import gen
    run_dir = os.path.join(BUILD, "train")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    gen.tables(0, os.path.join(run_dir, "input"), {"documents"}, n_docs=120)
    gen.stream(0, os.path.join(run_dir, "input"), n_events=1000)
    print("perfbench: recording the class-data-sharing archive", file=log, flush=True)
    try:
        subprocess.run(java(run_dir, [f"-XX:ArchiveClassesAtExit={CDS}.tmp", "-Xlog:cds=off",
                                      "-Xlog:cds+dynamic=off"]) + ["--train", run_dir],
                       cwd=run_dir, check=True, stdout=log, stderr=log,
                       stdin=subprocess.DEVNULL, timeout=600)
        os.replace(CDS + ".tmp", CDS)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def build(log=sys.stderr):
    """Build unless the stamp of the inputs matches the last build."""
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"perfbench: engine sources not found at {ENGINE_SRC}")
    os.makedirs(BUILD, exist_ok=True)
    # One build at a time per checkout; a waiting run then sees the stamp.
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp(inputs())
        if os.path.exists(STAMP) and open(STAMP).read() == want:
            return
        for p in (STAMP, CDS):
            if os.path.exists(p):
                os.remove(p)
        compile_jar(files(ENGINE_SRC, ".scala") + files(BENCH_SRC, ".scala"), log)
        train(log)
        with open(STAMP, "w") as f:
            f.write(want)


if __name__ == "__main__":
    build()
